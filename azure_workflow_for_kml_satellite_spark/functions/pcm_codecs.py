"""Compressed-PCM codecs for RIFF/WAVE payloads: G.711 A-law / µ-law
(WAVE formats 6 / 7) and IMA (DVI) ADPCM (WAVE format 0x11) — the classic
telephony / legacy-recorder encodings, decoded from scratch so
``audio_metadata`` emits true rms/peak for them (ITU-T G.711 tables and the
IMA ADPCM step/index algorithm are published standards).

The µ-law encoder writes the synthetic WAVE assets; the decoders never
depend on it."""

from __future__ import annotations

import numpy as np

_BIAS = 0x84
_CLIP = 32635

# ── G.711 µ-law ─────────────────────────────────────────────────────────────


def _build_mulaw_table() -> np.ndarray:
    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = ((u & 0x0F) << 3) + _BIAS
        t <<= (u & 0x70) >> 4
        out[code] = (_BIAS - t) if (u & 0x80) else (t - _BIAS)
    return out


_MULAW_TABLE = _build_mulaw_table()


def mulaw_decode(data: bytes | np.ndarray) -> np.ndarray:
    return _MULAW_TABLE[np.frombuffer(bytes(data), dtype=np.uint8)]


def mulaw_encode(samples: np.ndarray) -> bytes:
    out = bytearray()
    for s in np.asarray(samples, dtype=np.int32):
        sign = 0x80 if s < 0 else 0
        if s < 0:
            s = -s
        if s > _CLIP:
            s = _CLIP
        s += _BIAS
        exp = 7
        mask = 0x4000
        while exp > 0 and not (s & mask):
            exp -= 1
            mask >>= 1
        mant = (s >> (exp + 3)) & 0x0F
        out.append(~(sign | (exp << 4) | mant) & 0xFF)
    return bytes(out)


# ── G.711 A-law ─────────────────────────────────────────────────────────────


def _build_alaw_table() -> np.ndarray:
    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t += 0x108
            t <<= seg - 1
        out[code] = t if (a & 0x80) else -t
    return out


_ALAW_TABLE = _build_alaw_table()


def alaw_decode(data: bytes | np.ndarray) -> np.ndarray:
    return _ALAW_TABLE[np.frombuffer(bytes(data), dtype=np.uint8)]


# ── IMA (DVI) ADPCM, WAVE format 0x11 ──────────────────────────────────────

_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step(nibble: int, pred: int, index: int) -> tuple[int, int]:
    step = int(_IMA_STEPS[index])
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX[nibble & 7])))
    return pred, index


def ima_adpcm_decode(data: bytes, channels: int, block_align: int) -> np.ndarray:
    """Decode an IMA-ADPCM ``data`` chunk → (n_frames, channels) int16.
    Block layout per the WAVE spec: a 4-byte state header per channel
    (int16 predictor, uint8 step index, reserved), then nibble data in
    4-byte-per-channel interleaved groups, low nibble first."""
    import struct

    if channels < 1 or channels > 16:
        raise ValueError(f"implausible ADPCM channel count {channels}")
    if block_align < 4 * channels or block_align % (4 * channels):
        raise ValueError(f"invalid ADPCM block align {block_align}")
    chans: list[list[int]] = [[] for _ in range(channels)]
    for b0 in range(0, len(data) - 4 * channels + 1, block_align):
        block = data[b0 : b0 + block_align]
        preds = []
        idxs = []
        for c in range(channels):
            pred, index, _rsvd = struct.unpack_from("<hBB", block, 4 * c)
            if index > 88:
                raise ValueError(f"ADPCM step index {index} out of range")
            preds.append(pred)
            idxs.append(index)
            chans[c].append(pred)  # the header predictor IS the first sample
        body = block[4 * channels :]
        # groups of 4 bytes per channel, interleaved
        for g0 in range(0, len(body) - 4 * channels + 1, 4 * channels):
            for c in range(channels):
                for byte in body[g0 + 4 * c : g0 + 4 * c + 4]:
                    for nib in (byte & 0x0F, byte >> 4):
                        preds[c], idxs[c] = _ima_step(nib, preds[c], idxs[c])
                        chans[c].append(preds[c])
    if not chans[0]:
        raise ValueError("ADPCM data shorter than one block header")
    n = min(len(c) for c in chans)
    return np.stack([np.array(c[:n], dtype=np.int16) for c in chans], axis=1)
