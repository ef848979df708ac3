"""Encoders that only tests need: they build codec assets whose decoders
ship in the engine (A-law and IMA ADPCM WAVE payloads, single-frame H.264
Annex-B streams, hand-assembled VP8L symbols). No engine path encodes
these formats, so the encoders live here rather than in the package."""

from __future__ import annotations

import heapq
import struct

import numpy as np

from azure_workflow_for_kml_satellite_spark.functions import h264 as H
from azure_workflow_for_kml_satellite_spark.functions import pcm_codecs as PC
from azure_workflow_for_kml_satellite_spark.functions import vp8l as V


def alaw_encode(samples: np.ndarray) -> bytes:
    out = bytearray()
    for s in np.asarray(samples, dtype=np.int32):
        sign = 0x80 if s >= 0 else 0
        if s < 0:
            s = -s - 1 if s == -1 else -s
        if s > 0x7FFF:
            s = 0x7FFF
        if s >= 0x100:
            seg = 1
            v = s >> 8
            while v > 1 and seg < 7:
                v >>= 1
                seg += 1
            mant = (s >> (seg + 3)) & 0x0F
        else:
            seg = 0
            mant = s >> 4
        out.append((sign | (seg << 4) | mant) ^ 0x55)
    return bytes(out)


def ima_adpcm_encode(
    samples: np.ndarray, channels: int, samples_per_block: int = 505
) -> tuple[bytes, int]:
    """Encode (n, channels) int16 → (data, block_align) for tests. The
    first sample of each block is stored verbatim in the header."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    assert samples.shape[1] == channels
    nib_per_block = samples_per_block - 1
    if nib_per_block % 8:
        raise ValueError("samples_per_block must be 8k+1")
    block_align = 4 * channels + nib_per_block // 2 * channels
    out = bytearray()
    idxs = [0] * channels
    pos = 0
    n = samples.shape[0]
    while pos < n:
        blk = samples[pos : pos + samples_per_block]
        if blk.shape[0] < samples_per_block:
            pad = np.repeat(blk[-1:], samples_per_block - blk.shape[0], axis=0)
            blk = np.concatenate([blk, pad], axis=0)
        preds = [int(blk[0, c]) for c in range(channels)]
        for c in range(channels):
            out += struct.pack("<hBB", preds[c], idxs[c], 0)
        nibbles: list[list[int]] = [[] for _ in range(channels)]
        for i in range(1, samples_per_block):
            for c in range(channels):
                target = int(blk[i, c])
                step = int(PC._IMA_STEPS[idxs[c]])
                diff = target - preds[c]
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                preds[c], idxs[c] = PC._ima_step(nib, preds[c], idxs[c])
                nibbles[c].append(nib)
        for g in range(0, len(nibbles[0]), 8):
            for c in range(channels):
                grp = nibbles[c][g : g + 8]
                for k in range(0, 8, 2):
                    out.append(grp[k] | (grp[k + 1] << 4))
        pos += samples_per_block
    return bytes(out), block_align


def encode_h264(y: np.ndarray, u: np.ndarray, v: np.ndarray, qp: int = 28, **kw):
    """Single-frame convenience: → (annexb_bytes, (ry, ru, rv) recon)."""
    out = H.encode_h264_frames([(y, u, v)], qp, **kw)
    sc = b"\x00\x00\x00\x01"
    annexb = sc + out["sps"] + sc + out["pps"] + b"".join(sc + n for n in out["samples"][0])
    return annexb, out["recons"][0]


def _huffman_lengths(freqs: dict) -> dict:
    """Plain Huffman code lengths for a small frequency table (raises past
    the 15-bit canonical limit — inputs here are tiny)."""
    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise ValueError("empty alphabet")
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items())) if f > 0]
    heapq.heapify(heap)
    lengths = {s: 0 for s in syms}
    tie = len(heap)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            lengths[s] += 1
        tie += 1
        heapq.heappush(heap, (f1 + f2, tie, g1 + g2))
    if max(lengths.values()) > 15:
        raise ValueError("code length limit exceeded")
    return lengths


def write_prefix_code(wr, lengths: list[int]):
    """Serialize one NORMAL prefix code's length table (the inverse of
    ``vp8l._read_prefix_code``'s normal branch). Returns (codes, lengths) for
    emitting symbols afterwards — a single-symbol code costs 0 bits."""
    wr.write(0, 1)  # not simple
    last_nz = max((i for i, ln in enumerate(lengths) if ln), default=-1)
    if last_nz < 0:
        raise ValueError("no symbols")
    seq = lengths[: last_nz + 1]
    stream: list[tuple] = []
    i = 0
    while i < len(seq):
        if seq[i] == 0:
            j = i
            while j < len(seq) and seq[j] == 0:
                j += 1
            run = j - i
            while run > 0:
                if run >= 11:
                    take = min(run, 138)
                    stream.append((18, take - 11, 7))
                elif run >= 3:
                    take = min(run, 10)
                    stream.append((17, take - 3, 3))
                else:
                    take = 1
                    stream.append((0, None, 0))
                run -= take
            i = j
        else:
            stream.append((seq[i], None, 0))
            i += 1
    if len(stream) < 2:
        stream.append((0, None, 0))  # pad so max_symbol (>= 2) fits exactly
    freqs: dict = {}
    for s, _e, _b in stream:
        freqs[s] = freqs.get(s, 0) + 1
    cl_map = _huffman_lengths(freqs)
    cl_lengths = [cl_map.get(s, 0) for s in range(19)]
    used = {s for s in range(19) if cl_lengths[s]}
    num = max(max(i for i, s in enumerate(V._CODE_LENGTH_ORDER) if s in used) + 1, 4)
    wr.write(num - 4, 4)
    for s in V._CODE_LENGTH_ORDER[:num]:
        wr.write(cl_lengths[s], 3)
    cl_codes = V._canonical_codes(cl_lengths)
    cl_single = sum(1 for ln in cl_lengths if ln) == 1
    ms = len(stream)
    k = 0
    while ms - 2 >= (1 << (2 + 2 * k)):
        k += 1
    wr.write(1, 1)
    wr.write(k, 3)
    wr.write(ms - 2, 2 + 2 * k)
    for s, extra, ebits in stream:
        if not cl_single:
            wr.write_code(cl_codes[s], cl_map[s])
        if ebits:
            wr.write(extra, ebits)
    codes = V._canonical_codes(lengths)
    return codes, lengths


def emit_symbol(wr, codes: dict, lengths: list[int], sym: int) -> None:
    """Emit one symbol of a code written by write_prefix_code (no-op bits
    for a single-symbol code)."""
    if sum(1 for ln in lengths if ln) > 1:
        wr.write_code(codes[sym], lengths[sym])
