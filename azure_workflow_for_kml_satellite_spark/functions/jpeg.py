"""From-scratch baseline JPEG (JFIF) codec — pure numpy/stdlib.

No PIL/libjpeg exists in this container, so (like the PNG decoder in
functions/png.py and the GeoTIFF codec in functions/geotiff.py) the engine
carries its own implementation of the public format:

- ``decode_jpeg``: baseline sequential DCT JPEG (SOF0/1) AND progressive
  DCT JPEG (SOF2 — spectral selection + successive approximation, DC/AC
  first and refinement scans, EOB runs), 8-bit, grayscale or YCbCr with
  sampling factors up to 2x2 (covers 4:4:4 / 4:2:2 / 4:2:0 — what cameras
  and web encoders actually emit), restart markers (DRI/RSTn), Huffman +
  quantization tables read from the stream. Arithmetic-coded, lossless and
  arithmetic-coded variants raise ValueError (quarantined upstream);
  12-bit extended-sequential frames DECODE at full precision (16-bit DQT
  supported) and render to the uint8 output contract.
- ``encode_jpeg``: baseline 4:4:4 encoder used by tests and synthetic data
  generation; emits its own (valid, simple) canonical Huffman tables in DHT
  rather than the Annex-K defaults — any conformant decoder reads tables
  from the stream, so interchange is unaffected (compression ratio is not
  the point here; correctness is).
- ``encode_jpeg_progressive``: progressive encoder following libjpeg's
  default 10-scan YCbCr script (DC first/refine, banded AC first scans,
  AC refinement with buffered correction bits + EOB runs) — exists so the
  progressive decode paths are round-trip tested against the baseline
  image without any external codec.

The decoder's IDCT is the float DCT-III of the orthonormal DCT-II the
encoder applies, so encode→decode error is bounded by quantization alone
(tested: flat blocks near-exact, smooth gradients within the quant step).
"""

from __future__ import annotations

import struct

import numpy as np

# ── shared constants ─────────────────────────────────────────────────────────

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

# mild flat quantization tables (stored in DQT; any decoder reads them back)
QUANT_LUMA = np.full(64, 12, dtype=np.uint8)
QUANT_LUMA[0] = 8
QUANT_CHROMA = np.full(64, 16, dtype=np.uint8)
QUANT_CHROMA[0] = 8

# DCT-II orthonormal basis (8-point), used by both encoder and decoder
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _dct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


# ── Huffman ──────────────────────────────────────────────────────────────────


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """JPEG canonical Huffman: {symbol: (code, length)} from the DHT BITS
    (count of codes per length 1..16) + value list."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[vi]] = (code, length)
            code += 1
            vi += 1
        code <<= 1
    return codes


def _simple_tables() -> tuple[tuple[list[int], list[int]], tuple[list[int], list[int]]]:
    """(dc, ac) encoder tables: all 12 DC categories at 4 bits, all 162 AC
    (run,size) symbols at 8 bits — valid canonical codes (Kraft < 1)."""
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_vals = [0x00, 0xF0]
    for run in range(16):
        for size in range(1, 11):
            ac_vals.append((run << 4) | size)
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)  # all at length 8
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_eat_restart(self) -> None:
        """Drop pad bits and consume one RSTn marker."""
        self.nbits = 0
        while self.data[self.pos] == 0xFF and self.data[self.pos + 1] == 0x00:
            self.pos += 2
        if self.data[self.pos] != 0xFF or not (0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


class _HuffDecoder:
    """Code → symbol via (length, code) lookup built from DHT."""

    def __init__(self, bits: list[int], values: list[int]) -> None:
        self.lut: dict[tuple[int, int], int] = {}
        code = 0
        vi = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lut[(length, code)] = values[vi]
                code += 1
                vi += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v < 0 else 0


def _encode_magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: (extra bits value, category)."""
    cat = _category(v)
    if v < 0:
        v = v + (1 << cat) - 1
    return v, cat


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    if v < (1 << (cat - 1)):
        return v - (1 << cat) + 1
    return v


# ── encoder ──────────────────────────────────────────────────────────────────


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    f = img.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray, center: float = 128.0, maxv: int = 255) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - center, ycc[..., 2] - center
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.clip(np.stack([r, g, b], axis=-1), 0, maxv)
    if maxv == 255:
        return out.astype(np.uint8)
    return np.clip(np.rint(out * (255.0 / maxv)), 0, 255).astype(np.uint8)


def _pad_to_8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _encode_block(bw, block, q_nat, pred, dc_codes, ac_codes, center=128.0) -> int:
    coef = _dct2(block - center)
    qc = np.rint(coef / q_nat).astype(np.int64)
    zz = qc.flatten()[ZIGZAG]
    diff = int(zz[0]) - pred
    extra, cat = _encode_magnitude(diff)
    code, length = dc_codes[cat]
    bw.write(code, length)
    if cat:
        bw.write(extra, cat)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c0, l0 = ac_codes[0xF0]
            bw.write(c0, l0)
            run -= 16
        extra, cat = _encode_magnitude(v)
        c1, l1 = ac_codes[(run << 4) | cat]
        bw.write(c1, l1)
        bw.write(extra, cat)
        run = 0
    if run:
        c2, l2 = ac_codes[0x00]  # EOB
        bw.write(c2, l2)
    return int(zz[0])


def _build_planes(img: np.ndarray, subsample: str):
    """Shared encoder front end: colour convert, chroma downsample, pad each
    component plane to its MCU grid. Returns (h, w, mcux, mcuy, comps) where
    each comp carries plane / sampling factors / quant tables and its true
    (non-padded) block dims bw×bh for non-interleaved progressive scans."""
    if img.ndim == 2:
        img = np.stack([img, img, img], axis=-1)
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_jpeg expects HxWx3 uint8 (or HxW grayscale)")
    h, w = img.shape[:2]
    if h > 65535 or w > 65535 or h == 0 or w == 0:
        raise ValueError(f"image dimensions {w}x{h} outside JPEG's 1..65535 range")
    factors = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}
    if subsample not in factors:
        raise ValueError(f"unsupported subsampling {subsample!r}")
    hf, vf = factors[subsample]
    ycc = _rgb_to_ycbcr(img)

    def _downsample(plane: np.ndarray) -> np.ndarray:
        if hf == 1 and vf == 1:
            return plane
        ph = (plane.shape[0] + vf - 1) // vf * vf
        pw = (plane.shape[1] + hf - 1) // hf * hf
        p = np.pad(plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])), mode="edge")
        return p.reshape(ph // vf, vf, pw // hf, hf).mean(axis=(1, 3))

    comps = [
        {"plane": ycc[..., 0], "h": hf, "v": vf, "tq": 0, "q": QUANT_LUMA},
        {"plane": _downsample(ycc[..., 1]), "h": 1, "v": 1, "tq": 1, "q": QUANT_CHROMA},
        {"plane": _downsample(ycc[..., 2]), "h": 1, "v": 1, "tq": 1, "q": QUANT_CHROMA},
    ]
    mcux = (w + 8 * hf - 1) // (8 * hf)
    mcuy = (h + 8 * vf - 1) // (8 * vf)
    for c in comps:
        need_h, need_w = mcuy * c["v"] * 8, mcux * c["h"] * 8
        p = c["plane"]
        c["plane"] = np.pad(
            p, ((0, need_h - p.shape[0]), (0, need_w - p.shape[1])), mode="edge"
        )
        c["q_nat"] = c["q"][UNZIGZAG].reshape(8, 8)
        cw = (w * c["h"] + hf - 1) // hf
        ch = (h * c["v"] + vf - 1) // vf
        c["bw"], c["bh"] = (cw + 7) // 8, (ch + 7) // 8
    return h, w, mcux, mcuy, comps


def encode_jpeg(
    img: np.ndarray,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) → baseline JFIF bytes.

    ``subsample``: '4:4:4' (1x1 chroma), '4:2:2' (2x1 luma factors) or
    '4:2:0' (2x2) — chroma is box-averaged. ``restart_interval`` > 0 emits
    DRI + RSTn markers every N MCUs (resets DC prediction), exercising the
    decoder's restart path."""
    h, w, mcux, mcuy, comps = _build_planes(img, subsample)

    (dc_bits, dc_vals), (ac_bits, ac_vals) = _simple_tables()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    entropy = bytearray()
    bw = _BitWriter()
    preds = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += bw.flush()
                entropy += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0, 0, 0]
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        block = c["plane"][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(
                            bw, block, c["q_nat"], preds[ci], dc_codes, ac_codes
                        )
            mcu_count += 1
    entropy += bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(QUANT_LUMA))
    out += seg(0xDB, bytes([1]) + bytes(QUANT_CHROMA))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, c in zip((1, 2, 3), comps):
        sof += struct.pack(">BBB", cid, (c["h"] << 4) | c["v"], c["tq"])
    out += seg(0xC0, sof)
    for cls_id, (bits, vals) in (
        ((0 << 4) | 0, (dc_bits, dc_vals)),
        ((1 << 4) | 0, (ac_bits, ac_vals)),
        ((0 << 4) | 1, (dc_bits, dc_vals)),
        ((1 << 4) | 1, (ac_bits, ac_vals)),
    ):
        out += seg(0xC4, bytes([cls_id]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = struct.pack(">B", 3)
    for cid, tables in ((1, 0x00), (2, 0x11), (3, 0x11)):
        sos += struct.pack(">BB", cid, tables)
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ── progressive encoder ──────────────────────────────────────────────────────


def _progressive_ac_table() -> tuple[list[int], list[int]]:
    """AC table for progressive scans: the baseline (run,size) symbols plus
    the EOBn run-length symbols (r<<4 for r=1..14) — 176 codes, all at
    length 8 (Kraft 176/256 < 1, valid canonical)."""
    ac_vals = [0x00, 0xF0]
    for run in range(16):
        for size in range(1, 11):
            ac_vals.append((run << 4) | size)
    ac_vals.extend(r << 4 for r in range(1, 15))
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)
    return ac_bits, ac_vals


# libjpeg's default progressive scan script for YCbCr (jcparam.c):
# (component indexes, Ss, Se, Ah, Al)
_PROGRESSIVE_SCRIPT = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def _flush_eobrun(bw: _BitWriter, ac_codes, st: dict) -> None:
    """Emit the pending EOBn symbol (+ its extension bits) and any buffered
    correction bits riding with it (T.81 G.1.2.3 / libjpeg emit_eobrun)."""
    if st["eobrun"] > 0:
        eb = st["eobrun"]
        nbits = eb.bit_length() - 1
        code, ln = ac_codes[nbits << 4]
        bw.write(code, ln)
        if nbits:
            bw.write(eb & ((1 << nbits) - 1), nbits)
        st["eobrun"] = 0
    for b in st["be"]:
        bw.write(b, 1)
    st["be"] = []


def _encode_block_ac_first(bw, ac_codes, zz, ss, se, al, st) -> None:
    """First-pass AC encoding of one block over [ss, se] at bit plane al
    (point transform = arithmetic shift on magnitude), with EOB runs."""
    r = 0
    for k in range(ss, se + 1):
        t = int(zz[k])
        t = (t >> al) if t >= 0 else -((-t) >> al)
        if t == 0:
            r += 1
            continue
        _flush_eobrun(bw, ac_codes, st)
        while r > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            r -= 16
        extra, cat = _encode_magnitude(t)
        code, ln = ac_codes[(r << 4) | cat]
        bw.write(code, ln)
        bw.write(extra, cat)
        r = 0
    if r > 0:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _flush_eobrun(bw, ac_codes, st)


def _encode_block_ac_refine(bw, ac_codes, zz, ss, se, al, st) -> None:
    """AC successive-approximation refinement (libjpeg encode_mcu_AC_refine):
    already-significant coefficients contribute one buffered correction bit
    each; newly-significant ones emit (run,1) + sign; trailing zeros fold
    into the shared EOB run (correction bits buffered in st['be'])."""
    absv = []
    eob_k = ss - 1  # last newly-significant index; ZRLs are pointless past it
    for k in range(ss, se + 1):
        a = abs(int(zz[k])) >> al
        absv.append(a)
        if a == 1:
            eob_k = k
    r = 0
    br_bits: list[int] = []
    for k in range(ss, se + 1):
        a = absv[k - ss]
        if a == 0:
            r += 1
            continue
        while r > 15 and k <= eob_k:
            _flush_eobrun(bw, ac_codes, st)
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            r -= 16
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
        if a > 1:
            br_bits.append(a & 1)
            continue
        _flush_eobrun(bw, ac_codes, st)
        code, ln = ac_codes[(r << 4) | 1]
        bw.write(code, ln)
        r = 0
        bw.write(0 if int(zz[k]) < 0 else 1, 1)
        for b in br_bits:
            bw.write(b, 1)
        br_bits = []
    if r > 0 or br_bits:
        st["eobrun"] += 1
        st["be"].extend(br_bits)
        if st["eobrun"] == 0x7FFF or len(st["be"]) > 900:
            _flush_eobrun(bw, ac_codes, st)


def encode_jpeg_progressive(
    img: np.ndarray,
    subsample: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB (or HxW grayscale) → progressive (SOF2) JFIF bytes.

    Quantizes exactly like ``encode_jpeg`` (same tables, same DCT), then
    emits libjpeg's default 10-scan script — so a conformant decoder must
    reproduce the baseline encoding's image bit-for-bit, which is what the
    round-trip tests assert. ``restart_interval`` > 0 emits DRI + RSTn
    every N MCUs in every scan (resets DC prediction and EOB runs)."""
    h, w, mcux, mcuy, comps = _build_planes(img, subsample)
    for c in comps:
        plane = c["plane"]
        by_n, bx_n = plane.shape[0] // 8, plane.shape[1] // 8
        # per-block _dct2 + rint, the exact float path encode_jpeg takes, so
        # both encoders quantize to identical coefficients (tested)
        zz = np.empty((by_n, bx_n, 64), dtype=np.int64)
        for by in range(by_n):
            for bx in range(bx_n):
                block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                qc = np.rint(_dct2(block - 128.0) / c["q_nat"]).astype(np.int64)
                zz[by, bx] = qc.flatten()[ZIGZAG]
        c["zz"] = zz

    (dc_bits, dc_vals), _ = _simple_tables()
    ac_bits, ac_vals = _progressive_ac_table()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(QUANT_LUMA))
    out += seg(0xDB, bytes([1]) + bytes(QUANT_CHROMA))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, c in zip((1, 2, 3), comps):
        sof += struct.pack(">BBB", cid, (c["h"] << 4) | c["v"], c["tq"])
    out += seg(0xC2, sof)
    for cls_id, (bits, vals) in (
        ((0 << 4) | 0, (dc_bits, dc_vals)),
        ((1 << 4) | 0, (ac_bits, ac_vals)),
        ((0 << 4) | 1, (dc_bits, dc_vals)),
        ((1 << 4) | 1, (ac_bits, ac_vals)),
    ):
        out += seg(0xC4, bytes([cls_id]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    for comp_ids, ss, se, ah, al in _PROGRESSIVE_SCRIPT:
        scan = [comps[i] for i in comp_ids]
        sos = struct.pack(">B", len(scan))
        for i, c in zip(comp_ids, scan):
            tbl = 0x00 if i == 0 else 0x11
            sos += struct.pack(">BB", i + 1, tbl)
        sos += struct.pack(">BBB", ss, se, (ah << 4) | al)
        out += seg(0xDA, sos)
        out += _encode_scan_entropy(
            scan, ss, se, ah, al, dc_codes, ac_codes,
            restart_interval, mcux, mcuy,
        )
    out += b"\xff\xd9"
    return bytes(out)


def _encode_scan_entropy(
    scan, ss, se, ah, al, dc_codes, ac_codes, restart_interval, mcux, mcuy
) -> bytes:
    interleaved = len(scan) > 1
    units = mcux * mcuy if interleaved else scan[0]["bw"] * scan[0]["bh"]
    out = bytearray()
    bw = _BitWriter()
    preds = [0] * len(scan)
    st = {"eobrun": 0, "be": []}
    rst = 0
    for u in range(units):
        if restart_interval and u and u % restart_interval == 0:
            _flush_eobrun(bw, ac_codes, st)
            out += bw.flush()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            bw = _BitWriter()
            preds = [0] * len(scan)
            st = {"eobrun": 0, "be": []}
        if interleaved:
            my, mx = divmod(u, mcux)
            blocks = [
                (si, my * c["v"] + by, mx * c["h"] + bx)
                for si, c in enumerate(scan)
                for by in range(c["v"])
                for bx in range(c["h"])
            ]
        else:
            by, bx = divmod(u, scan[0]["bw"])
            blocks = [(0, by, bx)]
        for si, by, bx in blocks:
            zz = scan[si]["zz"][by, bx]
            if ss == 0:
                if ah == 0:
                    v = int(zz[0]) >> al
                    diff = v - preds[si]
                    preds[si] = v
                    extra, cat = _encode_magnitude(diff)
                    code, ln = dc_codes[cat]
                    bw.write(code, ln)
                    if cat:
                        bw.write(extra, cat)
                else:
                    bw.write((int(zz[0]) >> al) & 1, 1)
            elif ah == 0:
                _encode_block_ac_first(bw, ac_codes, zz, ss, se, al, st)
            else:
                _encode_block_ac_refine(bw, ac_codes, zz, ss, se, al, st)
    _flush_eobrun(bw, ac_codes, st)
    out += bw.flush()
    return bytes(out)


# ── decoder ──────────────────────────────────────────────────────────────────


def _frame_geometry(frame: dict) -> dict:
    """MCU grid + per-component block dimensions (padded and true)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2 or any(c["h"] < 1 or c["v"] < 1 for c in comps):
        raise ValueError("sampling factors beyond 2x2 unsupported")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        # true (non-MCU-padded) sample dims → block dims, used by
        # non-interleaved scans (JPEG A.2.2); padded dims by interleaved ones
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        c["bw"], c["bh"] = (cw + 7) // 8, (ch + 7) // 8
        c["bx_pad"], c["by_pad"] = mcux * c["h"], mcuy * c["v"]
    return {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy}


def _next_marker(data: bytes, pos: int) -> int:
    """First position at or after ``pos`` holding a real marker (not a
    stuffed 0x00, not a fill 0xFF, not an RSTn). A stream that simply
    ends after the entropy data (missing EOI — a common truncation that
    still carries every MCU) returns len(data); callers treat EOF as an
    implicit end of image, matching the round-3 baseline decoder."""
    p = pos
    n = len(data)
    while p + 1 < n:
        if data[p] == 0xFF:
            nxt = data[p + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                p += 2
                continue
            if nxt == 0xFF:
                p += 1
                continue
            return p
        p += 1
    return n


def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes → HxWxC uint8 (C = 1 or 3). Baseline (SOF0/1, 8- and
    12-bit sample precision) and progressive (SOF2) DCT; raises ValueError
    on other variants or corrupt streams. 12-bit frames decode at full
    precision and are rendered to uint8 (scaled by 255/4095)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None
    geom = None
    coef: list[np.ndarray] | None = None
    progressive = False
    scans_done = 0
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # legal 0xFF fill bytes before a marker
        if pos + 1 >= len(data):
            raise ValueError("truncated JPEG stream")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and scans_done:
                return _reconstruct(frame, geom, coef, quant)
            raise ValueError("EOI before complete image data")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (length,) = struct.unpack_from(">H", data, pos)
        payload = data[pos + 2 : pos + length]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                if pq == 0:
                    quant[tq] = np.frombuffer(payload, np.uint8, 64, p).astype(np.int32)
                    p += 64
                elif pq == 1:  # 16-bit table (extended / 12-bit streams)
                    quant[tq] = (
                        np.frombuffer(payload, np.dtype(">u2"), 64, p).astype(np.int32)
                    )
                    p += 128
                else:
                    raise ValueError(f"invalid quant table precision {pq}")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                dec = _HuffDecoder(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if frame is not None:
                raise ValueError("multiple SOF markers")
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            if prec not in (8, 12):
                raise ValueError(f"unsupported JPEG sample precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", payload, 6 + 3 * i)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "prec": prec, "comps": comps}
            geom = _frame_geometry(frame)
            coef = [
                np.zeros((c["by_pad"], c["bx_pad"], 64), dtype=np.int32)
                for c in comps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("lossless/arithmetic/hierarchical JPEG unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            scan = []
            for i in range(ns):
                cs, tables = struct.unpack_from(">BB", payload, 1 + 2 * i)
                matches = [
                    ci for ci, c in enumerate(frame["comps"]) if c["id"] == cs
                ]
                if not matches:
                    raise ValueError(f"SOS references unknown component {cs}")
                ci = matches[0]
                scan.append(
                    {**frame["comps"][ci], "ci": ci, "td": tables >> 4, "ta": tables & 0x0F}
                )
            ss, se, ahl = struct.unpack_from(">BBB", payload, 1 + 2 * ns)
            ah, al = ahl >> 4, ahl & 0x0F
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _decode_scan(
                data, pos + length, frame, geom, scan, coef,
                huff_dc, huff_ac, restart_interval, ss, se, ah, al, progressive,
            )
            scans_done += 1
            if not progressive:
                return _reconstruct(frame, geom, coef, quant)
            continue
        pos += length
    if progressive and scans_done:
        # stream ended without EOI after complete scans — implicit end
        return _reconstruct(frame, geom, coef, quant)
    raise ValueError("no SOS marker found")


def _decode_scan(
    data, pos, frame, geom, scan, coef, huff_dc, huff_ac,
    restart_interval, ss, se, ah, al, progressive,
):
    """Entropy-decode one scan into the per-component coefficient arrays
    (zigzag order). Returns the stream position of the next marker.

    Baseline: single interleaved (or single-component) full-band scan.
    Progressive (ITU T.81 G.2): DC first (Ss=0, Ah=0), DC refinement
    (Ss=0, Ah>0), AC first (Ss>0, Ah=0, EOB runs) and AC refinement
    (Ss>0, Ah>0, correction bits) scans, each restricted to the spectral
    band [Ss, Se] and bit plane Al."""
    if ss == 0 and se != 0 and progressive:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if ss > se or se > 63:
        raise ValueError("bad spectral selection")
    br = _BitReader(data, pos)
    preds = [0] * len(scan)
    state = {"eobrun": 0}
    # scan walk: interleaved = MCU grid over every scan component;
    # non-interleaved (single component) = that component's true block grid
    interleaved = len(scan) > 1
    if interleaved:
        units = geom["mcux"] * geom["mcuy"]
    else:
        units = scan[0]["bw"] * scan[0]["bh"]

    def _unit_blocks(u):
        if interleaved:
            my, mx = divmod(u, geom["mcux"])
            for si, c in enumerate(scan):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        yield si, my * c["v"] + by, mx * c["h"] + bx
        else:
            c = scan[0]
            by, bx = divmod(u, c["bw"])
            yield 0, by, bx

    try:
        for u in range(units):
            if restart_interval and u and u % restart_interval == 0:
                br.align_and_eat_restart()
                preds = [0] * len(scan)
                state["eobrun"] = 0
            for si, by, bx in _unit_blocks(u):
                c = scan[si]
                zz = coef[c["ci"]][by, bx]
                if ss == 0:
                    if ah == 0:
                        sym = huff_dc[c["td"]].decode(br)
                        if sym > 15:
                            raise ValueError("invalid DC category")
                        diff = _extend(br.read_bits(sym), sym) if sym else 0
                        preds[si] += diff
                        val = preds[si] << al
                        if not -(1 << 31) <= val < (1 << 31):
                            raise ValueError("DC coefficient overflow (corrupt stream)")
                        zz[0] = val
                        if not progressive:
                            _decode_block_ac(br, huff_ac[c["ta"]], zz, 1, 63, 0, state)
                    else:
                        if br.read_bit():
                            zz[0] |= 1 << al
                else:
                    if ah == 0:
                        _decode_block_ac(br, huff_ac[c["ta"]], zz, ss, se, al, state)
                    else:
                        _decode_block_ac_refine(
                            br, huff_ac[c["ta"]], zz, ss, se, al, state
                        )
    except _RestartMarker:
        raise ValueError("unexpected restart marker placement") from None
    return _next_marker(data, br.pos)


def _decode_block_ac(br, ac, zz, ss, se, al, state):
    """First-pass AC coding for one block over band [ss, se] at bit plane
    ``al`` (baseline = band [1,63] at plane 0, where EOB-run symbols >0x00
    do not occur because the encoder never emits them)."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += br.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC index overrun")
        zz[k] = _extend(br.read_bits(s), s) << al
        k += 1


def _decode_block_ac_refine(br, ac, zz, ss, se, al, state):
    """AC successive-approximation refinement (T.81 G.2.2 / libjpeg
    decode_mcu_AC_refine): adds bit ``al`` to already-nonzero coefficients
    (one correction bit each) and places newly-significant ±1<<al
    coefficients; EOB runs refine the remainder of the band."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = ac.decode(br)
            r, s = rs >> 4, rs & 0x0F
            s_val = 0
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += br.read_bits(r)
                    break
                # r == 15: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("AC refinement size must be 1")
                s_val = p1 if br.read_bit() else m1
            while k <= se:
                cur = int(zz[k])
                if cur != 0:
                    if br.read_bit() and (cur & p1) == 0:
                        zz[k] = cur + (p1 if cur >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s_val:
                if k > se:
                    raise ValueError("AC refinement index overrun")
                zz[k] = s_val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            cur = int(zz[k])
            if cur != 0 and br.read_bit() and (cur & p1) == 0:
                zz[k] = cur + (p1 if cur >= 0 else m1)
            k += 1
        state["eobrun"] -= 1


def _reconstruct(frame, geom, coef, quant):
    """Dequantize + batched IDCT + chroma upsample + colour convert.
    12-bit frames are decoded at full precision then rendered to the
    uint8 output contract (scaled by 255/4095)."""
    h, w = frame["h"], frame["w"]
    prec = frame.get("prec", 8)
    shift = float(1 << (prec - 1))
    maxv = (1 << prec) - 1
    planes = []
    for c, zz in zip(frame["comps"], coef):
        if c["tq"] not in quant:
            raise ValueError(f"missing quantization table {c['tq']}")
        qt = quant[c["tq"]].astype(np.float64)
        nat = (zz.astype(np.float64) * qt)[..., UNZIGZAG]
        blocks = nat.reshape(zz.shape[0], zz.shape[1], 8, 8)
        # batched IDCT: C.T @ B @ C for every block at once
        spat = np.einsum("ka,yxkl,lb->yxab", _C, blocks, _C, optimize=True)
        plane = spat.transpose(0, 2, 1, 3).reshape(zz.shape[0] * 8, zz.shape[1] * 8)
        plane += shift
        ry, rx = geom["vmax"] // c["v"], geom["hmax"] // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        p0 = np.clip(np.rint(planes[0]), 0, maxv)
        if prec > 8:
            p0 = np.rint(p0 * (255.0 / maxv))
        return p0.astype(np.uint8)[..., None]
    if len(planes) == 3:
        return _ycbcr_to_rgb(np.stack(planes, axis=-1), center=shift, maxv=maxv)
    raise ValueError(f"unsupported component count {len(planes)}")


def encode_jpeg12_gray(
    img12: np.ndarray, quant: int = 16, quant16: bool = False
) -> bytes:
    """12-bit extended-sequential (SOF1, precision 12) GRAYSCALE encoder —
    test infrastructure for the decoder's 12-bit path (level shift 2048,
    DC categories up to 15, AC magnitudes past the 8-bit table range,
    optionally a 16-bit DQT via ``quant16``). Input: HxW uint16 in 0..4095."""
    img12 = np.asarray(img12)
    if img12.ndim != 2 or img12.dtype != np.uint16 or int(img12.max(initial=0)) > 4095:
        raise ValueError("encode_jpeg12_gray expects HxW uint16 in 0..4095")
    h, w = img12.shape
    qtab = np.full(64, quant, dtype=np.int32)
    if quant16:
        qtab[-8:] = 300  # exercises the pq=1 16-bit DQT decode branch
    # tables sized for 12-bit magnitudes: 16 DC categories at length 6;
    # AC (run,size) for sizes 1..14 + EOB + ZRL, all at length 8
    dc_bits = [0, 0, 0, 0, 0, 16] + [0] * 10
    dc_vals = list(range(16))
    ac_vals = [0x00, 0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 15)
    ]
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)
    plane = _pad_to_8(img12.astype(np.float64))
    q_nat = qtab[UNZIGZAG].reshape(8, 8).astype(np.float64)
    bw = _BitWriter()
    pred = 0
    for y0 in range(0, plane.shape[0], 8):
        for x0 in range(0, plane.shape[1], 8):
            pred = _encode_block(
                bw, plane[y0 : y0 + 8, x0 : x0 + 8], q_nat, pred,
                dc_codes, ac_codes, center=2048.0,
            )
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    if quant16:
        out += seg(0xDB, bytes([0x10]) + b"".join(struct.pack(">H", int(v)) for v in qtab))
    else:
        out += seg(0xDB, bytes([0x00]) + bytes(int(v) for v in qtab))
    out += seg(0xC1, struct.pack(">BHHB", 12, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0))
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    out += seg(0xDA, struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00) + b"\x00\x3f\x00")
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)
