"""From-scratch WebP lossless (VP8L) bitstream codec.

Decoder implements the published VP8L format (the WebP lossless bitstream
specification, RFC 9649 §3): LSB-first bit reading, DEFLATE-style canonical
prefix codes (simple and normal, with the 19-symbol code-length code and
repeat codes 16/17/18 + the max-symbol shortcut), color cache, meta prefix
groups, LZ77 backward references with the 120-entry 2D distance map
(derived from its published ordering rule: candidate offsets sorted by
squared distance, then larger dy first, then positive dx first — the
derivation is pinned against the spec's listed prefix in tests), and all
four transforms (predictor with its 14 modes, color/cross-color,
subtract-green, color-indexing incl. sub-byte pixel bundling).

The encoder is a deliberately small subset for tests and synthetic
corpora: literals only (flat 8-bit codes per channel, no LZ77, no cache,
no transforms). The decoder never depends on it.

Role: closes the image-format matrix's last real gap (webp was dims-only);
brief-scope (multimodal training-data columns), SURVEY.md §6 — the
reference repo has no raster-image decoding at all.
"""

from __future__ import annotations

import numpy as np

# ── distance map (spec §4.2.2) ───────────────────────────────────────────────


def _build_distance_map() -> list[tuple[int, int]]:
    cands = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cands[:120]


DISTANCE_MAP = _build_distance_map()


# ── bit IO (LSB-first) ──────────────────────────────────────────────────────


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        out = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("VP8L bitstream truncated")
            out |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return out

    def read_bit(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.data):
            raise ValueError("VP8L bitstream truncated")
        b = (self.data[byte] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


class _Writer:
    def __init__(self):
        self.buf = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.buf.append(0)
            if (value >> i) & 1:
                self.buf[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def write_code(self, code: int, length: int) -> None:
        """Canonical prefix code: MSB of the code goes first (DEFLATE
        packing convention)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)


# ── canonical prefix trees ──────────────────────────────────────────────────


class _Tree:
    """Canonical prefix tree decoded bit-by-bit (stream holds each code
    MSB-first). A single-symbol tree consumes zero bits."""

    __slots__ = ("single", "nodes")

    def __init__(self, lengths: list[int]):
        nz = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][0]
            self.nodes = None
            return
        self.single = None
        codes = _canonical_codes(lengths)
        # nodes: list of [left, right]; value stored as (-1 - symbol)
        nodes: list[list[int]] = [[0, 0]]
        for sym, ln in nz:
            code = codes[sym]
            cur = 0
            for i in range(ln - 1, -1, -1):
                b = (code >> i) & 1
                nxt = nodes[cur][b]
                if i == 0:
                    if nxt != 0:
                        raise ValueError("VP8L prefix code collision")
                    nodes[cur][b] = -1 - sym
                else:
                    if nxt == 0:
                        nodes.append([0, 0])
                        nodes[cur][b] = len(nodes) - 1
                        nxt = nodes[cur][b]
                    elif nxt < 0:
                        raise ValueError("VP8L prefix code collision")
                    cur = nxt
        self.nodes = nodes

    def decode(self, r: _Reader) -> int:
        if self.single is not None:
            return self.single
        cur = 0
        nodes = self.nodes
        while True:
            nxt = nodes[cur][r.read_bit()]
            if nxt < 0:
                return -1 - nxt
            if nxt == 0:
                raise ValueError("invalid VP8L prefix code path")
            cur = nxt


def _canonical_codes(lengths: list[int]) -> dict[int, int]:
    max_len = max(lengths)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for bits in range(1, max_len + 1):
        code = (code + bl_count[bits - 1]) << 1
        next_code[bits] = code
    out = {}
    for sym in range(len(lengths)):
        ln = lengths[sym]
        if ln:
            out[sym] = next_code[ln]
            next_code[ln] += 1
    return out


_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _read_prefix_code(r: _Reader, alphabet_size: int) -> _Tree:
    if r.read(1):  # simple code
        num_symbols = r.read(1) + 1
        if r.read(1):
            sym0 = r.read(8)
        else:
            sym0 = r.read(1)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:
            raise ValueError("VP8L simple-code symbol out of range")
        if num_symbols == 2:
            sym1 = r.read(8)
            if sym1 >= alphabet_size:
                raise ValueError("VP8L simple-code symbol out of range")
            lengths[sym0] = 1
            lengths[sym1] = 1
        else:
            lengths[sym0] = 1  # single-symbol tree: decode() takes 0 bits
        return _Tree(lengths)
    # normal code: code-length code first
    num_codes = 4 + r.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = r.read(3)
    cl_tree = _Tree(cl_lengths)
    lengths = [0] * alphabet_size
    if r.read(1):  # limited symbol count
        length_nbits = 2 + 2 * r.read(3)
        max_symbol = 2 + r.read(length_nbits)
    else:
        max_symbol = alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        code = cl_tree.decode(r)
        if code < 16:
            lengths[sym] = code
            sym += 1
            if code:
                prev_len = code
        elif code == 16:
            for _ in range(3 + r.read(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                    sym += 1
        elif code == 17:
            sym += 3 + r.read(3)
        else:  # 18
            sym += 11 + r.read(7)
    if sym > alphabet_size:
        raise ValueError("VP8L code lengths overflow the alphabet")
    return _Tree(lengths)


def _prefix_value(code: int, r: _Reader) -> int:
    """LZ77 length/distance prefix decoding (spec §4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + r.read(extra) + 1


# ── entropy-coded image ─────────────────────────────────────────────────────


def _decode_image(r: _Reader, w: int, h: int, is_level0: bool):
    """Decode one spatially-coded image → (pixels uint32 ARGB flat array,
    transforms list if level0)."""
    transforms = []
    xsize = w
    if is_level0:
        seen = set()
        while r.read(1):
            ttype = r.read(2)
            if ttype in seen:
                raise ValueError("VP8L transform repeated")
            seen.add(ttype)
            if ttype == 0:  # predictor
                bits = r.read(3) + 2
                bw, bh = _sub_size(xsize, bits), _sub_size(h, bits)
                sub = _decode_image(r, bw, bh, False)[0]
                transforms.append(("predictor", bits, sub))
            elif ttype == 1:  # color
                bits = r.read(3) + 2
                bw, bh = _sub_size(xsize, bits), _sub_size(h, bits)
                sub = _decode_image(r, bw, bh, False)[0]
                transforms.append(("color", bits, sub))
            elif ttype == 2:  # subtract green
                transforms.append(("subtract_green",))
            else:  # color indexing
                n_colors = r.read(8) + 1
                pal = _decode_image(r, n_colors, 1, False)[0]
                # palette entries are component-wise delta coded
                out = np.zeros(n_colors, dtype=np.uint32)
                prev = 0
                for i in range(n_colors):
                    cur = 0
                    for shift in (0, 8, 16, 24):
                        comp = ((int(pal[i]) >> shift) + (prev >> shift)) & 0xFF
                        cur |= comp << shift
                    out[i] = cur
                    prev = cur
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("palette", width_bits, out, xsize))
                xsize = _sub_size(xsize, width_bits)
    # color cache
    cache_bits = 0
    if r.read(1):
        cache_bits = r.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid VP8L color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    # meta prefix groups
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and r.read(1):
        meta_bits = r.read(3) + 2
        mw, mh = _sub_size(xsize, meta_bits), _sub_size(h, meta_bits)
        meta = _decode_image(r, mw, mh, False)[0]
        n_groups = int(max((int(p) >> 8) & 0xFFFF for p in meta)) + 1
    groups = []
    for _ in range(n_groups):
        green = _read_prefix_code(r, 256 + 24 + cache_size)
        red = _read_prefix_code(r, 256)
        blue = _read_prefix_code(r, 256)
        alpha = _read_prefix_code(r, 256)
        dist = _read_prefix_code(r, 40)
        groups.append((green, red, blue, alpha, dist))
    # pixel loop
    n = xsize * h
    pix = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    mw = _sub_size(xsize, meta_bits) if meta is not None else 0
    while pos < n:
        x, y = pos % xsize, pos // xsize
        if meta is not None:
            mpix = int(meta[(y >> meta_bits) * mw + (x >> meta_bits)])
            g_idx = (mpix >> 8) & 0xFFFF
        else:
            g_idx = 0
        green_t, red_t, blue_t, alpha_t, dist_t = groups[g_idx]
        s = green_t.decode(r)
        if s < 256:
            red = red_t.decode(r)
            blue = blue_t.decode(r)
            alpha = alpha_t.decode(r)
            argb = (alpha << 24) | (red << 16) | (s << 8) | blue
            pix[pos] = argb
            if cache_size:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
            pos += 1
        elif s < 256 + 24:
            length = _prefix_value(s - 256, r)
            dist_code = _prefix_value(dist_t.decode(r), r)
            if dist_code > 120:
                distance = dist_code - 120
            else:
                dx, dy = DISTANCE_MAP[dist_code - 1]
                distance = dy * xsize + dx
                if distance < 1:
                    distance = 1
            if distance > pos or pos + length > n:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                argb = int(pix[pos - distance])
                pix[pos] = argb
                if cache_size:
                    cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
                pos += 1
        else:
            if not cache_size:
                raise ValueError("VP8L cache reference without a cache")
            pix[pos] = cache[s - 256 - 24]
            pos += 1
    return pix, transforms, xsize


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ── inverse transforms ──────────────────────────────────────────────────────


def _avg2(a: int, b: int) -> int:
    out = 0
    for shift in (0, 8, 16, 24):
        out |= ((((a >> shift) & 0xFF) + ((b >> shift) & 0xFF)) >> 1) << shift
    return out


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, left: int, top: int, top_left: int, top_right: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return top_right
    if mode == 4:
        return top_left
    if mode == 5:
        return _avg2(_avg2(left, top_right), top)
    if mode == 6:
        return _avg2(left, top_left)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(top_left, top)
    if mode == 9:
        return _avg2(top, top_right)
    if mode == 10:
        return _avg2(_avg2(left, top_left), _avg2(top, top_right))
    if mode == 11:  # select
        p_l = p_t = 0
        for shift in (0, 8, 16, 24):
            pred = ((left >> shift) & 0xFF) + ((top >> shift) & 0xFF) - (
                (top_left >> shift) & 0xFF
            )
            p_l += abs(pred - ((left >> shift) & 0xFF))
            p_t += abs(pred - ((top >> shift) & 0xFF))
        return left if p_l <= p_t else top
    if mode == 12:  # clamp add subtract full
        out = 0
        for shift in (0, 8, 16, 24):
            v = (
                ((left >> shift) & 0xFF)
                + ((top >> shift) & 0xFF)
                - ((top_left >> shift) & 0xFF)
            )
            out |= _clamp(v) << shift
        return out
    if mode == 13:  # clamp add subtract half
        ave = _avg2(left, top)
        out = 0
        for shift in (0, 8, 16, 24):
            a = (ave >> shift) & 0xFF
            tl = (top_left >> shift) & 0xFF
            diff = a - tl
            half = diff // 2 if diff >= 0 else -((-diff) // 2)  # trunc toward 0
            out |= _clamp(a + half) << shift
        return out
    raise ValueError(f"invalid VP8L predictor mode {mode}")


def _apply_inverse_transforms(pix, transforms, w: int, h: int):
    for t in reversed(transforms):
        kind = t[0]
        if kind == "subtract_green":
            # vectorized: no cross-pixel dependency
            g = (pix >> np.uint32(8)) & np.uint32(0xFF)
            r_ = (((pix >> np.uint32(16)) & np.uint32(0xFF)) + g) & np.uint32(0xFF)
            b = ((pix & np.uint32(0xFF)) + g) & np.uint32(0xFF)
            pix = (pix & np.uint32(0xFF00FF00)) | (r_ << np.uint32(16)) | b
        elif kind == "color":
            # vectorized: per-pixel function of the pixel + its block's cte
            bits, sub = t[1], t[2]
            bw = _sub_size(w, bits)
            idx = np.arange(len(pix), dtype=np.int64)
            xs_, ys_ = idx % w, idx // w
            cte = sub[(ys_ >> bits) * bw + (xs_ >> bits)].astype(np.int64)
            g2r = ((cte & 0xFF) ^ 0x80) - 0x80  # sign-extend int8
            g2b = (((cte >> 8) & 0xFF) ^ 0x80) - 0x80
            r2b = (((cte >> 16) & 0xFF) ^ 0x80) - 0x80
            p64 = pix.astype(np.int64)
            g = (((p64 >> 8) & 0xFF) ^ 0x80) - 0x80
            red = (((p64 >> 16) & 0xFF) + ((g2r * g) >> 5)) & 0xFF
            red_s = (red ^ 0x80) - 0x80
            blue = ((p64 & 0xFF) + ((g2b * g) >> 5) + ((r2b * red_s) >> 5)) & 0xFF
            pix = ((p64 & 0xFF00FF00) | (red << 16) | blue).astype(np.uint32)
        elif kind == "predictor":
            bits, sub = t[1], t[2]
            bw = _sub_size(w, bits)
            for i in range(len(pix)):
                x, y = i % w, i // w
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(pix[i - 1])  # left
                elif x == 0:
                    pred = int(pix[i - w])  # top
                else:
                    mode = (int(sub[(y >> bits) * bw + (x >> bits)]) >> 8) & 0xFF
                    left = int(pix[i - 1])
                    top = int(pix[i - w])
                    top_left = int(pix[i - w - 1])
                    # at x == w-1 this index lands on the CURRENT row's
                    # first pixel — the spec's (and libwebp's) border rule
                    top_right = int(pix[i - w + 1])
                    pred = _predict(mode, left, top, top_left, top_right)
                p = int(pix[i])
                out = 0
                for shift in (0, 8, 16, 24):
                    out |= ((((p >> shift) & 0xFF) + ((pred >> shift) & 0xFF)) & 0xFF) << shift
                pix[i] = out
        elif kind == "palette":
            width_bits, pal, full_w = t[1], t[2], t[3]
            packed_w = _sub_size(full_w, width_bits)
            out = np.zeros(full_w * h, dtype=np.uint32)
            px_per_byte = 1 << width_bits
            bits_pp = 8 >> width_bits
            mask = (1 << bits_pp) - 1
            for y in range(h):
                for x in range(full_w):
                    packed = int(pix[y * packed_w + (x >> width_bits)])
                    g = (packed >> 8) & 0xFF
                    idx = (g >> (bits_pp * (x % px_per_byte))) & mask
                    if idx >= len(pal):
                        raise ValueError("VP8L palette index out of range")
                    out[y * full_w + x] = pal[idx]
            pix = out
            w = full_w
        else:  # pragma: no cover - defensive
            raise ValueError(f"unknown transform {kind}")
    return pix, w


# ── public API ──────────────────────────────────────────────────────────────


def decode_vp8l(data: bytes) -> np.ndarray:
    """Decode a VP8L chunk payload (starting at the 0x2F signature byte)
    → (h, w, 4) uint8 RGBA."""
    if not data or data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    r = _Reader(data)
    r.read(8)  # signature
    w = r.read(14) + 1
    h = r.read(14) + 1
    r.read(1)  # alpha hint
    if r.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    if w * h > (1 << 22):
        # hostile-dims bound (same policy as the other from-scratch
        # decoders), sized for TIME as well as memory: the pixel loop is
        # per-pixel Python (bit-level tree walks), so the cap keeps a
        # worst-case crafted asset to tens of seconds, not minutes
        raise ValueError(f"VP8L dimensions {w}x{h} exceed the decode bound")
    pix, transforms, coded_w = _decode_image(r, w, h, True)
    if len(pix) != coded_w * h:
        raise ValueError("VP8L pixel count mismatch")
    pix, final_w = _apply_inverse_transforms(pix, transforms, coded_w, h)
    if final_w != w or len(pix) != w * h:
        raise ValueError("VP8L transform output size mismatch")
    arr = pix.reshape(h, w)
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[..., 0] = (arr >> 16) & 0xFF  # R
    out[..., 1] = (arr >> 8) & 0xFF  # G
    out[..., 2] = arr & 0xFF  # B
    out[..., 3] = (arr >> 24) & 0xFF  # A
    return out


def encode_vp8l(rgba: np.ndarray) -> bytes:
    """Literals-only VP8L encoder (flat 8-bit codes per channel, no
    transforms/cache/LZ77) — valid per spec, used by tests."""
    h, w = rgba.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("image size out of VP8L range")
    wr = _Writer()
    wr.write(0x2F, 8)
    wr.write(w - 1, 14)
    wr.write(h - 1, 14)
    wr.write(1, 1)  # alpha hint
    wr.write(0, 3)  # version
    wr.write(0, 1)  # no more transforms
    wr.write(0, 1)  # no color cache
    wr.write(0, 1)  # no meta prefix group

    def flat_code(alphabet: int) -> None:
        # normal code; code-length code over {8:len1, 16:len1}; then '8'
        # once + repeat-16 runs to give the first 256 symbols length 8;
        # max-symbol shortcut stops before the LZ/cache tail.
        wr.write(0, 1)  # not simple
        # kCodeLengthCodeOrder = [17,18,0,...,15,16]; we need entries for
        # symbols 8 and 16 → num_codes must reach index of 16 (= 18) → 19
        wr.write(19 - 4, 4)
        for sym in _CODE_LENGTH_ORDER:
            wr.write(1 if sym in (8, 16) else 0, 3)
        cl_codes = _canonical_codes([1 if s in (8, 16) else 0 for s in range(19)])
        # max-symbol budget counts DECODED code-length symbols (spec/libwebp
        # semantics) — exactly 86 are emitted below (1 literal + 85 repeats)
        wr.write(1, 1)
        wr.write(3, 3)  # length_nbits = 2 + 2*3 = 8
        wr.write(84, 8)  # max_symbol = 2 + 84 = 86
        # '8' literal once, then 85 repeat-16 runs of 3 → 1 + 255 = 256
        wr.write_code(cl_codes[8], 1)
        for _ in range(85):
            wr.write_code(cl_codes[16], 1)
            wr.write(0, 2)  # repeat 3

    flat_code(256 + 24)  # green (no cache)
    for _ in range(3):  # red, blue, alpha
        flat_code(256)
    # distance: simple code, single symbol 0 (zero-bit decode; never used)
    wr.write(1, 1)
    wr.write(0, 1)  # one symbol
    wr.write(0, 1)  # 1-bit symbol form
    wr.write(0, 1)  # symbol value 0
    flat = rgba.reshape(-1, rgba.shape[-1])
    has_alpha = rgba.shape[-1] == 4
    codes = {s: s for s in range(256)}  # flat canonical: code == symbol
    for px in flat:
        r_, g, b = int(px[0]), int(px[1]), int(px[2])
        a = int(px[3]) if has_alpha else 255
        wr.write_code(g, 8)
        wr.write_code(r_, 8)
        wr.write_code(b, 8)
        wr.write_code(a, 8)
    return bytes(wr.buf)


def encode_webp_lossless(rgba: np.ndarray) -> bytes:
    """Wrap the VP8L payload in a RIFF/WEBP container."""
    import struct

    payload = encode_vp8l(rgba)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_vp8l_alpha(data: bytes, w: int, h: int) -> np.ndarray:
    """Decode a WebP ALPH-chunk lossless stream: a VP8L bitstream WITHOUT
    the signature/size header (dimensions come from the container), whose
    GREEN channel carries the alpha values. Returns (h, w) uint8."""
    if w * h > (1 << 22):
        raise ValueError(f"alpha dimensions {w}x{h} exceed the decode bound")
    r = _Reader(data)
    pix, transforms, coded_w = _decode_image(r, w, h, True)
    if len(pix) != coded_w * h:
        raise ValueError("alpha pixel count mismatch")
    pix, final_w = _apply_inverse_transforms(pix, transforms, coded_w, h)
    if final_w != w or len(pix) != w * h:
        raise ValueError("alpha transform output size mismatch")
    return ((pix.reshape(h, w) >> 8) & 0xFF).astype(np.uint8)
