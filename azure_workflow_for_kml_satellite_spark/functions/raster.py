"""Raster kernels + deterministic synthetic tile provider (SURVEY.md §2.9).

The reference reads Cloud-Optimized GeoTIFF windows over HTTP
(reference: fulfilment.py:237-295, ndvi.py:463-484) and computes NDVI band
math + stats in numpy (ndvi.py:189-236, 401-447). rasterio is not installed
here and there is no network, so this engine pairs the *same numpy math* with
a deterministic synthetic band provider in the spirit of the reference's own
stub imagery provider (reference: treesight/providers/stub.py:36-80,
tests/tiff_helpers.py:12-69): band values are a pure integer-hash function of
(scene_id, band, pixel row, pixel col), so any executor — and the sequential
oracle — regenerates identical pixels for a given window with no I/O.

Synthetic scenes are EPSG:4326 north-up grids anchored at the scene bbox
top-left; the reference's bbox CRS transform (geo.py:85-104) is the identity
in that case, preserving its windowing semantics.

NDVI is evaluated per window by one window producer (compacted valid
values + masked count), one pair producer (compacted jointly-valid deltas)
and one reducer; the operators build their output columns from those. A
full masked NDVI raster is built only where it is the output (the float32
GeoTIFF export, functions/geotiff.py, and the UTM reprojection).
"""

from __future__ import annotations

import ctypes
import zlib

import numpy as np

from azure_workflow_for_kml_satellite_spark.constants import (
    LANDSAT_QA_CLOUD_BITS,
    VALID_SCL_CLASSES,
)

# ── deterministic hash fields ────────────────────────────────────────────────
#
# uint32 murmur3-fmix pipeline with reusable scratch buffers and out= ufuncs.
# Two environment facts drive this shape (measured, see BENCH notes):
# this container's numpy dispatches uint64 right_shift to a scalar loop
# (~40x slower than every other elementwise op), and fresh large allocations
# page-fault at ~170 MB/s — so the generator avoids uint64 shifts entirely
# and recycles per-band scratch arrays across windows.

_M1 = np.uint32(0x85EBCA6B)
_M2 = np.uint32(0xC2B2AE35)


def scene_seed(scene_id: str) -> int:
    """Stable 32-bit seed from a scene id (crc32 of bytes)."""
    return zlib.crc32(scene_id.encode("utf-8")) & 0xFFFFFFFF


_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(slot: str, n: int, dtype) -> np.ndarray:
    """Reused flat buffer per (slot); valid until the slot's next request.
    Each Python worker has its own module state, so this is task-safe."""
    buf = _SCRATCH.get(slot)
    if buf is None or buf.size < n or buf.dtype != np.dtype(dtype):
        buf = np.empty(int(n * 5 // 4) + 16, dtype)
        _SCRATCH[slot] = buf
    return buf[:n]


def _hash_grid(seed: int, band: int, row0: int, row1: int, col0: int, col1: int,
               slot: str = "h") -> np.ndarray:
    """uint32 hash for every pixel of a window; pixel-position pure (the
    value depends only on (seed, band, absolute row, absolute col), never on
    the window placement). Returns a view of a scratch buffer — consume it
    before the next _hash_grid call with the same slot."""
    hh, ww = row1 - row0, col1 - col0
    n = hh * ww
    rows = (np.arange(row0, row1, dtype=np.uint32) * _M1)[:, None]
    cols = (np.arange(col0, col1, dtype=np.uint32) * _M2)[None, :]
    s = np.uint32((int(seed) ^ (int(band) * 0x27D4EB2F)) & 0xFFFFFFFF)
    h = _scratch(slot, n, np.uint32).reshape(hh, ww)
    tmp = _scratch(slot + "_t", n, np.uint32).reshape(hh, ww)
    np.bitwise_xor(rows, cols, out=h)
    np.bitwise_xor(h, s, out=h)
    # murmur3 fmix32 rounds
    np.right_shift(h, 16, out=tmp)
    np.bitwise_xor(h, tmp, out=h)
    np.multiply(h, _M1, out=h)
    np.right_shift(h, 13, out=tmp)
    np.bitwise_xor(h, tmp, out=h)
    np.multiply(h, _M2, out=h)
    np.right_shift(h, 16, out=tmp)
    np.bitwise_xor(h, tmp, out=h)
    return h


# ── scene grid + windowing ───────────────────────────────────────────────────

DEG_PER_METRE = 1.0 / 111_320.0


def grid_shape_m(bbox_m: list[float], resolution_m: float) -> tuple[int, int]:
    """(height, width) of a scene raster covering bbox_m at a pixel size of
    resolution_m CRS units (metres on the UTM-scene grid)."""
    h = max(1, int(round((bbox_m[3] - bbox_m[1]) / resolution_m)))
    w = max(1, int(round((bbox_m[2] - bbox_m[0]) / resolution_m)))
    return h, w


def window_from_bounds_m(
    scene_bbox_m: list[float],
    resolution_m: float,
    read_bbox_m: list[float],
) -> tuple[int, int, int, int] | None:
    """Pixel window (row0, row1, col0, col1) for read_bbox_m, clamped to the
    scene raster — the role of rasterio.windows.from_bounds + clamp
    (reference: ndvi.py:474-478). Floor/ceil semantics: any pixel touching
    the bbox is included. Pixel size in CRS units.
    """
    import math

    px = resolution_m
    h, w = grid_shape_m(scene_bbox_m, resolution_m)
    x0, y1 = scene_bbox_m[0], scene_bbox_m[3]
    col0 = max(0, min(w, int(math.floor((read_bbox_m[0] - x0) / px))))
    col1 = max(0, min(w, int(math.ceil((read_bbox_m[2] - x0) / px))))
    row0 = max(0, min(h, int(math.floor((y1 - read_bbox_m[3]) / px))))
    row1 = max(0, min(h, int(math.ceil((y1 - read_bbox_m[1]) / px))))
    if col1 <= col0 or row1 <= row0:
        return None
    return row0, row1, col0, col1


def window_from_bounds(
    scene_bbox: list[float],
    resolution_m: float,
    read_bbox: list[float],
) -> tuple[int, int, int, int] | None:
    """``window_from_bounds_m`` on a geographic scene grid (degree pixels)."""
    return window_from_bounds_m(scene_bbox, resolution_m * DEG_PER_METRE, read_bbox)


# uint8-indexed validity table for the SCL mask (see iter_masked_ndvi_chunks):
# one gather replaces np.isin's sort/search on every window
_SCL_VALID_LUT = np.zeros(256, dtype=np.bool_)
_SCL_VALID_LUT[list(VALID_SCL_CLASSES)] = True

# Band codes for the hash field
BAND_RED = 1
BAND_NIR = 2
BAND_SCL = 3
BAND_QA = 4
BAND_CLASS = 5

# SCL class table indexed by h%10: 30% invalid (9=cloud, 8=cloud-prob, 3=shadow),
# 70% valid surface classes {2,4,5,6} (reference: ndvi.py:98-103).
_SCL_TABLE = np.array([9, 8, 3, 4, 5, 6, 2, 4, 5, 4], dtype=np.uint8)
# Landsat QA_PIXEL values indexed by h%10: 30% flagged via bits 1/3/4 of the
# clear mask 0b00111010 (reference: ndvi.py:274-276).
_QA_TABLE = np.array([2, 8, 16, 0, 0, 0, 0, 0, 0, 0], dtype=np.uint16)
# Land-cover class codes for classification tiles (WorldCover-style,
# reference: eudr.py:229-241): 0=nodata sprinkled at ~2%.
_CLASS_TABLE = np.array([10, 10, 10, 20, 30, 40, 50, 60, 80, 95], dtype=np.uint8)

# Exact divisibility via modular inverse (odd d): x % d == 0  ⟺
# (x * d⁻¹ mod 2³²) ≤ ⌊(2³² − 1) / d⌋. One u32 multiply + compare replaces
# np.mod, which this numpy build runs ~10x slower than multiply (measured
# 0.43 vs 3.9 Gelem/s) — the nodata masks only need the divisibility bit.
_INV97 = np.uint32(pow(97, -1, 2**32))
_THR97 = np.uint32((2**32 - 1) // 97)
_INV101 = np.uint32(pow(101, -1, 2**32))
_THR101 = np.uint32((2**32 - 1) // 101)
_INV53 = np.uint32(pow(53, -1, 2**32))
_THR53 = np.uint32((2**32 - 1) // 53)


def gen_band(
    seed: int, band: int, window: tuple[int, int, int, int]
) -> np.ndarray:
    """Deterministic synthetic band pixels for a window of a scene raster.

    Returns a fresh (owned) array; all intermediate work runs in scratch
    buffers with out= ufuncs (see _hash_grid docstring for why)."""
    row0, row1, col0, col1 = window
    hh, ww = row1 - row0, col1 - col0
    n = hh * ww
    h = _hash_grid(seed, band, row0, row1, col0, col1)
    t32 = _scratch("gb32", n, np.uint32).reshape(hh, ww)
    mask = _scratch("gbmask", n, np.bool_).reshape(hh, ww)
    if band == BAND_RED:
        np.right_shift(h, 8, out=t32)
        np.mod(t32, np.uint32(1200), out=t32)
        np.add(t32, np.uint32(300), out=t32)
        vals = t32.astype(np.uint16)
        np.multiply(h, _INV97, out=h)  # h % 97 == 0 ⟺ h·97⁻¹ ≤ _THR97
        np.less_equal(h, _THR97, out=mask)
        vals[mask] = 0  # ~1% nodata
        return vals
    if band == BAND_NIR:
        # Smooth vegetation gradient + noise so NDVI has spatial structure.
        # (13·row + 7·col + seed%1000) % 100 is separable: reduce each 1-D
        # term mod 100 first, then one conditional subtract folds the sum
        # (< 200) — replaces the full-2D np.mod (the slow op, see above).
        rmod = (np.arange(row0, row1, dtype=np.uint32) * np.uint32(13)
                + np.uint32(int(seed) % 1000)) % np.uint32(100)
        cmod = (np.arange(col0, col1, dtype=np.uint32) * np.uint32(7)) % np.uint32(100)
        veg = _scratch("gbveg", n, np.uint32).reshape(hh, ww)
        np.add(rmod[:, None], cmod[None, :], out=veg)
        np.greater_equal(veg, np.uint32(100), out=mask)
        np.subtract(veg, np.uint32(100), out=veg, where=mask)
        np.multiply(veg, np.uint32(55), out=veg)
        np.right_shift(h, 8, out=t32)
        np.mod(t32, np.uint32(900), out=t32)
        np.add(t32, veg, out=t32)
        np.add(t32, np.uint32(400), out=t32)
        vals = t32.astype(np.uint16)
        np.multiply(h, _INV101, out=h)
        np.less_equal(h, _THR101, out=mask)
        vals[mask] = 0  # ~1% nodata
        return vals
    if band in (BAND_SCL, BAND_QA, BAND_CLASS):
        np.mod(h, np.uint32(10), out=t32)
        if band == BAND_SCL:
            return _SCL_TABLE[t32]
        if band == BAND_QA:
            return _QA_TABLE[t32]
        out = _CLASS_TABLE[t32]
        np.multiply(h, _INV53, out=h)
        np.less_equal(h, _THR53, out=mask)
        out[mask] = 0  # ~2% nodata class code
        return out
    raise ValueError(f"unknown band code {band}")


def read_class_window(
    layer_name: str, read_bbox: list[float], resolution_m: float
) -> np.ndarray | None:
    """Windowed read of a synthetic GLOBAL classification mosaic (WorldCover /
    IO-LULC / ALOS-FNF role, reference: pipeline/eudr.py:244-398, 472-563,
    619-719). Global pixel indexing (anchored at lon -180 / lat +90) keeps
    values window-pure; the layer name seeds the hash so years/products
    differ."""
    px = resolution_m * DEG_PER_METRE
    import math

    col0 = int(math.floor((read_bbox[0] + 180.0) / px))
    col1 = int(math.ceil((read_bbox[2] + 180.0) / px))
    row0 = int(math.floor((90.0 - read_bbox[3]) / px))
    row1 = int(math.ceil((90.0 - read_bbox[1]) / px))
    if col1 <= col0 or row1 <= row0:
        return None
    seed = scene_seed(layer_name)
    return gen_band(seed, BAND_CLASS, (row0, row1, col0, col1))


def class_histogram(classes: np.ndarray) -> list[dict]:
    """Class histogram excluding nodata code 0: pixel counts + area_pct (2dp)
    sorted desc by count (reference: eudr.py:773-843; F8 nodata exclusion).
    Ties broken by class code asc for determinism."""
    vals, counts = np.unique(classes, return_counts=True)
    keep = vals != 0
    vals, counts = vals[keep], counts[keep]
    total = int(counts.sum())
    if total == 0:
        return []
    rows = [
        {
            "class_code": int(v),
            "pixel_count": int(c),
            "area_pct": round(100.0 * int(c) / total, 2),
        }
        for v, c in zip(vals, counts)
    ]
    rows.sort(key=lambda r: (-r["pixel_count"], r["class_code"]))
    return rows


# ── NDVI window evaluator ───────────────────────────────────────────────────
#
# The window-size distribution is extremely skewed (sf0.1: p50 ≈ 12.6k px,
# p99 ≈ 1.2M px, max ≈ 7.8M px). The numpy path therefore evaluates a window
# in ~45k-px row blocks so the working set stays cache-resident (measured
# 2260 ms → 383 ms on a 2784² window against whole-window arrays). Every
# value is bit-identical to the whole-window evaluation (the
# oracle/kernels.py reference): band pixels are window-placement pure, all
# kernel ops are elementwise (or row/col-index pure, for the SCL resample),
# and per-block compaction concatenates to exactly the row-major
# ``ndvi[valid_mask]`` array. When the ctypes library is loaded
# (functions/native.c) one fused C pass (hash → band → NDVI → mask →
# compaction) replaces the blocks, and C reductions replace numpy's; both are
# exact mirrors, pinned by tests/test_native_kernels.py.


def _resample_indices(
    src_shape: tuple[int, int], target_shape: tuple[int, int]
) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-centre nearest-neighbour index arrays (reference: ndvi.py:487-510
    — must match exactly: affects masked counts); cached — window shapes
    repeat across the frames of an AOI and across same-sized AOIs, and the
    arrays depend only on the two shapes."""
    key = (src_shape, target_shape)
    cached = _RESAMPLE_IDX.get(key)
    if cached is not None:
        return cached
    row_scale = src_shape[0] / target_shape[0]
    col_scale = src_shape[1] / target_shape[1]
    row_idx = np.rint((np.arange(target_shape[0]) + 0.5) * row_scale - 0.5).astype(int)
    col_idx = np.rint((np.arange(target_shape[1]) + 0.5) * col_scale - 0.5).astype(int)
    np.clip(row_idx, 0, src_shape[0] - 1, out=row_idx)
    np.clip(col_idx, 0, src_shape[1] - 1, out=col_idx)
    if len(_RESAMPLE_IDX) > 4096:
        _RESAMPLE_IDX.clear()  # bound worker memory; shapes rarely exceed this
    _RESAMPLE_IDX[key] = (row_idx, col_idx)
    return row_idx, col_idx


_RESAMPLE_IDX: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def _ndvi_core(red_raw: np.ndarray, nir_raw: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ndvi, base validity mask) with scratch buffers + out= ufuncs.

    Produces BIT-IDENTICAL values to the reference's expression
    ``np.where(denom>0, (nir-red)/denom, nan)`` with
    ``valid = (red_raw>0)&(nir_raw>0)&isfinite(ndvi)`` (ndvi.py:206-211) —
    same float32 operations per element, just without fresh temporaries
    (the raster stages are memory-bandwidth-bound)."""
    hh, ww = red_raw.shape
    n = hh * ww
    red = _scratch("ndf_red", n, np.float32).reshape(hh, ww)
    nir = _scratch("ndf_nir", n, np.float32).reshape(hh, ww)
    den = _scratch("ndf_den", n, np.float32).reshape(hh, ww)
    ndvi = _scratch("ndf_out", n, np.float32).reshape(hh, ww)
    pos = _scratch("ndf_pos", n, np.bool_).reshape(hh, ww)
    vm = _scratch("ndf_vm", n, np.bool_).reshape(hh, ww)
    t = _scratch("ndf_t", n, np.bool_).reshape(hh, ww)
    np.copyto(red, red_raw, casting="unsafe")
    np.copyto(nir, nir_raw, casting="unsafe")
    np.add(nir, red, out=den)
    np.greater(den, 0, out=pos)
    np.subtract(nir, red, out=ndvi)  # numerator in the output buffer
    ndvi_full = ndvi
    np.divide(ndvi_full, den, out=ndvi_full, where=pos)
    np.logical_not(pos, out=t)
    ndvi_full[t] = np.nan  # reference: np.where(denom>0, ..., nan)
    # valid = red_raw>0 & nir_raw>0 & isfinite(ndvi)
    np.greater(red_raw, 0, out=vm)
    np.greater(nir_raw, 0, out=t)
    np.logical_and(vm, t, out=vm)
    np.isfinite(ndvi_full, out=t)
    np.logical_and(vm, t, out=vm)
    return ndvi_full, vm


_BLOCK_TARGET_PX = 45056


def _block_rows(width: int) -> int:
    return max(1, _BLOCK_TARGET_PX // max(1, width))


def iter_masked_ndvi_chunks(
    seed: int,
    collection: str,
    win: tuple[int, int, int, int],
    aux_win: tuple[int, int, int, int] | None,
    out_h: int | None = None,
    out_w: int | None = None,
):
    """Yield ``(ndvi, valid_mask, masked_count)`` row blocks of a window's
    NDVI, cache-blocked; bit-identical to the reference's whole-window
    S2/Landsat kernels. ``aux_win`` is the SCL window (S2) or the QA window
    == ``win`` (Landsat); ``out_h``/``out_w`` optionally trim to the top-left
    (the change-pair ``[:min_h, :min_w]`` semantics). Yielded arrays are
    scratch-backed — consume (or copy) before the next iteration."""
    r0, _r1, c0, _c1 = win
    h_full, w_full = win[1] - win[0], win[3] - win[2]
    h = h_full if out_h is None else out_h
    w = w_full if out_w is None else out_w
    use_qa = collection == "landsat-c2-l2"
    row_idx = col_idx = None
    if aux_win is not None and not use_qa:
        scl_shape = (aux_win[1] - aux_win[0], aux_win[3] - aux_win[2])
        # resample indices are computed against the FULL window shape (the
        # reference resamples before any trim), then sliced per block/trim
        row_idx, col_idx = _resample_indices(scl_shape, (h_full, w_full))
        if w != w_full:
            col_idx = col_idx[:w]
    br = _block_rows(w)
    for b0 in range(0, h, br):
        b1 = min(h, b0 + br)
        sub = (r0 + b0, r0 + b1, c0, c0 + w)
        red = gen_band(seed, BAND_RED, sub)
        nir = gen_band(seed, BAND_NIR, sub)
        ndvi, vm = _ndvi_core(red, nir)
        masked = 0
        if aux_win is not None:
            if use_qa:
                qa = gen_band(seed, BAND_QA, sub)
                ok = (qa.astype(np.uint16) & np.uint16(LANDSAT_QA_CLOUD_BITS)) == 0
            else:
                ri = row_idx[b0:b1]
                s0, s1 = int(ri[0]), int(ri[-1]) + 1
                sc = gen_band(
                    seed, BAND_SCL, (aux_win[0] + s0, aux_win[0] + s1, aux_win[2], aux_win[3])
                )
                ok = _SCL_VALID_LUT[sc[ri - s0][:, col_idx]]
            masked = int(np.sum(vm & ~ok))
            np.logical_and(vm, ok, out=vm)
        yield ndvi, vm, masked


# The row columns that let a UDF regenerate one frame's NDVI window.
RECIPE_COLUMNS = [
    "scene_id", "s_min_lon", "s_min_lat", "s_max_lon", "s_max_lat",
    "resolution_m", "ndvi_collection", "min_lon", "min_lat", "max_lon", "max_lat",
]


def window_recipe(rec: dict, prefix: str = ""):
    """``(seed, collection, win, aux_win)`` of a row's windowed scene read
    (its ``RECIPE_COLUMNS``, optionally prefixed), or None when the window
    is empty.
    ``aux_win`` is the QA window (== ``win``, Landsat) or the SCL window at
    2x pixel size (S2; reference: ndvi.py:166-180)."""
    p = lambda c: rec[prefix + c]
    scene_bbox = [p("s_min_lon"), p("s_min_lat"), p("s_max_lon"), p("s_max_lat")]
    read_bbox = [p("min_lon"), p("min_lat"), p("max_lon"), p("max_lat")]
    res, collection = p("resolution_m"), p("ndvi_collection")
    win = window_from_bounds(scene_bbox, res, read_bbox)
    if win is None:
        return None
    aux_win = win if collection == "landsat-c2-l2" else window_from_bounds(
        scene_bbox, res * 2, read_bbox
    )
    return scene_seed(p("scene_id")), collection, win, aux_win


_I64P = ctypes.POINTER(ctypes.c_int64)
_F32P = ctypes.POINTER(ctypes.c_float)


def native_side_params(
    seed: int,
    collection: str,
    win: tuple[int, int, int, int],
    aux_win: tuple[int, int, int, int] | None,
    out_h: int,
    out_w: int,
) -> tuple:
    """One side's native kernel arguments: (seed, kind, r0, c0, aux_r0,
    aux_c0, row_idx*, col_idx*, seed%1000). Resample indices are computed
    against the FULL window shape then trimmed — the numpy path's exact
    semantics (the pointers keep their arrays alive)."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    seed32, s1000 = int(seed) & 0xFFFFFFFF, int(seed) % 1000
    if collection == "landsat-c2-l2":
        return (seed32, N.KIND_LANDSAT, win[0], win[2], 0, 0, None, None, s1000)
    if aux_win is None:
        return (seed32, N.KIND_BARE, win[0], win[2], 0, 0, None, None, s1000)
    scl_shape = (aux_win[1] - aux_win[0], aux_win[3] - aux_win[2])
    row_idx, col_idx = _resample_indices(scl_shape, (win[1] - win[0], win[3] - win[2]))
    ri = np.ascontiguousarray(row_idx[:out_h], np.int64).ctypes.data_as(_I64P)
    ci = np.ascontiguousarray(col_idx[:out_w], np.int64).ctypes.data_as(_I64P)
    return (seed32, N.KIND_S2, win[0], win[2], aux_win[0], aux_win[2], ri, ci, s1000)


def native_window_valid(
    seed: int,
    collection: str,
    win: tuple[int, int, int, int],
    aux_win: tuple[int, int, int, int] | None,
) -> tuple[np.ndarray, int]:
    """(valid NDVI values row-major — a scratch view, consume before the
    next call — , masked_count) for the full window, via the fused C pass.
    Caller must have checked native.available()."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    h, w = win[1] - win[0], win[3] - win[2]
    side = native_side_params(seed, collection, win, aux_win, h, w)
    buf = _scratch("nat_vals", h * w, np.float32)
    masked = ctypes.c_int64(0)
    n = N.LIB.kmlsat_window_valid(
        *side[:4], h, w, *side[4:], buf.ctypes.data_as(_F32P), ctypes.byref(masked)
    )
    return buf[: int(n)], int(masked.value)


def window_valid(seed, collection, win, aux_win) -> tuple[np.ndarray, int]:
    """The window producer: (valid NDVI values row-major, masked count) of a
    ``window_recipe`` — the fused C pass when loaded, else the numpy blocks.
    The C values are a scratch view: reduce them before the next call."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    if N.available():
        return native_window_valid(seed, collection, win, aux_win)
    parts, masked = [], 0
    for ndvi, vm, m in iter_masked_ndvi_chunks(seed, collection, win, aux_win):
        masked += m
        parts.append(ndvi[vm])
    return np.concatenate(parts), masked


def masked_ndvi_raster(seed, collection, win, aux_win) -> tuple[np.ndarray, int]:
    """(full-window float32 NDVI raster, NaN where invalid; masked count),
    stacked from the numpy blocks — only for outputs that ARE the raster
    (GeoTIFF export, reprojection). Its finite pixels in row-major order are
    exactly the window producer's values."""
    blocks, masked = [], 0
    for ndvi, vm, m in iter_masked_ndvi_chunks(seed, collection, win, aux_win):
        masked += m
        blocks.append(np.where(vm, ndvi, np.nan))
    return np.concatenate(blocks), masked


def pair_valid_deltas(side_a, side_b) -> np.ndarray:
    """The pair producer: jointly-valid ``ndvi_b - ndvi_a`` deltas, row-major
    over the top-left common shape of two ``window_recipe`` sides (the
    reference's ``[:min_h, :min_w]`` trim, change_detection.py:64-116) — the
    fused C pass over both sides when loaded, else both sides' numpy blocks
    in lockstep. The C deltas are a scratch view: reduce them before the
    next call."""
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    (seed_a, coll_a, win_a, aux_a), (seed_b, coll_b, win_b, aux_b) = side_a, side_b
    min_h = min(win_a[1] - win_a[0], win_b[1] - win_b[0])
    min_w = min(win_a[3] - win_a[2], win_b[3] - win_b[2])
    if N.available():
        buf = _scratch("nat_deltas", min_h * min_w, np.float32)
        n = N.LIB.kmlsat_change_pair_valid(
            *native_side_params(*side_a, min_h, min_w),
            *native_side_params(*side_b, min_h, min_w),
            min_h, min_w, buf.ctypes.data_as(_F32P),
        )
        return buf[: int(n)]
    gb = iter_masked_ndvi_chunks(seed_b, coll_b, win_b, aux_b, min_h, min_w)
    parts = []
    for ndvi_a, vm_a, _ in iter_masked_ndvi_chunks(seed_a, coll_a, win_a, aux_a, min_h, min_w):
        # the chunk arrays are scratch-backed and side b's computation will
        # reuse the same buffers — materialize side a's masked raster block
        # before advancing b
        a = np.where(vm_a, ndvi_a, np.nan)
        ndvi_b, vm_b, _ = next(gb)
        valid = np.isfinite(a)
        np.logical_and(valid, vm_b, out=valid)
        np.subtract(ndvi_b, a, out=a)  # delta in the owned side-a buffer
        parts.append(a[valid])
    return np.concatenate(parts)


# Why the C reducer was set aside for this process (None while it is used):
# native.c copies numpy 1.26's pairwise-summation order, so the reducer
# checks that precondition once before its first C call.
NATIVE_STATS_FALLBACK: str | None = None
_native_stats_checked = False


def _numpy_reductions(values: np.ndarray, loss_t: float, gain_t: float):
    """``N.stats_f32``'s tuple from numpy: (mean, std, min, max, the two
    middle order statistics, n < loss_t, n > gain_t). Order statistics come
    from np.sort (SIMD sort beats introselect np.partition ~1.5x on the
    duplicate-heavy NDVI distribution, and also gives min/max)."""
    s = np.sort(values)
    n = len(s)
    return (
        np.mean(values), np.std(values), s[0], s[-1], s[(n - 1) // 2], s[n // 2],
        int(np.sum(values < loss_t)), int(np.sum(values > gain_t)),
    )


def _native_stats_ok(N) -> bool:
    global NATIVE_STATS_FALLBACK, _native_stats_checked
    if not _native_stats_checked:
        _native_stats_checked = True
        # a seeded array that crosses the 8192-element reduce-chunk boundary
        x = (np.random.default_rng(8192).standard_normal(2 * 8192 + 37) * 0.4).astype(np.float32)
        got, want = N.stats_f32(x, -0.1, 0.1), _numpy_reductions(x, -0.1, 0.1)
        f32 = lambda r: np.array(r[:6], np.float32).tobytes()
        if got[6:] != want[6:] or f32(got) != f32(want):
            NATIVE_STATS_FALLBACK = f"stats_f32 {got} != numpy {np.__version__} {want}"
    return NATIVE_STATS_FALLBACK is None


def reduce_valid(values: np.ndarray, loss_t: float = 0.0, gain_t: float = 0.0) -> dict | None:
    """The reducer: rounded mean/std/min/max/median of a compacted valid
    array plus its size ``n`` and the ``n_loss``/``n_gain`` threshold counts
    (numpy's f32 scalar cast); None when empty (reference: ndvi.py:217-236,
    change_detection.py:64-116). One fused C call when loaded — bitwise
    np.mean/np.std/np.sort order statistics (native.c §stats) — else numpy."""
    n = len(values)
    if n == 0:
        return None
    from azure_workflow_for_kml_satellite_spark.functions import native as N

    if (
        N.available()
        and values.dtype == np.float32
        and values.flags["C_CONTIGUOUS"]
        and _native_stats_ok(N)
    ):
        r = N.stats_f32(values, loss_t, gain_t)
    else:
        r = _numpy_reductions(values, loss_t, gain_t)
    mean, std, vmin, vmax, med_lo, med_hi, n_loss, n_gain = r
    # np.median's last step: np.mean of the middle order statistic(s)
    median = np.mean(np.array([med_lo, med_hi] if n % 2 == 0 else [med_hi], np.float32))
    return {
        "mean": round(float(mean), 4),
        "min": round(float(vmin), 4),
        "max": round(float(vmax), 4),
        "std": round(float(std), 4),
        "median": round(float(median), 4),
        "n": n,
        "n_loss": n_loss,
        "n_gain": n_gain,
    }


def reproject_bilinear(
    src: np.ndarray,
    src_bbox: list[float],
    dst_bbox: list[float],
    dst_shape: tuple[int, int],
    src_crs: str = "EPSG:4326",
    dst_crs: str = "EPSG:4326",
) -> np.ndarray:
    """R5: continuous-band bilinear reprojection between north-up grids
    (the rasterio `reproject(..., Resampling.bilinear)` role, reference:
    fulfilment.py:321-354). Inverse mapping: each destination pixel centre is
    located in the source grid and sampled bilinearly; pixels outside the
    source coverage — and pixels whose 2×2 support touches NaN nodata —
    come out NaN, matching rasterio's nodata handling for float rasters.

    Same-CRS grids map affinely; differing CRSs transform the destination
    pixel centres into src_crs first, mirroring the reference — via pyproj
    when importable, else the vendored Karney transverse-Mercator
    (functions/tmerc.py, geographic↔UTM; the sandbox path). Other CRS
    families raise NotImplementedError — same upgrade rule as
    functions.geometry.transform_bbox."""
    sh, sw = src.shape
    dh, dw = dst_shape
    dpx = (dst_bbox[2] - dst_bbox[0]) / dw
    dpy = (dst_bbox[3] - dst_bbox[1]) / dh
    xs = dst_bbox[0] + (np.arange(dw) + 0.5) * dpx
    ys = dst_bbox[3] - (np.arange(dh) + 0.5) * dpy
    if src_crs != dst_crs:
        gx, gy = np.meshgrid(xs, ys)
        from azure_workflow_for_kml_satellite_spark.functions.geometry import (
            pyproj_import,
        )

        Transformer = pyproj_import("Transformer")
        if Transformer is not None:
            # only the IMPORT PROBE selects the fallback (a broken pyproj
            # must surface, not silently switch transforms)
            tr = Transformer.from_crs(dst_crs, src_crs, always_xy=True)
            gx, gy = tr.transform(gx, gy)
        else:
            from azure_workflow_for_kml_satellite_spark.functions.tmerc import (
                transform_grid_np,
            )

            gx, gy = transform_grid_np(gx, gy, dst_crs, src_crs)
    else:
        gx, gy = np.meshgrid(xs, ys)
    spx = (src_bbox[2] - src_bbox[0]) / sw
    spy = (src_bbox[3] - src_bbox[1]) / sh
    # coverage = destination centres inside the source bbox (edge pixels
    # sample with clamped support, like rasterio)
    inside = (
        (gx >= src_bbox[0]) & (gx <= src_bbox[2])
        & (gy >= src_bbox[1]) & (gy <= src_bbox[3])
    )
    # fractional source pixel coordinates of the destination centres
    fx = np.clip((gx - src_bbox[0]) / spx - 0.5, 0, sw - 1)
    fy = np.clip((src_bbox[3] - gy) / spy - 0.5, 0, sh - 1)
    x0 = np.floor(fx).astype(np.int64)
    y0 = np.floor(fy).astype(np.int64)
    wx = (fx - x0).astype(np.float32)
    wy = (fy - y0).astype(np.float32)
    x0c = np.clip(x0, 0, sw - 1)
    y0c = np.clip(y0, 0, sh - 1)
    x1c = np.clip(x0 + 1, 0, sw - 1)
    y1c = np.clip(y0 + 1, 0, sh - 1)
    s = src.astype(np.float32, copy=False)
    v00 = s[y0c, x0c]
    v01 = s[y0c, x1c]
    v10 = s[y1c, x0c]
    v11 = s[y1c, x1c]
    out = (
        v00 * (1 - wx) * (1 - wy)
        + v01 * wx * (1 - wy)
        + v10 * (1 - wx) * wy
        + v11 * wx * wy
    )
    out[~inside] = np.nan
    return out
