"""Differential pin: fused C kernels (functions/native.c) vs the numpy path.

The window producer, the pair producer and the reducer in functions/raster.py
must be bit-identical with the library loaded and under a forced
``native.LIB = None`` — same compacted value arrays (row-major), same masked
counts, same reductions — across collections, window shapes, trims and the
no-aux edge case.
"""

from __future__ import annotations

import contextlib
import sys
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from azure_workflow_for_kml_satellite_spark.functions import native as N  # noqa: E402
from azure_workflow_for_kml_satellite_spark.functions import raster as R  # noqa: E402
from azure_workflow_for_kml_satellite_spark.operators import change as C  # noqa: E402
from azure_workflow_for_kml_satellite_spark.operators import ndvi as ND  # noqa: E402

pytestmark = pytest.mark.skipif(
    not N.available(), reason="native kernels unavailable (no gcc?)"
)


@contextlib.contextmanager
def _numpy_only():
    lib = N.LIB
    N.LIB = None
    try:
        yield
    finally:
        N.LIB = lib


def _numpy_window(seed, coll, win, aux):
    with _numpy_only():
        return R.window_valid(seed, coll, win, aux)


def _random_case(rng, trial):
    seed = int(rng.integers(0, 2**32))
    r0 = int(rng.integers(0, 5000))
    c0 = int(rng.integers(0, 5000))
    h = int(rng.integers(1, 260))
    w = int(rng.integers(1, 260))
    win = (r0, r0 + h, c0, c0 + w)
    coll = ["sentinel-2-l2a", "landsat-c2-l2"][trial % 2]
    if coll == "sentinel-2-l2a":
        if trial % 11 == 0:
            aux = None  # empty SCL window edge case
        else:
            ah, aw = max(1, h // 2), max(1, w // 2)
            aux = (r0 // 2, r0 // 2 + ah, c0 // 2, c0 // 2 + aw)
    else:
        aux = win
    return seed, coll, win, aux


def test_window_kernel_bit_identical():
    rng = np.random.default_rng(1234)
    for trial in range(300):
        seed, coll, win, aux = _random_case(rng, trial)
        vals_np, masked_np = _numpy_window(seed, coll, win, aux)
        vals_c, masked_c = R.window_valid(seed, coll, win, aux)
        assert masked_np == masked_c, (trial, coll, win)
        assert np.array_equal(vals_np, vals_c), (trial, coll, win)


def test_monster_window_bit_identical():
    win = (100, 2884, 50, 2834)  # 2784^2
    aux = (50, 1442, 25, 1417)
    vals_np, m_np = _numpy_window(7777, "sentinel-2-l2a", win, aux)
    vals_c, m_c = R.native_window_valid(7777, "sentinel-2-l2a", win, aux)
    assert m_np == m_c and np.array_equal(vals_np, vals_c)


def test_change_pair_bit_identical():
    rng = np.random.default_rng(99)
    for trial in range(200):
        sides = [_random_case(rng, trial + k) for k in range(2)]
        with _numpy_only():
            vals_np = R.pair_valid_deltas(*sides)
        vals_c = R.pair_valid_deltas(*sides)
        assert np.array_equal(vals_np, vals_c), (trial, sides)


def test_stats_entrypoint_matches_forced_numpy():
    """The NDVI row must produce identical column dicts with the native
    path on and off (the operator-level contract)."""
    rng = np.random.default_rng(5)
    rows = []
    for trial in range(40):
        lon0 = float(rng.uniform(-170, 160))
        lat0 = float(rng.uniform(-80, 70))
        dl = float(rng.uniform(0.001, 0.03))
        res = float(rng.choice([10.0, 30.0]))
        coll = ["sentinel-2-l2a", "landsat-c2-l2"][trial % 2]
        scene = [lon0 - 0.05, lat0 - 0.05, lon0 + 0.2, lat0 + 0.2]
        read = [lon0, lat0, lon0 + dl, lat0 + dl]
        rows.append(dict(zip(R.RECIPE_COLUMNS, [f"scene-{trial}", *scene, res, coll, *read])))
    native_out = [ND.compute_ndvi_for_row(r) for r in rows]
    with _numpy_only():
        numpy_out = [ND.compute_ndvi_for_row(r) for r in rows]
    assert native_out == numpy_out


def _pair_rows(seed, n):
    rng = np.random.default_rng(seed)
    rows = []
    for trial in range(n):
        rec = {}
        for p in ("a_", "b_"):
            lon0 = float(rng.uniform(-170, 160))
            lat0 = float(rng.uniform(-80, 70))
            dl = float(rng.uniform(0.002, 0.02))
            rec.update({
                p + "scene_id": f"s-{trial}-{p}",
                p + "s_min_lon": lon0 - 0.05, p + "s_min_lat": lat0 - 0.05,
                p + "s_max_lon": lon0 + 0.2, p + "s_max_lat": lat0 + 0.2,
                p + "resolution_m": 10.0,
                p + "ndvi_collection": ["sentinel-2-l2a", "landsat-c2-l2"][trial % 2],
                p + "min_lon": lon0, p + "min_lat": lat0,
                p + "max_lon": lon0 + dl, p + "max_lat": lat0 + dl,
            })
        rows.append(rec)
    return rows


def test_change_stats_entrypoint_matches_forced_numpy():
    rows = _pair_rows(6, 30)
    native_out = [C.change_for_pair(r, -0.1, 0.1) for r in rows]
    with _numpy_only():
        numpy_out = [C.change_for_pair(r, -0.1, 0.1) for r in rows]
    assert native_out == numpy_out


def test_reducer_steps_aside_when_stats_f32_disagrees(monkeypatch):
    """A C reducer that no longer matches numpy's summation order (another
    numpy build, say) is caught by the reducer's first-use check: the flag
    records why, and every result stays the numpy result."""
    rows = _pair_rows(7, 12)
    want = [C.change_for_pair(r, -0.1, 0.1) for r in rows]
    good = N.stats_f32

    def shifted_mean(arr, loss_t=0.0, gain_t=0.0):
        mean, *rest = good(arr, loss_t, gain_t)
        return (mean + 1e-3, *rest)  # would move every rounded mean_delta

    monkeypatch.setattr(N, "stats_f32", shifted_mean)
    monkeypatch.setattr(R, "_native_stats_checked", False)
    monkeypatch.setattr(R, "NATIVE_STATS_FALLBACK", None)
    got = [C.change_for_pair(r, -0.1, 0.1) for r in rows]
    assert R.NATIVE_STATS_FALLBACK is not None and "stats_f32" in R.NATIVE_STATS_FALLBACK
    assert got == want


def _np_stats_ref(x, lt, gt):
    s = np.sort(x)
    n = len(x)
    return (
        np.mean(x).tobytes(), np.std(x).tobytes(),
        s[0].tobytes(), s[-1].tobytes(),
        s[(n // 2 - 1) if n % 2 == 0 else n // 2].tobytes(),
        s[n // 2].tobytes(),
        int(np.sum(x < lt)), int(np.sum(x > gt)),
    )


def _c_stats(x, lt, gt):
    mean, std, mn, mx, lo, hi, nl, ng = N.stats_f32(x, lt, gt)
    return (
        np.float32(mean).tobytes(), np.float32(std).tobytes(),
        np.float32(mn).tobytes(), np.float32(mx).tobytes(),
        np.float32(lo).tobytes(), np.float32(hi).tobytes(), nl, ng,
    )


def test_stats_f32_bitwise_every_small_length():
    """kmlsat_stats_f32 == np.mean/np.std/np.sort order stats BITWISE for
    every length 1..600 (covers the n<8, 8-accumulator, remainder and
    recursion-split cases of numpy's pairwise sum)."""
    rng = np.random.default_rng(1001)
    for n in range(1, 601):
        x = (rng.standard_normal(n) * 0.4).astype(np.float32)
        assert _c_stats(x, -0.1, 0.1) == _np_stats_ref(x, -0.1, 0.1), n


def test_stats_f32_bitwise_distributions_and_chunk_boundaries():
    """Random lengths across the 8192-element reduce-chunk boundary and
    the distribution families the kernels actually produce (narrow
    duplicate-heavy NDVI bands, constants, sorted runs)."""
    rng = np.random.default_rng(1002)
    sizes = [8191, 8192, 8193, 16384, 44321, 200001, 1048577]
    for trial in range(120):
        n = sizes[trial % len(sizes)] + int(rng.integers(0, 7))
        kind = trial % 5
        if kind == 0:
            x = (rng.standard_normal(n) * 0.4).astype(np.float32)
        elif kind == 1:  # duplicate-heavy narrow band (NDVI-like)
            x = ((rng.integers(0, 5000, n).astype(np.float32) / 10000) + 0.2).astype(
                np.float32
            )
        elif kind == 2:
            x = np.full(n, np.float32(rng.standard_normal() * 0.5))
        elif kind == 3:
            x = np.sort((rng.standard_normal(n) * 0.3).astype(np.float32))
        else:
            x = rng.uniform(-1, 1, n).astype(np.float32)
        assert _c_stats(x, -0.1, 0.1) == _np_stats_ref(x, -0.1, 0.1), (trial, n)


def test_stats_f32_threshold_boundary_cast():
    """The loss/gain comparisons must use numpy's f32 scalar cast: a value
    EQUAL to float32(-0.1) is not < -0.1, its next-lower float32 is."""
    tf = np.float32(-0.1)
    below = np.nextafter(tf, np.float32(-1), dtype=np.float32)
    x = np.array([tf, below, np.float32(0.1), np.float32(0.10000001)], np.float32)
    *_, nl, ng = N.stats_f32(x, -0.1, 0.1)
    assert nl == int(np.sum(x < -0.1)) == 1
    assert ng == int(np.sum(x > 0.1)) == 1


def test_stats_entry_values_native_vs_numpy_unrounded():
    """The reducer: native and forced-numpy paths agree on real kernel
    value arrays (the rounded dict AND the raw C floats vs the raw numpy
    reductions — the stricter check)."""
    rng = np.random.default_rng(1003)
    for trial in range(60):
        seed, coll, win, aux = _random_case(rng, trial)
        vals, _ = _numpy_window(seed, coll, win, aux)
        if len(vals) == 0:
            continue
        assert _c_stats(vals, -0.1, 0.1) == _np_stats_ref(vals, -0.1, 0.1)
        d_native = R.reduce_valid(vals, -0.1, 0.1)
        with _numpy_only():
            d_numpy = R.reduce_valid(vals, -0.1, 0.1)
        assert d_native == d_numpy, (trial, d_native, d_numpy)


def test_stats_f32_median_ranks_split_across_buckets():
    """Even-n arrays whose two middle order statistics differ in the TOP 16
    key bits exercise the b1 != b2 two-bucket compaction path of the radix
    select (half negatives, half positives — the split lands exactly
    between the middle ranks)."""
    rng = np.random.default_rng(1004)
    for n_half in [4, 64, 4096, 4097, 8192, 30000]:
        lo = (-rng.uniform(0.2, 1.0, n_half)).astype(np.float32)
        hi = rng.uniform(0.2, 1.0, n_half).astype(np.float32)
        x = np.concatenate([lo, hi])
        rng.shuffle(x)
        assert _c_stats(x, -0.1, 0.1) == _np_stats_ref(x, -0.1, 0.1), n_half
