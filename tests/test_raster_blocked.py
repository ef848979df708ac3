"""Differential tests: the engine's NDVI-stats row and change-pair row
(window/pair producers, reducer, result builders) must be bit-identical to
the oracle's full-window kernel path (oracle/kernels.py), across window
sizes, collections, partial scene overlap, and empty windows."""

from __future__ import annotations

import random

import numpy as np

from azure_workflow_for_kml_satellite_spark.functions import raster as R
from azure_workflow_for_kml_satellite_spark.operators import change as C
from azure_workflow_for_kml_satellite_spark.operators.ndvi import compute_ndvi_for_row, ndvi_columns
from azure_workflow_for_kml_satellite_spark.oracle import kernels as K


def _mk_recipe(rng: random.Random, prefix: str = "", big: bool = False) -> dict:
    sx = rng.uniform(-100, 100)
    sy = rng.uniform(-40, 40)
    sw = rng.uniform(0.05, 0.5)
    sh = rng.uniform(0.05, 0.5)
    coll = rng.choice(["sentinel-2-l2a", "landsat-c2-l2"])
    res = 10.0 if coll == "sentinel-2-l2a" else 30.0
    if big:
        sw, sh = 0.35, 0.35
    rx = sx + rng.uniform(-0.02, sw * 0.8)
    ry = sy + rng.uniform(-0.02, sh * 0.8)
    rw = rng.uniform(0.001, sw if big else 0.08)
    rh = rng.uniform(0.001, sh if big else 0.08)
    return {
        prefix + "scene_id": f"scn-{rng.randint(0, 10**6)}",
        prefix + "s_min_lon": sx,
        prefix + "s_min_lat": sy,
        prefix + "s_max_lon": sx + sw,
        prefix + "s_max_lat": sy + sh,
        prefix + "resolution_m": res,
        prefix + "ndvi_collection": coll,
        prefix + "min_lon": rx,
        prefix + "min_lat": ry,
        prefix + "max_lon": rx + rw,
        prefix + "max_lat": ry + rh,
    }


def _full_path_ndvi(rec: dict, prefix: str = ""):
    """(ndvi, valid_mask, masked_count) of the oracle's whole-window path,
    or None when the read window is empty."""
    p = lambda c: rec[prefix + c]
    coll = p("ndvi_collection")
    bands = K.fetch_window_bands(
        p("scene_id"),
        [p("s_min_lon"), p("s_min_lat"), p("s_max_lon"), p("s_max_lat")],
        p("resolution_m"),
        [p("min_lon"), p("min_lat"), p("max_lon"), p("max_lat")],
        coll,
    )
    if bands is None:
        return None
    if coll == "landsat-c2-l2":
        return K.landsat_ndvi(bands["red"], bands["nir"], bands.get("qa"))
    return K.s2_ndvi(bands["red"], bands["nir"], bands.get("scl"))


def _full_path_row(rec: dict) -> dict:
    """The full-window oracle path, under the NDVI operator's column names."""
    out = dict.fromkeys(
        [
            "ndvi_mean", "ndvi_min", "ndvi_max", "ndvi_std", "ndvi_median",
            "valid_pixels", "total_pixels", "masked_pixels", "ndvi_raster",
        ]
    )
    full = _full_path_ndvi(rec)
    if full is None:
        return out
    ndvi, mask, masked = full
    st = K.ndvi_stats(ndvi, mask)
    if st is None:
        return out
    out.update(
        {
            "ndvi_mean": st["mean"],
            "ndvi_min": st["min"],
            "ndvi_max": st["max"],
            "ndvi_std": st["std"],
            "ndvi_median": st["median"],
            "valid_pixels": st["valid_pixels"],
            "total_pixels": st["total_pixels"],
            "masked_pixels": masked,
        }
    )
    return out


def _full_path_pair(rec: dict, lt: float = -0.1, gt: float = 0.1):
    """The full-window oracle path over both sides' masked NDVI rasters,
    under the change operator's column names."""
    rasters = []
    for p in ("a_", "b_"):
        full = _full_path_ndvi(rec, p)
        if full is None or not full[1].any():
            return None
        rasters.append(np.where(full[1], full[0], np.nan).astype(np.float32))
    res_a = rec["a_resolution_m"]
    st = K.delta_stats(*rasters, abs(res_a * res_a) / 10_000, lt, gt)
    if st is not None:
        st["valid_change_pixels"] = st.pop("valid_pixels")
    return st


def test_blocked_row_matches_full_path():
    rng = random.Random(11)
    for i in range(150):
        rec = _mk_recipe(rng, big=(i % 17 == 0))
        assert compute_ndvi_for_row(rec) == _full_path_row(rec), rec


def test_blocked_pair_matches_full_path():
    rng = random.Random(23)
    for i in range(100):
        rec = {**_mk_recipe(rng, "a_", big=(i % 23 == 0)), **_mk_recipe(rng, "b_", big=(i % 23 == 0))}
        if i % 3 == 0:  # realistic case: both sides read the same AOI bbox
            for c in ("min_lon", "min_lat", "max_lon", "max_lat"):
                rec["b_" + c] = rec["a_" + c]
        assert C.change_for_pair(rec, -0.1, 0.1) == _full_path_pair(rec), rec


def test_blocked_stats_monster_window_exact():
    """One deliberately huge window: blocked block count > 100, still exact."""
    seed = R.scene_seed("monster")
    win = (3, 2787, 7, 2791)
    red = K.band_pixels(seed, K.RED, win)
    nir = K.band_pixels(seed, K.NIR, win)
    scl_win = (1, 1394, 3, 1396)
    scl = K.band_pixels(seed, K.SCL, scl_win)
    ndvi, mask, masked_full = K.s2_ndvi(red, nir, scl)
    st_full = K.ndvi_stats(ndvi, mask)

    parts = []
    masked = 0
    for nd, vm, m in R.iter_masked_ndvi_chunks(seed, "sentinel-2-l2a", win, scl_win):
        masked += m
        parts.append(nd[vm].copy())
    vals = np.concatenate(parts)
    got = ndvi_columns(vals, (win[1] - win[0]) * (win[3] - win[2]), masked)
    assert got == {
        "ndvi_mean": st_full["mean"], "ndvi_min": st_full["min"],
        "ndvi_max": st_full["max"], "ndvi_std": st_full["std"],
        "ndvi_median": st_full["median"], "valid_pixels": st_full["valid_pixels"],
        "total_pixels": st_full["total_pixels"], "masked_pixels": masked_full,
    }
