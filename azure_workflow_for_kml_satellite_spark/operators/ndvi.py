"""Per-(geometry, frame, scene) NDVI statistics (SURVEY.md §2.4 A1, §2.9).

``mapInPandas`` over the spatial-join output: each row independently performs
a windowed band read of its scene (deterministic synthetic provider — the
COG-windowed-read role, reference: ndvi.py:463-484), runs the reference's
exact NDVI + masking kernels (ndvi.py:189-236 for S2 incl. SCL
nearest-neighbour resample; ndvi.py:372-447 for Landsat QA_PIXEL) through
the raster.py window producer and reducer, and emits the rounded statistics.

Parity note (SURVEY.md §7.4 risk 1): each row's stats are reduced inside
ONE udf call over the window's whole valid array — float32 reduction order
is fixed and identical to the sequential oracle, never a distributed
aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.functions import raster as R

_STAT_FIELDS = [
    T.StructField("ndvi_mean", T.DoubleType(), True),
    T.StructField("ndvi_min", T.DoubleType(), True),
    T.StructField("ndvi_max", T.DoubleType(), True),
    T.StructField("ndvi_std", T.DoubleType(), True),
    T.StructField("ndvi_median", T.DoubleType(), True),
    T.StructField("valid_pixels", T.LongType(), True),
    T.StructField("total_pixels", T.LongType(), True),
    T.StructField("masked_pixels", T.LongType(), True),
    T.StructField("ndvi_raster", T.BinaryType(), True),
]


def ndvi_columns(values, total_pixels: int, masked: int) -> dict:
    """The NDVI-stats result builder: this operator's stat columns from a
    window's compacted valid values; empty when no pixel is valid (the
    reference returns None → frame has no stat, ndvi.py:219-221)."""
    st = R.reduce_valid(values)
    if st is None:
        return {}
    return {
        "ndvi_mean": st["mean"],
        "ndvi_min": st["min"],
        "ndvi_max": st["max"],
        "ndvi_std": st["std"],
        "ndvi_median": st["median"],
        "valid_pixels": st["n"],
        "total_pixels": total_pixels,
        "masked_pixels": masked,
    }


def compute_ndvi_for_row(rec: dict, include_raster: bool = False) -> dict:
    """Band read + NDVI kernel for one (aoi, frame, scene) row.

    Read window = the AOI bbox (per-AOI enrichment semantics,
    reference: runner.py:488-572); scene search already used the buffered
    bbox. Returns null stats when the window is empty or no valid pixels.
    """
    out = {f.name: None for f in _STAT_FIELDS}
    recipe = R.window_recipe(rec)
    if recipe is None:
        return out
    win = recipe[2]
    total = (win[1] - win[0]) * (win[3] - win[2])
    if not include_raster:
        values, masked = R.window_valid(*recipe)
        out.update(ndvi_columns(values, total, masked))
        return out
    from azure_workflow_for_kml_satellite_spark.functions.geotiff import write_geotiff_f32

    raster, masked = R.masked_ndvi_raster(*recipe)
    out.update(ndvi_columns(raster[np.isfinite(raster)], raster.size, masked))
    if out["ndvi_mean"] is not None:
        # masked float32 GeoTIFF, NaN nodata, deflate — the reference's NDVI
        # export artifact byte-for-byte in role (enrichment/ndvi.py:239-255)
        px = rec["resolution_m"] * R.DEG_PER_METRE
        out["ndvi_raster"] = write_geotiff_f32(
            raster,
            west=rec["s_min_lon"] + win[2] * px,
            north=rec["s_max_lat"] - win[0] * px,
            px_x=px,
            px_y=px,
        )
    return out


_UTM_STAT_FIELDS = [
    T.StructField("win_row0", T.LongType(), True),
    T.StructField("win_row1", T.LongType(), True),
    T.StructField("win_col0", T.LongType(), True),
    T.StructField("win_col1", T.LongType(), True),
    T.StructField("ndvi_mean", T.DoubleType(), True),
    T.StructField("ndvi_median", T.DoubleType(), True),
    T.StructField("valid_pixels", T.LongType(), True),
    T.StructField("total_pixels", T.LongType(), True),
    T.StructField("masked_pixels", T.LongType(), True),
    T.StructField("reproj_valid_pixels", T.LongType(), True),
    T.StructField("reproj_mean", T.DoubleType(), True),
]

_REPROJ_SHAPE = (32, 32)


def compute_ndvi_utm_row(rec: dict) -> dict:
    """Cross-CRS NDVI for one (aoi, frame, utm-scene) row — the reference's
    actual read path (fulfilment.py:264-271 transforms the 4326 AOI bbox
    into the scene's UTM CRS before the COG windowed read; 321-354
    reprojects outputs back): G4 bbox transform → metric windowed read →
    S2 NDVI kernel → R5 bilinear warp of the masked NDVI back onto the
    AOI's geographic bbox."""
    from azure_workflow_for_kml_satellite_spark.functions.geometry import (
        transform_bbox,
    )

    read_bbox = [rec["min_lon"], rec["min_lat"], rec["max_lon"], rec["max_lat"]]
    scene_bbox_m = [rec["u_min_e"], rec["u_min_n"], rec["u_max_e"], rec["u_max_n"]]
    res = rec["u_res_m"]
    out = {f.name: None for f in _UTM_STAT_FIELDS}
    ubox = list(transform_bbox(read_bbox, "EPSG:4326", rec["epsg"]))
    win = R.window_from_bounds_m(scene_bbox_m, res, ubox)
    if win is None:
        return out
    out.update(
        {"win_row0": win[0], "win_row1": win[1], "win_col0": win[2], "win_col1": win[3]}
    )
    raster, masked = R.masked_ndvi_raster(
        R.scene_seed(rec["scene_id"] + ":utm"),
        "sentinel-2-l2a",
        win,
        R.window_from_bounds_m(scene_bbox_m, res * 2, ubox),
    )
    st = ndvi_columns(raster[np.isfinite(raster)], raster.size, masked)
    if not st:
        return out
    out.update({k: v for k, v in st.items() if k in out})
    # R5: warp the masked NDVI from the scene's UTM window grid back onto
    # the AOI's geographic bbox (fixed display shape)
    win_bbox_m = [
        scene_bbox_m[0] + win[2] * res,
        scene_bbox_m[3] - win[1] * res,
        scene_bbox_m[0] + win[3] * res,
        scene_bbox_m[3] - win[0] * res,
    ]
    warped = R.reproject_bilinear(
        raster,
        win_bbox_m,
        read_bbox,
        _REPROJ_SHAPE,
        src_crs=rec["epsg"],
        dst_crs="EPSG:4326",
    )
    n_fin = int(np.isfinite(warped).sum())
    out["reproj_valid_pixels"] = n_fin
    if n_fin:
        fin = warped[np.isfinite(warped)].astype(np.float64)
        out["reproj_mean"] = round(float(np.mean(fin)), 4)
    return out


def _append_row_columns(df: DataFrame, fields, needed: list[str], row_fn) -> DataFrame:
    """Append ``fields`` computed by ``row_fn`` over the ``needed`` columns of
    each row. Column-wise inner loop (no per-row dict materialization of the
    whole batch): profiling showed row-dict conversion dominating over the
    pixel math itself."""
    schema = T.StructType(list(df.schema.fields) + fields)
    stat_names = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_cols: dict[str, list] = {n: [] for n in stat_names}
            for vals in zip(*(pdf[c].values for c in needed)):
                st = row_fn(dict(zip(needed, vals)))
                for n in stat_names:
                    out_cols[n].append(st[n])
            out = pdf.copy()
            for n in stat_names:
                out[n] = pd.Series(out_cols[n], index=pdf.index, dtype=object)
            yield out

    return df.mapInPandas(run, schema)


def ndvi_stats_utm(best_utm: DataFrame) -> DataFrame:
    """Append cross-CRS NDVI + reprojection columns."""
    needed = [
        "scene_id", "epsg", "u_min_e", "u_min_n", "u_max_e", "u_max_n", "u_res_m",
        "min_lon", "min_lat", "max_lon", "max_lat",
    ]
    return _append_row_columns(best_utm, _UTM_STAT_FIELDS, needed, compute_ndvi_utm_row)


def ndvi_stats(best_scenes: DataFrame, include_raster: bool = False) -> DataFrame:
    """Append NDVI statistic columns to the (aoi, frame, best scene) rows."""
    return _append_row_columns(
        best_scenes,
        _STAT_FIELDS,
        R.RECIPE_COLUMNS,
        lambda rec: compute_ndvi_for_row(rec, include_raster),
    )
