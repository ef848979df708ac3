"""Year-over-year NDVI change detection (SURVEY.md §2.3 J4, §2.4 A2/A3).

The reference stores each frame's NDVI GeoTIFF to blob and re-downloads
pairs for comparison (reference: change_detection.py:140-242). Spark-first
equivalent: pair consecutive same-season years with ``lag`` over a window
(W1), shuffle only the tiny scene/window *recipe* columns, and regenerate
both masked NDVI rasters deterministically inside the pairwise UDF — no
raster bytes ever shuffle (at 100 TB scale the raster re-read is the COG
windowed read the reference also pays).

Consecutive means adjacent in the year-sorted list within (aoi, season),
NOT year_b == year_a + 1 (reference: change_detection.py:190-197).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from azure_workflow_for_kml_satellite_spark.constants import (
    CHANGE_GAIN_THRESHOLD,
    CHANGE_LOSS_THRESHOLD,
)
from azure_workflow_for_kml_satellite_spark.functions import raster as R

_CHANGE_FIELDS = [
    T.StructField("mean_delta", T.DoubleType(), True),
    T.StructField("median_delta", T.DoubleType(), True),
    T.StructField("std_delta", T.DoubleType(), True),
    T.StructField("min_delta", T.DoubleType(), True),
    T.StructField("max_delta", T.DoubleType(), True),
    T.StructField("loss_ha", T.DoubleType(), True),
    T.StructField("gain_ha", T.DoubleType(), True),
    T.StructField("stable_ha", T.DoubleType(), True),
    T.StructField("total_ha", T.DoubleType(), True),
    T.StructField("loss_pct", T.DoubleType(), True),
    T.StructField("gain_pct", T.DoubleType(), True),
    T.StructField("valid_change_pixels", T.LongType(), True),
]


def change_columns(
    deltas: np.ndarray, resolution_m: float, loss_threshold: float, gain_threshold: float
) -> dict | None:
    """The change result builder: this operator's change columns from a
    pair's compacted jointly-valid deltas, None when there are none
    (reference: change_detection.py:64-116; pixel area from raster a,
    change_detection.py:59,70-71)."""
    st = R.reduce_valid(deltas, loss_threshold, gain_threshold)
    if st is None:
        return None
    pixel_area_ha = abs(resolution_m * resolution_m) / 10_000
    n, n_loss, n_gain = st["n"], st["n_loss"], st["n_gain"]
    return {
        "mean_delta": st["mean"],
        "median_delta": st["median"],
        "std_delta": st["std"],
        "min_delta": st["min"],
        "max_delta": st["max"],
        "loss_ha": round(n_loss * pixel_area_ha, 2),
        "gain_ha": round(n_gain * pixel_area_ha, 2),
        "stable_ha": round((n - n_loss - n_gain) * pixel_area_ha, 2),
        "total_ha": round(n * pixel_area_ha, 2),
        "loss_pct": round(n_loss / n * 100, 1),
        "gain_pct": round(n_gain / n * 100, 1),
        "valid_change_pixels": n,
    }


def change_for_pair(rec: dict, loss_threshold: float, gain_threshold: float) -> dict | None:
    """Change columns for one ``a_``/``b_`` recipe row, None when either
    read window is empty or no pixel is valid in both rasters. Both sides'
    NDVI is regenerated over the trimmed common shape and only the valid
    deltas are kept — no full-window raster materializes."""
    sides = R.window_recipe(rec, "a_"), R.window_recipe(rec, "b_")
    if None in sides:
        return None
    deltas = R.pair_valid_deltas(*sides)
    return change_columns(deltas, float(rec["a_resolution_m"]), loss_threshold, gain_threshold)


def season_changes(
    ndvi_df: DataFrame,
    loss_threshold: float = CHANGE_LOSS_THRESHOLD,
    gain_threshold: float = CHANGE_GAIN_THRESHOLD,
) -> DataFrame:
    """ndvi stats rows → one row per (aoi, season, year_from, year_to) with
    the reference's change metrics."""
    # coalesce (no shuffle) off the NDVI cache's fine raster grain before the
    # cheap window/pairing stages — same per-task-overhead fix as
    # ndvi_trend_per_aoi; the window's partitionBy/orderBy fully determines
    # the pairing, so partition merging cannot change the result
    par = ndvi_df.sparkSession.sparkContext.defaultParallelism
    has_stat = (
        ndvi_df.filter(F.col("ndvi_mean").isNotNull())
        .select("url", "feature_index", "season", "year", *R.RECIPE_COLUMNS)
        .coalesce(par)
    )
    w = Window.partitionBy("url", "feature_index", "season").orderBy("year")
    paired = has_stat.select(
        "url",
        "feature_index",
        "season",
        F.lag("year").over(w).alias("year_from"),
        F.col("year").alias("year_to"),
        *[F.lag(c).over(w).alias(f"a_{c}") for c in R.RECIPE_COLUMNS],
        *[F.col(c).alias(f"b_{c}") for c in R.RECIPE_COLUMNS],
    ).filter(F.col("year_from").isNotNull())
    # The window shuffle clumps one AOI's (heavy) pairs into one partition;
    # pair recompute cost varies 4 orders of magnitude (monster 200px² vs
    # mega 2800px² windows), so scatter rows before the pixel work. Fine
    # grain + key-hash, same policy the round-5 profile study picked for
    # the NDVI stage (BASELINE.md): hash on the full pair key declusters
    # same-AOI runs (measured 29.9 s vs 35-40 s round-robin at sf0.1).
    # The 8x multiplier was re-swept after the round-8 shuffle-writer fix
    # changed per-task costs.
    paired = paired.repartition(
        max(64, 8 * ndvi_df.sparkSession.sparkContext.defaultParallelism),
        F.col("url"), F.col("feature_index"), F.col("season"), F.col("year_to"),
    )

    key_cols = ["url", "feature_index", "season", "year_from", "year_to"]
    schema = T.StructType(
        [paired.schema[c] for c in key_cols]
        + [T.StructField("label", T.StringType(), True)]
        + _CHANGE_FIELDS
    )
    out_cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                stats = change_for_pair(rec, loss_threshold, gain_threshold)
                if stats is None:
                    continue
                row = {k: rec[k] for k in key_cols}
                season = rec["season"]
                # reference: change_detection.py:235
                row["label"] = f"{season.capitalize()} {rec['year_from']} → {rec['year_to']}"
                row.update(stats)
                rows.append(row)
            yield pd.DataFrame(rows, columns=out_cols) if rows else pd.DataFrame(
                columns=out_cols
            )

    return paired.mapInPandas(run, schema)


def change_summary_per_aoi(changes: DataFrame) -> DataFrame:
    """A3: per-AOI rollup + trajectory classification
    (reference: change_detection.py:244-259).

    Computed with the shared pure kernel inside applyInPandas rather than
    Spark aggregates: the reference rounds with Python ``round`` (banker's),
    Spark's ``round`` is HALF_UP — on exact .5 boundaries they differ, so
    bit-for-bit parity requires the Python path (SURVEY.md §7.4 risk 1).
    Groups are tiny (≤ #seasons × #years rows)."""
    from azure_workflow_for_kml_satellite_spark.functions.metrics import change_summary

    schema = T.StructType(
        [
            changes.schema["url"],
            changes.schema["feature_index"],
            T.StructField("comparisons", T.LongType()),
            T.StructField("total_loss_ha", T.DoubleType()),
            T.StructField("total_gain_ha", T.DoubleType()),
            T.StructField("avg_mean_delta", T.DoubleType()),
            T.StructField("trajectory", T.StringType()),
        ]
    )

    from pyspark.sql.functions import pandas_udf

    out_t = T.StructType([f for f in schema.fields if f.name not in ("url", "feature_index")])

    @pandas_udf(out_t)
    def summary_udf(series: pd.Series) -> pd.DataFrame:
        rows = []
        for arr in series:
            # canonical accumulation order: seasons sorted, years ascending —
            # float sums are order-dependent and the reference iterates
            # sorted(season_groups) by year (change_detection.py:190-197);
            # sort_array on the struct gives exactly that order.
            s = change_summary(
                [x["mean_delta"] for x in arr],
                [x["loss_ha"] for x in arr],
                [x["gain_ha"] for x in arr],
            )
            rows.append(s)
        return pd.DataFrame(rows, columns=[f.name for f in out_t.fields])

    agg = (
        changes.select(
            "url", "feature_index", "season", "year_from", "year_to",
            "mean_delta", "loss_ha", "gain_ha",
        )
        .groupBy("url", "feature_index")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "season", "year_from", "year_to", "mean_delta", "loss_ha", "gain_ha"
                    )
                )
            ).alias("series")
        )
    )
    return agg.select(
        "url", "feature_index", summary_udf(F.col("series")).alias("s")
    ).select("url", "feature_index", "s.*")
