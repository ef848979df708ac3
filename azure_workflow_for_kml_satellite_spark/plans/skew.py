"""Explicit hot-cell salting (north rule: "skew from hot cells — dense urban
geometries — is handled with explicit salting + cell-level repartitioning").

The monster-grid fixture drops 200+ geometries into a handful of grid cells
(docs/scale_baseline.md:26-34); at 10^12-page scale a city produces millions
of geometries in one cell. AQE's skew-join split (enabled in get_spark) fixes
*post-shuffle partition* imbalance, but when one join KEY is hot only salting
spreads it. The reference's analog is area-based rerouting to bigger nodes
(reference: treesight/pipeline/batch.py:28-30, _payloads.py:112-130).

Strategy (deterministic):
1. measure the per-cell key histogram of the big side (one cheap agg);
2. hot cells (count > threshold) get salt factor k = ceil(count/threshold),
   capped; the salt map is a tiny broadcast table;
3. big side: salt = pmod(xxhash64(row-identity), k(cell)); small side:
   explode 0..k-1; join key becomes (cell, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cell_histogram(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count("*").alias("n"))


def plan_salts(
    hist: DataFrame,
    cell_col: str = "cell",
    hot_threshold: int = 10_000,
    max_salt: int = 64,
) -> DataFrame:
    """(cell, k) for hot cells only — cells absent from the map use k=1."""
    return (
        hist.filter(F.col("n") > hot_threshold)
        .select(
            cell_col,
            F.least(
                F.lit(max_salt), F.ceil(F.col("n") / F.lit(hot_threshold))
            ).cast("int").alias("salt_k"),
        )
    )


def apply_salt_big(
    big: DataFrame,
    salt_map: DataFrame,
    identity_cols: list[str],
    cell_col: str = "cell",
) -> DataFrame:
    """Attach the salt column to the skewed (big) side."""
    b = big.join(F.broadcast(salt_map), cell_col, "left").withColumn(
        "salt_k", F.coalesce(F.col("salt_k"), F.lit(1))
    )
    return b.withColumn(
        "salt", F.pmod(F.xxhash64(*identity_cols), F.col("salt_k")).cast("int")
    ).drop("salt_k")


def apply_salt_small(
    small: DataFrame,
    salt_map: DataFrame,
    cell_col: str = "cell",
) -> DataFrame:
    """Replicate the other side once per salt bucket of its cell."""
    s = small.join(F.broadcast(salt_map), cell_col, "left").withColumn(
        "salt_k", F.coalesce(F.col("salt_k"), F.lit(1))
    )
    return (
        s.withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("salt_k") - 1)))
        .withColumn("salt", F.col("salt").cast("int"))
        .drop("salt_k")
    )


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    identity_cols: list[str],
    cell_col: str = "cell",
    hot_threshold: int = 10_000,
    max_salt: int = 64,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on (cell[, salt]) with salting derived from the measured
    histogram of the big side. One extra aggregation job; worth it only when
    the small side cannot be broadcast."""
    salt_map = plan_salts(
        cell_histogram(big, cell_col), cell_col, hot_threshold, max_salt
    )
    b = apply_salt_big(big, salt_map, identity_cols, cell_col)
    s = apply_salt_small(small, salt_map, cell_col)
    return b.join(s, [cell_col, "salt"], how).drop("salt")


