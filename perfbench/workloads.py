"""The benchmark workloads.

Each workload is a closed loop with one client: the next pass starts when
the previous one has returned. ``run_pass`` is what the timed region
covers; it only calls public engine functions, through their modules, so
the traced run can wrap the very same calls (``patches``). ``check`` and
``digest`` run outside the timed region.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import checks, inputs

# Sizes at local[4]; see README.md for how they were picked.
NDVI_PAGES = 500
WEB_DOCS = 2500
WEB_VECS = 2000
WEB_QUERIES = 10
TOP_K = 10
NGRAM_THRESHOLD = 0.5
ORACLE_SAMPLE_PAGES = 12
WEB_SAMPLE_DOCS = 150


def _sample_pages(info: dict, seed: int, dest: Path) -> list[str]:
    """Seeded sample of AOI-bearing pages for the oracle, written as its own
    pages table. Monster and mega pages are left to the engine's own tests:
    their 200 features / 7.6 Mpx windows would dominate the oracle's time."""
    from azure_workflow_for_kml_satellite_spark.sources import synth

    pool = [i for i in info["indices"] if synth.page_kind(i) not in ("none", "monster", "mega")]
    picked = sorted(random.Random(seed).sample(pool, ORACLE_SAMPLE_PAGES))
    inputs.write_pages(dest, picked)
    return pq.read_table(dest, columns=["url"])["url"].to_pylist()


class NdviChange:
    """extract → aoi → best scene → NDVI (``pipeline.build_ndvi``) →
    season changes → trend per AOI, over the default run window."""

    name = "ndvi_change"

    def __init__(self, work: Path, seed: int):
        from azure_workflow_for_kml_satellite_spark.constants import RUN_DATE_END, RUN_DATE_START

        self.spark = None  # set once the session is up
        self.ed = work / "data"
        self.info = inputs.geo_inputs(self.name, seed, inputs.kind_quotas(NDVI_PAGES), self.ed)
        self.sample_urls = _sample_pages(self.info, seed, work / "sample_pages.parquet")
        self.oracle = checks.geo_oracle(
            work / "sample_pages.parquet", self.ed / "scenes.parquet", RUN_DATE_START, RUN_DATE_END
        )

    @staticmethod
    def patches() -> list[tuple[object, str, str]]:
        from azure_workflow_for_kml_satellite_spark import pipeline
        from azure_workflow_for_kml_satellite_spark.operators import change, metrics

        return [
            (pipeline, "extract_features", "extract"),
            (pipeline, "prepare_aois", "aoi"),
            (pipeline, "spatial_join_best_scene", "spatial_join"),
            (pipeline, "ndvi_stats", "ndvi"),
            (change, "season_changes", "change"),
            (metrics, "ndvi_trend_per_aoi", "metrics.trend"),
        ]

    def run_pass(self) -> dict:
        from azure_workflow_for_kml_satellite_spark import pipeline
        from azure_workflow_for_kml_satellite_spark.operators import change, metrics

        nd = pipeline.build_ndvi(self.spark, str(self.ed))
        n_ndvi = nd.count()
        ch = change.season_changes(nd).toArrow()
        tr = metrics.ndvi_trend_per_aoi(nd).toArrow()
        return {"ndvi_df": nd, "changes": ch, "trend": tr, "n_ndvi": n_ndvi,
                "n_changes": ch.num_rows, "n_trend": tr.num_rows}

    def finish(self, out: dict) -> None:
        """Outside the timed region, before the memo is evicted: pull the
        cached NDVI and AOI rows needed by the checks."""
        from pyspark.sql import functions as F

        from azure_workflow_for_kml_satellite_spark import pipeline

        nd = out.pop("ndvi_df")
        out["ndvi"] = nd.drop("exterior", "interior", "ndvi_raster").toArrow()
        aois = pipeline.build_aois(self.spark, str(self.ed))
        out["n_aois"] = aois.count()
        out["n_pixels"] = nd.agg(F.sum("total_pixels")).first()[0]
        out["aois_sample"] = (
            aois.filter(F.col("url").isin(self.sample_urls)).drop("exterior", "interior").toArrow().to_pylist()
        )

    def items(self, out: dict) -> int:
        return out["n_aois"]

    def stats(self, out: dict) -> dict:
        keep = ("pages", "first_index", "last_index", "input_bytes")
        return {k: self.info[k] for k in keep} | {k: v for k, v in out.items() if k.startswith("n_")}

    def check(self, out: dict) -> list[list[str]]:
        urls = set(self.sample_urls)
        ndvi = [r for r in out["ndvi"].to_pylist() if r["url"] in urls]
        return [
            checks.check_aois(out["aois_sample"], self.oracle),
            checks.check_best(ndvi, self.oracle),
            checks.check_ndvi(ndvi, self.oracle),
            checks.check_changes([r for r in out["changes"].to_pylist() if r["url"] in urls], self.oracle),
            checks.check_trend([r for r in out["trend"].to_pylist() if r["url"] in urls], self.oracle),
        ]

    def digest(self, out: dict) -> dict:
        return {k: checks.digest(out[k]) for k in ("ndvi", "changes", "trend")}


class Webtext:
    """exact duplicates, n-gram Jaccard pairs and quality score over the
    documents, then exact, LSH and IVF top-k over the embeddings."""

    name = "webtext"

    def __init__(self, work: Path, seed: int):
        self.spark = None  # set once the session is up
        self.info = inputs.webtext_inputs(seed, WEB_DOCS, WEB_VECS, WEB_QUERIES, work / "data")
        self.docs_path = str(work / "data" / "documents.parquet")
        self.emb_path = str(work / "data" / "embeddings.parquet")
        self.queries = self.info["queries"]
        self.doc_sample = sorted(random.Random(seed).sample(range(WEB_DOCS), WEB_SAMPLE_DOCS))
        self.exact = checks.exact_topk(self.info["embeddings"], self.queries, TOP_K)

    @staticmethod
    def patches():
        from azure_workflow_for_kml_satellite_spark.operators import dedup, similarity, text

        return [
            (dedup, "exact_duplicates", "dedup.exact"),
            (dedup, "ngram_jaccard_pairs", "dedup.ngram"),
            (text, "quality_score", "text.quality"),
            (similarity, "brute_force_topk", "similarity.brute"),
            (similarity, "lsh_topk", "similarity.lsh"),
            (similarity, "ivf_topk", "similarity.ivf"),
        ]

    def run_pass(self) -> dict:
        from azure_workflow_for_kml_satellite_spark.operators import dedup, similarity, text

        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.docs_path)
        out = {
            "exact": dedup.exact_duplicates(docs).toArrow(),
            "ngram": dedup.ngram_jaccard_pairs(docs, threshold=NGRAM_THRESHOLD).toArrow(),
            "quality": text.quality_score(docs).toArrow(),
        }
        t1 = time.perf_counter()
        emb = self.spark.read.parquet(self.emb_path)
        q = self.queries
        out["brute"] = similarity.brute_force_topk(emb, q, TOP_K).toArrow()
        out["lsh"] = similarity.lsh_topk(emb, q, TOP_K).toArrow()
        out["ivf"] = similarity.ivf_topk(emb, q, TOP_K, n_centroids=16, n_probe=4).toArrow()
        t2 = time.perf_counter()
        out["docs_s"], out["ann_s"] = t1 - t0, t2 - t1
        return out

    def finish(self, out: dict) -> None:
        pass

    def items(self, out: dict) -> int:
        return WEB_DOCS

    def stats(self, out: dict) -> dict:
        return {
            "docs": WEB_DOCS, "vectors": WEB_VECS, "queries": len(self.queries),
            "input_bytes": self.info["input_bytes"], "n_dup_groups": out["exact"].num_rows,
            "n_ngram_pairs": out["ngram"].num_rows,
        }

    def check(self, out: dict) -> list[list[str]]:
        texts, emb = self.info["texts"], self.info["embeddings"]
        return [
            checks.check_exact_duplicates(out["exact"].to_pylist(), texts),
            checks.check_ngram_pairs(out["ngram"].to_pylist(), texts, self.doc_sample, NGRAM_THRESHOLD),
            checks.check_quality(out["quality"].to_pylist(), texts, self.doc_sample),
            checks.check_topk("brute_force_topk", out["brute"].to_pylist(), self.exact, emb, False),
            checks.check_topk("lsh_topk", out["lsh"].to_pylist(), self.exact, emb, True),
            checks.check_topk("ivf_topk", out["ivf"].to_pylist(), self.exact, emb, True),
        ]

    def digest(self, out: dict) -> dict:
        return {k: checks.digest(out[k]) for k in ("exact", "ngram", "quality", "brute", "lsh", "ivf")}

    def recalls(self, out: dict) -> dict:
        return {
            "similarity.lsh_recall10": checks.recall(out["lsh"].to_pylist(), self.exact),
            "similarity.ivf_recall10": checks.recall(out["ivf"].to_pylist(), self.exact),
        }


WORKLOADS = {w.name: w for w in (NdviChange, Webtext)}
