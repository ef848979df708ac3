"""Seeded input generation for the benchmark workloads.

Every workload writes its own directory of parquet tables. Nothing here
touches the repository's ``data/`` directory.

Pages come from ``sources.synth.build_page(i)``. The seed picks a base
index; the scan then walks up from it and keeps a page only while its
kind (``synth.page_kind``) still has room in a fixed per-kind quota. The
quotas follow the generator's own kind frequencies, rounded to the input
size, so every seed gets the same shape mix (the same number of huge
pages, which have the largest raster windows) and seeds differ only in
the geometries' positions, regions and scenes. The rare monster (every
500th) and mega (every 1,000th) pages get a quota as well once the input
is large enough: ``ndvi_change``'s 500 pages hold one of each, the
checkpoint probe's 24 pages none.

Seed blocks are ``SEED_STRIDE`` indices apart and each workload uses its
own offset inside the block, so no two (seed, workload) pairs share a
page.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# first page index used by the benchmark: far above every repo data dir
# (sf1 = 300,000 pages) so benchmark pages never coincide with them
PAGE_BASE = 10_000_000
SEED_STRIDE = 1_000_000
WORKLOAD_OFFSET = {"ndvi_change": 0, "checkpoint": 500_000}
# kind frequencies are measured once over this reference range
_REF_RANGE = range(0, 100_000)

STATIC_TABLES = (
    "write_scenes",
    "write_frames",
    "write_regions",
    "write_weather",
    "write_protected_areas",
    "write_fire_events",
    "write_flood_gauges",
)


def kind_quotas(n_pages: int) -> dict[str, int]:
    """Per-kind page counts for an ``n_pages`` input: the generator's own
    frequencies, largest-remainder rounded. Kinds rarer than one page in
    ``n_pages`` (monster, mega) can round to 0."""
    from azure_workflow_for_kml_satellite_spark.sources import synth

    freq = Counter(synth.page_kind(i) for i in _REF_RANGE)
    total = sum(freq.values())
    exact = {k: n_pages * c / total for k, c in freq.items()}
    quota = {k: int(v) for k, v in exact.items()}
    short = n_pages - sum(quota.values())
    for k in sorted(exact, key=lambda k: exact[k] - int(exact[k]), reverse=True):
        if short <= 0:
            break
        quota[k] += 1
        short -= 1
    return quota


def select_pages(workload: str, seed: int, quota: dict[str, int]) -> list[int]:
    from azure_workflow_for_kml_satellite_spark.sources import synth

    quota = dict(quota)
    base = PAGE_BASE + seed * SEED_STRIDE + WORKLOAD_OFFSET[workload]
    limit = base + SEED_STRIDE // 4
    picked: list[int] = []
    i = base
    while sum(quota.values()) > 0:
        if i >= limit:
            raise RuntimeError(f"{workload}: quotas {quota} unfilled by index {limit}")
        k = synth.page_kind(i)
        if quota.get(k, 0) > 0:
            quota[k] -= 1
            picked.append(i)
        i += 1
    return picked


def write_pages(path: Path, indices: list[int]) -> None:
    from azure_workflow_for_kml_satellite_spark.sources import synth

    rows = [synth.build_page(i) for i in indices]
    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    # same row-group size as synth.write_pages, so scans split the same way
    pq.write_table(table, path, row_group_size=1024)


def write_static(dest: Path) -> None:
    """The seed-independent tables (scene grid, frames, dimensions), from
    the generator's own writers. Written afresh for every run (under a
    second), so they always match the engine under test."""
    from azure_workflow_for_kml_satellite_spark.sources import synth

    for writer in STATIC_TABLES:
        getattr(synth, writer)(dest)


def geo_inputs(workload: str, seed: int, quota: dict[str, int], dest: Path) -> dict:
    """Write one geo workload's engine data dir (the layout
    ``pipeline.load_tables`` reads) and return its input stats."""
    dest.mkdir(parents=True, exist_ok=True)
    indices = select_pages(workload, seed, quota)
    write_pages(dest / "pages.parquet", indices)
    write_static(dest)
    return {
        "pages": len(indices),
        "first_index": indices[0],
        "last_index": indices[-1],
        "input_bytes": (dest / "pages.parquet").stat().st_size,
        "indices": indices,
    }


# ── webtext: documents + embeddings ─────────────────────────────────────────

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")
EMB_DIM = 64
EMB_CLUSTERS = 10


def webtext_inputs(
    seed: int, n_docs: int, n_vecs: int, n_queries: int, dest: Path
) -> dict:
    """Documents with exact and near duplicates, clustered embeddings and
    seeded query ids, in the shape of the sf0.1 ``documents`` and
    ``embeddings`` test tables (31-word vocabulary, 64-d vectors)."""
    dest.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    texts: list[str] = []
    for d in range(n_docs):
        r = rng.random()
        if d > 10 and r < 0.03:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))])
        elif d > 10 and r < 0.10:  # near duplicate: a few token edits
            toks = texts[int(rng.integers(0, d))].split()
            for _ in range(max(1, len(toks) // 15)):
                toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{int(j)}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, dest / "documents.parquet")

    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n_vecs)
    emb = (centers[labels] + rng.normal(0.0, 0.6, (n_vecs, EMB_DIM))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vectors = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(vectors, dest / "embeddings.parquet")
    queries = sorted(int(q) for q in rng.choice(n_vecs, n_queries, replace=False))
    return {
        "docs": n_docs,
        "vectors": n_vecs,
        "queries": queries,
        "input_bytes": sum(
            (dest / f).stat().st_size for f in ("documents.parquet", "embeddings.parquet")
        ),
        "texts": texts,
        "embeddings": emb,
    }
