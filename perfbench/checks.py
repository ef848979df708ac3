"""Correctness checks, run outside the timed region.

Geo workloads compare the engine's rows for a seeded sample of page URLs
with the sequential oracle (``oracle/sequential.py``: compute_features →
compute_aois → compute_best_scenes → compute_ndvi → compute_changes, and
``oracle/kernels.trend_of`` for trends). Webtext compares against exact
set-based Jaccard, a numpy re-derivation of the quality heuristics and
exact numpy cosine top-k. Every check returns a list of mismatch
descriptions; each non-empty list counts as one failed layer call.
"""

from __future__ import annotations

import hashlib
import math
import re
from pathlib import Path

import numpy as np
import pyarrow as pa

# ── geo: sequential oracle ──────────────────────────────────────────────────


def geo_oracle(sample_pages: Path, scenes: Path, date_start: str, date_end: str) -> dict:
    from azure_workflow_for_kml_satellite_spark.oracle import kernels as K
    from azure_workflow_for_kml_satellite_spark.oracle import sequential as S

    feats = S.compute_features(sample_pages)
    aois = S.compute_aois(feats)
    best = S.compute_best_scenes(aois, scenes, date_start, date_end)
    ndvi = S.compute_ndvi(best)
    series: dict[tuple, list] = {}
    for r in ndvi:
        series.setdefault((r["url"], r["feature_index"]), []).append(
            (r["frame_id"], r["ndvi"]["mean"] if r["ndvi"] else None)
        )
    return {
        "aois": aois,
        "best": best,
        "ndvi": ndvi,
        "changes": S.compute_changes(ndvi),
        "trend": {k: K.trend_of(sorted(s)) for k, s in series.items()},
    }


def _diff(name: str, got: dict, exp: dict, limit: int = 3) -> list[str]:
    bad = []
    for k in sorted(set(got) | set(exp), key=str):
        if got.get(k) != exp.get(k):
            bad.append(f"{name} {k}: engine {got.get(k)} oracle {exp.get(k)}")
            if len(bad) >= limit:
                break
    return bad


def check_aois(rows: list[dict], oracle: dict) -> list[str]:
    got = {
        (r["url"], r["feature_index"]): (r["area_ha"], r["centroid_lon"], r["centroid_lat"], r["has_naip"])
        for r in rows
    }
    exp = {
        (a["url"], a["feature_index"]): (a["area_ha"], a["centroid"][0], a["centroid"][1], a["has_naip"])
        for a in oracle["aois"]
    }
    return _diff("aoi", got, exp)


def check_best(rows: list[dict], oracle: dict) -> list[str]:
    got = {
        (r["url"], r["feature_index"], r["frame_id"], r["naip_variant"]): (r["scene_id"], r["cloud_cover"])
        for r in rows
    }
    exp = {
        (b["url"], b["feature_index"], b["frame_id"], b["naip_variant"]): (b["scene_id"], b["cloud_cover"])
        for b in oracle["best"]
    }
    return _diff("best_scene", got, exp)


def check_ndvi(rows: list[dict], oracle: dict) -> list[str]:
    got = {
        (r["url"], r["feature_index"], r["frame_id"]): (
            r["scene_id"], r["ndvi_mean"], r["ndvi_std"], r["ndvi_median"],
            r["valid_pixels"], r["total_pixels"], r["masked_pixels"],
        )
        for r in rows
    }
    exp = {}
    for r in oracle["ndvi"]:
        st = r["ndvi"] or {}
        exp[(r["url"], r["feature_index"], r["frame_id"])] = (
            r["scene_id"], st.get("mean"), st.get("std"), st.get("median"),
            st.get("valid_pixels"), st.get("total_pixels"), st.get("masked_pixels"),
        )
    return _diff("ndvi", got, exp)


def check_changes(rows: list[dict], oracle: dict) -> list[str]:
    key = ("url", "feature_index", "season", "year_from", "year_to")
    vals = ("mean_delta", "loss_pct", "gain_pct", "total_ha")
    got = {tuple(r[k] for k in key): tuple(r[v] for v in vals) for r in rows}
    exp = {tuple(c[k] for k in key): tuple(c[v] for v in vals) for c in oracle["changes"]}
    return _diff("season_change", got, exp)


def check_trend(rows: list[dict], oracle: dict) -> list[str]:
    vals = ("direction", "observations", "slope_per_frame", "mean_ndvi", "health_class")
    got = {(r["url"], r["feature_index"]): tuple(r[v] for v in vals) for r in rows}
    exp = {k: tuple(t[v] for v in vals) for k, t in oracle["trend"].items()}
    return _diff("trend", got, exp)


def digest(table: pa.Table) -> str:
    """Order-independent fingerprint of a result table, for comparing a
    pass's output with the first, checked pass."""
    flat = [c for c in table.column_names if not pa.types.is_nested(table.schema.field(c).type)]
    t = table.select(flat).sort_by([(c, "ascending") for c in flat])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha1(sink.getvalue().to_pybytes()).hexdigest()


# ── webtext ─────────────────────────────────────────────────────────────────

_EN_STOPWORDS = {"the", "and", "of", "to", "in", "a", "is", "it", "for", "on", "with", "as"}
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)


def _tokens(text: str) -> list[str]:
    from azure_workflow_for_kml_satellite_spark.oracle.textdata import spark_tokens

    return spark_tokens(text)


def check_exact_duplicates(rows: list[dict], texts: list[str]) -> list[str]:
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    exp = {min(ids): len(ids) for ids in groups.values()}
    got = {r["keep_doc_id"]: r["n_docs"] for r in rows}
    return _diff("exact_duplicates", got, exp)


def _shingle_sets(texts: list[str], n: int = 3) -> list[frozenset]:
    out = []
    for t in texts:
        toks = _tokens(t)
        if len(toks) >= n:
            out.append(frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))
        else:
            out.append(frozenset([" ".join(toks)]))
    return out


def check_ngram_pairs(rows: list[dict], texts: list[str], sample: list[int], threshold: float) -> list[str]:
    """Exact Jaccard over shingle *strings* for every pair that involves a
    sampled document (completeness and values on that slice)."""
    sets = _shingle_sets(texts)
    index: dict[str, set[int]] = {}
    for d, s in enumerate(sets):
        for g in s:
            index.setdefault(g, set()).add(d)
    exp = {}
    for a in sample:
        cands = set().union(*(index[g] for g in sets[a])) - {a}
        for b in cands:
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= threshold:
                exp[(min(a, b), max(a, b))] = j
    sampled = set(sample)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in rows
        if r["id_a"] in sampled or r["id_b"] in sampled
    }
    bad = [f"ngram pair {k} missing" for k in sorted(set(exp) - set(got))[:3]]
    bad += [f"ngram pair {k} not expected" for k in sorted(set(got) - set(exp))[:3]]
    bad += [
        f"ngram pair {k}: engine {got[k]} exact {exp[k]}"
        for k in sorted(set(got) & set(exp))
        if abs(got[k] - exp[k]) > 5e-7
    ][:3]
    return bad


def check_quality(rows: list[dict], texts: list[str], sample: list[int]) -> list[str]:
    got = {r["doc_id"]: r for r in rows}
    bad = []
    for d in sample:
        t = texts[d]
        toks = _tokens(t)
        n = len(toks)
        stop = sum(w in _EN_STOPWORDS for w in toks) / n
        punct = len(_PUNCT.findall(t)) / max(len(t), 1)
        score = (min(n / 100.0, 1.0) + min(stop * 5.0, 1.0) + 1.0 - min(punct * 10.0, 1.0)) / 3.0
        r = got.get(d)
        if r is None or r["n_tokens"] != n or abs(r["quality_score"] - score) > 5.001e-5 or abs(
            r["stopword_ratio"] - stop
        ) > 5.001e-5:
            bad.append(f"quality doc {d}: engine {r} exact n={n} stop={stop} score={score}")
            if len(bad) >= 3:
                break
    return bad


def exact_topk(emb: np.ndarray, queries: list[int], k: int) -> dict[int, list[tuple[int, float]]]:
    e = emb.astype(np.float64)
    norms = np.linalg.norm(e, axis=1)
    out = {}
    for q in queries:
        cos = (e @ e[q]) / (norms * norms[q])
        cos[q] = -math.inf
        order = sorted(range(len(cos)), key=lambda i: (-cos[i], i))[:k]
        out[q] = [(i, float(cos[i])) for i in order]
    return out


def check_topk(name: str, rows: list[dict], exact: dict, emb: np.ndarray, approximate: bool) -> list[str]:
    """Exact operators must return the exact top-k. Approximate ones must
    return k distinct neighbours per query, in rank order, each with its
    exact cosine."""
    by_q: dict[int, list[dict]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    e = emb.astype(np.float64)
    bad = []
    for q, want in exact.items():
        got = sorted(by_q.get(q, []), key=lambda r: r["rank"])
        ids = [r["neighbor_id"] for r in got]
        if not approximate:
            ok = ids == [i for i, _ in want] and all(
                abs(r["cosine"] - c) <= 1.5e-6 for r, (_, c) in zip(got, want)
            )
        else:
            true = [float(e[q] @ e[i] / (np.linalg.norm(e[q]) * np.linalg.norm(e[i]))) for i in ids]
            ok = (
                len(ids) == len(want)
                and len(set(ids)) == len(ids)
                and q not in ids
                and all(abs(r["cosine"] - c) <= 1.5e-6 for r, c in zip(got, true))
                and all(a["cosine"] >= b["cosine"] for a, b in zip(got, got[1:]))
            )
        if not ok:
            bad.append(f"{name} query {q}: engine {ids}")
            if len(bad) >= 3:
                break
    return bad


def recall(rows: list[dict], exact: dict) -> float:
    hit = total = 0
    for q, want in exact.items():
        w = {i for i, _ in want}
        hit += sum(1 for r in rows if r["query_id"] == q and r["neighbor_id"] in w)
        total += len(w)
    return hit / total
