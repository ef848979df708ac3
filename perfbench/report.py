"""Pass loop, metric assembly and output for ``perfbench/run.py``."""

from __future__ import annotations

import json
import statistics
import time
import traceback
from pathlib import Path

from perfbench import probes, trace
from perfbench.session import RssSampler, assert_nothing_cached, cpu_snapshot

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
CHECKPOINT_PAGES = 24
# timed passes per run at the least; job_s and cpu_s are their medians
MIN_PASSES = 2


def tail(values: list[float]) -> str:
    """Median, the highest percentile with at least ten samples beyond it,
    and the sample count."""
    n = len(values)
    s = sorted(values)
    out = f"median {statistics.median(s):.4g} n={n}"
    if n > 10:
        pct = int(100 * (n - 10) / n)
        out += f" p{pct} {s[n - 11]:.4g}"
    else:
        out += " (no percentile with 10 samples beyond it)"
    return out + " values " + " ".join(f"{v:.4g}" for v in values)


def _count(res: dict, problems: list[str]) -> None:
    """One checked output: it failed if the check reported any problem."""
    res["attempted"] += 1
    res["failed"] += bool(problems)
    res["problems"] += problems


def _pass(spark, wl, res: dict, ref: dict | None, tracer=None) -> tuple[float, dict]:
    """One pass; only ``run_pass`` is timed. The first pass (``ref`` None)
    is checked against the oracles; later passes are compared with it.
    With a tracer the pass runs under the layer patches as span "pass"."""
    assert_nothing_cached(spark)
    c0 = cpu_snapshot()
    t0 = time.perf_counter()
    if tracer is None:
        out = wl.run_pass()
    else:
        tracer.pass_id = f"t{sum(s['name'] == 'pass' for s in tracer.spans)}"
        patch = trace.LayerPatch(tracer, wl.patches())
        with patch, tracer.span("pass"):
            out = wl.run_pass()
        out["layer_outputs"] = patch.outputs
    dt = time.perf_counter() - t0
    c1 = cpu_snapshot()
    out["cpu_s"] = c1[0] - c0[0]
    out["steal"] = (c1[1] - c0[1]) / max(1, c1[2] - c0[2])
    wl.finish(out)
    if ref is None:
        for problems in wl.check(out):
            _count(res, problems)
        return dt, out
    got = wl.digest(out)
    for k in ref:
        _count(res, [f"pass output {k} differs from the first, checked pass"] if got.get(k) != ref[k] else [])
    return dt, out


def _loop(spark, wl, res: dict, ref: dict, seconds: float, min_passes: int, tracer=None) -> list[tuple[float, dict]]:
    """Closed loop: passes back to back until ``seconds`` have passed and
    at least ``min_passes`` have run."""
    done, start = [], time.perf_counter()
    while len(done) < min_passes or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        try:
            done.append(_pass(spark, wl, res, ref, tracer))
        except Exception:  # a pass that raised is one failed check
            _count(res, [traceback.format_exc(limit=3)])
            done.append((time.perf_counter() - t0, {"cpu_s": 0.0, "steal": 0.0}))
    return done


def _pass_row(dt: float, out: dict) -> dict:
    return {"job_s": dt} | {k: out[k] for k in ("cpu_s", "steal", "docs_s", "ann_s") if k in out}


def run(spark, wl, args, work: Path) -> dict:
    """The first pass runs right after set-up and pays the session's
    first-job costs (JIT, codegen, Python-worker imports); its outputs are
    checked against the oracles and it is reported apart. The timed passes
    follow it, each compared with the first."""
    res = {"attempted": 0, "failed": 0, "problems": [], "traced": [], "phases": {}}
    sampler = RssSampler()
    sampler.start()
    try:
        start = time.perf_counter()
        dt, out = _pass(spark, wl, res, None)
        ref = wl.digest(out)
        res["items"] = wl.items(out)
        res["inputs"] = wl.stats(out)
        if hasattr(wl, "recalls"):
            res["recalls"] = wl.recalls(out)
        res["first_pass"] = _pass_row(dt, out)
        res["phases"]["first_pass_s"] = time.perf_counter() - start
        t0 = time.perf_counter()
        if args.trace:
            _traced(spark, wl, ref, res, args.seconds, work, args.seed)
            res["phases"]["traced_s"] = time.perf_counter() - t0
        else:
            passes = _loop(spark, wl, res, ref, args.seconds, MIN_PASSES)
            res["passes"] = [_pass_row(dt, o) for dt, o in passes]
            res["phases"]["passes_s"] = time.perf_counter() - t0
    finally:
        res["peak_rss_mb"] = sampler.stop()
    assert_nothing_cached(spark)
    return res


def _traced(spark, wl, ref, res, seconds, work, seed) -> None:
    """Traced passes for ``seconds`` (at least one), one plain pass after
    them as the base of the tracing overhead, then the probes. The plain
    pass runs last so that whatever warm-up is left after the first pass
    lands on the traced side: the overhead errs high, not low."""
    tracer = trace.Tracer(spark)
    res["tracer"] = tracer
    traced = _loop(spark, wl, res, ref, seconds, 1, tracer)
    res["passes"] = [_pass_row(dt, o) for dt, o in _loop(spark, wl, res, ref, 0, 1)]
    res["warm_s"] = res["passes"][0]["job_s"]
    for k, (_, out) in enumerate(traced):
        extra = {"pass": f"t{k}", "pixels": out.get("n_pixels")}
        # counts a plain pass does not need, read from the cached extract output
        feats = out.get("layer_outputs", {}).get("extract")
        if feats is not None:
            from pyspark.sql import functions as F

            extra["extract.quarantined"] = feats.filter(F.col("error").isNotNull()).count()
            extra["extract.features"] = feats.count() - extra["extract.quarantined"]
        res["traced"].append(extra)
    assert_nothing_cached(spark)
    probe = probes.window_probe()
    _count(res, probe.pop("mismatch"))
    res["probe"] = probe
    res["native_import_s"] = probes.native_import_s(ROOT)
    if wl.name == "ndvi_change":
        tracer.pass_id = "ckpt"
        ck = probes.checkpoint_probe(spark, tracer, ROOT, work, seed, CHECKPOINT_PAGES)
        _count(res, ck.pop("mismatch"))
        res["checkpoint"] = ck


def add_trace_metrics(res: dict, event_dir: Path, app_id: str, cores: int) -> None:
    """Fold spans and the Spark event log into the per-layer metrics."""
    spans = res["tracer"].spans
    own, uncovered, wall = trace.self_times(spans)
    passes = [s for s in spans if s["name"] == "pass"]
    n = len(passes)
    pass_walls = [s["end"] - s["start"] for s in passes]

    def layer_s(name: str) -> float:
        vals = [own.get((p["pass"], name), 0.0) for p in passes]
        return statistics.median(vals)

    def layer_rows(name: str) -> int:
        rows = [s["counts"].get("rows", 0) for s in spans if s["name"] == name and s["pass"] == "t0"]
        return rows[0] if rows else 0

    groups = trace.task_stats(trace.read_event_log(event_dir, app_id))
    traced = {g: v for g, v in groups.items() if g.startswith("t") and ":" in g}
    tasks = sorted(t for v in traced.values() for t in v["task_ms"])

    def total(key: str) -> float:
        return sum(v[key] for v in traced.values()) / n

    def layer_total(layer: str, key: str) -> float:
        return sum(v[key] for g, v in traced.items() if g.split(":", 1)[1] == layer) / n

    m = {
        "setup.get_spark_s": res["setup_s"],
        "setup.native_import_s": res["native_import_s"],
        "trace.uncovered_share": uncovered / wall,
        "trace.overhead_share": (statistics.median(pass_walls) - res["warm_s"]) / res["warm_s"],
        "spark.jobs": total("jobs"),
        "spark.tasks": len(tasks) / n,
        "spark.task_s": sum(tasks) / 1000 / n,
        "spark.concurrency": sum(tasks) / 1000 / (sum(pass_walls) * cores),
        "spark.task_p50_ms": statistics.median(tasks),
        "spark.task_max_ms": tasks[-1],
        "spark.sched_delay_ms": sum(v["sched_ms"] for v in traced.values()) / len(tasks),
        "spark.gc_s": total("gc_ms") / 1000,
        "spark.shuffle_write_mb": total("shuffle_write") / 2**20,
        "spark.shuffle_read_mb": total("shuffle_read") / 2**20,
        "spark.spill_mb": total("spill") / 2**20,
        "udf.python_s": total("python_ms") / 1000,
        "udf.boot_s": total("boot_ms") / 1000,
        "udf.init_s": total("init_ms") / 1000,
        "udf.mb_sent": total("sent_bytes") / 2**20,
        "udf.mb_received": total("received_bytes") / 2**20,
    }
    # operator layers; a layer the workload does not call reports 0
    tr0 = res["traced"][0]
    pages = res["inputs"].get("pages", 0)
    m["extract.s"] = layer_s("extract")
    m["extract.pages_per_s"] = pages / m["extract.s"] if m["extract.s"] else 0.0
    m["extract.features"] = tr0.get("extract.features", 0)
    m["extract.quarantined"] = tr0.get("extract.quarantined", 0)
    m["aoi.s"] = layer_s("aoi")
    m["aoi.rows"] = layer_rows("aoi")
    m["spatial_join.s"] = layer_s("spatial_join")
    m["spatial_join.best_rows"] = layer_rows("spatial_join")
    m["spatial_join.candidates"] = layer_total("spatial_join", "join_rows")
    m["spatial_join.candidates_per_best"] = (
        m["spatial_join.candidates"] / m["spatial_join.best_rows"] if m["spatial_join.best_rows"] else 0.0
    )
    m["ndvi.s"] = layer_s("ndvi")
    m["ndvi.rows"] = layer_rows("ndvi")
    m["ndvi.mpx"] = (tr0.get("pixels") or 0) / 1e6
    m["ndvi.mpx_per_s"] = m["ndvi.mpx"] / m["ndvi.s"] if m["ndvi.s"] else 0.0
    m["change.s"] = layer_s("change")
    m["change.pairs"] = layer_rows("change")
    m["change.pairs_per_s"] = m["change.pairs"] / m["change.s"] if m["change.s"] else 0.0
    m["metrics.trend_s"] = layer_s("metrics.trend")
    for name in ("dedup.exact", "dedup.ngram", "text.quality", "similarity.brute", "similarity.lsh", "similarity.ivf"):
        m[f"{name}_s"] = layer_s(name)
    m.update(res.get("recalls") or {"similarity.lsh_recall10": 0.0, "similarity.ivf_recall10": 0.0})
    m.update(res["probe"])
    ck = res.get("checkpoint", {})
    for name in ("stage_s", "ledger_read_s", "snapshots", "bytes_written", "partitions_recomputed",
                 "partitions_total", "fresh_s", "resume_s", "rerun_noop_s", "write_bytes_per_input_byte"):
        m[f"checkpoint.{name}"] = ck.get(f"checkpoint.{name}", 0)
    m["checkpoint.mb_written"] = m.pop("checkpoint.bytes_written") / 2**20
    res["layer_metrics"] = m
    res["layer_groups"] = {
        g: {"jobs": v["jobs"], "tasks": len(v["task_ms"]), "task_s": sum(v["task_ms"]) / 1000}
        for g, v in groups.items()
    }


def emit(res: dict, args) -> None:
    jobs = [p["job_s"] for p in res["passes"]]
    job_s = statistics.median(jobs)
    e2e = {
        "job_s": job_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in res["passes"]),
        "setup_s": res["setup_s"],
    }
    first = res["first_pass"]
    lines = [
        f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}",
        f"inputs {json.dumps(res['inputs'])}",
        f"phases {json.dumps({k: round(v, 2) for k, v in res['phases'].items()})}",
        f"job_s [s]: {tail(jobs)}",
        f"cpu_s [s]: {tail([p['cpu_s'] for p in res['passes']])}",
        f"setup_s [s]: {res['setup_s']:.4g} (one cold set-up)",
        f"first pass after set-up [s]: {first['job_s']:.4g} wall, {first['cpu_s']:.4g} cpu",
        f"host CPU steal during passes: {statistics.median(p['steal'] for p in res['passes']):.1%}",
    ]
    if args.workload == "webtext":
        docs = [res["items"] / p["docs_s"] for p in res["passes"] if "docs_s" in p]
        queries = 3 * res["inputs"]["queries"]  # three ANN operators
        ann = [queries / p["ann_s"] for p in res["passes"] if "ann_s" in p]
        lines += [f"docs_per_s [1/s]: {tail(docs)}", f"ann_queries_per_s [1/s]: {tail(ann)}"]
    else:
        lines.append(f"geometries_per_s [1/s]: {tail([res['items'] / j for j in jobs])}")
    # printed, not gated: JVM heap growth makes it swing by half from run
    # to run (3.3-5.2 GB over three seeds of one workload)
    lines.append(f"peak_rss_mb [MB]: {res['peak_rss_mb']:.1f}")
    ratio = res["failed"] / res["attempted"]
    lines.append(f"failed_ratio: {ratio:.4g} ({res['failed']} of {res['attempted']} checks)")
    for p in res["problems"][:10]:
        lines.append(f"problem: {p}")
    if args.trace:
        metrics = res["layer_metrics"]
        lines.append(f"layer groups {json.dumps(res['layer_groups'])}")
    else:
        metrics = e2e
    spec = SPEC["per_layer"] if args.trace else SPEC["end_to_end"]
    out = {}
    for s in spec:
        out[s["name"]] = {"value": float(metrics[s["name"]]), "unit": s["unit"]}
        lines.append(f"{s['name']} = {metrics[s['name']]:.6g} {s['unit']}")
    print("\n".join(lines))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": out,
    }))
