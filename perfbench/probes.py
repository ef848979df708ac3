"""Traced-run probes that are not passes of a workload.

- ``window_probe``: single-thread NDVI window kernel, native C path
  (``raster.native_window_valid``) against the numpy path
  (``raster.iter_masked_ndvi_chunks``) on one pinned window. It explains
  ``ndvi.mpx_per_s`` and shows a silent fallback to numpy.
- ``checkpoint_probe``: the ``plans/checkpoint.py`` layer, driven the way
  ``scripts/submit_job.run_job --mode full`` drives it: a fresh
  checkpointed run over the 2022-2023 window (NDVI partitioned by year),
  a resume as of a mid-run ledger snapshot (a deterministic stand-in for
  a kill) and a rerun of the completed run.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

from perfbench import inputs

PROBE_WINDOW = (0, 1024, 0, 1024)
PROBE_AUX = (0, 512, 0, 512)
PROBE_REPS = 3


def window_probe() -> dict:
    from azure_workflow_for_kml_satellite_spark.functions import native
    from azure_workflow_for_kml_satellite_spark.functions import raster as R

    seed = R.scene_seed("S2B_probe_window")
    coll = "sentinel-2-l2a"
    mpx = (PROBE_WINDOW[1] - PROBE_WINDOW[0]) * (PROBE_WINDOW[3] - PROBE_WINDOW[2]) / 1e6

    def numpy_path():
        return sum(int(vm.sum()) for _, vm, _ in R.iter_masked_ndvi_chunks(seed, coll, PROBE_WINDOW, PROBE_AUX))

    def native_path():
        return len(R.native_window_valid(seed, coll, PROBE_WINDOW, PROBE_AUX)[0])

    def rate(fn):
        n = fn()  # warm
        times = []
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return n, mpx / float(np.median(times))

    n_np, np_rate = rate(numpy_path)
    out = {"native.available": int(native.available()), "raster.window_mpx_per_s": np_rate,
           "native.window_mpx_per_s": 0.0, "mismatch": []}
    if native.available():
        n_c, c_rate = rate(native_path)
        out["native.window_mpx_per_s"] = c_rate
        if n_c != n_np:
            out["mismatch"].append(f"probe window: native {n_c} valid pixels, numpy {n_np}")
    return out


def native_import_s(root: Path) -> float:
    """Import time of the native kernel module in a fresh interpreter (the
    compiled library is already cached by the session set-up)."""
    code = (
        "import time,sys; t=time.perf_counter(); "
        "import azure_workflow_for_kml_satellite_spark.functions.native as n; "
        "sys.stdout.write(repr(time.perf_counter()-t))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120, check=True)
    return float(out.stdout)


def _bytes_under(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class _Timed:
    """Sum the wall time of calls to ``cls.attr`` while active."""

    def __init__(self, cls, attr: str):
        self.cls, self.attr, self.total = cls, attr, 0.0

    def __enter__(self):
        fn = getattr(self.cls, self.attr)
        self.fn = fn

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.total += time.perf_counter() - t0

        setattr(self.cls, self.attr, timed)
        return self

    def __exit__(self, *exc):
        setattr(self.cls, self.attr, self.fn)


def checkpoint_probe(spark, tracer, root: Path, work: Path, seed: int, n_pages: int) -> dict:
    sys.path.insert(0, str(root / "scripts"))
    import submit_job

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    data = work / "ckpt_data"
    data.mkdir(parents=True, exist_ok=True)
    idx = inputs.select_pages("checkpoint", seed, inputs.kind_quotas(n_pages))
    inputs.write_pages(data / "pages.parquet", idx)
    inputs.write_static(data)
    runs = work / "ckpt_runs"
    shutil.rmtree(runs, ignore_errors=True)
    base = ["--sf-dir", str(data), "--mode", "full", "--date-start", "2022-01-01",
            "--date-end", "2023-12-31", "--checkpoint-root", str(runs), "--run-id", "bench"]
    out: dict = {"mismatch": []}
    with _Timed(CheckpointManager, "stage") as st, _Timed(CheckpointManager, "partitioned_stage") as pst:
        with tracer.span("checkpoint.fresh") as rec:
            fresh = submit_job.run_job(spark, submit_job.parse_args(base))
    out["checkpoint.stage_s"] = st.total + pst.total
    stage_s = rec["end"] - rec["start"]
    cm = CheckpointManager(spark, str(runs), run_id="bench")
    snaps = cm.snapshots()
    total = len(cm.completed_partitions("ndvi"))
    mid = snaps[len(snaps) // 2]
    done_at_mid = len(CheckpointManager(spark, str(runs), run_id="bench", snapshot_id=mid).completed_partitions("ndvi"))
    written = _bytes_under(runs / "bench")
    with tracer.span("checkpoint.resume") as rec:
        resumed = submit_job.run_job(spark, submit_job.parse_args(base + ["--snapshot-id", str(mid)]))
    resume_s = rec["end"] - rec["start"]
    with _Timed(CheckpointManager, "ledger_rows") as lr:
        with tracer.span("checkpoint.rerun") as rec:
            rerun = submit_job.run_job(spark, submit_job.parse_args(base))
    for name, res in (("resume", resumed), ("rerun", rerun)):
        if res["counts"] != fresh["counts"]:
            out["mismatch"].append(f"checkpoint {name} counts {res['counts']} != fresh {fresh['counts']}")
    out.update({
        "checkpoint.fresh_s": stage_s,
        "checkpoint.resume_s": resume_s,
        "checkpoint.rerun_noop_s": rec["end"] - rec["start"],
        "checkpoint.ledger_read_s": lr.total,
        "checkpoint.snapshots": len(snaps),
        "checkpoint.bytes_written": written,
        "checkpoint.write_bytes_per_input_byte": written / (data / "pages.parquet").stat().st_size,
        "checkpoint.partitions_total": total,
        "checkpoint.partitions_recomputed": total - done_at_mid,
    })
    return out
