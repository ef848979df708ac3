"""Stage checkpointing with per-partition lineage + metrics and resume
(the north rule's "every stage checkpoints per-partition lineage + metrics
... so runs resume mid-job").

The reference gets resumability from Durable Functions replay + claim-check
blobs (reference: blueprints/pipeline/orchestrator.py, storage/offload.py:23-106);
the Spark-native equivalent is a write-audit pattern:

- every stage writes its output as a (optionally partitioned) parquet table
  under ``<root>/<run_id>/<stage>/``;
- a ledger TABLE ``<root>/<run_id>/_ledger/`` (parquet, append-only,
  Iceberg-shaped schema) records one row per (stage, partition_value) with
  row counts, wall-clock and status — the role of the reference's
  ResourceAccumulator + pipeline_stats (resource_accumulator.py:17-105).
  Being a table write rather than driver-side JSON files, the resume
  metadata itself scales with the job and is queryable like any dataset;
- on re-run, completed stages short-circuit to a read of the checkpoint;
  partitioned stages resume mid-stage with a **left-anti join** of the input
  against the ledger's completed partition values (SURVEY.md §2.3: "left-anti
  only for resume").

This module uses plain directory-parquet so it runs offline (no Iceberg
runtime jars in this sandbox), but the ledger commits with Iceberg's
SEMANTICS, not just its schema:

- **atomic snapshot commit** — each append stages its parquet data file(s),
  then publishes a snapshot manifest ``_ledger/_snapshots/v{N}.json``
  listing every live data file. The manifest appears atomically via
  ``os.link`` of a fully-written temp file, so readers never observe a
  half-commit;
- **concurrent-writer fence** — ``v{N}.json`` can be created exactly once
  (link fails with EEXIST); a losing writer re-reads the new head and
  retries on top of it (Iceberg's optimistic-concurrency loop), so two
  simultaneous appends serialize and neither's rows are lost;
- **snapshot isolation + time travel** — readers resolve a manifest (head
  by default, or a pinned ``snapshot_id``) and read EXACTLY its file list;
  a concurrent writer's staged data becomes visible only with its
  manifest. ``CheckpointManager(..., snapshot_id=N)`` resumes a run
  *as of* snapshot N.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

LEDGER_SCHEMA = (
    "run_id string, stage string, partition string, rows long, "
    "duration_s double, status string, ts string, "
    # duration_s is AMORTIZED (group wall-time / group size) when a
    # partitioned stage commits with commit_grain > 1; the real
    # measurement is group_duration_s, shared by every row of the same
    # (stage, commit_group). Pre-grain ledgers read these as null.
    "commit_group long, group_duration_s double"
)

_COMMIT_RETRIES = 100

# Hive/Spark writes null partition values under this directory name
_HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition(name: str) -> str:
    """Decode the %XX escaping Spark applies to partition directory names
    (Hive ``FileUtils.unescapePathName`` semantics, used by Spark's
    ``ExternalCatalogUtils``): ``%`` followed by two hex digits is the
    escaped character; anything else passes through literally."""
    out: list[str] = []
    i = 0
    while i < len(name):
        if name[i] == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


def _partition_dir(out: Path, partition_col: str, val) -> Path | None:
    """The on-disk directory Spark wrote (or would have written) for this
    partition value, or None. Located by LISTING the stage output and
    decoding each directory name — naive ``f"{col}={val}"`` formatting
    misses Spark's %XX escaping of special characters and would leave
    crash leftovers with e.g. ':' or '%' in the value undetected."""
    if not out.exists():
        return None
    prefix = f"{partition_col}="
    want = _HIVE_NULL_PARTITION if val is None else str(val)
    for entry in out.iterdir():
        if not entry.is_dir() or not entry.name.startswith(prefix):
            continue
        if _unescape_partition(entry.name[len(prefix) :]) == want:
            return entry
    return None


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        run_id: str | None = None,
        snapshot_id: int | None = None,
    ):
        self.spark = spark
        self.root = Path(root)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.run_dir = self.root / self.run_id
        self.ledger_dir = self.run_dir / "_ledger"
        self.snapshot_id = snapshot_id

    # ── snapshot manifests (Iceberg-semantics layer) ────────────────────────

    @property
    def _snapshots_dir(self) -> Path:
        return self.ledger_dir / "_snapshots"

    def snapshots(self) -> list[int]:
        """All committed snapshot ids, ascending."""
        if not self._snapshots_dir.exists():
            return []
        out = []
        for p in self._snapshots_dir.glob("v*.json"):
            try:
                out.append(int(p.stem[1:]))
            except ValueError:
                continue
        return sorted(out)

    def current_snapshot_id(self) -> int | None:
        ids = self.snapshots()
        return ids[-1] if ids else None

    def _read_manifest(self, sid: int) -> dict:
        return json.loads((self._snapshots_dir / f"v{sid}.json").read_text())

    def _commit_snapshot(self, new_files: list[str]) -> int:
        """Publish a new manifest containing the base file list plus
        ``new_files``. The base is the current head — or, for a manager
        pinned to an older ``snapshot_id``, the PINNED manifest's list on
        its first commit (Iceberg rollback semantics: committing on top of
        a time-traveled read branches history from that snapshot; the
        abandoned tail's files become orphans once its manifests expire),
        after which the pin clears and the manager works at its new head.
        Optimistic-concurrency loop: the exclusive link of v{N}.json is the
        commit point; on EEXIST re-read the head and retry on top of it."""
        self._snapshots_dir.mkdir(parents=True, exist_ok=True)
        for _ in range(_COMMIT_RETRIES):
            head = self.current_snapshot_id()
            if self.snapshot_id is not None:
                try:
                    base = self._read_manifest(self.snapshot_id)["files"]
                except FileNotFoundError:
                    raise ValueError(
                        f"unknown ledger snapshot {self.snapshot_id}"
                    ) from None
                parent = self.snapshot_id
            elif head is None:
                base = []
                parent = None
            else:
                base = self._read_manifest(head)["files"]
                parent = head
            target = (head or 0) + 1
            manifest = {
                "snapshot_id": target,
                "parent": parent,
                "files": base + [f for f in new_files if f not in base],
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
            tmp = self._snapshots_dir / f"_tmp-{uuid.uuid4().hex}.json"
            tmp.write_text(json.dumps(manifest))
            try:
                os.link(tmp, self._snapshots_dir / f"v{target}.json")
                # a pinned manager's first commit branches history from the
                # pinned snapshot; from here on it reads/writes at its head
                self.snapshot_id = None
                return target
            except FileExistsError:
                continue  # another writer won the race — rebase and retry
            finally:
                tmp.unlink(missing_ok=True)
        raise RuntimeError(
            f"ledger commit contention: lost {_COMMIT_RETRIES} races in a row"
        )

    def _live_files(self) -> list[str]:
        """The data files visible to this manager: the pinned snapshot's
        list, else the head manifest's, else none (nothing committed yet)."""
        sid = self.snapshot_id if self.snapshot_id is not None else self.current_snapshot_id()
        if sid is not None:
            try:
                return self._read_manifest(sid)["files"]
            except FileNotFoundError:
                raise ValueError(f"unknown ledger snapshot {sid}") from None
        return []

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Iceberg's ``expire_snapshots``: drop all but the newest
        ``keep_last`` manifests (the head is always kept). Returns the
        expired ids. Time travel to an expired id then raises; data files
        still referenced by a surviving manifest are untouched."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        ids = self.snapshots()
        expired = ids[:-keep_last]
        for sid in expired:
            (self._snapshots_dir / f"v{sid}.json").unlink(missing_ok=True)
        return expired

    def remove_orphans(self, older_than_s: float = 300.0) -> list[str]:
        """Iceberg's ``remove_orphan_files``: delete ``commit-*`` data
        files referenced by NO surviving manifest (crashed writers, expired
        history). Files listed by any manifest, and any file not named
        ``commit-*``, are kept. Returns the removed names.

        ``older_than_s`` is the same guard Iceberg's procedure applies: an
        appender publishes its data file (``os.replace`` into the ledger
        dir) BEFORE linking the manifest that references it, so a just-
        staged commit file is indistinguishable from an orphan for that
        window. Files younger than the grace period are skipped; pass 0
        only when no writer can be in flight."""
        referenced: set[str] = set()
        for sid in self.snapshots():
            referenced.update(self._read_manifest(sid)["files"])
        removed = []
        now = time.time()
        if self.ledger_dir.exists():
            for p in sorted(self.ledger_dir.glob("commit-*.parquet")):
                if p.name in referenced:
                    continue
                try:
                    age = now - p.stat().st_mtime
                except FileNotFoundError:
                    continue  # another GC beat us to it
                if age < older_than_s:
                    continue  # possibly an in-flight append — keep
                p.unlink()
                removed.append(p.name)
        return removed

    # ── ledger ──────────────────────────────────────────────────────────────

    def ledger(self) -> DataFrame:
        """The ledger as a DataFrame (empty with the right schema if no row
        has been committed yet) — a snapshot-isolated read: exactly the
        files listed by the resolved manifest (pinned ``snapshot_id`` or
        head). Files in ``_ledger/`` that no manifest lists are never
        read."""
        files = self._live_files()
        if files:
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(
                *[str(self.ledger_dir / f) for f in files]
            )
        return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def _append_ledger(self, rows: list[dict]) -> None:
        """Append = stage a data file, then atomically publish a snapshot
        manifest referencing it (see module doc). The data file is invisible
        to readers until its manifest commits."""
        import shutil

        staging = self.ledger_dir / "_staging" / uuid.uuid4().hex
        (
            self.spark.createDataFrame(
                [
                    (
                        r["run_id"],
                        r["stage"],
                        r["partition"],
                        r["rows"],
                        r["duration_s"],
                        r["status"],
                        r["ts"],
                        r.get("commit_group"),
                        r.get("group_duration_s"),
                    )
                    for r in rows
                ],
                LEDGER_SCHEMA,
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        new_files = []
        for part in sorted(staging.glob("part-*.parquet")):
            name = f"commit-{uuid.uuid4().hex}.parquet"
            os.replace(part, self.ledger_dir / name)
            new_files.append(name)
        shutil.rmtree(staging, ignore_errors=True)
        if new_files:
            self._commit_snapshot(new_files)

    def ledger_rows(self) -> list[dict]:
        if not self._live_files():
            return []
        return [r.asDict() for r in self.ledger().collect()]

    def completed_partitions(self, stage: str) -> set[str]:
        return {
            r["partition"]
            for r in self.ledger_rows()
            if r["stage"] == stage and r["status"] == "completed"
        }

    def stage_completed(self, stage: str) -> bool:
        return any(
            r["stage"] == stage and r["partition"] == "__ALL__" and r["status"] == "completed"
            for r in self.ledger_rows()
        )

    # ── stages ──────────────────────────────────────────────────────────────

    def stage(self, name: str, df: DataFrame) -> DataFrame:
        """Checkpoint a whole stage. Completed → read back (skip recompute);
        otherwise compute, write, record per-output-file lineage metrics."""
        out = self.run_dir / name
        if self.stage_completed(name):
            return self.spark.read.parquet(str(out))
        t0 = time.time()
        df.write.mode("overwrite").parquet(str(out))
        duration = time.time() - t0
        back = self.spark.read.parquet(str(out))
        per_file = (
            back.groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        rows = [
            {
                "run_id": self.run_id,
                "stage": name,
                "partition": Path(r["file"]).name,
                "rows": r["count"],
                "duration_s": round(duration, 3),
                "status": "completed",
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
            for r in per_file
        ]
        rows.append(
            {
                "run_id": self.run_id,
                "stage": name,
                "partition": "__ALL__",
                "rows": sum(r["count"] for r in per_file),
                "duration_s": round(duration, 3),
                "status": "completed",
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )
        self._append_ledger(rows)
        return back

    def partitioned_stage(
        self,
        name: str,
        df: DataFrame,
        partition_col: str,
        commit_grain: int | None = None,
    ) -> DataFrame:
        """Checkpoint a stage partitioned by a column, resuming mid-stage:
        already-completed partition values are skipped via left-anti join of
        the INPUT against the ledger (only missing partitions recompute).

        Partition values commit in groups of ``commit_grain`` — each group's
        parquet write and ledger rows land before the next group starts — so
        a hard kill (SIGKILL, node loss) mid-stage durably keeps every
        finished group and the resume recomputes only the missing values
        (demonstrated end-to-end at the bench operating point in
        scripts/bench_resume.py). Each commit is a job barrier costing a few
        hundred ms over the single-write formulation — the price of
        mid-stage durability. The default grain scales with cluster
        parallelism (1 value per commit up to 32 cores — the finest
        durability, right for this box — rising to ~parallelism/32 values on
        a large cluster, where per-value barriers would idle executors and a
        lost group is cheap to recompute relative to the fleet's throughput).
        """
        out = self.run_dir / name
        done = self.completed_partitions(name)
        todo = df
        if done:
            done_df = self.spark.createDataFrame(
                [(v,) for v in done], [partition_col]
            )
            todo = df.join(F.broadcast(done_df), partition_col, "left_anti")
        # cache the pruned input once: each per-group pass filters it
        todo = todo.persist()
        try:
            missing = sorted(
                (
                    r[0]
                    for r in todo.select(partition_col).distinct().collect()
                ),
                key=str,
            )
            grain = commit_grain or max(
                1, self.spark.sparkContext.defaultParallelism // 32
            )
            self.spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            for i in range(0, len(missing), grain):
                group = missing[i : i + grain]
                t0 = time.time()
                for val in group:
                    # a crash BETWEEN a group's parquet write and its ledger
                    # rows leaves committed-looking files with no ledger
                    # entry; wipe them before recomputing or append would
                    # double those rows. Spark escapes special characters
                    # (':', '%', control chars, ...) in partition directory
                    # names, so the leftover is located by DECODING directory
                    # names, never by formatting the value ourselves.
                    leftover = _partition_dir(out, partition_col, val)
                    if leftover is not None:
                        import shutil as _shutil

                        _shutil.rmtree(leftover)
                part = todo.filter(F.col(partition_col).isin(group))
                part.write.mode("append").partitionBy(partition_col).parquet(
                    str(out)
                )
                dt = time.time() - t0
                rows = []
                for val in group:
                    # verification count reads ONLY the just-written
                    # subdirectory — reading the whole stage output here is
                    # O(P^2) file listing as committed partitions accumulate
                    sub = _partition_dir(out, partition_col, val)
                    n = (
                        self.spark.read.parquet(str(sub)).count()
                        if sub is not None
                        else 0
                    )
                    rows.append(
                        {
                            "run_id": self.run_id,
                            "stage": name,
                            "partition": str(val),
                            "rows": n,
                            # amortized when len(group) > 1 (see
                            # LEDGER_SCHEMA); group_duration_s is the
                            # real wall-time of this commit group
                            "duration_s": round(dt / len(group), 3),
                            "status": "completed",
                            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
                            "commit_group": i // grain,
                            "group_duration_s": round(dt, 3),
                        }
                    )
                self._append_ledger(rows)
        finally:
            todo.unpersist()
        return self.spark.read.parquet(str(out))

    def metrics(self) -> DataFrame:
        """The per-partition metrics table (A11 analog) — the ledger itself."""
        return self.ledger()
