"""Checkpoint-resumable stage pipeline (north_rule requirement).

Every pipeline stage is a pure function (input tables -> output table). A
stage COMMIT atomically writes the output as parquet plus a manifest
(stage name, config fingerprint, row count, wall ms, partition count). On
restart, a stage whose manifest matches its fingerprint is SKIPPED and its
committed output is read back — so a killed job resumes at the last
committed stage with bit-identical results (stages are deterministic by
construction: fixed seeds, explicit tie-breaks).

This emulates the Iceberg snapshot-per-stage design from SURVEY.md §3.1 with
plain parquet + manifest files (the sandbox has no Iceberg runtime jar; in
production each commit is an Iceberg snapshot and resume reads
``snapshot-id``). Atomicity: parquet dir is written to ``<stage>.tmp`` and
renamed, manifest written last — a kill at any point leaves either no commit
or a complete one.

Snapshot semantics (Iceberg API surface, emulated): every commit appends to
an append-only ``_snapshot_log.jsonl`` and archives the replaced state under
``_history/``; ``read_snapshot`` is time travel, ``rollback`` promotes an
old snapshot as a NEW logged snapshot, ``expire_snapshots`` is the explicit
retention knob. See the "snapshot log" section below.

A commit runs one Spark job, the stage's own write. The per-partition
lineage records (stage, partition_id, rows, bytes_estimate) and the stage
schema come from one driver-side read of the written files' footers
(plans/lineage.py); the records are appended under ``<root>/_lineage``
with pyarrow, and the committed stage is read back with the footer
schema, so neither needs a job. A resumed stage reads its schema the same
way and runs no job at all.

A commit forces no GC: once a stage's plans are unreachable, Spark's
ContextCleaner unpersists the localCheckpoint blocks its operators left,
at the latest at the periodic GC ``session.get_spark`` schedules.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ``lineage_records`` is re-exported: perfbench's tracer wraps this name
from .lineage import (append_lineage, lineage_records,  # noqa: F401
                      part_files, read_footers, read_schema)

# the local properties ``SparkContext.setJobGroup`` sets
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")


class StageRunner:
    def __init__(self, spark: SparkSession, root: str, run_config: dict | None = None):
        self.spark = spark
        self.root = root
        self.config_fp = json.dumps(run_config or {}, sort_keys=True)
        os.makedirs(root, exist_ok=True)
        self.metrics: list[dict] = []

    def _paths(self, stage: str) -> tuple[str, str, str]:
        d = os.path.join(self.root, stage)
        return d, d + ".tmp", os.path.join(self.root, f"{stage}.manifest.json")

    @staticmethod
    def _data_token(d: str) -> str | None:
        p = os.path.join(d, "_commit.token")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def is_committed(self, stage: str) -> bool:
        d, _, mf = self._paths(stage)
        if not (os.path.exists(mf) and os.path.exists(d)):
            return False
        with open(mf) as f:
            m = json.load(f)
        if m.get("config_fp") != self.config_fp:
            return False
        # the manifest must name THIS data dir: a commit that crashed after
        # publishing its data but before replacing the manifest leaves an
        # orphaned dir under the previous manifest — without the token
        # check a same-config resume would serve the orphan as committed.
        # Exact equality required; both-None accepts pre-token commits
        return self._data_token(d) == m.get("token")

    def run_stage(self, stage: str, fn: Callable[[], DataFrame],
                  force: bool = False) -> DataFrame:
        """Execute (or resume) one stage; returns the committed DataFrame.

        A fresh commit runs the stage's write job and no other: lineage
        and schema come from the written files' footers. A resumed stage
        runs none.

        The stage's Spark jobs run in their own job group, ``<stage>``, or
        ``<caller group>/<stage>`` when the caller has set one; the
        caller's group is restored afterwards. Per-stage job counts are
        then ``statusTracker().getJobIdsForGroup(group)``. A
        ``setJobGroup`` made inside ``fn`` overrides the stage's group
        for the stage's later jobs.
        """
        sc = self.spark.sparkContext
        saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        caller = saved["spark.jobGroup.id"]
        sc.setJobGroup(f"{caller}/{stage}" if caller else stage, stage)
        try:
            return self._run_stage(stage, fn, force)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def _run_stage(self, stage: str, fn: Callable[[], DataFrame],
                   force: bool) -> DataFrame:
        d, tmp, mf = self._paths(stage)
        if not force and self.is_committed(stage):
            self.metrics.append({"stage": stage, "resumed": True})
            return self._read_committed(d)

        t0 = time.time()
        out = fn()
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        out.write.mode("overwrite").parquet(tmp)
        lin_pdf, schema = read_footers(part_files(tmp), stage)
        n_rows = int(lin_pdf["rows"].sum())
        wall_ms = int((time.time() - t0) * 1000)

        # token binds manifest <-> data dir (underscore file: invisible to
        # parquet readers, like _SUCCESS); written BEFORE the rename so the
        # publish + manifest pair is verifiable whichever side a crash hits
        token = uuid.uuid4().hex
        with open(os.path.join(tmp, "_commit.token"), "w") as f:
            f.write(token)
        if os.path.exists(d):
            self._archive_current(stage)
        os.rename(tmp, d)
        append_lineage(os.path.join(self.root, "_lineage"), lin_pdf, stage,
                       token)
        # LOG BEFORE MANIFEST (r3 advice): the snapshot log must never lag a
        # published manifest. A crash between the two now leaves a logged
        # snapshot whose manifest never published — the resume re-runs the
        # stage (token mismatch) and _archive_current files the complete
        # data dir under its logged id, keeping it time-travel readable.
        # The old order (manifest first) left a committed-but-unlogged state
        # that the next commit's orphan guard would DESTROY.
        self._log_snapshot(stage, "commit", rows=n_rows, wall_ms=wall_ms,
                           token=token)
        with open(mf + ".tmp", "w") as f:
            json.dump({"stage": stage, "config_fp": self.config_fp,
                       "rows": n_rows, "wall_ms": wall_ms, "token": token,
                       "partitions": len(lin_pdf)}, f)
        os.replace(mf + ".tmp", mf)
        self.metrics.append({"stage": stage, "resumed": False,
                             "rows": n_rows, "wall_ms": wall_ms})
        return self.spark.read.schema(schema).parquet(d)

    def _read_committed(self, d: str) -> DataFrame:
        """Read a committed stage dir with the schema its footer carries:
        no schema-inference job."""
        return self.spark.read.schema(read_schema(d)).parquet(d)

    # ------------------------------------------------------- snapshot log
    # Iceberg-semantics emulation over plain parquet: every commit appends
    # an entry to an append-only snapshot log and ARCHIVES (never deletes)
    # the stage's previous current directory, so any earlier committed state
    # stays readable by snapshot id (time travel) and can be promoted back
    # to current (rollback — itself a new logged snapshot, exactly like
    # Iceberg's rollback-creates-a-snapshot). Retention is explicit via
    # expire_snapshots; nothing is dropped implicitly. Single-writer (the
    # driver) — no concurrent-commit protocol needed here; in production
    # these calls map 1:1 onto Iceberg snapshot/rollback/expire APIs.

    def _log_path(self) -> str:
        return os.path.join(self.root, "_snapshot_log.jsonl")

    def _history_dir(self, stage: str, snap_id: int) -> str:
        return os.path.join(self.root, "_history", f"{stage}.s{snap_id}")

    def snapshots(self, stage: str | None = None) -> list[dict]:
        """The snapshot log, oldest first (optionally one stage's)."""
        p = self._log_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            entries = [json.loads(ln) for ln in f if ln.strip()]
        return [e for e in entries if stage is None or e["stage"] == stage]

    def _log_snapshot(self, stage: str, action: str, **extra) -> int:
        entries = self.snapshots()
        snap_id = (max((e["snapshot_id"] for e in entries), default=0)) + 1
        parents = [e["snapshot_id"] for e in entries if e["stage"] == stage]
        rec = {"snapshot_id": snap_id, "stage": stage, "action": action,
               "parent_snapshot_id": parents[-1] if parents else None,
               "config_fp": self.config_fp, "ts": time.time(), **extra}
        with open(self._log_path(), "a") as f:
            f.write(json.dumps(rec) + "\n")
        return snap_id

    def _archive_current(self, stage: str) -> None:
        """Move the stage's current dir+manifest into _history under the
        snapshot id that committed them (the stage's latest log entry)."""
        d, _, mf = self._paths(stage)
        prior = self.snapshots(stage)
        if not prior:               # pre-snapshot-log commit: no id to file
            shutil.rmtree(d)        # it under — legacy behavior
            return
        hist = self._history_dir(stage, prior[-1]["snapshot_id"])
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        if os.path.exists(hist):
            # the latest logged snapshot was ALREADY archived, so d is an
            # interim state. Distinguish the two ways that happens:
            # (a) COMMITTED but unlogged — a pre-reorder crash between
            #     manifest publish and log append: the stage manifest names
            #     d's token. Destroying it would lose a committed snapshot
            #     (r3 advice); instead log a recovery snapshot and archive
            #     d under it, keeping every committed state readable.
            # (b) orphaned UNCOMMITTED data (no manifest ever named it):
            #     delete — never overwrite the genuine archive with it.
            tok = self._data_token(d)
            mtok = None
            if os.path.exists(mf):
                with open(mf) as f:
                    mtok = json.load(f).get("token")
            if tok is not None and tok == mtok:
                sid = self._log_snapshot(stage, "recovered_commit", token=tok)
                hist2 = self._history_dir(stage, sid)
                os.rename(d, hist2)
                shutil.copy(mf, hist2 + ".manifest.json")
            else:
                shutil.rmtree(d)
            return
        os.rename(d, hist)
        if os.path.exists(mf):
            # attach the manifest sidecar only if it names this data (in the
            # logged-but-unpublished crash interim the live manifest still
            # describes the PREVIOUS snapshot)
            with open(mf) as f:
                mtok = json.load(f).get("token")
            if mtok == self._data_token(hist):
                shutil.copy(mf, hist + ".manifest.json")

    def _snapshot_data_dir(self, stage: str, snap_id: int) -> str:
        entries = [e for e in self.snapshots(stage)
                   if e["snapshot_id"] == snap_id]
        if not entries:
            raise KeyError(f"no snapshot {snap_id} for stage {stage!r}")
        cur = self.snapshots(stage)[-1]["snapshot_id"]
        hist = self._history_dir(stage, snap_id)
        # prefer the archive even for the current id (r3 advice): in the
        # crashed interim state the live dir may hold orphaned uncommitted
        # data while the genuine committed bytes sit under _history
        d = hist if os.path.exists(hist) or snap_id != cur \
            else self._paths(stage)[0]
        if not os.path.exists(d):
            raise FileNotFoundError(
                f"snapshot {snap_id} of {stage!r} was expired")
        return d

    def read_snapshot(self, stage: str, snapshot_id: int) -> DataFrame:
        """Time travel: read the stage's table as of a committed snapshot."""
        return self._read_committed(
            self._snapshot_data_dir(stage, snapshot_id))

    def rollback(self, stage: str, snapshot_id: int) -> DataFrame:
        """Promote an earlier snapshot back to current. The rollback is a
        NEW snapshot whose data is the old state (audit trail preserved).

        The replaced current is archived by COPY under its own id BEFORE
        anything moves, so it stays time-travel readable afterwards — in
        particular rolling back to the CURRENT id (a no-op promote) must
        not strand that id unreadable once a newer snapshot exists."""
        src = self._snapshot_data_dir(stage, snapshot_id)  # validates id
        d, _, mf = self._paths(stage)
        cur = self.snapshots(stage)[-1]["snapshot_id"]
        hist = self._history_dir(stage, cur)
        if not os.path.exists(hist):
            os.makedirs(os.path.dirname(hist), exist_ok=True)
            shutil.copytree(d, hist)
            if os.path.exists(mf):
                shutil.copy(mf, hist + ".manifest.json")
        if snapshot_id != cur:
            shutil.rmtree(d)
            shutil.copytree(src, d)
            src_mf = src + ".manifest.json"
            if os.path.exists(src_mf):
                shutil.copy(src_mf, mf)
        self._log_snapshot(stage, "rollback", rolled_back_to=snapshot_id)
        return self._read_committed(d)

    def expire_snapshots(self, stage: str, keep_last: int = 2) -> list[int]:
        """Drop archived data dirs beyond the newest ``keep_last`` snapshots
        (the log itself is never rewritten — expired ids stay auditable)."""
        ids = [e["snapshot_id"] for e in self.snapshots(stage)]
        expired = []
        for sid in ids[:-keep_last] if keep_last > 0 else ids[:-1]:
            hist = self._history_dir(stage, sid)
            if os.path.exists(hist):
                shutil.rmtree(hist)
                if os.path.exists(hist + ".manifest.json"):
                    os.remove(hist + ".manifest.json")
                expired.append(sid)
        return expired
