"""Shared benchmark machinery: the Spark session's lifetime, process-tree
CPU and memory read from /proc, spans with Spark job groups for the traced
run, and the fold of Spark's event log into per-layer rows.

Nothing here imports the engine at module load; the session and the
wrappers import it lazily, so a checkout without the package fails at the
first workload import in run.py instead.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import statistics
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
DRIVER_MEMORY = "3g"


# ------------------------------------------------------------ process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(rest[1]), []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every live process below this one."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree() -> list[int]:
    return [os.getpid(), *descendants()]


def tree_cpu_s() -> float:
    """CPU seconds of this driver, the JVM it launched and the Python
    workers under the JVM. Exited children are counted through their
    parent's cutime/cstime once reaped, so nothing is counted twice."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in rest[11:15])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------- session

def start_session(repo: str, work: str, cpus: int, eventlog: str | None):
    """Start ``local[cpus]`` through the engine's public ``get_spark``.

    Scratch space, JVM temp files and Python worker imports all point
    inside ``work`` / ``repo`` so the run touches nothing outside its
    checkout. With ``eventlog`` set, Spark writes an uncompressed event
    log there; the directory must exist before the context starts."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog,
                     "spark.eventLog.compress": "false"})
    from geospatialtools_spark.session import get_spark
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin so it exits, and wait for every
    process this run started (JVM, Python daemon and workers)."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate to a kill below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def force(df) -> None:
    """Evaluate every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------------ tracing

class Tracer:
    """Spans at the benchmark's calls into each layer.

    Disabled (the untraced run), every span is a bare context. Enabled, a
    span records its wall time and parent, and sets the Spark job group
    ``<workload>/<layer>/<name>`` so the event log attributes the span's
    tasks to the layer. ``kind`` is "chain" for calls on the timed chain
    and "iso" for a lazy layer timed alone on the same input."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str, kind: str = "chain"):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        group = f"{self.workload}/{kind}/{layer}/{name}"
        rec = {"layer": layer, "name": name, "kind": kind, "group": group,
               "parent": parent["id"] if parent else None,
               "id": len(self.spans), "child_s": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(group, name)
        rec["t0"] = time.perf_counter()
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            if parent:
                parent["child_s"] += rec["t1"] - rec["t0"]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setJobGroup(f"{self.workload}/untraced", "")

    def self_s(self, layer: str, name: str, kind: str = "chain") -> float:
        """Summed self time (span minus its child spans) of matching spans."""
        return sum(s["t1"] - s["t0"] - s["child_s"] for s in self.spans
                   if (s["layer"], s["name"], s["kind"]) == (layer, name, kind))

    @contextmanager
    def wrap_checkpointing(self, stage_layers: dict[str, str]):
        """Give every StageRunner stage, lineage scan and block release
        its own span, by wrapping ``StageRunner.run_stage``, the
        ``lineage_records`` name ``plans.checkpointing`` imports, and
        ``session.release_blocks`` for the duration of the block."""
        if not self.enabled:
            yield
            return
        from geospatialtools_spark import session as S
        from geospatialtools_spark.plans import checkpointing as C
        orig_run, orig_lin, orig_rel = (C.StageRunner.run_stage,
                                        C.lineage_records, S.release_blocks)
        tracer = self

        def run_stage(runner, stage, fn, force=False):
            with tracer.span(stage_layers.get(stage, "checkpointing"), stage):
                return orig_run(runner, stage, fn, force)

        class _TimedScan:
            """run_stage calls ``toPandas`` on the lineage frame; that
            call is the scan, so it gets the span."""

            def __init__(self, df):
                self._df = df

            def toPandas(self):
                with tracer.span("checkpointing", "lineage"):
                    return self._df.toPandas()

            def __getattr__(self, attr):
                return getattr(self._df, attr)

        def lineage_records(df, stage):
            return _TimedScan(orig_lin(df, stage))

        def release_blocks(spark):
            with tracer.span("checkpointing", "release"):
                orig_rel(spark)

        C.StageRunner.run_stage = run_stage
        C.lineage_records = lineage_records
        S.release_blocks = release_blocks
        try:
            yield
        finally:
            C.StageRunner.run_stage = orig_run
            C.lineage_records = orig_lin
            S.release_blocks = orig_rel


# --------------------------------------------------------------- event log

def read_event_log(eventlog: str) -> tuple[dict, dict]:
    """Fold the event log into (stage_id -> job group, stage_id -> tasks).
    Each task is (duration_s, executor_cpu_s, shuffle_bytes, spill_bytes,
    input_bytes)."""
    files = sorted(
        (p for p in glob.glob(os.path.join(eventlog, "**", "*"),
                              recursive=True)
         if os.path.isfile(p)),
        key=lambda p: (os.path.dirname(p),
                       int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0))
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[tuple]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    shuffle = (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)
                               + sw.get("Shuffle Bytes Written", 0))
                    spill = (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
                    tasks.setdefault(ev["Stage ID"], []).append((
                        (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        m.get("Executor CPU Time", 0) / 1e9, shuffle, spill,
                        (m.get("Input Metrics") or {}).get("Bytes Read", 0)))
    return stage_group, tasks


def layer_rows(stage_group: dict, tasks: dict, workload: str,
               layers: list[str]) -> dict[str, dict]:
    """Per-layer executor CPU, shuffle, spill and task skew. A layer's rows
    come from its chain job groups; a layer that runs lazily inside another
    layer's jobs takes them from the job that timed it alone."""
    out = {}
    for layer in layers:
        rows = {}
        for kind in ("chain", "iso"):
            prefix = f"{workload}/{kind}/{layer}/"
            sids = [s for s, g in stage_group.items()
                    if g.startswith(prefix) and s in tasks]
            if sids:
                break
        rows["kind"] = kind
        ts = [t for s in sids for t in tasks[s]]
        rows["cpu_s"] = sum(t[1] for t in ts)
        rows["shuffle_mb"] = sum(t[2] for t in ts) / 1e6
        rows["spill_mb"] = sum(t[3] for t in ts) / 1e6
        # skew of the layer's heaviest Spark stage: max / median task time
        heavy = max(sids, key=lambda s: sum(t[0] for t in tasks[s]),
                    default=None)
        if heavy is not None and tasks[heavy]:
            durs = [t[0] for t in tasks[heavy]]
            rows["task_skew"] = max(durs) / max(statistics.median(durs), 1e-3)
        else:
            rows["task_skew"] = 0.0
        out[layer] = rows
    return out


def input_mb(stage_group: dict, tasks: dict, prefix: str) -> float:
    return sum(t[4] for s, g in stage_group.items() if g.startswith(prefix)
               for t in tasks.get(s, [])) / 1e6
