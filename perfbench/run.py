"""Repo benchmark: one seeded workload per process on ``local[nproc]``.

    python3 perfbench/run.py --workload attach|crawl --seed N \
        --seconds S --trace 0|1

Run from the repository root. Each run:

1. starts the session and generates the seeded input three times
   (``setup_s`` = session start + the median generation);
2. runs one untimed warm-up rep per workload (``attach``: two), so the
   JIT, the Python workers and the generated code are warm;
3. repeats the timed chain until ``--seconds`` have passed and at least
   the workload's minimum reps ran (``crawl``: two, since one pipeline rep
   takes longer than the window); a ``crawl`` rep writes a fresh
   checkpoint root, reopens it (resume) and deletes it after its check;
4. checks every rep against ground truth computed without the code under
   test; checks are never timed.

``peak_rss_mb`` is read after the first timed rep, so it covers the same
work in every run however many reps fit in the window.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
the line before it carries every end-to-end figure of the workload,
including the ones only some workloads have (``resume_s``, ``dup_recall``,
``false_drop_frac``, ``failed_frac``), and the CPU count, git revision
and sizes. With ``--trace 1`` the run writes an uncompressed Spark event
log, sets a job group and a span around each call into a layer, times
lazy layers alone on the same input, runs the workload's traced-only
sections (``attach``: one ``terrain`` pipeline run into a fresh root, with
its resume and oracle check), and the last line carries the per-layer
metrics. Layers a workload bypasses read 0.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import harness as H  # noqa: E402

WORKLOADS = ("attach", "crawl")
GENERATIONS = 3

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB"}
REPORT_UNITS = {**END_TO_END, "resume_s": "s", "dup_recall": "ratio",
                "false_drop_frac": "ratio", "failed_frac": "ratio"}
EVENT_LAYERS = ["warc", "html", "dedup", "textstats", "sampling",
                "rasterize", "cellindex", "docs", "terrain", "clustering",
                "zones", "checkpointing"]
# per-layer metric -> (layer, span name, kind) of the spans it sums
SPAN_METRICS = {
    "warc.parse_s": ("warc", "parse", "iso"),
    "html.extract_s": ("html", "extract", "iso"),
    "dedup.exact_s": ("dedup", "exact", "iso"),
    "dedup.minhash_s": ("dedup", "minhash", "iso"),
    "dedup.groups_s": ("dedup", "groups", "iso"),
    "cellindex.encode_s": ("cellindex", "encode", "iso"),
    "dedup.exact_stage_s": ("dedup", "dedup", "chain"),
    "dedup.near_stage_s": ("dedup", "near_dedup", "chain"),
    "textstats.quality_s": ("textstats", "quality", "chain"),
    "textstats.redact_s": ("textstats", "scrub", "chain"),
    "sampling.split_s": ("sampling", "split", "chain"),
    "sampling.shard_s": ("sampling", "shard", "chain"),
    "rasterize.burn_s": ("rasterize", "burn", "chain"),
    "docs.attach_s": ("docs", "attach", "chain"),
    "checkpointing.lineage_s": ("checkpointing", "lineage", "chain"),
    "checkpointing.release_s": ("checkpointing", "release", "chain"),
    **{f"{layer}.{s}_s": (layer, s, "chain")
       for layer, ss in (("terrain", ("fill", "fdir", "acc", "channels",
                                      "basins", "hand", "hillslopes")),
                         ("clustering", ("tiles", "hrus")),
                         ("zones", ("basin_props", "hillslope_props",
                                    "hru_props", "channel_props")))
       for s in ss},
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    **{k: "s" for k in SPAN_METRICS},
    "warc.records_lost": "count", "warc.parse_passes": "ratio",
    "dedup.candidate_pairs": "count", "dedup.pair_precision": "ratio",
    "checkpointing.written_mb": "MB", "checkpointing.resume_read_s": "s",
    "terrain.run_s": "s", "terrain.span_coverage": "ratio",
    **{f"{layer}.{m}": u for layer in EVENT_LAYERS
       for m, u in (("cpu_s", "s"), ("shuffle_mb", "MB"),
                    ("spill_mb", "MB"), ("task_skew", "ratio"))},
    "trace.chain_s": "s", "trace.span_coverage": "ratio",
}


def git_sha() -> str:
    try:
        return subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def one_rep(wl, spark, inp, want, tracer, rep_dir) -> tuple[dict, list]:
    """Timed chain, timed resume, then the untimed check."""
    c0, t0 = H.tree_cpu_s(), time.perf_counter()
    out = wl.run_rep(spark, inp, tracer, rep_dir)
    rec = {"wall_s": time.perf_counter() - t0, "cpu_s": H.tree_cpu_s() - c0,
           "written_mb": H.dir_mb(rep_dir)}
    if wl.resume:
        t0 = time.perf_counter()
        with tracer.span("checkpointing", "resume"), \
                tracer.wrap_checkpointing({}):
            out["resumed"] = wl.resume(spark, inp, rep_dir)
        rec["resume_s"] = time.perf_counter() - t0
    bad = wl.check(spark, inp, want, out)
    rec.update(wl.quality(spark, inp, want, out))
    rec["out"] = out
    return rec, bad


def measure(wl, spark, inp, want, tracer, work, seconds) -> dict:
    """Warm-up, then timed reps until ``seconds`` have passed. Each rep's
    checkpoint root is deleted when the next rep starts; the last one
    stays for the traced run's isolated timings."""
    for k in range(wl.WARMUP_REPS):
        rep_dir = H.fresh_dir(os.path.join(work, "warmup"))
        wl.run_rep(spark, inp, H.Tracer(spark, "", False), rep_dir)
        shutil.rmtree(rep_dir)
    reps, failures, attempted, peak_mb = [], [], 0, 0.0
    t_end = time.perf_counter() + seconds
    while attempted < wl.MIN_REPS or time.perf_counter() < t_end:
        attempted += 1
        rep_dir = H.fresh_dir(os.path.join(work, "rep"))
        try:
            rec, bad = one_rep(wl, spark, inp, want, tracer, rep_dir)
            reps.append(rec)
        except Exception:  # noqa: BLE001 - a raising rep counts as failed
            traceback.print_exc()
            bad = ["rep raised"]
        if attempted == 1:
            peak_mb = H.tree_peak_rss_mb()
        if bad:
            failures.append(bad)
            print(f"rep {attempted} failed its check: {bad}",
                  file=sys.stderr)
    return {"reps": reps, "attempted": attempted, "failures": failures,
            "peak_mb": peak_mb}


def traced_section(name, spark, seed, tracer, work) -> dict:
    """A workload chain that runs once, cold, only in the traced run."""
    wl = importlib.import_module(f"wl_{name}")
    inp = wl.generate(spark, seed, H.fresh_dir(os.path.join(work, name)))
    want = wl.expected(inp)
    rep_dir = H.fresh_dir(os.path.join(work, f"{name}-rep"))
    try:
        rec, bad = one_rep(wl, spark, inp, want, tracer, rep_dir)
    except Exception:  # noqa: BLE001 - a raising section counts as failed
        traceback.print_exc()
        rec, bad = None, [f"{name} section raised"]
    return {"wl": wl, "rec": rec, "failures": bad}


def span_values(tracer, reps_of) -> dict:
    """Per-layer span metrics, per rep of the section the layer ran in."""
    vals = {}
    for key, (layer, name, kind) in SPAN_METRICS.items():
        scale = 1.0 if kind == "iso" else 1.0 / reps_of(layer)
        vals[key] = tracer.self_s(layer, name, kind=kind) * scale
    resumes = [s for s in tracer.spans
               if s["layer"] == "checkpointing" and s["name"] == "resume"]
    vals["checkpointing.resume_read_s"] = sum(
        s["t1"] - s["t0"] for s in resumes) / reps_of("checkpointing")
    return vals


def coverage(tracer, layers, wall, n) -> float:
    """Share of the chain's wall time that its top-level spans cover
    (StageRunner stages, or attach's burn and attach calls)."""
    top = sum(s["t1"] - s["t0"] for s in tracer.spans
              if s["kind"] == "chain" and s["parent"] is None
              and s["layer"] in layers and s["name"] != "resume")
    return top / n / wall if wall else 0.0


def fold_events(vals, workload, eventlog, reps_of, archive_mb) -> None:
    stage_group, tasks = H.read_event_log(eventlog)
    for layer, rows in H.layer_rows(stage_group, tasks, workload,
                                    EVENT_LAYERS).items():
        scale = 1.0 if rows.pop("kind") == "iso" else 1.0 / reps_of(layer)
        for m, v in rows.items():
            vals[f"{layer}.{m}"] = v if m == "task_skew" else v * scale
    if archive_mb:
        # input bytes the dedup stage scanned per archive byte: 2.0 means
        # the lazy WARC parse ran twice inside the stage
        vals["warc.parse_passes"] = H.input_mb(
            stage_group, tasks, f"{workload}/chain/dedup/dedup"
        ) / archive_mb / reps_of("warc")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    wl = importlib.import_module(f"wl_{args.workload}")
    work = H.fresh_dir(os.path.join(REPO, ".perfbench_work",
                                    f"{args.workload}-{os.getpid()}"))
    try:
        return run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, work) -> int:
    trace = bool(args.trace)
    eventlog = os.path.join(work, "eventlog") if trace else None
    spark, sections, vals = None, [], {}
    try:
        cpus = H.cpu_count()
        t0 = time.perf_counter()
        spark = H.start_session(REPO, work, cpus, eventlog)
        session_s = time.perf_counter() - t0
        gens = []
        for k in range(GENERATIONS):
            gen_dir = H.fresh_dir(os.path.join(work, f"input{k}"))
            t0 = time.perf_counter()
            inp = wl.generate(spark, args.seed, gen_dir)
            gens.append(time.perf_counter() - t0)
        want = wl.expected(inp)
        tracer = H.Tracer(spark, args.workload, trace)
        res = measure(wl, spark, inp, want, tracer, work, args.seconds)
        reps = res["reps"]
        if not reps:
            print("no rep completed", file=sys.stderr)
            return 1
        wall = statistics.median([r["wall_s"] for r in reps])
        if trace:
            vals.update(wl.isolate(spark, inp, reps[-1]["out"], tracer))
            sections = [traced_section(name, spark, args.seed, tracer, work)
                        for name in wl.TRACED_SECTIONS]
    finally:
        H.stop_session(spark)
    for sec in sections:
        res["attempted"] += 1
        if sec["failures"]:
            res["failures"].append(sec["failures"])
            print(f"traced section failed its check: {sec['failures']}",
                  file=sys.stderr)

    if trace:
        section_layers = {layer for sec in sections
                          for layer in sec["wl"].LAYERS}

        def reps_of(layer):
            return 1 if layer in section_layers else len(reps)

        vals.update(span_values(tracer, reps_of))
        vals["session.start_s"] = session_s
        vals["checkpointing.written_mb"] = statistics.median(
            [r["written_mb"] for r in reps])
        vals["trace.chain_s"] = wall
        vals["trace.span_coverage"] = coverage(tracer, wl.LAYERS, wall,
                                               len(reps))
        for sec in sections:
            if sec["rec"] is not None:
                run_s = sec["rec"]["wall_s"]
                vals["checkpointing.written_mb"] = sec["rec"]["written_mb"]
                vals[f"{sec['wl'].NAME}.run_s"] = run_s
                vals[f"{sec['wl'].NAME}.span_coverage"] = coverage(
                    tracer, sec["wl"].LAYERS, run_s, 1)
        fold_events(vals, args.workload, eventlog, reps_of,
                    inp.get("archive_mb", 0.0))
        vals = {k: vals.get(k, 0.0) for k in PER_LAYER_UNITS}

    e2e = {"setup_s": session_s + statistics.median(gens),
           "items_per_s": inp["items"] / wall,
           "cpu_s": statistics.median([r["cpu_s"] for r in reps]),
           "peak_rss_mb": res["peak_mb"]}
    report = dict(e2e, failed_frac=len(res["failures"]) / res["attempted"])
    for key in ("resume_s", "dup_recall", "false_drop_frac"):
        if key in reps[0]:
            report[key] = statistics.median([r[key] for r in reps])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "item": wl.ITEM, "items": inp["items"], "sizes": wl.SIZES,
        "cpus": cpus, "git_sha": git_sha(), "warmup_reps": wl.WARMUP_REPS,
        "rep_wall_s": [r["wall_s"] for r in reps], "generation_s": gens,
        "session_s": session_s, "failures": res["failures"],
        "report": {k: {"value": v, "unit": REPORT_UNITS[k]}
                   for k, v in report.items()},
    }))
    metrics = ({k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                for k, v in vals.items()} if trace else
               {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()})
    print(json.dumps({"correct": not res["failures"],
                      "attempted": res["attempted"],
                      "failed": len(res["failures"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
