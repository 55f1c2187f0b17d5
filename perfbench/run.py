"""The repository benchmark.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/summarize.py

Runs one workload at ``local[<nproc>]`` through the engine's ``get_spark``
defaults, from the root of a checkout, and checks its outputs. Prints the
session conf, every metric of the workload with its unit, and as the last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` turns on spans, stage-prefix probes and the Spark event log and reports
the per-layer metrics instead. Each run writes its full record (and, when
traced, its spans) under ``perfbench/.work/results/``.

Workloads (the reason for each is in BENCHMARK.json), all closed loops
with one caller; ``--seconds`` sets how much work a run does:
  bulk                 one backlog replayed into a merge-on-read and a
                       copy-on-write table (cdc.py)
  trickle_and_queries  small epochs with renames, a redelivered epoch and
                       schema evolution, then a change-feed
                       follower and three incremental views catch up
                       (cdc.py); then every registered query once, checked
                       against DuckDB (suite.py)
Each workload is made of parts, generator functions that set up, yield,
run their timed loop, yield, and check their outputs. A workload's parts
share one session and one timed loop.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from cdc import bulk, trickle  # noqa: E402
from common import ROOT, WORK, Run  # noqa: E402
from suite import queries  # noqa: E402
from tracing import (GROUPS, SPARK_FIELDS, NullTracer, Tracer,  # noqa: E402
                     fold_eventlog, per_layer_names, task_skew)

# each workload runs its parts in one session: every part's set-up, then
# every part's timed loop, then every part's output checks
WORKLOADS = {"bulk": [bulk], "trickle_and_queries": [trickle, queries]}
# the end-to-end metrics each workload reports, beyond COMMON, the ones
# every workload has and BENCHMARK.json gates
REPORT = {
    "bulk": [f"{m}.{n}" for m in ("mor", "cow") for n in (
        "ingest_events_per_s", "ingest_events_per_cpu_s",
        "epoch_commit_p50_s", "snapshot_read_s", "space_amp")],
    "trickle_and_queries": [
        "ingest_events_per_s", "ingest_events_per_cpu_s",
        "epoch_commit_p50_s", "snapshot_read_s", "feed_catchup_s",
        "view_refresh_s", "space_amp", "query_suite_s"],
}
COMMON = ["setup_s", "ops_per_s", "failed_op_share", "peak_rss_mb"]


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 size: str) -> Run:
    tracer = Tracer() if trace else NullTracer()
    run = Run(name, seed, seconds, tracer)
    try:
        run.start_spark()
        parts = [fn(run, size) for fn in WORKLOADS[name]]
        for p in parts:
            next(p)  # set-up
        run.tracer.install(run)
        run.begin_loop()
        for p in parts:
            next(p)  # timed loop
        run.end_loop()
        run.tracer.uninstall()
        for p in parts:
            next(p, None)  # output checks and metrics
        run.finish_common()
        run.notes["session_conf"] = run.session_conf()
    finally:
        # the tables go while Spark stops
        t0 = time.monotonic()
        with ThreadPoolExecutor(1) as pool:
            removed = pool.submit(run.cleanup)
            run.stop_spark()
            removed.result()
        run.notes["teardown_s"] = round(time.monotonic() - t0, 3)
    return run


def layer_metrics(run: Run, query_names: list[str]) -> dict[str, float]:
    """Per-layer metrics of a traced run. Seconds are means per call of
    the layer; counts are totals over the timed loop; a layer the
    workload does not reach reports 0."""
    tr: Tracer = run.tracer
    folded = fold_eventlog(tr.eventlog_dir)
    groups = folded["groups"]
    end = run.notes.get("lake_end", {})
    loop_wall = run.t_loop1 - run.t_loop0

    def op_mean(kind: str) -> float:
        xs = run.op_times(kind)
        return sum(xs) / len(xs) if xs else 0.0

    merges = tr.calls.get("lake.merge_batch", 0)
    compacts = tr.calls.get("lake.compact", 0)
    probes_dedup = groups.get("probe.dedup", {})
    written = tr.sum["merge_bytes"] + tr.sum["compact_bytes"]
    m = {
        "pipeline.apply_epoch_s": op_mean("apply"),
        "pipeline.fast_path_attempts": tr.sum["fast_attempts"],
        "pipeline.fast_path_commits": tr.sum["fast_commits"],
        "pipeline.epochs_skipped": run.notes.get("epochs_skipped", 0),
        "pipeline.resolve_parked_s": op_mean("resolve_parked"),
        "dedup.profile_s": tr.span_mean("dedup.batch_profile"),
        "dedup.prepare_s": tr.mean("dedup.prepare_s"),
        "dedup.actions_per_event": tr.sum["actions_out"]
        / max(tr.sum["events_in"], 1),
        "dedup.shuffle_bytes": probes_dedup.get("shuffle_bytes", 0.0)
        / max(len(tr.samples["dedup.prepare_s"]), 1),
        "dedup.task_skew": task_skew(folded["stage_tasks"].get(
            "probe.dedup", [])),
        "udfs.sha_s": tr.mean("udfs.sha_s"),
        "udfs.sha_rows": tr.sum["actions_out"],
        "lake.merge_batch_s": tr.span_mean("lake.merge_batch"),
        "lake.write_s": tr.mean("t_write"),
        "lake.stage_scan_s": tr.mean("t_scan"),
        "lake.commit_s": tr.mean("t_commit"),
        "lake.ledger_s": tr.mean("t_ledger"),
        "lake.files_written": tr.sum["files_written"] / max(merges, 1),
        "lake.bytes_written": tr.sum["merge_bytes"] / max(merges, 1),
        "lake.write_amp": written / max(run.notes.get("input_bytes", 0), 1),
        "lake.compact_s": tr.span_mean("lake.compact"),
        "lake.compact_bytes_rewritten": tr.sum["compact_bytes"]
        / max(compacts, 1),
        "lake.read_s": op_mean("read"),
        "lake.live_files": end.get("live_files", 0),
        "lake.max_files_per_bucket": end.get("max_files_per_bucket", 0),
        "lake.metadata_files": end.get("metadata_files", 0),
        "lake.metadata_bytes": end.get("metadata_bytes", 0),
        "lake.manifest_read_s": tr.span_mean("lake.manifest"),
        "changefeed.table_changes_s": tr.mean("table_changes_s"),
        "changefeed.change_rows": tr.sum["change_rows"],
        "changefeed.follower_sync_s": op_mean("sync"),
        "changefeed.refresh_sum_s": op_mean("refresh_sum"),
        "changefeed.refresh_extrema_s": op_mean("refresh_extrema"),
        "changefeed.refresh_distinct_s": op_mean("refresh_distinct"),
        "changefeed.refresh_full_fallbacks": sum(
            1 for mode in run.notes.get("refresh_modes", {}).values()
            if mode == "full"),
    }
    per_query = run.notes.get("query_s", {})
    for q in query_names:
        m[f"query.{q}_s"] = per_query.get(q, 0.0)
    for g in GROUPS:
        for f, _unit in SPARK_FIELDS:
            m[f"spark.{g}.{f}"] = groups.get(g, {}).get(f, 0.0)
    m["cpu.jvm_s"] = run.notes["loop_jvm_cpu_s"]
    m["cpu.python_s"] = run.notes["loop_python_cpu_s"]
    total_run = sum(g.get("run_ms", 0.0) for g in groups.values())
    m["spark.unattributed_share"] = groups.get("unattributed", {}).get(
        "run_ms", 0.0) / max(total_run, 1.0)
    m["trace.overhead_share"] = tr.sum["probe"] / max(loop_wall, 1e-9)
    run.notes["spark_groups"] = groups
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full",
                    help="input size; smoke is for checking the benchmark")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs, traced and "
                         "untraced, and check that every metric is printed")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    try:
        import skipmap_processor_spark  # noqa: F401
    except ImportError as e:
        print(f"engine not found at {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = benchmark_spec()
    from skipmap_processor_spark.plans.queries import QUERIES

    t0 = time.monotonic()
    run = run_workload(args.workload, args.seed, args.seconds,
                       bool(args.trace), args.size)
    if args.trace:
        units = dict(per_layer_names(list(QUERIES)))
        values = layer_metrics(run, list(QUERIES))
        wanted = [m["name"] for m in spec["per_layer"]]
    else:
        units = {n: u for n, (_v, u) in run.report.items()}
        values = {n: v for n, (v, _u) in run.report.items()}
        wanted = [m["name"] for m in spec["end_to_end"]]
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}")
    if args.trace:
        run.tracer.write_spans(stem + "-spans.jsonl")
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "size": args.size,
              "report": {n: [v, u] for n, (v, u) in run.report.items()},
              "layers": values if args.trace else None,
              "notes": run.notes, "run_wall_s": time.monotonic() - t0}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("session conf: " + json.dumps(run.notes["session_conf"]))
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"ops={run.attempted} failed={run.failed} "
          f"steal={run.notes['host_steal_share']:.3f}")
    for n, v in values.items():
        print(f"  {n:40s} {v:14.6g} {units[n]}")
    if args.trace:
        print(f"  spans: {stem}-spans.jsonl  table: {stem}.json")
    missing = [n for n in wanted if n not in values]
    if missing:
        print(f"metrics missing: {missing}", file=sys.stderr)
        return 3
    correct = run.failed == 0 and all(run.checks.values())
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]}
                    for n in wanted}}))
    return 0


def smoke() -> int:
    """Tiny inputs through every workload, both modes; every metric named
    in BENCHMARK.json must come out."""
    spec = benchmark_spec()
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600, cwd=ROOT)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                res = None
            want = [m["name"] for m in
                    spec["per_layer" if trace else "end_to_end"]]
            ok = (p.returncode == 0 and res is not None and res["correct"]
                  and all(n in res["metrics"] for n in want))
            if ok and not trace:
                # every end-to-end metric of the workload is in its record
                with open(os.path.join(WORK, "results",
                                       f"{w}-seed7-trace0.json")) as f:
                    report = json.load(f)["report"]
                ok = all(n in report for n in COMMON + REPORT[w])
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                print(p.stdout[-2000:], p.stderr[-4000:], sep="\n")
                bad.append((w, trace))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
