"""Traced runs: spans around calls into the engine's layers, stage-prefix
probes for the layers that return lazy DataFrames, and Spark task metrics
folded per job group from the event log.

The engine is not instrumented. ``Tracer.install`` wraps public functions
of ``streaming.pipeline``, ``operators.dedup``, ``lake`` and
``changefeed`` from here, for the life of one traced run; untraced runs
use :class:`NullTracer` and touch nothing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark job groups the workloads run under (see Run.op); the per-group
# executor totals of these are per-layer metrics.
GROUPS = ["apply", "compact", "read", "feed", "refresh", "query"]
SPARK_FIELDS = [("run_ms", "ms"), ("cpu_ms", "ms"), ("gc_ms", "ms"),
                ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")]


def per_layer_names(query_names: list[str]) -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    names = [
        ("pipeline.apply_epoch_s", "s"), ("pipeline.fast_path_attempts",
                                          "count"),
        ("pipeline.fast_path_commits", "count"),
        ("pipeline.epochs_skipped", "count"),
        ("pipeline.resolve_parked_s", "s"),
        ("dedup.profile_s", "s"), ("dedup.prepare_s", "s"),
        ("dedup.actions_per_event", "ratio"),
        ("dedup.shuffle_bytes", "bytes"), ("dedup.task_skew", "ratio"),
        ("udfs.sha_s", "s"), ("udfs.sha_rows", "count"),
        ("lake.merge_batch_s", "s"), ("lake.write_s", "s"),
        ("lake.stage_scan_s", "s"), ("lake.commit_s", "s"),
        ("lake.ledger_s", "s"), ("lake.files_written", "count"),
        ("lake.bytes_written", "bytes"), ("lake.write_amp", "ratio"),
        ("lake.compact_s", "s"), ("lake.compact_bytes_rewritten", "bytes"),
        ("lake.read_s", "s"), ("lake.live_files", "count"),
        ("lake.max_files_per_bucket", "count"),
        ("lake.metadata_files", "count"), ("lake.metadata_bytes", "bytes"),
        ("lake.manifest_read_s", "s"),
        ("changefeed.table_changes_s", "s"), ("changefeed.change_rows",
                                              "count"),
        ("changefeed.follower_sync_s", "s"),
        ("changefeed.refresh_sum_s", "s"),
        ("changefeed.refresh_extrema_s", "s"),
        ("changefeed.refresh_distinct_s", "s"),
        ("changefeed.refresh_full_fallbacks", "count"),
    ]
    names += [(f"query.{q}_s", "s") for q in query_names]
    names += [(f"spark.{g}.{f}", u) for g in GROUPS for f, u in SPARK_FIELDS]
    names += [("cpu.jvm_s", "s"), ("cpu.python_s", "s"),
              ("spark.unattributed_share", "ratio"),
              ("trace.overhead_share", "ratio")]
    return names


class NullTracer:
    """Untraced run: no spans, no probes, no event log."""

    def spark_conf(self, run_dir: str) -> dict[str, str]:
        return {}

    @contextmanager
    def span(self, name: str, group: str | None = None):
        yield

    def install(self, run) -> None:
        pass

    def uninstall(self) -> None:
        pass


def dir_bytes(root: str, data: bool) -> tuple[int, int]:
    """(files, bytes) under a lake directory: its ``data/`` tree when
    ``data`` is true, everything else (manifests, ledger, locks) if not."""
    n = size = 0
    for d, _subdirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        in_data = rel == "data" or rel.startswith("data" + os.sep)
        if in_data != data:
            continue
        for f in files:
            try:
                size += os.path.getsize(os.path.join(d, f))
                n += 1
            except OSError:
                pass
    return n, size


class Tracer:
    """Spans kept in memory (name, start, end, parent, op id) and layer
    counters, written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.groups: list[str] = []
        self.op_id = 0
        self.sum: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.patched: list[tuple[object, str, object]] = []
        self.eventlog_dir = ""

    def spark_conf(self, run_dir: str) -> dict[str, str]:
        self.eventlog_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(self.eventlog_dir, exist_ok=True)
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.stack:
            self.op_id += 1
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id, "start": time.monotonic(),
               "parent": self.spans[self.stack[-1]]["name"]
               if self.stack else None, "group": group}
        self.spans.append(rec)
        self.stack.append(idx)
        if group:
            self.groups.append(group)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self.stack.pop()
            if group:
                self.groups.pop()
            self.sum[name] += rec["end"] - rec["start"]
            self.calls[name] += 1

    # -- probes ----------------------------------------------------------
    def _probe(self, df, group: str) -> tuple[float, int]:
        """Materialise ``df`` to the noop sink under job group ``group``;
        returns (seconds, rows). Restores the enclosing operation's group."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        obs = Observation()
        t0 = time.monotonic()
        with self.span("probe", None):
            (df.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            n = int(obs.get["n"])
        dt = time.monotonic() - t0
        if self.groups:
            sc.setJobGroup(self.groups[-1], self.groups[-1])
        return dt, n

    def _probe_prepare(self, events, actions) -> None:
        """Self time of action preparation and of the sha digest as
        differences between materialised stage prefixes."""
        t_in, n_in = self._probe(events, "probe.input")
        sha = [c for c in actions.columns if c == "content_sha"]
        t_dd, n_act = self._probe(actions.drop(*sha), "probe.dedup")
        t_full, _ = self._probe(actions, "probe.sha")
        self.samples["dedup.prepare_s"].append(max(t_dd - t_in, 0.0))
        self.samples["udfs.sha_s"].append(max(t_full - t_dd, 0.0))
        self.sum["events_in"] += n_in
        self.sum["actions_out"] += n_act

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self.patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self, run) -> None:
        from skipmap_processor_spark import changefeed, lake
        from skipmap_processor_spark.operators import dedup
        from skipmap_processor_spark.streaming import pipeline

        self.spark = run.spark
        tr = self

        def timed(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def prepared(name):
            def make(orig):
                def wrapper(events, *a, **kw):
                    with tr.span(name):
                        actions = orig(events, *a, **kw)
                    tr._probe_prepare(events, actions)
                    return actions
                return wrapper
            return make

        def merge(orig):
            def wrapper(self_, actions, epoch, *a, **kw):
                before = dir_bytes(self_.path, True)[1]
                with tr.span("lake.merge_batch"):
                    stats = orig(self_, actions, epoch, *a, **kw)
                tr.sum["merge_bytes"] += dir_bytes(self_.path, True)[1] - before
                if kw.get("pre_commit_check") is not None:
                    tr.sum["fast_attempts"] += 1
                    tr.sum["fast_commits"] += not stats.get("aborted")
                # CoW merges and aborted fast-path stagings return none of
                # these: they count only where the layer ran
                for k in ("t_write", "t_scan", "t_commit", "t_ledger"):
                    if k in stats:
                        tr.samples[k].append(float(stats[k]))
                tr.sum["files_written"] += stats.get("files_written", 0)
                return stats
            return wrapper

        def compact(orig):
            def wrapper(self_, *a, **kw):
                before = dir_bytes(self_.path, True)[1]
                with tr.span("lake.compact"):
                    out = orig(self_, *a, **kw)
                tr.sum["compact_bytes"] += (dir_bytes(self_.path, True)[1]
                                            - before)
                return out
            return wrapper

        def changes(orig):
            def wrapper(*a, **kw):
                t0 = time.monotonic()
                with tr.span("changefeed.table_changes"):
                    df = orig(*a, **kw)
                _dt, n = tr._probe(df, "probe.feed")
                tr.samples["table_changes_s"].append(time.monotonic() - t0)
                tr.sum["change_rows"] += n
                return df
            return wrapper

        self._patch(dedup, "batch_profile", timed("dedup.batch_profile"))
        self._patch(dedup, "prepare_actions_fast",
                    prepared("dedup.prepare_actions_fast"))
        self._patch(pipeline, "prepare_actions",
                    prepared("dedup.prepare_actions"))
        self._patch(lake.LakeTable, "merge_batch", merge)
        self._patch(lake.LakeTable, "compact", compact)
        self._patch(lake.LakeTable, "manifest", timed("lake.manifest"))
        self._patch(changefeed, "table_changes", changes)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.patched):
            setattr(owner, attr, orig)
        self.patched.clear()

    # -- results ---------------------------------------------------------
    def mean(self, key: str) -> float:
        xs = self.samples.get(key) or []
        return statistics.fmean(xs) if xs else 0.0

    def span_mean(self, name: str) -> float:
        n = self.calls.get(name, 0)
        return self.sum[name] / n if n else 0.0

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def fold_eventlog(eventlog_dir: str) -> dict:
    """Fold SparkListenerTaskEnd metrics per job group. Returns
    {"groups": {group: {run_ms, cpu_ms, gc_ms, shuffle_bytes, spill_bytes,
    tasks}}, "stage_tasks": {group: [[task run ms, ...] per stage]}}."""
    files = [p for p in glob.glob(os.path.join(eventlog_dir, "*"))
             if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g or "unattributed")
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    g = groups[stage_group.get(sid, "unattributed")]
                    run = m.get("Executor Run Time", 0)
                    g["run_ms"] += run
                    g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    w = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_bytes"] += w.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    g["tasks"] += 1
                    r = m.get("Shuffle Read Metrics") or {}
                    if r.get("Remote Bytes Read", 0) + r.get(
                            "Local Bytes Read", 0) > 0:
                        stage_tasks[sid].append(float(run))
    by_group: dict[str, list[list[float]]] = defaultdict(list)
    for sid, runs in stage_tasks.items():
        by_group[stage_group.get(sid, "unattributed")].append(runs)
    return {"groups": {k: dict(v) for k, v in groups.items()},
            "stage_tasks": dict(by_group)}


def task_skew(stages: list[list[float]]) -> float:
    """Median over shuffle-reading stages of slowest / median task time."""
    ratios = [max(r) / max(statistics.median(r), 1.0)
              for r in stages if len(r) > 1]
    return statistics.median(ratios) if ratios else 1.0
