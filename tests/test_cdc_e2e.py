"""End-to-end: engine replay == sequential oracle, row-exactly.

This is the correctness gate of BASELINE.json: final-table-state equality
with the reference replay — per-row content sha256 equality, with
schema-evolution, rename-chain, tombstone-delete, duplicate-delivery and
hot-key-skew cases all present in the generated log (FIXTURES.md §2).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import (
    base_spark_schema,
    event_spark_schema,
    generate_full,
)
from skipmap_processor_spark.streaming.pipeline import (
    apply_epoch,
    bootstrap_base,
    replay_log,
)


def _events_to_spark(spark, ev: pd.DataFrame):
    records = ev.to_dict("records")
    for r in records:
        if isinstance(r.get("ts"), pd.Timestamp):
            r["ts"] = r["ts"].to_pydatetime()
    return spark.createDataFrame(records, schema=event_spark_schema())


def _engine_final(lake) -> pd.DataFrame:
    pdf = lake.read().toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _assert_equal(engine: pd.DataFrame, oracle: pd.DataFrame):
    assert sorted(engine.columns) == sorted(oracle.columns), (
        f"schema mismatch: {sorted(engine.columns)} vs {sorted(oracle.columns)}"
    )
    cols = sorted(oracle.columns)
    e = engine[cols].reset_index(drop=True)
    o = oracle[cols].reset_index(drop=True)
    e["event_seq"] = e["event_seq"].astype("int64")
    o["event_seq"] = o["event_seq"].astype("int64")
    pd.testing.assert_frame_equal(e, o, check_dtype=False)


@pytest.fixture(scope="module")
def fixtures():
    return generate_full(n_repos=15, n_base_paths=150, n_events=1200, n_epochs=6)


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_e2e_replay_matches_oracle(spark, warehouse, fixtures, merge_mode):
    base, ev, ddl = fixtures
    lake = LakeTable.create(
        spark, os.path.join(warehouse, f"repos_{merge_mode}"), num_buckets=8,
        merge_mode=merge_mode,
    )
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))
    stats = replay_log(spark, lake, _events_to_spark(spark, ev), ddl)
    assert all(not s["skipped"] for s in stats)

    engine = _engine_final(lake)
    oracle = replay(base, ev, ddl)
    _assert_equal(engine, oracle)
    # per-row invariant: content sha256 equality (BASELINE.json input_hint)
    assert engine["content_sha"].equals(oracle["content_sha"])
    # evolved schema arrived
    assert "language" in engine.columns and "branch" in engine.columns
    if merge_mode == "mor":
        # folding deltas must not change the visible state
        lake.compact(target_files_per_bucket=1)
        assert not lake.manifest()["properties"]["has_deltas"]
        _assert_equal(_engine_final(lake), oracle)


def test_e2e_idempotent_redelivery(spark, warehouse, fixtures):
    """Replaying the whole log again changes nothing (exactly-once)."""
    base, ev, ddl = fixtures
    lake = LakeTable.create(spark, os.path.join(warehouse, "repos2"), num_buckets=8)
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))
    replay_log(spark, lake, _events_to_spark(spark, ev), ddl)
    v_before = lake.manifest()["version"]
    final_before = _engine_final(lake)

    stats = replay_log(spark, lake, _events_to_spark(spark, ev), ddl)
    assert all(s["skipped"] for s in stats), "all epochs <= HWM must skip"
    assert lake.manifest()["version"] == v_before
    _assert_equal(_engine_final(lake), final_before)


def test_e2e_out_of_order_epoch_redelivery(spark, warehouse, fixtures):
    """A stale epoch redelivered mid-stream is skipped by the HWM gate."""
    base, ev, ddl = fixtures
    lake = LakeTable.create(spark, os.path.join(warehouse, "repos3"), num_buckets=8)
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))
    epochs = sorted(ev["epoch"].unique())
    for ep in epochs:
        batch = _events_to_spark(spark, ev[ev["epoch"] == ep].drop(columns=["epoch"]))
        apply_epoch(lake, batch, int(ep), ddl)
        if ep == epochs[2]:
            # redeliver epoch 0 (e.g. upstream retry) — must be a no-op
            b0 = _events_to_spark(
                spark, ev[ev["epoch"] == epochs[0]].drop(columns=["epoch"])
            )
            assert apply_epoch(lake, b0, int(epochs[0]), ddl)["skipped"]

    _assert_equal(_engine_final(lake), replay(base, ev, ddl))


def test_e2e_no_rename_fast_path(spark, warehouse):
    """A log without renames takes the fully-vectorized path; still exact."""
    base, ev, ddl = generate_full(n_repos=10, n_base_paths=80, n_events=400,
                                  n_epochs=3)
    ev = ev[ev["op"] != "rename"].reset_index(drop=True)
    lake = LakeTable.create(spark, os.path.join(warehouse, "repos4"), num_buckets=4)
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))
    replay_log(spark, lake, _events_to_spark(spark, ev), ddl)
    _assert_equal(_engine_final(lake), replay(base, ev, ddl))


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_bootstrap_rejects_duplicate_base_keys(spark, warehouse, merge_mode):
    """A base snapshot holding one (repo, path) twice would land two live
    rows for it; bootstrap refuses it before anything commits."""
    lake = LakeTable.create(spark, os.path.join(warehouse, f"dup_{merge_mode}"),
                            num_buckets=4, merge_mode=merge_mode)
    base = spark.createDataFrame(
        [("r1", "a.py", "c1", "python", "x"), ("r1", "b.py", "c1", "python", "y"),
         ("r1", "a.py", "c2", "python", "z")],
        "repo string, path string, commit string, lang string, content string")
    with pytest.raises(ValueError, match=r"1 duplicate .*'r1', 'a.py'.* 2 times"):
        bootstrap_base(lake, base)
    assert lake._latest_version() == 0
