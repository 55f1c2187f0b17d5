"""The one commit routine under forced races, and torn-manifest safety.

Each race is made deterministic by patching ``_commit_manifest`` so that a
competing commit from a second handle lands first, at the exact version the
patched writer is about to claim. The rebase rule under test
(``LakeTable._commit_staged``): a loser whose replaced files are all still
live rebases onto the winner; otherwise it deletes its staging and re-runs
from the winner's manifest.
"""

from __future__ import annotations

import json
import os
import types

import pytest
from pyspark.sql import functions as F

from skipmap_processor_spark import lake as lake_mod
from skipmap_processor_spark.lake import LakeTable, bucket_expr


def _mk_actions(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, event_seq bigint, "
        "op string, lang string, content string, content_sha string",
    )


def c(i: int) -> str:
    return f"{i:016x}" + "a" * 24


def _upserts(keys, ord_, tag):
    return [(r, p, c(ord_), i, "upsert", "go", f"{tag}-{p}", f"s-{tag}")
            for i, (r, p) in enumerate(keys)]


def _keys_in_bucket(spark, nb, bucket, n):
    cands = spark.createDataFrame(
        [("r", f"f{i:03d}.py") for i in range(400)], "repo string, path string")
    rows = (cands.withColumn("_b", bucket_expr(nb))
            .filter(F.col("_b") == bucket).orderBy("path").limit(n).collect())
    return [(r["repo"], r["path"]) for r in rows]


def _state(t):
    return sorted(tuple(r) for r in t.read(
        include_deleted=True, with_engine_cols=True).collect())


def _files_per_bucket(t):
    mani = t.manifest(t._latest_version())
    counts: dict = {}
    for fe in t.file_entries(mani):
        k = (int(fe["nb"]), int(fe["bucket"]))
        counts[k] = counts.get(k, 0) + 1
    return counts


def _race(monkeypatch, loser, competitor):
    """The loser's next data commit finds ``competitor()`` committed at the
    version it is claiming. Returns the loser's ``_commit_staged`` results
    (None = re-run) for inspection."""
    real_commit = LakeTable._commit_manifest
    real_staged = LakeTable._commit_staged
    fired, results = [], []

    def commit(self, mani):
        if (self is loser and not fired
                and mani.get("commit_kind") in ("merge", "compact")):
            fired.append(mani["version"])
            competitor()
        return real_commit(self, mani)

    def staged(self, *a, **kw):
        out = real_staged(self, *a, **kw)
        if self is loser:
            results.append(out)
        return out

    monkeypatch.setattr(LakeTable, "_commit_manifest", commit)
    monkeypatch.setattr(LakeTable, "_commit_staged", staged)
    return fired, results


def _cow_base(spark, path, nb=4):
    t = LakeTable.create(spark, path, num_buckets=nb, merge_mode="cow")
    keys = [("r", f"f{i:03d}.py") for i in range(40)]
    t.merge_batch(_mk_actions(spark, _upserts(keys, 1, "base")), epoch=None)
    return t


def test_cow_same_bucket_race_reruns(spark, warehouse, monkeypatch):
    """(a) Two CoW merges on one bucket: the loser's read file is gone, so
    it re-runs and folds over the winner's output — one file per bucket."""
    path = os.path.join(warehouse, "a")
    loser = _cow_base(spark, path)
    twin = _cow_base(spark, os.path.join(warehouse, "a_twin"))
    ks = _keys_in_bucket(spark, 4, 1, 5)
    a_rows = _upserts(ks[:3], 10, "A")      # older ord, applied second
    b_rows = _upserts(ks[1:], 20, "B")      # overlaps A on ks[1], ks[2]
    winner = LakeTable.load(spark, path)
    fired, results = _race(monkeypatch, loser, lambda: winner.merge_batch(
        _mk_actions(spark, b_rows), epoch=1))
    st = loser.merge_batch(_mk_actions(spark, a_rows), epoch=0)
    monkeypatch.undo()
    assert fired and not st["skipped"]
    assert results[0] is None and isinstance(results[-1], dict)
    twin.merge_batch(_mk_actions(spark, b_rows), epoch=1)
    twin.merge_batch(_mk_actions(spark, a_rows), epoch=0)
    assert _state(loser) == _state(twin)
    assert set(_files_per_bucket(loser).values()) == {1}
    assert not loser.manifest()["properties"]["has_deltas"]


def test_cow_disjoint_bucket_race_rebases(spark, warehouse, monkeypatch):
    """(b) CoW merges on disjoint buckets: the loser's replaced files are
    still live, so it rebases onto the winner without rewriting."""
    path = os.path.join(warehouse, "b")
    loser = _cow_base(spark, path)
    twin = _cow_base(spark, os.path.join(warehouse, "b_twin"))
    a_rows = _upserts(_keys_in_bucket(spark, 4, 0, 3), 10, "A")
    b_rows = _upserts(_keys_in_bucket(spark, 4, 2, 3), 20, "B")
    winner = LakeTable.load(spark, path)
    writes = []
    real_writer = LakeTable._data_writer

    def writer(self, df, mani):
        if self is loser:
            writes.append(1)
        return real_writer(self, df, mani)

    fired, results = _race(monkeypatch, loser, lambda: winner.merge_batch(
        _mk_actions(spark, b_rows), epoch=1))
    monkeypatch.setattr(LakeTable, "_data_writer", writer)
    loser.merge_batch(_mk_actions(spark, a_rows), epoch=0)
    monkeypatch.undo()
    assert fired and len(results) == 1 and isinstance(results[0], dict)
    assert len(writes) == 1, "a rebase must not rewrite the loser's data"
    twin.merge_batch(_mk_actions(spark, b_rows), epoch=1)
    twin.merge_batch(_mk_actions(spark, a_rows), epoch=0)
    assert _state(loser) == _state(twin)
    assert set(_files_per_bucket(loser).values()) == {1}
    assert loser.hwm_epoch == 1 and loser.missing_epochs == []


def _mor_with_deltas(spark, path):
    t = LakeTable.create(spark, path, num_buckets=2, merge_mode="mor")
    keys = [("r", f"f{i:03d}.py") for i in range(20)]
    for ep in range(2):
        t.merge_batch(_mk_actions(spark, _upserts(keys, 10 + ep, f"e{ep}")),
                      epoch=ep)
    return t, keys


def test_compact_loses_to_mor_append_keeps_delta(spark, warehouse,
                                                 monkeypatch):
    """(c) compact() loses to a MOR append: the folded files are still live,
    so compaction rebases and the appended delta stays live."""
    path = os.path.join(warehouse, "c")
    loser, keys = _mor_with_deltas(spark, path)
    winner = LakeTable.load(spark, path)
    late = _upserts(keys[:5], 30, "late")
    fired, results = _race(monkeypatch, loser, lambda: winner.merge_batch(
        _mk_actions(spark, late), epoch=2))
    res = loser.compact(target_files_per_bucket=1)
    monkeypatch.undo()
    assert fired and res["compacted_buckets"] == 2
    assert len(results) == 1 and isinstance(results[0], dict)
    got = {(r["path"], r["content"]) for r in loser.read().collect()}
    assert {(p, f"late-{p}") for _r, p in keys[:5]} <= got
    assert {(p, f"e1-{p}") for _r, p in keys[5:]} <= got
    assert loser.manifest()["properties"]["has_deltas"]
    assert loser.hwm_epoch == 2


def test_compact_loses_to_compact_reruns(spark, warehouse, monkeypatch):
    """(d) compact() loses to another compact() of the same buckets: it
    re-plans from the winner's manifest, finds nothing left to fold, and
    never commits a second fold."""
    path = os.path.join(warehouse, "d")
    loser, _keys = _mor_with_deltas(spark, path)
    before = _state(loser)
    winner = LakeTable.load(spark, path)
    fired, results = _race(monkeypatch, loser,
                           lambda: winner.compact(target_files_per_bucket=1))
    res = loser.compact(target_files_per_bucket=1)
    monkeypatch.undo()
    assert fired and results == [None]
    assert res["compacted_buckets"] == 0
    kinds = [loser.manifest(v)["commit_kind"]
             for v in range(loser._latest_version() + 1)]
    assert kinds.count("compact") == 1
    assert set(_files_per_bucket(loser).values()) == {1}
    assert not loser.manifest()["properties"]["has_deltas"]
    assert _state(loser) == before


def test_cow_merge_races_rescale(spark, warehouse, monkeypatch):
    """(e) A CoW merge staged under the old spec loses to rescale_buckets:
    its files are still live, so it rebases with its old-spec stamp, and
    the table reads equal to a never-rescaled twin — also after the next
    merge and a compaction."""
    path = os.path.join(warehouse, "e")
    loser = _cow_base(spark, path)
    twin = _cow_base(spark, os.path.join(warehouse, "e_twin"))
    keys = [("r", f"f{i:03d}.py") for i in range(0, 40, 3)]
    a_rows = _upserts(keys, 10, "A")
    winner = LakeTable.load(spark, path)
    fired, _results = _race(monkeypatch, loser,
                            lambda: winner.rescale_buckets(8))
    loser.merge_batch(_mk_actions(spark, a_rows), epoch=0)
    monkeypatch.undo()
    assert fired and int(loser.manifest()["num_buckets"]) == 8
    twin.merge_batch(_mk_actions(spark, a_rows), epoch=0)
    assert _state(loser) == _state(twin)
    more = _upserts([("r", f"f{i:03d}.py") for i in range(1, 40, 4)], 20, "B")
    loser.merge_batch(_mk_actions(spark, more), epoch=1)
    twin.merge_batch(_mk_actions(spark, more), epoch=1)
    assert _state(loser) == _state(twin)
    loser.compact()
    assert loser._live_specs(loser.manifest()) == {8}
    assert _state(loser) == _state(twin)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_torn_manifest_write_leaves_no_version(spark, warehouse, monkeypatch,
                                               mode):
    """A crash while writing manifest v{N+1} leaves no v{N+1}.json: the
    table still reads at v{N} and the next merge commits."""
    t = LakeTable.create(spark, os.path.join(warehouse, mode), num_buckets=2,
                         merge_mode=mode)
    keys = [("r", f"f{i:03d}.py") for i in range(8)]
    t.merge_batch(_mk_actions(spark, _upserts(keys, 1, "v1")), epoch=0)
    v = t._latest_version()
    before = _state(t)

    def torn_dump(obj, f, *a, **kw):
        if isinstance(obj, dict) and "schemas" in obj:
            f.write(json.dumps(obj)[:40])
            raise OSError("disk full")
        return json.dump(obj, f, *a, **kw)

    fake_json = types.SimpleNamespace(dump=torn_dump, load=json.load,
                                      loads=json.loads, dumps=json.dumps)
    with monkeypatch.context() as m:
        m.setattr(lake_mod, "json", fake_json)
        with pytest.raises(OSError, match="disk full"):
            t.merge_batch(_mk_actions(spark, _upserts(keys, 2, "v2")),
                          epoch=1)
    mdir = os.path.join(t.path, "manifests")
    assert not os.path.exists(os.path.join(mdir, f"v{v + 1}.json"))
    assert not [fn for fn in os.listdir(mdir) if fn.startswith("tmp-")]
    assert t._latest_version() == v and _state(t) == before
    st = t.merge_batch(_mk_actions(spark, _upserts(keys, 2, "v2")), epoch=1)
    assert st["version"] == v + 1
    assert {r["content"] for r in t.read().collect()} == {
        f"v2-{p}" for _r, p in keys}
    assert t.fsck()["ok"]


def test_fsck_flags_unparseable_manifest(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), num_buckets=2)
    t.merge_batch(_mk_actions(spark, _upserts([("r", "a.py")], 1, "x")),
                  epoch=0)
    assert t.fsck()["ok"]
    v = t._latest_version()
    open(os.path.join(t.path, "manifests", f"v{v + 1}.json"), "w").close()
    rep = t.fsck()
    assert not rep["ok"]
    assert any(f"v{v + 1}.json" in e for e in rep["errors"])


def test_vacuum_removes_stale_temp_manifests(spark, warehouse):
    """A writer that died before claiming its version leaves a temp
    manifest; vacuum removes it once past the grace period, never before."""
    t = LakeTable.create(spark, os.path.join(warehouse, "t"), num_buckets=2)
    mdir = os.path.join(t.path, "manifests")
    stale = os.path.join(mdir, "tmp-v1-dead.json")
    fresh = os.path.join(mdir, "tmp-v1-live.json")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write('{"version": 1')
    os.utime(stale, (0, 0))
    t.vacuum(grace_sec=300)
    assert not os.path.exists(stale) and os.path.exists(fresh)
    assert t._latest_version() == 0 and t.fsck()["ok"]


def test_commit_never_claims_over_a_stale_base(spark, warehouse):
    """A racer committing while an edit is being applied must make the
    claim conflict: the edit then re-applies on the racer's manifest
    instead of committing over it and dropping the racer's change."""
    path = os.path.join(warehouse, "stale")
    t = LakeTable.create(spark, path, num_buckets=2, merge_mode="mor")
    other = LakeTable.load(spark, path)
    calls = []

    def edit(m):
        if not calls:
            other.add_column("racer", "string")
        calls.append(1)
        m["properties"]["mine"] = True
        return True

    t._commit_with_rebase(edit)
    assert len(calls) == 2
    assert "racer" in t.current_columns()
    assert t.manifest()["properties"]["mine"] is True
