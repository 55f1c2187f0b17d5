"""Batch preparation: LWW dedup + rename-chain resolution.

Turns one epoch's raw change events into one action row per key
(``op in {upsert, delete}``) ready for ``LakeTable.merge_batch``.

Semantics source: the in-batch "last occurrence wins, matching ON CONFLICT DO
UPDATE semantics" dedup of the reference
(/root/reference/src/io/PostGISDataStore.ts:75-85) generalized to the total
order ``(commit, event_seq)``, plus connected-segment merging for rename
chains (reference precedent: endpoint-graph component merge,
/root/reference/src/transforms/normalization/PointGraph.ts:79-131).

Scale design:
- The LWW dedup is ``lake.lww_fold``'s single-exchange form: one window
  partitioned by ``(_bucket, _salt)``, where ``_salt`` hashes the path. All
  events of a key share a salt, while a hot repo's paths spread across
  tasks — explicit salting per the north rule, on top of AQE.
- Rename resolution is sequential only over the *rename-affected* key set
  (renames are ~5% of events; FIXTURES.md §2). Each ``applyInPandas`` group
  replays its few events through the same ``oracle.apply_event`` function the
  golden replayer uses, so the two paths cannot diverge. All heavy per-row
  work (normalization, sha256) stays in vectorized pandas/Arrow UDFs and JVM
  expressions; the tiny rename loop is control flow, not row processing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skipmap_processor_spark.functions.udfs import content_sha_via_pandas
from skipmap_processor_spark.lake import KEY_COLS, LakeTable, lww_fold

_ACTION_SCHEMA = (
    "repo string, path string, commit string, event_seq bigint, op string, "
    "lang string, content string, extra_cols map<string,string>"
)


def _with_map_extras(events: DataFrame) -> DataFrame:
    """Normalize extra_cols to map<string,string> (all-null batches infer
    VOID, which breaks map functions)."""
    if "extra_cols" in events.columns and not str(
        events.schema["extra_cols"].dataType
    ).startswith("MapType"):
        return events.withColumn(
            "extra_cols", F.col("extra_cols").cast("map<string,string>")
        )
    return events


def batch_profile(events: DataFrame, num_buckets: int) -> dict:
    """One-pass batch profile: fuses what would otherwise be three separate
    driver jobs per epoch (extra-column discovery, rename detection,
    affected-bucket probe) into a single aggregation. Per-epoch serial driver
    time is the Amdahl term of the whole pipeline at scale — every fused job
    buys scaling efficiency.

    Returns {extra_keys, has_renames, affected_buckets, n_malformed}.
    """
    from skipmap_processor_spark.lake import bucket_expr
    from skipmap_processor_spark.streaming.quarantine import malformed_cond

    events = _with_map_extras(events)
    row = events.agg(
        F.array_distinct(
            F.flatten(F.collect_set(F.map_keys("extra_cols")))
        ).alias("ek"),
        F.max((F.col("op") == "rename").cast("int")).alias("hr"),
        F.sum(malformed_cond().cast("long")).alias("nm"),
        F.collect_set(bucket_expr(num_buckets)).alias("b1"),
        F.collect_set(
            F.when(
                F.col("new_path").isNotNull(),
                F.pmod(
                    F.xxhash64(F.col("repo"), F.col("new_path")),
                    F.lit(num_buckets),
                ),
            )
        ).alias("b2"),
        # ord probe over WELL-FORMED rows only: a malformed row (headed for
        # quarantine) must not be able to abort the whole epoch via a
        # garbage commit id
        F.min(F.when(~malformed_cond(), F.length("commit"))).alias("min_cw"),
        F.max(F.when(~malformed_cond(), F.length("commit"))).alias("max_cw"),
    ).first()
    if row["min_cw"] is not None and row["min_cw"] != row["max_cw"]:
        # LWW compares `commit` lexicographically — only a total order for
        # fixed-width monotone ids. Mixed widths silently corrupt LWW picks;
        # fail loudly (ADVICE r1).
        raise ValueError(
            "ord contract violated: variable-width `commit` ids "
            f"(len {row['min_cw']}..{row['max_cw']}); feed fixed-width "
            "monotone commit ids (e.g. zero-padded sequence prefix)"
        )
    return {
        "extra_keys": sorted(row["ek"] or []),
        "has_renames": bool(row["hr"]),
        "affected_buckets": sorted(set(row["b1"] or []) | set(row["b2"] or [])),
        "n_malformed": int(row["nm"] or 0),
    }


def rename_components(renames: DataFrame, max_iters: int = 12,
                      max_edges_on_driver: int = 50_000) -> DataFrame:
    """Connected components of the in-epoch rename graph: (repo, path) ->
    component label. Iterative min-label propagation over the (small)
    rename edge set — the distributed analog of the reference's endpoint
    graph walk (/root/reference/src/transforms/normalization/PointGraph.ts:79-131).

    Rename chains are short (A->B->C), so this converges in a few rounds;
    grouping the sequential resolver by component instead of by repo bounds
    each applyInPandas group to one chain's keys — a hot repo with one
    rename no longer funnels its whole epoch slice into a single group.
    """
    edges = renames.select(
        "repo",
        F.col("path").alias("a"),
        F.col("new_path").alias("b"),
    ).distinct()

    # hybrid: below the threshold a driver-side union-find is microseconds
    # and saves ~8 Spark jobs per rename epoch; the iterative-join loop
    # below handles rename sets too large to collect (the 10^10 regime).
    # 50k edges ~ a few MB of driver heap — kept small on purpose so a
    # pathological epoch (repo-wide `git mv`) can't blow the driver at
    # exactly the moment it needs headroom.
    threshold = int(max_edges_on_driver)
    small = edges.limit(threshold + 1).collect() if threshold > 0 else []
    if threshold > 0 and len(small) <= threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in small:
            for v in ((r["repo"], r["a"]), (r["repo"], r["b"])):
                parent.setdefault(v, v)
            ra, rb = find((r["repo"], r["a"])), find((r["repo"], r["b"]))
            if ra != rb:
                parent[rb] = ra
        rows = [
            (repo, path, "\x00".join(find((repo, path))))
            for (repo, path) in parent
        ]
        return renames.sparkSession.createDataFrame(
            rows, "repo string, path string, label string"
        )

    verts = (
        edges.select("repo", F.col("a").alias("path"))
        .union(edges.select("repo", F.col("b").alias("path")))
        .distinct()
    )
    labels = verts.withColumn(
        "label", F.concat_ws("\x00", F.col("repo"), F.col("path"))
    )
    both = edges.union(
        edges.select("repo", F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # localCheckpoint: each round used to stack joins on the previous
    # round's plan, so round k re-executed rounds 1..k-1 (quadratic
    # re-compute) and the analysis tree grew without bound. Truncating
    # lineage per round makes each round O(V+E) work on materialized input.
    both = both.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        # 1-hop neighbor min-label pass
        neigh = (
            both.join(
                labels.select(
                    "repo", F.col("path").alias("b"), F.col("label").alias("nl")
                ),
                ["repo", "b"],
            )
            .groupBy("repo", F.col("a").alias("path"))
            .agg(F.min("nl").alias("nl"))
        )
        updated = labels.join(neigh, ["repo", "path"], "left").select(
            "repo", "path",
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                "label"
            ),
            F.col("label").alias("_round_start"),
        )
        # pointer-jump pass (label(v) <- label(label(v))): labels are vertex
        # keys "repo\x00path", so a self-join dereferences one more hop —
        # together with the neighbor pass the reachable-min distance doubles
        # per round, making an L-hop chain converge in O(log L) rounds
        # instead of L (a 9-hop `git mv` chain: 4 rounds, not 9).
        lrepo = F.split(F.col("label"), "\x00").getItem(0)
        lpath = F.split(F.col("label"), "\x00").getItem(1)
        jump = (
            updated.withColumn("_lr", lrepo).withColumn("_lp", lpath)
            .join(
                updated.select(
                    F.col("repo").alias("_lr"),
                    F.col("path").alias("_lp"),
                    F.col("label").alias("_ll"),
                ),
                ["_lr", "_lp"],
                "left",
            )
            .select(
                "repo", "path",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("new_label"),
                F.col("_round_start"),
            )
        )
        jump = jump.localCheckpoint(eager=True)
        # converged only when NEITHER pass moved any label this round —
        # comparing against the jump-pass input alone would break early on
        # graphs where the neighbor pass still propagated (e.g. a chain
        # whose in-use labels are all local minima)
        n_changed = jump.filter(F.col("new_label") != F.col("_round_start")).count()
        labels = jump.select("repo", "path", F.col("new_label").alias("label"))
        if n_changed == 0:
            break
    return labels.select("repo", "path", "label")


def _resolve_rename_groups(
    ev_aff: DataFrame, lake: LakeTable, aff_keys: DataFrame
) -> DataFrame:
    """Sequentially replay events on rename-affected keys, seeded with the
    current table state for those keys (bucket-pruned lookup). Groups are
    rename-graph connected components (see rename_components), not repos."""
    mani = lake.manifest()
    name_map = lake.payload_name_map(mani)  # original -> current
    promoted = [
        (orig, cur)
        for orig, cur in name_map.items()
        if orig not in ("lang", "content", "content_sha")
    ]

    renames = ev_aff.filter(F.col("op") == "rename")
    cc = rename_components(renames).withColumnRenamed("label", "_cc")

    seeds = lake.lookup(aff_keys, include_deleted=True)
    extra_entries: list = []
    for orig, cur in promoted:
        extra_entries += [F.lit(orig), F.col(cur)]
    seeds = seeds.select(
        *KEY_COLS,
        "commit",
        F.col("event_seq"),
        F.lit("__seed__").alias("op"),
        F.lit(None).cast("string").alias("new_path"),
        F.col(name_map["lang"]).alias("lang"),
        F.col(name_map["content"]).alias("content"),
        (
            F.map_filter(
                F.create_map(*extra_entries), lambda _, v: v.isNotNull()
            )
            if extra_entries
            else F.lit(None).cast("map<string,string>")
        ).alias("extra_cols"),
        F.col("is_deleted"),
    )
    ev = ev_aff.select(
        *KEY_COLS,
        "commit",
        "event_seq",
        "op",
        "new_path",
        "lang",
        "content",
        "extra_cols",
        F.lit(False).alias("is_deleted"),
    )
    both = seeds.unionByName(ev).join(F.broadcast(cc), KEY_COLS)

    def resolve(pdf):
        import pandas as pd

        from skipmap_processor_spark.oracle import _State, apply_event

        state: dict = {}
        seeds_pdf = pdf[pdf["op"] == "__seed__"]
        for r in seeds_pdf.itertuples(index=False):
            state[(r.repo, r.path)] = _State(
                commit=r.commit,
                event_seq=int(r.event_seq),
                deleted=bool(r.is_deleted),
                lang=r.lang,
                content=r.content,
                extra=dict(r.extra_cols) if r.extra_cols is not None else {},
            )
        evs = pdf[pdf["op"] != "__seed__"].sort_values(
            ["commit", "event_seq"], kind="stable"
        )
        touched: set = set()
        for r in evs.itertuples(index=False):
            touched.update(
                apply_event(
                    state,
                    op=r.op,
                    repo=r.repo,
                    path=r.path,
                    new_path=r.new_path,
                    commit=r.commit,
                    event_seq=int(r.event_seq),
                    lang=r.lang,
                    content=r.content,
                    extra=dict(r.extra_cols) if r.extra_cols is not None else {},
                )
            )
        rows = []
        for repo, path in sorted(touched):
            st = state[(repo, path)]
            rows.append(
                {
                    "repo": repo,
                    "path": path,
                    "commit": st.commit,
                    "event_seq": st.event_seq,
                    "op": "delete" if st.deleted else "upsert",
                    "lang": st.lang,
                    "content": st.content,
                    "extra_cols": st.extra or None,
                }
            )
        return pd.DataFrame(
            rows,
            columns=[
                "repo", "path", "commit", "event_seq", "op",
                "lang", "content", "extra_cols",
            ],
        )

    return both.groupBy("_cc").applyInPandas(resolve, schema=_ACTION_SCHEMA)


def _salts(events: DataFrame, num_buckets: int,
           files_per_bucket: int = 1) -> int:
    """Salt count of the LWW exchange: enough ``(_bucket, _salt)`` keys to
    fill every shuffle slot several times over — hashing nb bucket values
    into nb slots leaves ~37% slots idle and piles 3-4 buckets on others
    (measured 3-5x stragglers)."""
    shuffle_parts = int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    slot_mult = int(os.environ.get("SKIPMAP_FPB_MULT", "4"))
    return max(files_per_bucket, -(-slot_mult * shuffle_parts // num_buckets))


def _lake_payload(lake: LakeTable, mani: dict) -> list:
    """The lake's current payload columns computed from an event-shaped
    frame (lang, content, extra_cols), bound by original field name;
    ``content_sha`` is the Arrow-vectorized normalization + JVM sha2 of
    ``content`` (the BASELINE.json contract path)."""
    cur_to_orig = {v: k for k, v in lake.payload_name_map(mani).items()}
    sels = []
    for cur in lake.payload_columns(mani):
        orig = cur_to_orig.get(cur, cur)
        if orig in ("lang", "content"):
            sels.append(F.col(orig).alias(cur))
        elif orig == "content_sha":
            sels.append(content_sha_via_pandas(F.col("content")).alias(cur))
        else:
            sels.append(F.element_at(F.col("extra_cols"), F.lit(orig)).alias(cur))
    return sels


def _op_action():
    """Event op -> action op: deletes stay deletes, every other op upserts."""
    return (F.when(F.col("op") == "delete", F.lit("delete"))
            .otherwise(F.lit("upsert")).alias("op"))


def prepare_actions_fast(
    events: DataFrame, lake: LakeTable, files_per_bucket: int = 1
) -> DataFrame:
    """Single-exchange action preparation for rename-free batches.

    The ONLY exchange is ``lww_fold``'s bucket form — a window partitioned
    by ``(_bucket, _salt)``, the same partitioning the lake write needs.
    Normalization + sha follow as per-row expressions (no further
    exchange), and the write proceeds without re-shuffling. Returns a
    DataFrame already partitioned by ``_bucket`` — pass
    ``pre_partitioned=True`` to ``merge_batch``.
    """
    mani = lake.manifest()
    nb = int(mani["num_buckets"])
    events = _with_map_extras(events)
    deduped = lww_fold(
        events.select(*KEY_COLS, "commit", "event_seq", "op", "lang",
                      "content", "extra_cols"),
        num_buckets=nb, salts=_salts(events, nb, files_per_bucket),
    )
    return deduped.select(*KEY_COLS, "commit", "event_seq", _op_action(),
                          *_lake_payload(lake, mani), "_bucket")


def prepare_actions(
    events: DataFrame, lake: LakeTable, has_renames: bool | None = None
) -> DataFrame:
    """Raw epoch events -> one action row per key, in the lake's current
    column names, with ``content_sha`` computed."""
    mani = lake.manifest()
    nb = int(mani["num_buckets"])

    events = _with_map_extras(events)
    # NOTE on exact duplicate deliveries inside one batch: no dropDuplicates
    # pass is needed. Verbatim duplicates tie in the LWW window, which keeps
    # exactly one, and the tied rows are identical in every column, so the
    # outcome is deterministic. The rename resolver's ord gate
    # (oracle.apply_event: ord <= cur.ord -> skip) handles its slice the same
    # way. Duplicates ACROSS epochs die at the merge ord gate. This saves a
    # full shuffle per epoch.
    ev = events

    renames = ev.filter(F.col("op") == "rename")
    if has_renames is None:
        has_renames = len(renames.take(1)) > 0
    if has_renames:
        aff_keys = (
            renames.select("repo", "path")
            .union(renames.select("repo", F.col("new_path").alias("path")))
            .distinct()
        )
        # guard: the per-component resolver replays its slice through the
        # sequential oracle (interpreted Python, correctness-critical for
        # interleaved rename chains). A pathological epoch (repo-wide
        # `git mv` of a vendored tree) can balloon that slice — surface it
        # loudly so operators see the degradation instead of a mystery-slow
        # epoch. The job is cheap: aff_keys is a distinct over renames only.
        n_aff = aff_keys.count()
        if n_aff > 1_000_000:
            import warnings

            warnings.warn(
                f"rename-affected key slice is {n_aff} keys; the sequential "
                "per-component resolver will dominate this epoch — consider "
                "splitting the rename burst across epochs",
                RuntimeWarning,
                stacklevel=2,
            )
        ev_aff = ev.join(aff_keys, KEY_COLS, "left_semi")
        ev_rest = ev.join(aff_keys, KEY_COLS, "left_anti")
        seq_actions = _resolve_rename_groups(ev_aff, lake, aff_keys)
    else:
        ev_rest = ev
        seq_actions = None

    vec_actions = lww_fold(
        ev_rest, num_buckets=nb, salts=_salts(ev_rest, nb)
    ).select(*KEY_COLS, "commit", "event_seq", _op_action(),
             "lang", "content", "extra_cols")
    actions = (
        vec_actions.unionByName(seq_actions) if seq_actions is not None else vec_actions
    )
    return actions.select(*KEY_COLS, "commit", "event_seq", "op",
                          *_lake_payload(lake, mani))
