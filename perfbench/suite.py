"""The query workload: every registered query once, over fixed tables,
each result hash-compared with its DuckDB twin."""

from __future__ import annotations

import os

import pandas as pd

from common import ROOT, remove_tree

DATA = os.path.join(ROOT, "perfbench", "data", "qsuite")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# queries that build a persisted index under <checkout>/.data on first use
INDEX_BUILDERS = ["sim_ivf_indexed", "sim_lsh_multiprobe_topk"]
INDEX_DIRS = [os.path.join(ROOT, ".data", "ivf_index", "qsuite_c8"),
              os.path.join(ROOT, ".data", "lsh_index", "qsuite_p8")]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: sorted columns, values as
    comparable scalars, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if "float" in kind:
            df[c] = df[c].astype("float64")
        elif "int" in kind.lower() and df[c].notna().all():
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(
        drop=True)


def queries(run, size: str):
    """Workload part (see run.py): set-up, yield, timed loop, yield,
    output checks and metrics."""
    import duckdb

    from skipmap_processor_spark.plans.queries import ORACLE_SQL, QUERIES

    names = list(QUERIES) if size == "full" else list(QUERIES)[:6]

    def rep(_dir: str):
        # indexes a query persists are engine output: never reuse one from
        # an earlier run
        for d in INDEX_DIRS:
            remove_tree(d)

    def build_indexes(_out):
        # the first call of each index query builds its index: set-up cost
        for q in INDEX_BUILDERS:
            QUERIES[q](run.spark, DATA).toPandas()

    run.setup("queries", rep, once=build_indexes)
    yield
    results: dict[str, pd.DataFrame] = {}
    for name in names:
        ok, res, _dt = run.op("query", "query",
                              lambda n=name: QUERIES[n](run.spark,
                                                        DATA).toPandas(),
                              label=f"query.{name}")
        if ok:
            results[name] = res
    yield

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, t)}.parquet')")
    for name in names:
        if name not in results:
            continue
        run.check(f"query.{name}", lambda n=name: canon(results[n]).equals(
            canon(con.execute(ORACLE_SQL[n]).df())))
    con.close()
    # the indexes this run built go: no later run may reuse them
    for d in INDEX_DIRS:
        remove_tree(d)
    per_query = {n: dt for n, (_k, dt, ok, _cpu) in zip(
        names, [op for op in run.ops if op[0] == "query"]) if ok}
    run.notes["query_s"] = {k: round(v, 4) for k, v in per_query.items()}
    # failed queries count with their time: a crash is not a speed-up
    run.put("query_suite_s", sum(run.op_times("query")), "s")
