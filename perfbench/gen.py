"""Seeded change-event logs for the CDC workloads.

The benchmark owns its inputs: the engine only ever sees the parquet files
written here (``epoch=K/part-0.parquet``, the layout of
``sources.events.write_event_log``). The same seed gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_SCHEMA = pa.schema([
    ("event_seq", pa.int64()),
    ("commit", pa.string()),
    ("ts", pa.timestamp("us")),
    ("op", pa.string()),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("new_path", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
    ("schema_ver", pa.int32()),
    ("extra_cols", pa.map_(pa.string(), pa.string())),
])
T0 = pd.Timestamp("2026-01-01")
_T0_US = T0.value // 1000
LANGS = ["python", "typescript", "go", "java", "rust", "markdown"]
EXT = {"python": "py", "typescript": "ts", "go": "go", "java": "java",
       "rust": "rs", "markdown": "md"}


def commit_id(gseq: int) -> str:
    """Fixed-width, lexicographically monotone commit id (the LWW order)."""
    return f"{gseq:016x}" + "0" * 24


def write_epoch(outdir: str, epoch: int, events: pa.Table) -> int:
    """Write one epoch file; returns its size in bytes."""
    d = os.path.join(outdir, f"epoch={epoch}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "part-0.parquet")
    # row groups small enough for Spark to split an epoch across tasks
    pq.write_table(events, path, row_group_size=8192)
    return os.path.getsize(path)


def to_table(ev: pd.DataFrame) -> pa.Table:
    """Event rows (``extra_cols`` as dicts) in the event-log schema."""
    arrays = []
    for field in EVENT_SCHEMA:
        col = ev[field.name]
        if field.name == "extra_cols":
            col = [list(v.items()) if isinstance(v, dict) else None
                   for v in col]
            arrays.append(pa.array(col, type=field.type))
        else:
            arrays.append(pa.array(col, type=field.type, from_pandas=True))
    return pa.Table.from_arrays(arrays, schema=EVENT_SCHEMA)


def _zipf_repos(rng, n_repos: int, size: int) -> np.ndarray:
    ranks = np.arange(1, n_repos + 1, dtype=float)
    p = ranks ** -1.2
    return rng.choice(n_repos, size=size, p=p / p.sum())


def bulk_log(outdir: str, seed: int, n_keys: int, per_epoch: int,
             n_epochs: int, n_repos: int = 500, hot_share: float = 0.35,
             delete_share: float = 0.10) -> dict[int, pa.Table]:
    """Upsert/delete backlog over a fixed keyspace: Zipf repo popularity,
    one hot repo holding ``hot_share`` of the keys, ``delete_share``
    deletes, no renames, no schema change. Returns epoch -> (events,
    file bytes)."""
    rng0 = np.random.default_rng([seed, 0])
    key_repo = _zipf_repos(rng0, n_repos, n_keys)
    key_repo[rng0.random(n_keys) < hot_share] = 0
    repo_names = pa.array([f"org{i % 7}/repo{i}" for i in range(n_repos)])
    paths = pa.array([f"src/gen/mod_{k}.py" for k in range(n_keys)])
    pool = pa.array(["\n".join(f"def fn_{j}(x):  \n    return x * {j + t}"
                               for j in range(12)) for t in range(64)])
    epochs = {}
    for ep in range(n_epochs):
        rng = np.random.default_rng([seed, 1, ep])
        keys = rng.integers(0, n_keys, size=per_epoch)
        gseq = 1_000_000 + ep * per_epoch + np.arange(per_epoch)
        dele = rng.random(per_epoch) < delete_share
        upsert = pa.array(~dele)
        content = pc.binary_join_element_wise(
            pool.take(keys % 64), "\n# v", pc.cast(pa.array(gseq), pa.string()),
            "   ", "")
        null_str = pa.nulls(per_epoch, pa.string())
        tbl = pa.Table.from_arrays([
            pa.array(np.zeros(per_epoch, dtype=np.int64)),
            pa.array([commit_id(int(g)) for g in gseq]),
            pa.array((gseq - 1_000_000) * 1_000_000 + _T0_US,
                     type=pa.timestamp("us")),
            pc.if_else(upsert, "update", "delete"),
            repo_names.take(key_repo[keys]),
            paths.take(keys),
            null_str,
            pc.if_else(upsert, "python", null_str),
            pc.if_else(upsert, content, null_str),
            pa.array(np.ones(per_epoch, dtype=np.int32)),
            pa.nulls(per_epoch, EVENT_SCHEMA.field("extra_cols").type),
        ], schema=EVENT_SCHEMA)
        epochs[ep] = (tbl, write_epoch(outdir, ep, tbl))
    return epochs


class _Keys:
    """Key set with O(1) random pick and removal."""

    def __init__(self, rng):
        self.rng, self.keys, self.pos = rng, [], {}

    def add(self, key):
        self.pos[key] = len(self.keys)
        self.keys.append(key)

    def remove(self, key):
        i = self.pos.pop(key)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def pick(self):
        return self.keys[int(self.rng.integers(0, len(self.keys)))]


class _Live:
    """Live keys with their language, pickable overall or within a repo."""

    def __init__(self, rng):
        self.rng, self.all, self.by_repo, self.lang = rng, _Keys(rng), {}, {}

    def add(self, key, lang):
        self.all.add(key)
        self.by_repo.setdefault(key[0], _Keys(self.rng)).add(key)
        self.lang[key] = lang

    def remove(self, key):
        self.all.remove(key)
        self.by_repo[key[0]].remove(key)
        return self.lang.pop(key)

    def pick(self, repo):
        """A live key of ``repo``, else any live key."""
        keys = self.by_repo.get(repo)
        return keys.pick() if keys and keys.keys else self.all.pick()


def _content(rng, key: str, version: int) -> str:
    """4-39 lines of pseudo-code; trailing blanks and CR/CRLF endings
    exercise the content normalizer."""
    n = int(rng.integers(4, 40))
    mult = rng.integers(1, 99, size=n)
    trail = rng.random(n) < 0.2
    tab = rng.random(n) < 0.1
    lines = [f"def fn_{i}(x): return x * {mult[i]}  # {key} v{version}"
             + ("   " if trail[i] else "") + ("\t" if tab[i] else "")
             for i in range(n)]
    sep = "\r\n" if rng.random() < 0.15 else "\n"
    text = sep.join(lines)
    if rng.random() < 0.05:
        text = text.replace(sep, "\r", 1)
    return text


def trickle_log(seed: int, n_base: int, per_epoch: int, n_epochs: int,
                evo_epoch: int, n_repos: int = 20
                ) -> tuple[pd.DataFrame, dict[int, pd.DataFrame]]:
    """Base snapshot plus small epochs in the traffic mix of the engine's
    ``sources.events.generate_full``: 55% updates, 30% inserts, 10%
    deletes and 5% renames in every epoch, Zipf repo popularity and one
    hot repo that draws 35% of the events. From ``evo_epoch`` on, upserts
    carry ``extra_cols`` keys the table has not seen (schema evolution by
    promotion). Returns (base, epoch -> events)."""
    rng = np.random.default_rng([seed, 2])
    repos = [f"org{i % 7}/repo{i}" for i in range(n_repos)]
    live = _Live(rng)
    uid = 0

    def new_path(lang):
        nonlocal uid
        uid += 1
        d = ["core", "io", "utils", "api", "models", "cli"][
            int(rng.integers(0, 6))]
        return f"src/{d}/mod_{uid}.{EXT[lang]}"

    def new_lang():
        return LANGS[int(rng.integers(0, len(LANGS)))]

    base_rows = []
    for repo in _zipf_repos(rng, n_repos, n_base):
        lang = new_lang()
        key = (repos[repo], new_path(lang))
        base_rows.append((key[0], key[1], commit_id(uid), lang,
                          _content(rng, "/".join(key), 0)))
        live.add(key, lang)
    base = pd.DataFrame(base_rows,
                        columns=["repo", "path", "commit", "lang", "content"])

    gseq = 1_000_000
    epochs: dict[int, pd.DataFrame] = {}
    for ep in range(n_epochs):
        rows: list[dict] = []

        def emit(op, key, new_path=None, lang=None, content=None):
            nonlocal gseq
            gseq += 1
            extra = None
            if ep >= evo_epoch and op in ("insert", "update"):
                extra = {"branch": ["main", "dev", "release"][gseq % 3],
                         "author": f"user{gseq % 50}"}
            rows.append({
                "event_seq": 0, "commit": commit_id(gseq),
                "ts": T0 + pd.Timedelta(seconds=gseq - 1_000_000),
                "op": op, "repo": key[0], "path": key[1],
                "new_path": new_path, "lang": lang, "content": content,
                "schema_ver": 2 if extra else 1, "extra_cols": extra})

        hot = rng.random(per_epoch) < 0.35
        drawn = _zipf_repos(rng, n_repos, per_epoch)
        for r, is_hot, zipf in zip(rng.random(per_epoch), hot, drawn):
            repo = repos[0] if is_hot else repos[zipf]
            if r < 0.55:
                key = live.pick(repo)
                emit("update", key, lang=live.lang[key],
                     content=_content(rng, "/".join(key), gseq))
            elif r < 0.85:
                lang = new_lang()
                key = (repo, new_path(lang))
                emit("insert", key, lang=lang,
                     content=_content(rng, "/".join(key), gseq))
                live.add(key, lang)
            elif r < 0.95:
                key = live.pick(repo)
                live.remove(key)
                emit("delete", key)
            else:
                key = live.pick(repo)
                lang = live.remove(key)
                new = (key[0], new_path(lang))
                emit("rename", key, new_path=new[1])
                live.add(new, lang)
        epochs[ep] = pd.DataFrame(rows)
    return base, epochs
