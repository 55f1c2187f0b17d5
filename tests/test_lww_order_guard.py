"""Guard: the LWW version order is written once, in ``lake.lww_fold``.

Fails if the package states ``commit`` descending, or compares two rows'
``commit`` / ``event_seq`` columns by hand, anywhere outside the kernel —
every fold (reads, change feed, compaction, CoW merge, action preparation)
must call the kernel instead. ``oracle.py`` compares plain Python tuples in
its sequential reference replay; these column patterns do not match it.
"""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "skipmap_processor_spark")

_Q = r"""["']"""
ORD_PATTERNS = [
    # commit written as a descending sort key (Column API, F.desc, SQL)
    re.compile(rf"col\(\s*{_Q}commit{_Q}\s*\)\s*\.\s*desc"),
    re.compile(rf"\bdesc(?:_nulls_(?:first|last))?\(\s*{_Q}commit{_Q}"),
    re.compile(r"\bcommit`?\s+desc\b", re.I),
    # an ordered comparison between a commit/event_seq column and another
    # column (the hand-written "batch row wins" gate)
    re.compile(rf"col\(\s*{_Q}\w*(?:commit|event_seq){_Q}\s*\)\s*[<>]=?"
               r"\s*(?:F\.)?col\("),
    re.compile(rf"col\(\s*{_Q}\w*{_Q}\s*\)\s*[<>]=?\s*(?:F\.)?col\(\s*"
               rf"{_Q}\w*(?:commit|event_seq){_Q}"),
]


def _kernel_lines() -> set[int]:
    with open(os.path.join(PKG, "lake.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == "lww_fold":
            return set(range(node.lineno, node.end_lineno + 1))
    raise AssertionError("lake.lww_fold not found")


def _hits(src: str, skip: set[int] = frozenset()) -> list[tuple[int, str]]:
    return [(i, line.strip()) for i, line in enumerate(src.splitlines(), 1)
            if i not in skip and any(p.search(line) for p in ORD_PATTERNS)]


def test_patterns_catch_hand_written_lww_order():
    bad = [
        'order = [F.col("commit").desc(), F.col("event_seq").desc()]',
        '| (F.col("_s_commit") > F.col("commit"))',
        '& (F.col("_s_event_seq") > F.col("event_seq"))',
        'w = Window.orderBy(F.desc("commit"))',
        'spark.sql("SELECT * ORDER BY commit DESC, event_seq DESC")',
    ]
    assert all(_hits(b) for b in bad)
    fine = [
        'df.filter(F.col("commit") > F.lit(commit_floor))',
        '| (F.col("_pre_event_seq") != F.col("_post_event_seq"))',
        'if cur is not None and ord_ <= cur.ord:',
    ]
    assert not any(_hits(g) for g in fine)


def test_lww_order_is_written_once():
    kernel = _kernel_lines()
    with open(os.path.join(PKG, "lake.py")) as f:
        assert _hits(f.read()), "the kernel itself must state the order"
    found = []
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            with open(p) as f:
                src = f.read()
            skip = kernel if os.path.samefile(
                p, os.path.join(PKG, "lake.py")) else set()
            found += [(os.path.relpath(p, PKG), i, s)
                      for i, s in _hits(src, skip)]
    assert not found, (
        "LWW order stated outside lake.lww_fold (call the kernel): "
        f"{found}")
