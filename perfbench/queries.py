"""The seeded ``KnowledgeGraph`` query mix and its pandas recomputation.

Arguments are drawn from small seeded pools over the materialized edges,
so every query the closed loop can issue has an expected answer computed
once, before timing, from the edges collected to pandas. Expected rows are
hashed the way the sink (:mod:`sinks`) hashes the timed result, so a check
is a comparison of ``(rows, xor of row hashes)``.
"""

from __future__ import annotations

import random

import pandas as pd

OPS = (
    "class_sizes",
    "instances_of_type",
    "instances_of_existential",
    "find_triples",
    "neighborhood",
)
POOL = 4  # distinct argument values per op



def pools(edges: pd.DataFrame, isa: int, seed: int) -> dict[str, list[tuple]]:
    """Seeded argument tuples per op."""
    rng = random.Random(seed)
    classes = sorted(edges.loc[edges.r == isa, "t"].unique().tolist())
    rels = sorted(edges.loc[edges.r != isa, "r"].unique().tolist())
    ents = sorted(set(edges.h.tolist()) | set(edges.t.tolist()))

    def some(xs):
        return rng.sample(xs, min(POOL, len(xs)))

    return {
        "class_sizes": [()],
        "instances_of_type": [(c,) for c in some(classes)],
        "instances_of_existential": some([(r, c) for r in rels for c in classes]),
        "find_triples": [(e,) for e in some(ents)],
        "neighborhood": [(e,) for e in some(ents)],
    }


def mix(arg_pools: dict[str, list[tuple]], seed: int):
    """Endless stream of ``(op, args)``: the ops in turn, so every run has
    the same op proportions, each with seeded arguments."""
    rng = random.Random(seed + 1)
    while True:
        for op in OPS:
            yield op, rng.choice(arg_pools[op])


def call(kg, op: str, args: tuple):
    if op == "find_triples":
        return kg.find_triples(h=args[0])
    return getattr(kg, op)(*args)


def _expected_rows(edges: pd.DataFrame, isa: int, op: str, args: tuple) -> list[tuple]:
    """The answer to ``op(*args)`` over the edges, padded to the row shape
    ``(a, b, c, arr, s)`` of :data:`_ROW`."""
    typed = edges[edges.r == isa]
    if op == "class_sizes":
        return [(int(t), int(n), None, None, None) for t, n in typed.groupby("t").size().items()]
    if op == "instances_of_type":
        return [(int(h), None, None, None, None) for h in typed.loc[typed.t == args[0], "h"].unique()]
    if op == "instances_of_existential":
        rel, cls = args
        members = set(typed.loc[typed.t == cls, "h"])
        e = edges[(edges.r == rel) & edges.t.isin(members)]
        return [(int(h), None, None, None, None) for h in e.h.unique()]
    if op == "find_triples":
        e = edges[edges.h == args[0]]
        return [(int(h), int(r), int(t), None, None) for h, r, t in e[["h", "r", "t"]].itertuples(index=False)]
    if op == "neighborhood":
        (ent,) = args
        rows = []
        for side, key, other in (("out", "h", "t"), ("in", "t", "h")):
            for r, grp in edges[edges[key] == ent].groupby("r"):
                rows.append((int(r), None, None, [int(x) for x in grp[other]], side))
        return rows
    raise ValueError(op)


_ROW = "q string, op string, a long, b long, c long, arr array<long>, s string"


def expected_digests(spark, edges: pd.DataFrame, isa: int, arg_pools) -> dict:
    """``{(op, args): (rows, xor)}`` for every pooled query, in one Spark
    job: the pandas-computed answers are hashed exactly as the sink hashes
    each op's output columns (same column types, same order)."""
    from pyspark.sql import functions as F

    rows = [
        (repr((op, args)), op, *row)
        for op, arg_list in arg_pools.items()
        for args in arg_list
        for row in _expected_rows(edges, isa, op, args)
    ]
    op = F.col("op")
    row_hash = (
        F.when(op == "class_sizes", F.xxhash64("a", "b"))
        .when(op == "find_triples", F.xxhash64("a", "b", "c"))
        .when(op == "neighborhood", F.xxhash64("a", F.array_sort("arr"), "s"))
        .otherwise(F.xxhash64("a"))
    )
    got = {
        r["q"]: (int(r["n"]), r["x"])
        for r in spark.createDataFrame(rows, _ROW)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor(row_hash).alias("x"))
        .collect()
    }
    return {
        (op, args): got.get(repr((op, args)), (0, None))
        for op, arg_list in arg_pools.items()
        for args in arg_list
    }
