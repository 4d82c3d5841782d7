"""Sinks that force the whole result of a timed read.

A bare ``count()`` lets Catalyst prune every column the count does not
need, so it can time a plan that skips most of the query. The sink here
aggregates ``count(*)`` together with ``bit_xor(xxhash64(<every output
column>))``: the hash references each column, so nothing can be pruned.
Array columns are sorted first because ``collect_list`` order depends on
task arrival, and the digest must be comparable across runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


def _hash_cols(df: DataFrame) -> list[Column]:
    return [
        F.array_sort(F.col(f.name)) if isinstance(f.dataType, ArrayType) else F.col(f.name)
        for f in df.schema.fields
    ]


def sink_frame(df: DataFrame) -> DataFrame:
    """The one-row aggregate that forces every column of ``df``."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*_hash_cols(df))).alias("x"),
    )


def sink(df: DataFrame) -> tuple[int, int | None]:
    """Run ``df`` to completion; returns ``(rows, xor of row hashes)``."""
    row = sink_frame(df).collect()[0]
    return int(row["n"]), row["x"]


def keeps_every_column(df: DataFrame) -> bool:
    """True when the optimizer left ``df``'s plan whole under the sink:
    the optimized child of the sink's aggregate is the same plan as
    ``df``'s own optimized plan, so no column or expression was pruned."""
    agg = sink_frame(df)._jdf.queryExecution().optimizedPlan()
    own = df._jdf.queryExecution().optimizedPlan()
    return bool(agg.child().sameResult(own))
