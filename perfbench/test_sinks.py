"""The benchmark's timed reads must run the whole query.

For every op of the query mix, the sink's optimized plan must keep the
query's own optimized plan whole (no column or expression pruned). A bare
``count()`` is the negative control: Catalyst prunes it.

    python3 -m pytest perfbench/test_sinks.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from pyspark.sql import functions as F  # noqa: E402

import queries  # noqa: E402
import sinks  # noqa: E402


@pytest.fixture(scope="module")
def kg(tmp_path_factory):
    from sparktax.graph.kg import KnowledgeGraph
    from sparktax.session import get_spark

    spark = get_spark(app="perfbench-sinks", cores=2)
    d = str(tmp_path_factory.mktemp("kg"))
    spark.range(400).select(
        F.col("id").alias("h"), (F.col("id") % 3).alias("r"), (F.col("id") % 17).alias("t")
    ).write.parquet(f"{d}/edges")
    spark.createDataFrame([(0, "is_a"), (1, "p"), (2, "q")], "id long, uri string").write.parquet(
        f"{d}/relations"
    )
    edges = spark.read.parquet(f"{d}/edges")
    nodes = edges.select(F.col("h").alias("id"), F.col("h").cast("string").alias("uri"))
    graph = KnowledgeGraph(edges, nodes, spark.read.parquet(f"{d}/relations"), isa_uri="is_a")
    yield graph.with_valid_types(), edges.toPandas()


@pytest.mark.parametrize("op", queries.OPS)
def test_sink_keeps_every_output_column(kg, op):
    graph, edges = kg
    args = queries.pools(edges, isa=0, seed=1)[op][0]
    df = queries.call(graph, op, args)
    assert sinks.keeps_every_column(df)

    bare = df.agg(F.count(F.lit(1)))._jdf.queryExecution().optimizedPlan()
    assert not bare.child().sameResult(df._jdf.queryExecution().optimizedPlan())


def test_sink_digest_matches_pandas_recomputation(kg):
    graph, edges = kg
    arg_pools = queries.pools(edges, isa=0, seed=1)
    want = queries.expected_digests(graph.triples.sparkSession, edges, 0, arg_pools)
    for op, arg_list in arg_pools.items():
        for args in arg_list:
            assert sinks.sink(queries.call(graph, op, args)) == want[(op, args)], (op, args)
