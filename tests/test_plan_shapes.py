"""Physical-plan regression guards: the scale properties the engine's
design depends on, asserted on `.explain` output so a refactor can't
silently reintroduce an exchange or lose pushdown.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.algorithms.pagerank import _normalized_edges, pagerank  # noqa: E402
from graph_data_science_spark.graph.build import LinkGraph  # noqa: E402
from graph_data_science_spark.pregel.spmv import prep_edges_sql  # noqa: E402
from graph_data_science_spark.pregel.superstep import SuperstepLoop  # noqa: E402


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rank_graph_build_is_single_shuffle(spark):
    edges = spark.createDataFrame(
        [(i, (i * 7) % 100, 1.0 + (i % 3)) for i in range(1000)],
        "src long, dst long, weight double",
    )
    norm = _normalized_edges(LinkGraph(edges=edges), weighted=True, num_partitions=4)
    prepped = prep_edges_sql(norm, num_partitions=4, clustered=True)
    plan = _physical(prepped)
    # The cached prep plan must contain exactly ONE Exchange (the
    # hash-partition by src that the window normalization and the
    # per-superstep join both reuse). AQE prints the final plan plus an
    # "Initial Plan" copy — count only the final section.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    prepped.unpersist()


def test_parquet_filter_pushdown(spark, tmp_path):
    p = str(tmp_path / "docs")
    spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("bucket")
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("bucket") == 3).select("doc_id")
    plan = _physical(df)
    # Catalyst must push the predicate into the scan and prune columns.
    assert "PushedFilters" in plan and "bucket" in plan.split("PushedFilters")[1][:200], plan


def test_small_dim_join_is_broadcast(spark):
    big = spark.range(10000).select(F.col("id").alias("k"), (F.col("id") % 25).alias("dim_id"))
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(25)], "dim_id long, name string")
    joined = big.join(dim, "dim_id")
    plan = _physical(joined)
    assert "BroadcastHashJoin" in plan, plan


def _plan_nodes(plan) -> list:
    """Every node of a physical plan (JVM SparkPlan), depth first. Cached
    relations are leaves: the plan that built a cache is not re-run."""
    out = [plan]
    children = plan.children()
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i))
    return out


@pytest.mark.parametrize("num_blocks", [None, 3])
def test_pagerank_superstep_is_co_partitioned(spark, monkeypatch, num_blocks):
    # A fixture graph far under spark.sql.autoBroadcastJoinThreshold (64 MB):
    # without the join hint, every superstep would broadcast the cached
    # edges. With the vertex state co-partitioned with the edge cache, the
    # message aggregation's Exchange is the only one in a superstep, for the
    # session's shuffle partition count (None) and for another one (3).
    plans = {}
    commit = SuperstepLoop.commit

    def recording_commit(self, state, superstep, *args, **kwargs):
        plans[superstep] = _plan_nodes(state._jdf.queryExecution().executedPlan())
        return commit(self, state, superstep, *args, **kwargs)

    monkeypatch.setattr(SuperstepLoop, "commit", recording_commit)
    pairs = [(i, (i * 7 + 3) % 200) for i in range(200)] + [(i, (i + 1) % 200) for i in range(200)]
    edges = spark.createDataFrame(
        [(s, d, 1.0) for s, d in pairs], "src long, dst long, weight double"
    )
    res = pagerank(LinkGraph(edges=edges, node_count=200), max_iterations=4, num_blocks=num_blocks)
    assert res.updates_run == 3
    for superstep in (1, 2, 3):
        names = [p.nodeName() for p in plans[superstep]]
        assert "BroadcastExchange" not in names, names
        assert names.count("Exchange") == 1, names
        (join,) = [p for p in plans[superstep] if p.nodeName().endswith("Join")]
        assert "Exchange" not in [p.nodeName() for p in _plan_nodes(join)], names
