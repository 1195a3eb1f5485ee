"""Transcript-input tests: deterministic synthesis, edge derivation, the
per-turn text-equality invariant (FIXTURES.md F0/F6), and cross-parallelism
reproducibility."""

from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.pagerank import pagerank
from graph_data_science_spark.transcripts import (
    derive_link_graph,
    join_scores_back,
    synthesize_transcripts,
)


def test_synthesis_is_deterministic(spark):
    a = synthesize_transcripts(spark, 50, seed=42)
    b = synthesize_transcripts(spark, 50, seed=42)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = synthesize_transcripts(spark, 50, seed=43)
    assert c.exceptAll(a).count() > 0


def test_schema_matches_input_hint(spark):
    t = synthesize_transcripts(spark, 5)
    fields = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    assert fields == {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
    }


def test_reply_edges_follow_turn_order(spark):
    t = synthesize_transcripts(spark, 30, seed=7)
    tg = derive_link_graph(t, include_tool_edges=False)
    # reply edge count = Σ (turns_per_conv - 1)
    expected = (
        t.groupBy("conv_id").agg((F.count("*") - 1).alias("e")).agg(F.sum("e")).collect()[0][0]
    )
    assert tg.graph.edges.agg(F.sum("weight")).collect()[0][0] == float(expected)
    # each reply edge connects consecutive turns of one conversation
    ids = tg.turn_ids
    e = tg.graph.edges
    joined = (
        e.join(ids.withColumnRenamed("node_id", "src"), "src")
        .withColumnRenamed("conv_id", "c1").withColumnRenamed("turn_idx", "i1")
        .join(ids.withColumnRenamed("node_id", "dst"), "dst")
    )
    bad = joined.filter((F.col("c1") != F.col("conv_id")) | (F.col("turn_idx") != F.col("i1") + 1))
    assert bad.count() == 0


def test_id_mapping_is_bijection(spark):
    t = synthesize_transcripts(spark, 40)
    tg = derive_link_graph(t)
    n_keys = t.select("conv_id", "turn_idx").distinct().count()
    assert tg.turn_ids.count() == n_keys
    assert tg.turn_ids.select("node_id").distinct().count() == n_keys
    lo, hi = tg.turn_ids.agg(F.min("node_id"), F.max("node_id")).collect()[0]
    assert (lo, hi) == (0, n_keys - 1)


def test_text_equality_roundtrip(spark):
    # FIXTURES.md F6: join any per-vertex result back — text must be intact
    # under stable (conv_id, turn_idx) ordering.
    t = synthesize_transcripts(spark, 40)
    tg = derive_link_graph(t)
    res = pagerank(tg.graph, tolerance=1e-6, max_iterations=30)
    back = join_scores_back(t, tg.turn_ids, res.scores)
    orig = t.select("conv_id", "turn_idx", "text")
    got = back.select("conv_id", "turn_idx", "text")
    assert got.exceptAll(orig).count() == 0 and orig.exceptAll(got).count() == 0
    # every turn got a score (turn vertices all exist)
    assert back.filter(F.col("score").isNull()).count() == 0


def test_parity_across_parallelism(spark):
    # SURVEY.md §5: identical results independent of partitioning. Same
    # session, different shuffle/block layout via num_blocks + repartition.
    t = synthesize_transcripts(spark, 60, seed=11)
    tg = derive_link_graph(t)
    g = tg.graph
    r2 = pagerank(g, tolerance=1e-6, max_iterations=25, num_blocks=2)
    r8 = pagerank(g, tolerance=1e-6, max_iterations=25, num_blocks=8)
    diff = (
        r2.scores.withColumnRenamed("score", "s2")
        .join(r8.scores, "node_id")
        .agg(F.max(F.abs(F.col("s2") - F.col("score"))).alias("m"))
        .collect()[0]["m"]
    )
    assert diff < 1e-9


def _persistent_rdds_after_gc(spark, at_most: int, timeout_s: float = 60.0) -> int:
    """Persistent RDD count once Python and JVM garbage is collected. Spark's
    ContextCleaner unpersists unreachable RDDs asynchronously, so poll until
    the count is down to ``at_most`` or the timeout passes."""
    import gc
    import time

    sc = spark.sparkContext
    deadline = time.monotonic() + timeout_s
    while True:
        gc.collect()
        sc._jvm.System.gc()
        n = sc._jsc.getPersistentRDDs().size()
        if n <= at_most or time.monotonic() > deadline:
            return n
        time.sleep(0.5)


def test_repeated_jobs_release_cached_state(spark):
    # Id maps, edge caches and committed superstep state are all cached;
    # once a job's TranscriptGraph and results are dropped, nothing of it
    # may stay pinned in the session.
    t = synthesize_transcripts(spark, 40, seed=5).localCheckpoint()
    orig = t.select("conv_id", "turn_idx", "text")

    def job() -> None:
        tg = derive_link_graph(t)
        res = pagerank(tg.graph, tolerance=1e-6, max_iterations=6)
        got = join_scores_back(t, tg.turn_ids, res.scores).select("conv_id", "turn_idx", "text")
        assert got.exceptAll(orig).count() == 0 and orig.exceptAll(got).count() == 0

    before = _persistent_rdds_after_gc(spark, at_most=0, timeout_s=5.0)
    for _ in range(5):
        job()
    assert _persistent_rdds_after_gc(spark, at_most=before) <= before
