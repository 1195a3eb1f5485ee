"""PageRank fixture tests (FIXTURES.md F1/F2, from the reference's own
PageRankTest.java golden values)."""

import pytest

from graph_data_science_spark.algorithms.pagerank import pagerank
from graph_data_science_spark.graph.build import from_edge_list

# F1: Wikipedia example graph, nodes a..k = 0..10.
F1_EDGES = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (4, 5), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4), (10, 4),
]
F1_EXPECTED = [
    0.3040965, 3.5604297, 3.1757906, 0.3625935, 0.7503465, 0.3625935,
    0.15, 0.15, 0.15, 0.15, 0.15,
]
F1_PERSONALIZED_AE = [  # source nodes {a, e} = {0, 4}
    0.17053529152163158, 0.3216114449911402, 0.27329311398643763,
    0.048318333106500536, 0.17053529152163158, 0.048318333106500536,
    0.0, 0.0, 0.0, 0.0, 0.0,
]
F1_PERSONALIZED_KB = [  # source nodes {k, b} = {10, 1}
    0.017454997930076894, 0.813246950528992, 0.690991752640184,
    0.041070583050331164, 0.1449550029964717, 0.041070583050331164,
    0.0, 0.0, 0.0, 0.0, 0.15000000000000002,
]

# F2: weighted variant (PageRankTest.java:274-304).
F2_EDGES = [
    (1, 2, 1.0), (2, 1, 1.0), (3, 0, 0.2), (3, 1, 0.8), (4, 1, 0.10),
    (4, 3, 0.70), (4, 5, 0.20), (5, 1, 0.7), (5, 4, 0.3), (6, 1, 0.01),
    (6, 4, 0.99), (7, 1, 0.5), (7, 4, 0.5), (8, 1, 0.5), (8, 4, 0.5),
    (9, 4, 1.0), (10, 4, 1.0),
]
F2_EXPECTED = [0.24919, 3.69822, 3.29307, 0.58349, 0.72855, 0.27385,
               0.15, 0.15, 0.15, 0.15, 0.15]


def scores_list(result, n):
    rows = {r["node_id"]: r["score"] for r in result.scores.collect()}
    return [rows[i] for i in range(n)]


def test_pagerank_unweighted_golden(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41)
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F1_EXPECTED)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_personalized_ae(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, source_nodes=[0, 4])
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F1_PERSONALIZED_AE)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_personalized_kb(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, source_nodes=[10, 1])
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F1_PERSONALIZED_KB)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_weighted_golden(spark):
    g = from_edge_list(spark, F2_EDGES, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, weighted=True)
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F2_EXPECTED)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_weighted_scale_invariance(spark):
    # unnormalizedWeight = 10 × weight must give identical ranks.
    scaled = [(s, d, w * 10.0) for (s, d, w) in F2_EDGES]
    g = from_edge_list(spark, scaled, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=41, weighted=True)
    got = scores_list(res, 11)
    for i, (a, e) in enumerate(zip(got, F2_EXPECTED)):
        assert a == pytest.approx(e, abs=1e-5), f"node {i}: {a} != {e}"


def test_pagerank_zero_weights(spark):
    # All weights 0 → every rank = 1 - d = 0.15 (PageRankTest.java:306-324).
    zero = [(s, d, 0.0) for (s, d, _w) in F2_EDGES]
    g = from_edge_list(spark, zero, node_count=11)
    res = pagerank(g, damping=0.85, tolerance=0.0, max_iterations=10, weighted=True)
    got = scores_list(res, 11)
    assert all(a == pytest.approx(0.15, abs=1e-12) for a in got)


def test_pagerank_tolerance_converges_early(spark):
    # PageRankTest.java:126-141: tolerance 0.5 → 2 iterations; 0.1 → 13.
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res_loose = pagerank(g, tolerance=0.5, max_iterations=40)
    assert res_loose.did_converge and res_loose.ran_iterations <= 3
    res_tight = pagerank(g, tolerance=0.1, max_iterations=40)
    assert res_tight.did_converge
    assert res_loose.ran_iterations < res_tight.ran_iterations


def test_pagerank_fused_scores_identical(spark):
    # fuse=k runs k message rounds per Spark job; scores must be exact
    # matches of the unfused loop (the tolerance gate stays in-plan).
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    base = scores_list(pagerank(g, tolerance=1e-6, max_iterations=41), 11)
    for k in (2, 3, 5):
        fused = scores_list(pagerank(g, tolerance=1e-6, max_iterations=41, fuse=k), 11)
        for a, b in zip(base, fused):
            assert a == pytest.approx(b, abs=1e-12), f"fuse={k}"


def test_pagerank_fused_resume(spark, tmp_path):
    ck = str(tmp_path / "ckf")
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    partial = pagerank(g, tolerance=1e-6, max_iterations=5, checkpoint_dir=ck, fuse=3)
    resumed = pagerank(g, tolerance=1e-6, max_iterations=41, checkpoint_dir=ck, fuse=3)
    full = pagerank(g, tolerance=1e-6, max_iterations=41)
    a = scores_list(resumed, 11)
    b = scores_list(full, 11)
    for x, y in zip(a, b):
        assert x == pytest.approx(y, abs=1e-9)


# Score equivalence of the co-partitioned superstep layout and the fold
# budget: every variant must reproduce the plain run's scores. Twelve
# supersteps keep every delta frame non-trivial (F1 converges slowly).
F1_TOL = dict(tolerance=1e-6, max_iterations=12)


def _assert_same(got, want, atol):
    for i, (a, b) in enumerate(zip(got, want)):
        assert a == pytest.approx(b, abs=atol), f"node {i}: {a} != {b}"


@pytest.fixture(scope="module")
def f1_plain(spark):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    return scores_list(pagerank(g, **F1_TOL), 11)


def test_pagerank_fold_budget_does_not_change_scores(spark, monkeypatch, f1_plain):
    import importlib

    pr_mod = importlib.import_module("graph_data_science_spark.algorithms.pagerank")

    checkpoints = []
    df_class = type(spark.range(1))
    local_checkpoint = df_class.localCheckpoint

    def counting(self, *args, **kwargs):
        checkpoints.append(1)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(df_class, "localCheckpoint", counting)
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    end_only = pagerank(g, **F1_TOL)
    end_only_checkpoints = len(checkpoints)
    # A budget of a fraction of a row: every commit folds the frames before it.
    monkeypatch.setattr(pr_mod, "FOLD_MEMORY_FRACTION", 1e-12)
    checkpoints.clear()
    folded = pagerank(g, **F1_TOL)
    assert len(checkpoints) > end_only_checkpoints  # the early folds ran
    assert folded.ran_iterations == end_only.ran_iterations
    _assert_same(scores_list(folded, 11), scores_list(end_only, 11), 1e-12)
    _assert_same(scores_list(end_only, 11), f1_plain, 1e-12)


def test_pagerank_num_blocks_differs_from_shuffle_partitions(spark, f1_plain):
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    _assert_same(scores_list(pagerank(g, num_blocks=3, **F1_TOL), 11), f1_plain, 1e-12)


def test_pagerank_salted_hot_source(spark, f1_plain):
    # Node 4 has out-degree 3 > threshold 2: its out-edges are salted into
    # two sub-groups and its state is replicated to both.
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    for num_blocks in (None, 3):
        res = pagerank(g, hot_degree_threshold=2, num_blocks=num_blocks, **F1_TOL)
        _assert_same(scores_list(res, 11), f1_plain, 1e-12)


def test_pagerank_fused_with_num_blocks(spark, f1_plain):
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    res = pagerank(g, fuse=3, num_blocks=3, **F1_TOL)
    _assert_same(scores_list(res, 11), f1_plain, 1e-12)


def test_pagerank_warm_start_from_converged_scores(spark):
    # A DAG: every delta dies out after its depth, so the cold run converges
    # in a few supersteps and the warm runs have nothing left to push.
    dag = [(0, 2), (1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 5), (6, 3)]
    g = from_edge_list(spark, dag, node_count=7)
    cold = pagerank(g, tolerance=1e-10, max_iterations=20)
    assert cold.did_converge
    warm = [
        pagerank(g, initial_scores=cold.scores, num_blocks=num_blocks, **F1_TOL)
        for num_blocks in (None, 3)
    ]
    for w in warm:
        assert w.did_converge and w.updates_run <= 1
        _assert_same(scores_list(w, 7), scores_list(cold, 7), 1e-12)


def test_pagerank_kill_resume_matches_uninterrupted(spark, tmp_path, f1_plain):
    # The resumed superstep-0 frame is read back from parquet and must be
    # re-partitioned into the edge cache's count (3 ≠ shuffle partitions).
    g = from_edge_list(spark, F1_EDGES, node_count=11)
    ck = str(tmp_path / "ck")
    partial = pagerank(g, tolerance=1e-6, max_iterations=5, checkpoint_dir=ck, num_blocks=3)
    assert partial.ran_iterations == 5
    resumed = pagerank(g, checkpoint_dir=ck, num_blocks=3, **F1_TOL)
    assert resumed.updates_run == F1_TOL["max_iterations"] - 5
    _assert_same(scores_list(resumed, 11), f1_plain, 1e-12)
