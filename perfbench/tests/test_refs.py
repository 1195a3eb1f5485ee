"""The NumPy references: against brute-force loops, then against the engine
on tiny fixture graphs."""

import dataclasses
import itertools
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

import gen
import refs

TINY_AGENT = dataclasses.replace(gen.AGENT, n_conversations=6, n_tools=8)
TINY_CHAT = dataclasses.replace(gen.CHAT, n_conversations=60, n_tools=12)


def _graph(profile, seed=5):
    g = refs.derive(gen.generate(profile, seed))
    return int(g["n_nodes"]), g["src"], g["dst"], g["weight"]


# -- brute force -------------------------------------------------------------


def _pagerank_loops(n, src, dst, d, tol, max_iter):
    out = defaultdict(list)
    for s, t in zip(src, dst):
        out[s].append(t)
    delta = [1 - d] * n
    rank = list(delta)
    step = 0
    while step + 1 < max_iter:
        step += 1
        msg = [0.0] * n
        for s in range(n):
            if abs(delta[s]) > tol:
                for t in out[s]:
                    msg[t] += delta[s] / len(out[s])
        delta = [d * m for m in msg]
        rank = [r + x for r, x in zip(rank, delta)]
        if not any(abs(x) > tol for x in delta):
            break
    return np.array(rank)


def _wcc_bfs(n, src, dst):
    adj = defaultdict(set)
    for s, t in zip(src, dst):
        adj[s].add(t)
        adj[t].add(s)
    comp = [-1] * n
    for v in range(n):
        if comp[v] < 0:
            stack, members = [v], []
            comp[v] = v
            while stack:
                u = stack.pop()
                members.append(u)
                for x in adj[u]:
                    if comp[x] < 0:
                        comp[x] = v
                        stack.append(x)
            low = min(members)
            for u in members:
                comp[u] = low
    return np.array(comp)


def _lpa_loops(n, src, dst, w, max_iter):
    label = list(range(n))
    for _ in range(max_iter):
        changed = 0
        for parity in (0, 1):
            votes = defaultdict(lambda: defaultdict(float))
            for s, t, x in zip(src, dst, w):
                if s % 2 == parity:
                    votes[s][label[t]] += x
            for s, v in votes.items():
                best = min(v, key=lambda c: (-v[c], c))
                changed += best != label[s]
                label[s] = best
        if not changed:
            break
    return np.array(label)


def _triangles_brute(n, src, dst):
    adj = defaultdict(set)
    for s, t in zip(src, dst):
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    per = np.zeros(n, dtype=np.int64)
    total = 0
    for a in adj:
        for b, c in itertools.combinations(sorted(x for x in adj[a] if x > a), 2):
            if c in adj[b]:
                total += 1
                per[[a, b, c]] += 1
    return per, total


@pytest.mark.parametrize("profile", [TINY_AGENT, TINY_CHAT])
def test_references_match_brute_force(profile):
    n, src, dst, w = _graph(profile)
    pr = refs.pagerank(n, src, dst, 0.85, 1e-6, 100)["score"]
    assert np.allclose(pr, _pagerank_loops(n, src, dst, 0.85, 1e-6, 100), rtol=0, atol=1e-12)
    assert np.array_equal(refs.wcc(n, src, dst)["component"], _wcc_bfs(n, src, dst))
    assert np.array_equal(
        refs.label_propagation(n, src, dst, w, 10)["label"], _lpa_loops(n, src, dst, w, 10)
    )
    tri = refs.triangles(n, src, dst)
    per, total = _triangles_brute(n, src, dst)
    assert total > 0 or profile is TINY_CHAT
    assert np.array_equal(tri["triangles"], per) and int(tri["count"]) == total


def test_lpa_ties_go_to_the_smaller_label():
    # 0 -> {1, 2}: one vote each for labels 1 and 2; the tie goes to 1.
    src, dst = np.array([0, 0]), np.array([1, 2])
    assert refs.label_propagation(3, src, dst, np.ones(2), 1)["label"].tolist() == [1, 1, 2]


def test_derive_builds_reply_and_tool_edges():
    import pyarrow as pa

    t = pa.table(
        {
            "conv_id": ["b", "a", "a", "a"],
            "turn_idx": pa.array([0, 1, 0, 2], pa.int32()),
            "tool": [None, "x", "x", None],
        }
    )
    g = refs.derive(t)
    edges = {(int(s), int(d)) for s, d in zip(g["src"], g["dst"])}
    # rows: 0=(b,0) 1=(a,1) 2=(a,0) 3=(a,2); tool x is node 4
    assert edges == {(2, 1), (1, 3), (1, 4), (2, 4)}
    assert int(g["n_nodes"]) == 5


def test_cached_reuses_the_stored_result(tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return {"x": np.arange(3)}

    a = refs.cached(str(tmp_path), "t", [np.arange(5)], compute)
    b = refs.cached(str(tmp_path), "t", [np.arange(5)], compute)
    refs.cached(str(tmp_path), "t", [np.arange(6)], compute)
    assert len(calls) == 2 and np.array_equal(a["x"], b["x"])


# -- against the engine --------------------------------------------------------


def _link_graph(spark, n, src, dst, w):
    from graph_data_science_spark.graph.build import LinkGraph

    pdf = pd.DataFrame({"src": src, "dst": dst, "weight": w})
    return LinkGraph(edges=spark.createDataFrame(pdf), node_count=n)


def _by_node(pdf, col, n):
    out = np.full(n, -1, dtype=pdf[col].dtype)
    out[pdf["node_id"].to_numpy()] = pdf[col].to_numpy()
    return out


def test_references_match_the_engine_on_a_fixture_graph(spark):
    from graph_data_science_spark.algorithms import label_propagation, pagerank, triangle_count, wcc

    n, src, dst, w = _graph(TINY_AGENT)
    g = _link_graph(spark, n, src, dst, w)

    pr = pagerank(g, damping=0.85, tolerance=1e-6, max_iterations=100)
    got = _by_node(pr.scores.toPandas(), "score", n)
    assert np.allclose(got, refs.pagerank(n, src, dst, 0.85, 1e-6, 100)["score"], rtol=0, atol=1e-6)

    comp = _by_node(wcc(g).components.toPandas(), "component", n)
    assert np.array_equal(comp, refs.wcc(n, src, dst)["component"])

    lab = _by_node(label_propagation(g, mode="sync").labels.toPandas(), "label", n)
    assert np.array_equal(lab, refs.label_propagation(n, src, dst, w, 10)["label"])

    tc = triangle_count(g)
    want = refs.triangles(n, src, dst)
    assert np.array_equal(_by_node(tc.per_node.toPandas(), "triangles", n), want["triangles"])
    assert tc.global_count == int(want["count"]) > 0


def test_derivation_and_join_back_match_the_reference(spark):
    from graph_data_science_spark.algorithms import pagerank
    from graph_data_science_spark.transcripts import derive_link_graph, join_scores_back

    table = gen.generate(TINY_CHAT, 9)
    ref = refs.derive(table)
    ref_pr = refs.pagerank(int(ref["n_nodes"]), ref["src"], ref["dst"], 0.85, 1e-6, 100)["score"]
    tr = spark.createDataFrame(table.to_pandas())
    tg = derive_link_graph(tr)
    assert tg.graph.node_count == int(ref["n_nodes"])

    # Edges agree once both sides are named by natural keys.
    ids = tg.turn_ids.toPandas()
    names = {r.node_id: f"{r.conv_id}/{r.turn_idx}" for r in ids.itertuples()}
    names.update({r.node_id: f"tool:{r.tool}" for r in tg.tool_ids.toPandas().itertuples()})
    ref_names = [f"{c}/{t}" for c, t in zip(ref["conv_id"], ref["turn_idx"])]
    ref_names += sorted({f"tool:{t}" for t in table.column("tool").to_pylist() if t is not None})
    got = sorted((names[r.src], names[r.dst], r.weight) for r in tg.graph.edges.toPandas().itertuples())
    want = sorted(
        (ref_names[s], ref_names[d], x) for s, d, x in zip(ref["src"], ref["dst"], ref["weight"])
    )
    assert got == want

    out = join_scores_back(tr, tg.turn_ids, pagerank(tg.graph, tolerance=1e-6, max_iterations=100).scores)
    out = out.toPandas().set_index(["conv_id", "turn_idx"]).sort_index()
    want = pd.DataFrame(
        {"text": table.column("text").to_pylist(), "score": ref_pr[: table.num_rows]},
        index=pd.MultiIndex.from_arrays([ref["conv_id"], ref["turn_idx"]], names=["conv_id", "turn_idx"]),
    ).sort_index()
    assert len(out) == len(want)
    assert (out["text"].to_numpy() == want["text"].to_numpy()).all()
    assert np.allclose(out["score"].to_numpy(), want["score"].to_numpy(), rtol=0, atol=1e-6)
