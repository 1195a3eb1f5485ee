"""Driver-side NumPy references the benchmark checks the engine against.

Each reference restates the documented semantics independently of the
engine's code:

- ``derive``: the transcript link graph over natural keys (turn edges
  ``t -> t+1`` within a conversation, tool edges ``turn -> tool``, weight =
  link multiplicity);
- ``pagerank``: GDS delta-push PageRank (init ``1 - d``, send
  ``delta / out_degree`` while ``|delta| > tol``, rank = Σ deltas);
- ``wcc``: weakly connected components labelled by their minimum node id;
- ``label_propagation``: synchronous two-wave LPA (even ids, then odd ids;
  votes are out-neighbour labels weighted by edge weight; ties go to the
  smaller label; a node without votes keeps its label);
- ``triangles``: exact per-node triangle counts of the undirected simple
  graph.

``cached`` stores a result under the benchmark's cache directory, keyed by
a digest of its inputs, so each seed's references are computed once.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa


def cached(cache_dir: str, name: str, inputs: list[np.ndarray], fn) -> dict[str, np.ndarray]:
    h = hashlib.sha256(name.encode())
    for a in inputs:
        a = np.ascontiguousarray(a)
        h.update(str((a.dtype, a.shape)).encode())
        h.update(a.tobytes())
    path = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:24]}.npz")
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            return {k: z[k] for k in z.files}
    out = fn()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out


# -- derivation ------------------------------------------------------------


def derive(table: pa.Table) -> dict[str, np.ndarray]:
    """Link graph of a transcript table over its own node numbering.

    Nodes ``0 .. n_turns-1`` are turns in table order, then one node per
    distinct tool. Returns ``src``, ``dst``, ``weight``, ``n_nodes`` and the
    turn keys (``conv_id``, ``turn_idx``) of the turn nodes."""
    conv = table.column("conv_id").to_numpy(zero_copy_only=False).astype(str)
    turn = table.column("turn_idx").to_numpy().astype(np.int64)
    tool = table.column("tool").to_numpy(zero_copy_only=False)
    n_turns = len(conv)

    order = np.lexsort((turn, conv))
    same_conv = conv[order[1:]] == conv[order[:-1]]
    reply_src, reply_dst = order[:-1][same_conv], order[1:][same_conv]

    has_tool = np.array([t is not None for t in tool], dtype=bool)
    names, tool_idx = np.unique(tool[has_tool].astype(str), return_inverse=True)
    tool_src = np.flatnonzero(has_tool)
    tool_dst = n_turns + tool_idx

    src = np.concatenate([reply_src, tool_src]).astype(np.int64)
    dst = np.concatenate([reply_dst, tool_dst]).astype(np.int64)
    n_nodes = n_turns + len(names)
    pairs, weight = np.unique(src * n_nodes + dst, return_counts=True)
    return {
        "src": pairs // n_nodes,
        "dst": pairs % n_nodes,
        "weight": weight.astype(np.float64),
        "n_nodes": np.array(n_nodes),
        "conv_id": conv,
        "turn_idx": turn,
    }


# -- algorithms ------------------------------------------------------------


def pagerank(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
) -> dict[str, np.ndarray]:
    """Unweighted GDS delta-push PageRank; one message per edge row."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    norm = 1.0 / out_deg[src]
    delta = np.full(n, 1.0 - damping)
    rank = delta.copy()
    superstep = 0
    while superstep + 1 < max_iterations:
        superstep += 1
        send = np.where(np.abs(delta) > tolerance, delta, 0.0)
        delta = damping * np.bincount(dst, weights=send[src] * norm, minlength=n)
        rank += delta
        if not (np.abs(delta) > tolerance).any():
            break
    return {"score": rank, "supersteps": np.array(superstep + 1)}


def wcc(n: int, src: np.ndarray, dst: np.ndarray) -> dict[str, np.ndarray]:
    label = np.arange(n, dtype=np.int64)
    while True:
        before = label.copy()
        low = np.minimum(label[src], label[dst])
        np.minimum.at(label, src, low)
        np.minimum.at(label, dst, low)
        while True:  # pointer jumping: label(v) <- label(label(v))
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, before):
            return {"component": label}


def label_propagation(
    n: int, src: np.ndarray, dst: np.ndarray, weight: np.ndarray, max_iterations: int = 10
) -> dict[str, np.ndarray]:
    label = np.arange(n, dtype=np.int64)
    iterations = 0
    for iterations in range(1, max_iterations + 1):
        changed = 0
        for parity in (0, 1):
            sel = src % 2 == parity
            s, cand, w = src[sel], label[dst[sel]], weight[sel]
            if len(s) == 0:
                continue
            key_order = np.lexsort((cand, s))
            s, cand, w = s[key_order], cand[key_order], w[key_order]
            first = np.ones(len(s), dtype=bool)
            first[1:] = (s[1:] != s[:-1]) | (cand[1:] != cand[:-1])
            starts = np.flatnonzero(first)
            vs, vc, vote = s[starts], cand[starts], np.add.reduceat(w, starts)
            best = np.lexsort((vc, -vote, vs))
            vs, vc = vs[best], vc[best]
            winner = np.ones(len(vs), dtype=bool)
            winner[1:] = vs[1:] != vs[:-1]
            nodes, new = vs[winner], vc[winner]
            changed += int((label[nodes] != new).sum())
            label[nodes] = new
        if changed == 0:
            break
    return {"label": label, "iterations": np.array(iterations)}


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> dict[str, np.ndarray]:
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    und = np.unique(a[keep] * n + b[keep])
    a, b = und // n, und % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo, hi = np.where(a_first, a, b), np.where(a_first, b, a)

    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    out_deg = np.bincount(lo, minlength=n)
    start = np.concatenate([[0], np.cumsum(out_deg)])
    edge_keys = lo * n + hi  # sorted

    # Wedges (u; v, w) with v != w both out-neighbours of u: close when v -> w.
    k = out_deg[lo]
    first = np.repeat(np.arange(len(lo)), k)
    offset = np.arange(len(first)) - np.repeat(np.cumsum(k) - k, k)
    second = start[lo[first]] + offset
    pair = first != second
    u, v, w = lo[first[pair]], hi[first[pair]], hi[second[pair]]
    probe = v * n + w
    pos = np.minimum(np.searchsorted(edge_keys, probe), len(edge_keys) - 1)
    closed = edge_keys[pos] == probe if len(edge_keys) else np.zeros(0, dtype=bool)
    corners = np.concatenate([u[closed], v[closed], w[closed]])
    per_node = np.bincount(corners, minlength=n).astype(np.int64)
    return {"triangles": per_node, "count": np.array(int(closed.sum()))}
