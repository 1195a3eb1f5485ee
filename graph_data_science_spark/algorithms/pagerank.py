"""PageRank / ArticleRank / Eigenvector as CSR-block SpMV supersteps.

Semantics match GDS's delta-push Pregel PageRank exactly (reference
``algo/.../pagerank/PageRankComputation.java``):

- init (``:66-75``): every node's value starts at ``1 - d`` (personalized:
  source nodes ``1 - d``, everything else ``0``) and the initial delta is
  sent in superstep 0;
- compute (``:78-99``): ``delta = d * Σ messages``; ``value += delta``;
  if ``delta > tolerance`` send ``delta / degree`` to out-neighbors
  (weighted: ``delta * w / Σ_out w``, positive weights only — degree rule
  of ``DegreeCentrality.java:131-136``), else vote to halt;
- convergence (``PartitionedComputer.java:88-93``): no messages in flight
  and every node halted — here: no node has ``delta > tolerance``.
- defaults d=0.85, tolerance=1e-7, maxIterations=20
  (``PageRankConfig.java:27``, ``RankConfig.java:39,45``).

Scores are GDS-style: NOT normalized to sum 1; dangling mass is not
redistributed.

ArticleRank (``ArticleRankComputation.java``) is the same loop with message
denominator ``degree + avgDegree``. Eigenvector
(``EigenvectorComputation.java``) is power iteration with a per-superstep
global L2 normalization (the masterCompute analog is a driver-side agg).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.pregel.spmv import (
    build_blocks,
    spmv_messages,
    sql_message_path,
)
from graph_data_science_spark.pregel.superstep import (
    SuperstepLoop,
    edge_lineage,
    free_checkpointed,
)


# Delta-state bytes per row for the memory prediction and the fold budget.
STATE_ROW_BYTES = 32
# Share of executor memory the retained (not yet folded) delta frames may
# take before _rank_loop folds them early. At a 12g heap (~7.4 GB
# executor memory) this is ~29M retained rows — 10M-row frames fold every
# 3 commits, 20M-row frames every 2; at 16g, every 4 and every 2. That
# keeps the 10-20M-row regime of BASELINE.md at ≤ 4 retained frames.
FOLD_MEMORY_FRACTION = 0.125


@dataclass
class RankResult:
    scores: DataFrame  # (node_id long, score double)
    ran_iterations: int
    did_converge: bool
    loop: SuperstepLoop
    loop_wall_sec: float = 0.0  # superstep loop only (excludes graph/CSR build)
    updates_run: int = 0  # message rounds actually executed
    superstep_walls: list | None = None  # per-update wall seconds


def _normalized_edges(
    graph: LinkGraph,
    weighted: bool,
    extra_denominator: float = 0.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """edges + norm_w = w / (Σ_out w [+ extra]); unweighted w ≡ 1.

    Single-shuffle plan: the edges are hash-partitioned by ``src`` ONCE and
    the out-degree (Σ strictly-positive weights, GDS
    ``DegreeFunctions.java:39-56``) is a window sum over that clustering —
    no groupBy + edge-side re-join round trip (which cost two extra
    full-edge exchanges at every graph build). The window's required sort
    (``src``) is the very ordering ``prep_edges_sql`` wants, so the SQL
    message path passes ``clustered=True`` downstream and the whole build
    is one exchange + one sort. Output partitioning: HashPartitioning(src,
    num_partitions) — callers passing ``clustered=True`` to the prep MUST
    pass the same ``num_partitions`` here."""
    from pyspark.sql import Window

    spark = graph.edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = graph.edges
    if not weighted:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    pos = F.when(F.col("weight") > 0, F.col("weight")).otherwise(F.lit(0.0))
    deg = F.sum(pos).over(Window.partitionBy("src"))
    return (
        e.select("src", "dst", "weight")
        .repartition(num_partitions, "src")
        .select(
            "src",
            "dst",
            F.when(
                deg > 0, pos / (deg + F.lit(float(extra_denominator)))
            ).otherwise(F.lit(0.0)).alias("norm_w"),
        )
        .filter(F.col("norm_w") != 0)
    )


def _rank_loop(
    graph: LinkGraph,
    norm_edges: DataFrame,
    damping: float,
    tolerance: float,
    max_iterations: int,
    source_nodes: list[int] | None,
    checkpoint_dir: str | None,
    name: str,
    num_blocks: int | None,
    hot_degree_threshold: int,
    message_path: str = "sql",
    fuse: int = 1,
    initial_scores: DataFrame | None = None,
    norm_clustered: bool = True,
) -> RankResult:
    """``message_path``: 'sql' (default) keeps the per-superstep SpMV fully
    JVM-side (co-partitioned join + hash agg — the fast path for reducible
    messages); 'arrow' uses the CSR-block pandas-UDF gather-scatter kernel
    (the general path for non-Catalyst-expressible compute). Results are
    identical; see spmv.py for the measured tradeoff."""
    spark = norm_edges.sparkSession
    n = graph.with_node_count()
    if message_path == "arrow":
        blocked = build_blocks(
            norm_edges, n, num_blocks=num_blocks, hot_degree_threshold=hot_degree_threshold
        )
        msg_fn = lambda active: spmv_messages(blocked, active)  # noqa: E731
        num_parts = None  # the cogroup re-keys state by block; no co-partitioning
    else:
        # norm_edges came out of the window normalization already
        # hash-partitioned by src at num_blocks — skip the re-exchange.
        prepped, msg_fn = sql_message_path(
            norm_edges, num_blocks, hot_degree_threshold, clustered=norm_clustered
        )
        num_parts = prepped.rdd.getNumPartitions()
    # auto_free_prev=False: committed delta frames are retained in `pending`
    # until they are folded — _fold() frees them once summed.
    loop = SuperstepLoop(
        spark,
        name,
        checkpoint_dir,
        lineage=edge_lineage(
            graph.edges,
            params={
                "algo": name,
                "damping": damping,
                "tolerance": tolerance,
                "source_nodes": source_nodes,
                "warm": initial_scores is not None,
            },
            content_sample=checkpoint_dir is not None,
        ),
        auto_free_prev=False,
    )
    # Pre-loop memory prediction (reference DefaultMemoryGuard analog):
    # delta state is one (node, delta) row per active vertex, 16B data +
    # row overhead. The same figures size the fold budget below.
    pred = loop.predict(node_count=n, state_row_bytes=STATE_ROW_BYTES)
    avail_mb = pred.get("executor_memory_mb")
    fold_rows = FOLD_MEMORY_FRACTION * avail_mb * 1e6 / STATE_ROW_BYTES if avail_mb else math.inf

    # Delta-only superstep loop. The classical formulation keeps a full
    # (node, rank, delta) state and outer-joins messages into it every
    # superstep; that materializes |V| rows per superstep even when the
    # active set has shrunk to a handful of vertices. Since
    #     rank(v) = Σ_t delta_t(v)   (delta_0 = the init value),
    # the loop only ever needs the *delta* frame — which is exactly the
    # active set — and ranks are a single fold at the end. Committed delta
    # frames are retained until then; each commit's Observation counts the
    # frame's rows (no extra job), and the loop folds early only when the
    # retained rows × STATE_ROW_BYTES exceed FOLD_MEMORY_FRACTION of
    # executor memory. Retained localCheckpoint frames compete with
    # shuffle memory: at 10-20M active rows, 5 retained frames inflated
    # late supersteps 2-3× (A/B, 10M-edge cycle graph, local[8]; see
    # BASELINE.md) — the budget folds that regime at least every 4 frames,
    # while graphs whose deltas fit the budget pay one fold per run.
    alpha = 1.0 - damping
    spark_ = spark

    def _by_node(df: DataFrame) -> DataFrame:
        # Vertex state co-partitioned with the edge cache (see spmv.py);
        # Spark drops the exchange when df already has this partitioning.
        return df.repartition(num_parts, "node") if num_parts else df

    def _fold(running: DataFrame | None, frames: list[DataFrame]) -> DataFrame:
        parts = ([running] if running is not None else []) + frames
        out = parts[0].select("node", "delta")
        for p in parts[1:]:
            out = out.union(p.select("node", "delta"))
        # In-memory commits are co-partitioned with the edge cache: the
        # union keeps that partitioning and the sum needs no exchange.
        out = out.groupBy("node").agg(F.sum("delta").alias("delta"))
        if loop.state_level is not None:
            out = out.localCheckpoint(eager=True, storageLevel=loop.state_level)
        else:
            out = out.localCheckpoint(eager=True)
        for p in parts:  # folded frames are no longer needed — free the cache
            free_checkpointed(p)
        return out

    def _counted(df: DataFrame, obs: Observation, *extra) -> DataFrame:
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra)

    resumed = loop.resume()
    if resumed is not None:
        # Committed state_i frames are per-superstep deltas; refold them.
        last = resumed[1]
        frames = [
            spark_.read.parquet(loop._state_path(i))
            for i in range(0, last + 1)
            if os.path.exists(loop._marker(i))
        ]
        if initial_scores is not None:
            # Warm-start runs fold the previous solution in as delta_(-1)
            # (see below); committed states are residual deltas only, so
            # the resume refold must re-seed it too. The lineage params
            # record warm=True, so a cold checkpoint can never be resumed
            # into a warm run or vice versa.
            frames.insert(
                0,
                initial_scores.select(
                    F.col("node_id").alias("node"), F.col("score").cast("double").alias("delta")
                ),
            )
        running = _fold(None, [_by_node(f.select("node", "delta")) for f in frames])
        delta = frames[-1]
        if "_s" in delta.columns:
            # Fused commits union several rounds; only the last round's
            # rows are the live active set.
            last_s = delta.agg(F.max("_s").alias("m")).collect()[0]["m"]
            delta = delta.filter(F.col("_s") == last_s).select("node", "delta")
        delta = _by_node(delta)
        start = last + 1
        pending: list[DataFrame] = []  # all committed deltas already folded
        pending_rows: list[int] = []
    else:
        nodes = graph.node_ids().select(F.col("node_id").alias("node"))
        if source_nodes is not None:
            init = F.when(
                F.col("node").isin([int(s) for s in source_nodes]), F.lit(alpha)
            ).otherwise(F.lit(0.0))
        else:
            init = F.lit(alpha)
        if initial_scores is not None:
            # Warm start (incremental refresh): since rank = Σ deltas, a
            # previous solution folds in as the zeroth "delta" and the
            # loop pushes only the RESIDUAL r0 = b + d·M·prev − prev
            # (b = the init vector above). On an unchanged converged
            # graph r0 ≤ tol everywhere ⇒ zero message rounds; on a
            # grown graph the work is proportional to how far prev is
            # from the new fixpoint, not to |V|. Residuals are signed
            # (scores can DROP when a node's in-neighbor gains
            # out-degree), which is why every tolerance gate below is on
            # |delta| — equivalent for the all-positive cold start.
            prev = _by_node(
                initial_scores.select(
                    F.col("node_id").alias("node"), F.col("score").cast("double").alias("prev")
                )
            )
            contrib = msg_fn(prev.select("node", F.col("prev").alias("msg_val"))).select(
                F.col("dst").alias("node"), (F.lit(damping) * F.col("msg")).alias("c")
            )
            delta = (
                nodes.join(prev, "node", "left")
                .join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        init
                        + F.coalesce(F.col("c"), F.lit(0.0))
                        - F.coalesce(F.col("prev"), F.lit(0.0))
                    ).alias("delta"),
                )
                .filter(F.col("delta") != 0.0)
            )
            running = prev.select("node", F.col("prev").alias("delta"))
        else:
            delta = nodes.select("node", init.alias("delta")).filter(F.col("delta") != 0.0)
            running = None
        obs0 = Observation()
        delta = loop.commit(_counted(_by_node(delta), obs0), 0, {"active": -1}, observation=obs0)
        start = 1
        pending = [delta]
        pending_rows = [int(obs0.get.get("rows") or 0)]

    # GDS superstep accounting (Pregel.java:204-242): superstep 0 is
    # init+send, supersteps 1..maxIterations-1 are update rounds — so
    # maxIterations=41 means 40 delta updates after the initial push.
    import time as _time

    loop_t0 = _time.monotonic()
    updates = 0
    walls: list[float] = []
    converged = False
    it = start - 1
    while it + 1 < max_iterations:
        it_t0 = _time.monotonic()
        # Fuse up to `fuse` message rounds into ONE Spark job: the
        # tolerance gate between rounds stays inside the plan (it governs
        # SENDING, exactly like vote-to-halt — running a round after
        # convergence is a provable no-op, so late detection can't change
        # scores), the per-round deltas are committed as one tagged union
        # (the fold sums rows regardless), and only the last round's rows
        # feed the next active set. The shared per-round subplan is
        # deduplicated by Spark's exchange reuse. Cuts the fixed
        # job-launch/commit overhead per superstep by the fusion factor.
        rounds = min(fuse, max_iterations - (it + 1))
        # Few DataFrame calls per round: each one is a driver-side analysis
        # pass (~5-15 ms), paid every superstep.
        cur = delta
        frames = []
        for r in range(rounds):
            active = cur.filter(F.abs("delta") > tolerance)
            cur = msg_fn(active.select("node", F.col("delta").alias("msg_val"))).select(
                F.col("dst").alias("node"),
                (F.lit(damping) * F.col("msg")).alias("delta"),
                F.lit(r).alias("_s"),
            )
            frames.append(cur)
        fused = frames[0]
        for fr in frames[1:]:
            fused = fused.union(fr)
        obs = Observation()
        fused = _counted(
            fused,
            obs,
            F.sum(
                F.when((F.col("_s") == rounds - 1) & (F.abs("delta") > tolerance), 1).otherwise(0)
            ).alias("active"),
        )
        it += rounds
        committed = loop.commit(fused, it, {}, observation=obs)
        delta = committed if rounds == 1 else committed.filter(F.col("_s") == rounds - 1)
        pending.append(committed)
        pending_rows.append(int(obs.get.get("rows") or 0))
        updates += rounds
        wall = _time.monotonic() - it_t0
        walls.extend([wall / rounds] * rounds)
        if sum(pending_rows) > fold_rows and len(pending) > 1:
            # Keep the newest frame out of the fold: _fold frees what it
            # sums, and `delta` still derives from it for the next round.
            running = _fold(running, pending[:-1])
            pending, pending_rows = pending[-1:], pending_rows[-1:]
        if not (obs.get.get("active") or 0):
            converged = True
            break

    ranks = _fold(running, pending) if pending else running
    loop_wall = _time.monotonic() - loop_t0
    if message_path == "arrow":
        blocked.unpersist()
    else:
        prepped.unpersist()

    # delta_0 carries the init mass, so any node absent from the fold has
    # rank 0 (only possible for non-source nodes in personalized mode).
    nodes = graph.node_ids().select(F.col("node_id").alias("node"))
    scores = nodes.join(ranks, "node", "left").select(
        F.col("node").alias("node_id"),
        F.coalesce(F.col("delta"), F.lit(0.0)).alias("score"),
    )
    return RankResult(
        scores=scores,
        ran_iterations=it + 1,  # supersteps incl. the init superstep, GDS-style
        did_converge=converged,
        loop=loop,
        loop_wall_sec=loop_wall,
        updates_run=updates,
        superstep_walls=walls,
    )


def pagerank(
    graph: LinkGraph,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    checkpoint_dir: str | None = None,
    num_blocks: int | None = None,
    hot_degree_threshold: int = 2_000_000,
    message_path: str = "sql",
    fuse: int = 1,
    initial_scores: DataFrame | None = None,
) -> RankResult:
    """``initial_scores``: optional (node_id, score) frame — warm-start
    the iteration from a previous solution (incremental refresh): the loop
    pushes only the residual vs the supplied scores, so an unchanged
    converged graph costs zero message rounds and a slightly-grown graph
    costs work proportional to the drift. Scores converge to the same
    fixpoint as a cold run (power iteration is start-independent).

    ``fuse``: number of message rounds executed per Spark job (default
    1 = classic one-job-per-superstep). Fusion is score-exact (the
    tolerance gate stays between rounds inside the plan) and trades
    convergence-detection granularity for fewer job launches. CAVEAT
    (measured, 20M-edge cycle graph at local[32]): the fused rounds are
    committed as one union whose branches chain on each other, and Spark
    re-executes the shared prefix per branch — 34.3 vs 12.3 s/round
    against unfused. Fuse only when the per-round plan is cheaper than
    job-launch overhead (small graphs / very fast clusters)."""
    norm = _normalized_edges(graph, weighted, num_partitions=num_blocks)
    return _rank_loop(
        graph, norm, damping, tolerance, max_iterations, source_nodes,
        checkpoint_dir, "pagerank", num_blocks, hot_degree_threshold,
        message_path=message_path, fuse=fuse, initial_scores=initial_scores,
    )


def article_rank(
    graph: LinkGraph,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    checkpoint_dir: str | None = None,
    num_blocks: int | None = None,
) -> RankResult:
    """PageRank variant: message denominator degree + avgDegree
    (reference ArticleRankComputation.java; avg degree =
    unweighted relationship count / total node count per
    DegreeFunctions.java:82-91 — dangling nodes count in the denominator,
    and the average ignores weights even in weighted mode)."""
    # GDS nodeCount = actual node count, not the id-space bound; resolve
    # via node_ids() (the vertex table when one exists).
    n = graph.node_ids().count()
    avg_deg = (graph.edges.count() / n) if n else 0.0
    norm = _normalized_edges(
        graph, weighted, extra_denominator=float(avg_deg), num_partitions=num_blocks
    )
    return _rank_loop(
        graph, norm, damping, tolerance, max_iterations, source_nodes,
        checkpoint_dir, "article_rank", num_blocks, 2_000_000,
    )


def eigenvector(
    graph: LinkGraph,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    checkpoint_dir: str | None = None,
    num_blocks: int | None = None,
    hot_degree_threshold: int = 2_000_000,
) -> RankResult:
    """Eigenvector centrality, exact GDS semantics
    (reference EigenvectorComputation.java):

    - A + I power iteration: ``nextRank = rank + Σ messages`` (:96-113);
    - init ``1/|V|`` (personalized: sources ``1/|S|``, rest 0) (:64-70);
    - messages carry the *pre-normalization* nextRank, divided by the
      weighted out-degree when weighted, 1 when not
      (DegreeFunctions.eigenvectorDegreeFunction);
    - masterCompute L2-normalizes and converges when no node's normalized
      rank moved more than ``tolerance`` — never on superstep 0 (:116-170).

    Execution: one Spark action per superstep. State holds the RAW
    nextRank vector; the L2 scale is applied lazily as a literal once the
    norm is known (the norm rides the commit job as an Observation, as do
    the sufficient statistics for the L2 norm of the *change*). The exact
    max-change convergence test needs the new norm first, so it is gated:
    ``max_change ≤ l2_change`` always, and ``max_change ≥ l2_change/√n``,
    so an extra tiny scan of the committed state runs only when the bounds
    straddle the tolerance — i.e. only in the final supersteps.
    """
    spark = graph.edges.sparkSession
    # nodeCount for the 1/|V| init is the actual node count (vertex table
    # when present), not the id-space bound.
    n = graph.node_ids().count()
    if weighted:
        # w / Σ_out w, positive weights; window-normalized output is already
        # src-clustered at num_blocks, so the prep adds no exchange.
        norm = _normalized_edges(graph, True, num_partitions=num_blocks)
        prepped, msg_fn = sql_message_path(
            norm, num_blocks, hot_degree_threshold, clustered=True
        )
    else:
        norm = graph.edges.select("src", "dst", F.lit(1.0).alias("norm_w"))
        prepped, msg_fn = sql_message_path(
            norm, num_blocks, hot_degree_threshold, clustered=False
        )
    loop = SuperstepLoop(
        spark,
        "eigenvector",
        checkpoint_dir,
        lineage=edge_lineage(
            graph.edges,
            params={
                "algo": "eigenvector",
                "tolerance": tolerance,
                "weighted": weighted,
                "source_nodes": source_nodes,
            },
            content_sample=checkpoint_dir is not None,
        ),
    )
    loop.predict(node_count=n, state_row_bytes=40)  # (node, y, x_prev)

    nodes = graph.node_ids().select(F.col("node_id").alias("node"))
    if source_nodes:
        init = F.when(
            F.col("node").isin([int(s) for s in source_nodes]),
            F.lit(1.0 / len(source_nodes)),
        ).otherwise(F.lit(0.0))
    else:
        init = F.lit(1.0 / n) if n else F.lit(0.0)
    obs0 = Observation()
    y = nodes.select("node", init.alias("y"), F.lit(0.0).alias("x_prev")).observe(
        obs0, F.sum(F.col("y") * F.col("y")).alias("l2sq")
    )
    y = loop.commit(y, 0, {}, observation=obs0)
    l2_prev = float(obs0.get.get("l2sq") or 0.0) ** 0.5

    converged, it = False, 0
    for it in range(1, max_iterations):
        if l2_prev == 0.0:
            converged = True  # zero vector is a fixed point; nothing to send
            break
        msgs = msg_fn(y.select("node", F.col("y").alias("msg_val")))
        obs = Observation()
        new = (
            y.join(msgs, y["node"] == msgs["dst"], "left")
            .select(
                "node",
                ((F.col("y") / F.lit(l2_prev)) + F.coalesce(F.col("msg"), F.lit(0.0))).alias("y"),
                (F.col("y") / F.lit(l2_prev)).alias("x_prev"),
            )
            .observe(
                obs,
                F.sum(F.col("y") * F.col("y")).alias("l2sq"),
                F.sum(F.col("y") * F.col("x_prev")).alias("dot"),
                F.sum(F.col("x_prev") * F.col("x_prev")).alias("prevsq"),
            )
        )
        y = loop.commit(new, it, {}, observation=obs)
        vals = obs.get
        l2 = float(vals.get("l2sq") or 0.0) ** 0.5
        if l2 == 0.0:
            l2_prev = 0.0
            converged = True
            break
        dot = float(vals.get("dot") or 0.0)
        prevsq = float(vals.get("prevsq") or 0.0)
        l2_change = max(0.0, 1.0 - 2.0 * dot / l2 + prevsq) ** 0.5
        l2_prev = l2
        if l2_change <= tolerance:
            converged = True
            break
        if l2_change <= tolerance * (n ** 0.5):
            # Bounds straddle the tolerance — run the exact per-node check.
            max_change = (
                y.agg(F.max(F.abs(F.col("y") / F.lit(l2) - F.col("x_prev"))).alias("m"))
                .collect()[0]["m"]
            )
            if max_change is not None and max_change <= tolerance:
                converged = True
                break

    prepped.unpersist()
    scale = 1.0 / l2_prev if l2_prev else 1.0
    return RankResult(
        scores=y.select(
            F.col("node").alias("node_id"), (F.col("y") * F.lit(scale)).alias("score")
        ),
        ran_iterations=it + 1,
        did_converge=converged,
        loop=loop,
    )
