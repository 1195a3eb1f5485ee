"""CSR-block SpMV: the vectorized gather-scatter at the heart of every superstep.

GDS's Pregel runs user ``compute()`` over per-node adjacency cursors and
reduces messages atomically on send (reference
``pregel/.../ReducingMessenger.java:85-106``; partitioning
``core/.../partition/PartitionUtils.java:50,126-204``). The Spark
re-expression (SURVEY.md §2.C, §3.3):

- **CSR blocks**: edges are range-blocked by source id
  (``block = src DIV block_width``) and cached pre-shuffled on the block
  key, so every superstep reuses the same co-location — the analog of GDS's
  RANGE node partitioning. Adjacency never moves again.
- **Skew (DEGREE partitioning analog)**: a hot source whose degree exceeds
  ``hot_degree_threshold`` has its out-edges *salted* across
  ``ceil(degree/threshold)`` sub-groups by a hash of ``dst``; vertex state
  is replicated only to the (block, salt) pairs that actually exist (a tiny
  broadcast join). This is GDS's degree-balanced partitioning re-expressed
  for a shared-nothing shuffle world — no single Arrow group ever holds more
  than ~threshold edges.
- **Gather-scatter kernel**: a cogrouped ``applyInPandas`` receives one
  Arrow batch of edges and one of active vertex state per (block, salt),
  scatters ``state[src] * norm_w`` contributions into a per-destination
  partial sum with a C-speed pandas groupby (the map-side combine — the
  analog of reduce-on-send), and emits ``(dst, partial)``.
- **Shuffle-aggregate**: ``groupBy(dst).sum`` finishes the reduction;
  Catalyst's partial+final hash aggregation gives a second combine level.

No per-row Python executes: the kernel is NumPy/pandas vectorized over whole
Arrow batches.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class BlockedEdges:
    """Edges pre-shuffled into (block, salt) CSR groups, cached for reuse."""

    blocks: DataFrame  # (block int, salt int, src long, dst long, norm_w double)
    block_salts: DataFrame  # distinct (block, salt) — tiny, broadcastable
    block_width: int
    num_blocks: int
    single_salt: bool = False  # no hot vertices → skip state replication join

    def unpersist(self) -> None:
        self.blocks.unpersist()
        self.block_salts.unpersist()


def build_blocks(
    edges: DataFrame,
    node_count: int,
    num_blocks: int | None = None,
    hot_degree_threshold: int = 2_000_000,
    weight_col: str = "norm_w",
) -> BlockedEdges:
    """Block + salt + cache the edge table once; reused by every superstep.

    ``edges`` must carry (src, dst, <weight_col>); weight_col is the
    per-edge multiplier already normalized by the algorithm (e.g. w/Σw for
    PageRank). ``hot_degree_threshold`` bounds the edge count of any single
    Arrow group — at 100 TB scale this is what keeps mega-hub vertices (a
    tool entity linked from millions of turns) from blowing up one task.
    """
    spark = edges.sparkSession
    if num_blocks is None:
        # Match the session's shuffle partitioning so the cogroup's required
        # clustering is satisfied by the cache — the edge side is shuffled
        # ONCE here and never re-exchanged across supersteps.
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    block_width = max(1, math.ceil(node_count / num_blocks))

    # One-time sanity check: an out-of-range id would be *silently dropped*
    # by the block arithmetic (worse than a crash). Cheap vs the loop cost.
    max_id = edges.agg(F.max(F.greatest("src", "dst")).alias("m")).collect()[0]["m"]
    if max_id is not None and max_id >= node_count:
        raise ValueError(
            f"edge endpoint id {max_id} >= node_count {node_count}; "
            "node ids must lie in [0, node_count) — did you densify ids?"
        )

    e = edges.select(
        F.expr(f"src DIV {block_width}").cast("int").alias("block"),
        "src",
        "dst",
        F.col(weight_col).cast("double").alias("norm_w"),
    )

    # Salt hot sources: ceil(out_degree / threshold) sub-groups hashed on dst.
    deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    hot = deg.filter(F.col("_deg") > hot_degree_threshold).withColumn(
        "_nsalt", F.ceil(F.col("_deg") / F.lit(hot_degree_threshold)).cast("int")
    )
    if hot.limit(1).count() > 0:
        e = e.join(F.broadcast(hot.select("src", "_nsalt")), "src", "left").withColumn(
            "salt",
            F.when(
                F.col("_nsalt").isNotNull(),
                F.pmod(F.xxhash64("dst"), F.col("_nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("_nsalt")
    else:
        e = e.withColumn("salt", F.lit(0))

    blocks = e.select("block", "salt", "src", "dst", "norm_w").repartition(
        num_blocks, "block", "salt"
    ).persist()
    blocks.count()  # materialize the cache — the one-time CSR build cost
    # block_salts is tiny by construction (≤ num_blocks × max salts); detach
    # it from blocks' lineage so later joins aren't ambiguous self-joins.
    salt_rows = blocks.select("block", "salt").distinct().collect()
    block_salts = spark.createDataFrame(
        [(int(r["block"]), int(r["salt"])) for r in salt_rows] or [(0, 0)],
        "block int, salt int",
    ).persist()
    block_salts.count()
    single_salt = all(int(r["salt"]) == 0 for r in salt_rows)
    return BlockedEdges(
        blocks=blocks,
        block_salts=block_salts,
        block_width=block_width,
        num_blocks=num_blocks,
        single_salt=single_salt,
    )


def prep_edges_sql(
    edges: DataFrame,
    num_partitions: int | None = None,
    weight_col: str = "norm_w",
    clustered: bool = False,
) -> DataFrame:
    """One-time prep for the JVM-side message path: hash-partition the edge
    table by src, sort within partitions by src, and cache it.

    The cache is the edge half of a co-partitioned vertex/edge layout
    (GraphX's edge partitions, Gonzalez et al., OSDI 2014): the vertex
    state of a superstep is hash-partitioned on ``node`` into the same
    ``num_partitions``, so the per-round state join (see
    :func:`spmv_messages_sql`) reads both inputs in place — no exchange and
    no sort on either side — and only the messages move. A cached relation
    advertises its outputPartitioning and outputOrdering, which is what
    lets the planner skip the exchange. The src sort serves the other
    loops over this cache (``salted_gather_join``) when their join plans as
    a sort-merge join, which then skips the edge-side sort too;
    ``SPARK_GRAFT_SORT_EDGES=0`` restores the unsorted cache (A/B knob).

    ``clustered=True``: the caller guarantees ``edges`` is ALREADY
    hash-partitioned by ``src`` into ``num_partitions`` partitions (e.g. it
    came out of the window-based degree normalization, whose exchange is
    the same clustering) — the redundant repartition is skipped, making
    graph build a single full-edge shuffle end to end."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prepped = edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("norm_w")
    )
    if not clustered:
        prepped = prepped.repartition(num_partitions, "src")
    if os.environ.get("SPARK_GRAFT_SORT_EDGES", "1") == "1":
        prepped = prepped.sortWithinPartitions("src")
    prepped = prepped.persist()
    prepped.count()
    return prepped


def _sum_messages(prepped_edges: DataFrame, joined: DataFrame) -> DataFrame:
    """``groupBy(dst).sum(_v * norm_w)`` whose output is hash-partitioned on
    ``dst`` into the edge cache's partition count — so the committed state
    it becomes lines up with the cache in the next superstep's join.

    The aggregate's own exchange uses ``spark.sql.shuffle.partitions``.
    When the cache was built with another count (``num_blocks``), the
    joined rows are shuffled by ``dst`` into the cache's count first and
    the aggregate needs no exchange of its own: still one exchange per
    superstep, at the price of the map-side partial sum."""
    parts = prepped_edges.rdd.getNumPartitions()
    if parts != int(joined.sparkSession.conf.get("spark.sql.shuffle.partitions")):
        joined = joined.repartition(parts, "dst")
    return joined.groupBy("dst").agg(F.sum(F.col("_v") * F.col("norm_w")).alias("msg"))


def spmv_messages_sql(prepped_edges: DataFrame, state: DataFrame, value_col: str = "msg_val") -> DataFrame:
    """JVM-only gather-scatter for *reducible* messages (Pregel Reducer.Sum
    analog): one co-partitioned join + one partial+final hash aggregation,
    whole-stage codegen end to end — no Python in the superstep at all.

    Plan: ``state`` arrives hash-partitioned on ``node`` into the edge
    cache's partition count (the previous superstep's message aggregate,
    see :func:`_sum_messages`, or the loop's superstep-0 repartition), so
    the ``shuffle_hash`` join builds a per-partition hash table of the
    active state and streams the cached edges past it: no exchange and no
    sort below the join. The only exchange of a superstep is the message
    aggregation's, and the whole superstep is one Spark job (superstep
    commits run with AQE off, see ``SuperstepLoop.commit``).

    The hint is load-bearing. Without it, any edge cache under
    ``spark.sql.autoBroadcastJoinThreshold`` (64 MB in ``session.py`` —
    millions of edges) plans as a BroadcastHashJoin that builds on the
    EDGE side: every superstep first runs an extra job that collects the
    whole cached edge table to the driver and re-broadcasts it, which on
    small and mid-size graphs costs more than the superstep itself. A
    sort-merge join would also keep the edges in place, but sorts the
    state every round; the hash join needs no sort on either side.

    Measured on a 3.8M-edge transcript graph this path is ~8× faster per
    superstep than the Arrow/CSR path, because the cogroup must ship the
    entire edge side across the JVM↔Python Arrow boundary every superstep
    (~40 MB/s effective) while this path touches edges only inside
    whole-stage codegen. The Arrow/CSR path earns its keep solely for
    kernels Catalyst can't express (array-valued vertex states, custom
    per-vertex compute like FastRP).
    """
    st = state.select(F.col("node"), F.col(value_col).cast("double").alias("_v"))
    joined = prepped_edges.join(st.hint("shuffle_hash"), prepped_edges["src"] == st["node"], "inner")
    return _sum_messages(prepped_edges, joined)


def spmv_messages_arrays(
    blocked: BlockedEdges, state: DataFrame, value_col: str = "vec"
) -> DataFrame:
    """Array-state gather-scatter: Σ_{(u,v)∈E} state[u].vec * norm_w → (dst, vec).

    The vector analog of :func:`spmv_messages` for algorithms whose vertex
    state is an embedding (FastRP, HashGNN-style kernels) — exactly the
    case Catalyst can't express efficiently (array sums would need
    explode → d× row blowup → re-agg). ``state``: (node long,
    <value_col> array<double>). One Arrow round-trip per (block, salt)
    group; the kernel is pure NumPy over whole batches, with an in-kernel
    per-destination pre-combine (reduce-on-send analog).
    """
    width = blocked.block_width

    st = state.select(
        F.expr(f"node DIV {width}").cast("int").alias("block"),
        "node",
        F.col(value_col).cast("array<double>").alias("vec"),
    )
    if blocked.single_salt:
        st = st.withColumn("salt", F.lit(0))
    else:
        st = st.join(F.broadcast(blocked.block_salts), "block")

    def kernel(edges_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"dst": pd.Series(dtype="int64"), "vec": pd.Series(dtype="object")})
        if len(edges_pdf) == 0 or len(state_pdf) == 0:
            return empty
        base = int(edges_pdf["block"].iloc[0]) * width
        mat = np.stack(state_pdf["vec"].to_numpy())  # (n_state, d)
        d = mat.shape[1]
        # Dense per-block lookup: row i holds state for node base+i (zeros
        # when absent — absent nodes contribute nothing).
        vals = np.zeros((width, d), dtype=np.float64)
        vals[state_pdf["node"].to_numpy() - base] = mat
        contrib = vals[edges_pdf["src"].to_numpy() - base] * edges_pdf["norm_w"].to_numpy()[:, None]
        dsts, inv = np.unique(edges_pdf["dst"].to_numpy(), return_inverse=True)
        acc = np.zeros((len(dsts), d), dtype=np.float64)
        np.add.at(acc, inv, contrib)
        return pd.DataFrame({"dst": dsts, "vec": list(acc)})

    partials = (
        blocked.blocks.groupBy("block", "salt")
        .cogroup(st.groupBy("block", "salt"))
        .applyInPandas(kernel, "dst long, vec array<double>")
    )
    # Final combine across blocks/salts: element-wise array sum via
    # zip_with inside an aggregate buffer (tiny arrays, few collisions).
    return partials.groupBy("dst").agg(
        F.aggregate(
            F.collect_list("vec"),
            F.expr("cast(array() as array<double>)"),
            lambda acc, v: F.when(F.size(acc) == 0, v).otherwise(
                F.zip_with(acc, v, lambda a, b: a + b)
            ),
        ).alias("vec")
    )


def spmv_messages(blocked: BlockedEdges, state: DataFrame, value_col: str = "msg_val") -> DataFrame:
    """One gather-scatter: Σ_{(u,v) ∈ E} state[u].value * norm_w → (dst, msg).

    ``state`` holds only *active* vertices (node long, <value_col> double) —
    the vote-to-halt active set (reference ComputeStep.java:63-76).
    Returns DataFrame (dst long, msg double) with one row per destination
    that received at least one message.
    """
    width = blocked.block_width

    st = state.select(
        F.expr(f"node DIV {width}").cast("int").alias("block"),
        "node",
        F.col(value_col).cast("double").alias("val"),
    )
    # Replicate state only into the salted sub-groups that exist (tiny join);
    # with no hot vertices every salt is 0 and the join is unnecessary.
    if blocked.single_salt:
        st = st.withColumn("salt", F.lit(0))
    else:
        st = st.join(F.broadcast(blocked.block_salts), "block")

    def kernel(edges_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(edges_pdf) == 0 or len(state_pdf) == 0:
            return pd.DataFrame({"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="float64")})
        base = int(edges_pdf["block"].iloc[0]) * width
        vals = np.zeros(width, dtype=np.float64)
        vals[state_pdf["node"].to_numpy() - base] = state_pdf["val"].to_numpy()
        contrib = vals[edges_pdf["src"].to_numpy() - base] * edges_pdf["norm_w"].to_numpy()
        mask = contrib != 0.0
        if not mask.any():
            return pd.DataFrame({"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="float64")})
        out = pd.DataFrame({"dst": edges_pdf["dst"].to_numpy()[mask], "msg": contrib[mask]})
        # In-kernel pre-combine per destination (reduce-on-send analog).
        return out.groupby("dst", sort=False, as_index=False)["msg"].sum()

    partials = (
        blocked.blocks.groupBy("block", "salt")
        .cogroup(st.groupBy("block", "salt"))
        .applyInPandas(kernel, "dst long, msg double")
    )
    return partials.groupBy("dst").agg(F.sum("msg").alias("msg"))


def detect_hot_sources(
    prepped_edges: DataFrame, hot_degree_threshold: int, key: str = "src"
) -> DataFrame | None:
    """Find sources whose out-degree exceeds ``hot_degree_threshold`` in a
    prepped (src-clustered, cached) edge table.

    Returns a tiny broadcastable DataFrame ``(src long, nsalt int)`` with
    ``nsalt = ceil(degree / threshold)`` sub-groups per hot source, or
    ``None`` when the graph has no hot sources (the common case — callers
    then keep the plain single-key join path untouched).

    Why this matters on the SQL message path: ``spmv_messages_sql`` joins
    edges to state on ``src`` under the cached HashPartitioning(src), so a
    mega-hub source (a tool entity linked from millions of turns in the
    10^12-turn transcript graph) lands ALL its out-edges in one partition —
    one straggler task per superstep that AQE cannot split (adaptive
    execution is deliberately disabled inside superstep commits, see
    ``superstep.py:commit``). This is the SQL-path analog of the Arrow
    path's DEGREE-partitioning salting (``build_blocks``; reference
    ``core/.../partition/PartitionUtils.java:126-204``).

    Cost: one aggregate over the already-cached prep (clustering satisfied
    → no exchange) + a driver collect bounded by |E|/threshold rows.

    ``key``: the edge column the per-round state join keys on — ``src``
    for push/gather-from-source loops (rank family, WCC), ``dst`` for
    pull loops (label propagation votes). The returned hot map always
    names its column ``src`` so the salting helpers compose either way.
    """
    hot_rows = (
        prepped_edges.groupBy(key)
        .agg(F.count("*").alias("_deg"))
        .filter(F.col("_deg") > hot_degree_threshold)
        .select(
            F.col(key).alias("src"),
            F.ceil(F.col("_deg") / F.lit(hot_degree_threshold)).cast("int").alias("nsalt"),
        )
        .collect()
    )
    if not hot_rows:
        return None
    spark = prepped_edges.sparkSession
    return spark.createDataFrame(
        [(int(r["src"]), int(r["nsalt"])) for r in hot_rows], "src long, nsalt int"
    )


def prep_edges_sql_salted(
    prepped_edges: DataFrame,
    hot: DataFrame,
    num_partitions: int | None = None,
    key: str = "src",
    spread: str = "dst",
) -> DataFrame:
    """Re-cluster a prepped edge cache on ``(key, salt)`` so every hot
    key's edges are spread across ``nsalt`` partitions.

    ``salt = pmod(xxhash64(spread), nsalt)`` for hot keys (0 otherwise) —
    the same other-endpoint-hash sub-grouping as the Arrow path's
    ``build_blocks``. The result is hash-partitioned AND sorted on
    ``(key, salt)`` and cached, so every superstep's join still reads the
    edge side exchange-free and sort-free; only the (small) replicated
    state side is exchanged per round (the unsalted plan keeps the state
    co-partitioned and exchanges nothing below the join).
    Skewed graphs pay ONE extra full-edge shuffle at build time and get
    flat superstep task histograms in return.
    """
    spark = prepped_edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        prepped_edges.join(
            F.broadcast(hot.withColumnRenamed("src", key)), key, "left"
        )
        .withColumn(
            "salt",
            F.when(
                F.col("nsalt").isNotNull(),
                F.pmod(F.xxhash64(spread), F.col("nsalt")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("nsalt")
        .repartition(num_partitions, key, "salt")
    )
    if os.environ.get("SPARK_GRAFT_SORT_EDGES", "1") == "1":
        e = e.sortWithinPartitions(key, "salt")
    e = e.persist()
    e.count()
    return e


def sql_message_path(
    norm_edges: DataFrame,
    num_partitions: int | None,
    hot_degree_threshold: int,
    clustered: bool,
):
    """Build the cached edge side of the JVM-only message path, salting hot
    sources when the graph is skewed.

    Returns ``(prepped_edges, msg_fn)`` where ``msg_fn(state)`` computes the
    per-round reducible-sum messages. The common (unskewed) case is the
    plain ``prep_edges_sql`` + single-key join — unchanged plan, one cheap
    cached aggregate added at build to *prove* there is no hot source. When
    some source's out-degree exceeds ``hot_degree_threshold`` (a mega-hub
    entity in the transcript link graph), the cache is re-clustered on
    ``(src, salt)`` and every superstep joins salted — the hub's gather
    becomes ``ceil(degree/threshold)`` parallel tasks instead of one
    straggler that AQE (disabled inside superstep commits) cannot split.
    SQL-path analog of ``build_blocks``'s DEGREE salting; reference
    ``core/.../partition/PartitionUtils.java:126-204``. Measured on a
    20M-edge graph with one source owning half the edges: 9.93 → 3.58 s
    median superstep (`bench_experiments/skew_ab_*`).
    """
    prepped, hot = prep_edges_sql_skew(
        norm_edges, num_partitions, hot_degree_threshold, clustered=clustered
    )
    if hot is None:
        return prepped, (lambda active: spmv_messages_sql(prepped, active))
    return prepped, (lambda active: spmv_messages_sql_salted(prepped, hot, active))


def prep_edges_sql_skew(
    norm_edges: DataFrame,
    num_partitions: int | None,
    hot_degree_threshold: int,
    clustered: bool = False,
):
    """Prep + hot-detect in one call for loops whose gather is NOT a plain
    weighted sum (min-relaxation frontiers, label votes): returns
    ``(prepped, hot)`` where ``hot`` is None on unskewed graphs (plain
    src-clustered cache, unchanged plan) or the tiny hot map when the cache
    was re-clustered salted. Pair with :func:`salted_gather_join` and apply
    the loop's own (reducible) aggregate on top."""
    prepped = prep_edges_sql(norm_edges, num_partitions=num_partitions, clustered=clustered)
    hot = detect_hot_sources(prepped, hot_degree_threshold)
    if hot is None:
        return prepped, None
    salted = prep_edges_sql_salted(prepped, hot, num_partitions=num_partitions)
    prepped.unpersist()
    return salted, hot


def salted_gather_join(
    prepped: DataFrame, hot: DataFrame | None, state: DataFrame, state_key: str = "node"
) -> DataFrame:
    """The per-round edges ⋈ state join on ``src``, salted when ``hot`` is
    set. The caller applies its own aggregate on the result — which must be
    reducible (sum/min/max/count) for salting to recombine exactly, since a
    hot source's rows arrive in ``nsalt`` partial groups."""
    if hot is None:
        return prepped.join(state, prepped["src"] == state[state_key], "inner")
    st = replicate_state_for_salts(state, hot, key=state_key)
    return prepped.join(
        st, (prepped["src"] == st[state_key]) & (prepped["salt"] == st["salt"]), "inner"
    )


def replicate_state_for_salts(state: DataFrame, hot: DataFrame, key: str = "node") -> DataFrame:
    """Add a ``salt`` column to a vertex-state frame for a salted edge join:
    rows whose ``key`` is a hot source are duplicated once per salt
    sub-group (``nsalt`` copies), everything else gets salt 0. The hot map
    is tiny by construction, so this is a broadcast join + a bounded
    explode — replication cost is O(|hot| × nsalt), not O(|V|)."""
    return (
        state.join(F.broadcast(hot.withColumnRenamed("src", key)), key, "left")
        .withColumn(
            "_salts",
            F.when(
                F.col("nsalt").isNotNull(),
                F.sequence(F.lit(0), F.col("nsalt") - F.lit(1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("_salt", F.explode("_salts"))
        .withColumn("salt", F.col("_salt").cast("int"))
        .drop("nsalt", "_salts", "_salt")
    )


def spmv_messages_sql_salted(
    prepped_salted: DataFrame, hot: DataFrame, state: DataFrame, value_col: str = "msg_val"
) -> DataFrame:
    """Salted twin of :func:`spmv_messages_sql` for skewed graphs.

    State rows for hot sources are replicated to every salt sub-group
    (a broadcast join against the tiny hot map + a sequence explode — the
    replication factor is ``nsalt`` for the handful of hot nodes and 1 for
    everything else), then joined on ``(src, salt)``. The per-partition
    partial aggregation and the final ``groupBy(dst)`` combine are
    unchanged — a hot source's gather work is now ``nsalt`` parallel tasks
    instead of one straggler. The replicated state is exchanged on
    ``(node, salt)`` every round (it cannot share the ``(src, salt)``
    clustering of the cache ahead of time), but the same ``shuffle_hash``
    hint keeps the cached edges in place instead of broadcasting them.
    """
    st = replicate_state_for_salts(
        state.select(F.col("node"), F.col(value_col).cast("double").alias("_v")), hot
    ).hint("shuffle_hash")
    joined = prepped_salted.join(
        st,
        (prepped_salted["src"] == st["node"]) & (prepped_salted["salt"] == st["salt"]),
        "inner",
    )
    return _sum_messages(prepped_salted, joined)
