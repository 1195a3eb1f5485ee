"""Transcript tables → link graph: the engine's native input path.

Input contract (BASELINE.json ``input_hint``): a table of multi-turn
conversation / agent transcripts

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Edge derivation (SURVEY.md §7.0):

- **reply edges**: within each conversation, turn i → turn i+1 via
  ``Window.partitionBy(conv_id).orderBy(turn_idx)`` + ``lead`` — no join;
- **tool-call edges**: turn → tool-entity node for turns with a non-null
  ``tool`` — these connect conversations that share tools (and are the
  mega-hub / skew source at 10^12-turn scale);
- vertex set = turns ∪ tools with deterministic dense ids (distributed
  two-phase rank over the natural keys, ``graph.ids.dense_ids``); the
  mapping is a pure bijection so joining per-vertex results back to the
  transcript preserves per-turn ``text`` equality exactly (FIXTURES.md F6).

The synthesizer is fully deterministic (hash expressions only, no rand()),
so a given (n_conversations, seed) pair always yields the same table —
required for cross-parallelism and cross-run comparisons.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_data_science_spark.graph.build import LinkGraph
from graph_data_science_spark.graph.ids import dense_ids

TOOL_VOCAB = ["search", "bash", "edit", "read", "browse", "compute", "fetch", "plan"]


def synthesize_transcripts(
    spark: SparkSession,
    n_conversations: int,
    seed: int = 42,
    min_turns: int = 2,
    max_turns: int = 12,
    tool_every: int = 4,
) -> DataFrame:
    """Deterministic synthetic transcript table (schema per input_hint)."""
    conv = spark.range(n_conversations).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
        (
            F.lit(min_turns)
            + F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(max_turns - min_turns + 1))
        ).alias("n_turns"),
    )
    t = conv.select(
        "conv_id",
        F.explode(F.sequence(F.lit(0), (F.col("n_turns") - 1).cast("int"))).alias("turn_idx"),
    )
    h = F.xxhash64("conv_id", "turn_idx", F.lit(seed))
    tool_idx = F.pmod(F.xxhash64("turn_idx", "conv_id", F.lit(seed)), F.lit(len(TOOL_VOCAB)))
    tool_arr = F.array(*[F.lit(x) for x in TOOL_VOCAB])
    return t.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.pmod("turn_idx", F.lit(2)) == 0, F.lit("user"))
        .otherwise(F.when(F.pmod(h, F.lit(7)) == 0, F.lit("tool")).otherwise(F.lit("assistant")))
        .alias("role"),
        F.concat(F.lit("t-"), "conv_id", F.lit("-"), "turn_idx").alias("text"),
        F.when(F.pmod(h, F.lit(tool_every)) == 0, F.element_at(tool_arr, (tool_idx + 1).cast("int")))
        .alias("tool"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.pmod(h, F.lit(86400)).cast("double")))
        .alias("ts"),
    )


@dataclass
class TranscriptGraph:
    graph: LinkGraph
    turn_ids: DataFrame  # (conv_id, turn_idx, node_id) — the bijection
    tool_ids: DataFrame  # (tool, node_id)


def derive_link_graph(
    transcripts: DataFrame,
    include_tool_edges: bool = True,
    weight_by_multiplicity: bool = True,
) -> TranscriptGraph:
    """transcripts → LinkGraph(edges(src,dst,weight)) + id bijections.

    Weight = link multiplicity (GDS Aggregation.COUNT analog) when
    ``weight_by_multiplicity`` else 1.0.
    """
    # Each id map is materialized once by dense_ids (and reused by the edge
    # plan below and by join_scores_back); its key count comes with it.
    turn_ids = dense_ids(transcripts.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"])
    n_turns = turn_ids.key_count

    tool_map = dense_ids(transcripts.filter(F.col("tool").isNotNull()).select("tool"), ["tool"])
    n_tools = tool_map.key_count
    tool_ids = tool_map.withColumn("node_id", F.col("node_id") + F.lit(n_turns))

    # Distinct id column names per map, so the tool join selects both ids by
    # name rather than through DataFrame column references (which Spark's
    # ambiguous self-join check inspects).
    with_ids = transcripts.join(
        turn_ids.withColumnRenamed("node_id", "turn_node"), ["conv_id", "turn_idx"]
    )
    wl = Window.partitionBy("conv_id").orderBy("turn_idx")
    reply = (
        with_ids.withColumn("nxt", F.lead("turn_node").over(wl))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("turn_node").alias("src"), F.col("nxt").alias("dst"))
    )
    edges = reply
    if include_tool_edges:
        tool_e = (
            with_ids.filter(F.col("tool").isNotNull())
            .join(tool_ids.withColumnRenamed("node_id", "tool_node"), "tool")
            .select(F.col("turn_node").alias("src"), F.col("tool_node").alias("dst"))
        )
        edges = edges.union(tool_e)

    if weight_by_multiplicity:
        # Shuffle by src alone, into the session's partition count: the
        # multiplicity count needs no exchange of its own, and the edges
        # arrive clustered the way the SQL message path caches them (see
        # pregel.spmv.prep_edges_sql), so a default-partitioned graph build
        # is one edge shuffle, not two. Derived links are almost always
        # unique, so the map-side partial count this gives up saved nothing.
        parts = int(transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        edges = (
            edges.repartition(parts, "src")
            .groupBy("src", "dst")
            .agg(F.count("*").cast("double").alias("weight"))
        )
    else:
        edges = edges.select("src", "dst", F.lit(1.0).alias("weight"))

    graph = LinkGraph(edges=edges, node_count=n_turns + n_tools)
    return TranscriptGraph(graph=graph, turn_ids=turn_ids, tool_ids=tool_ids)


def join_scores_back(
    transcripts: DataFrame, turn_ids: DataFrame, scores: DataFrame, score_col: str = "score"
) -> DataFrame:
    """Per-vertex result → per-turn rows, preserving text (FIXTURES.md F6)."""
    return (
        transcripts.join(turn_ids, ["conv_id", "turn_idx"])
        .join(scores, "node_id", "left")
        .select("conv_id", "turn_idx", "text", score_col)
    )


def closed_form_link_graph(
    spark: SparkSession,
    n_conversations: int,
    turns_per_conv: int = 8,
    n_tools: int = 64,
    tool_every: int = 4,
    seed: int = 42,
    cycle: bool = False,
) -> LinkGraph:
    """Large-scale benchmark variant of the transcript link graph with
    closed-form ids: fixed ``turns_per_conv`` makes turn node ids pure
    arithmetic (``conv * turns_per_conv + turn``), so a multi-10M-edge graph
    materializes from ``spark.range`` in seconds — no window, no join, no id
    map. Same shape as ``derive_link_graph`` output: reply chains + shared
    tool hubs (the skew source). Deterministic in (n_conversations, seed)."""
    n_turns = n_conversations * turns_per_conv
    if cycle:
        # last turn links back to the first: PageRank mass circulates, so
        # every superstep processes every edge — constant-work supersteps for
        # unbiased throughput/scaling measurement.
        base = (F.col("id") - F.pmod(F.col("id"), F.lit(turns_per_conv)))
        nxt = base + F.pmod(F.col("id") + 1, F.lit(turns_per_conv))
        reply = spark.range(n_turns).select(
            F.col("id").alias("src"), nxt.alias("dst"), F.lit(1.0).alias("weight")
        )
    else:
        reply = spark.range(n_turns).filter(
            F.pmod(F.col("id"), F.lit(turns_per_conv)) < turns_per_conv - 1
        ).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.lit(1.0).alias("weight")
        )
    tool = spark.range(n_turns).filter(
        F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(tool_every)) == 0
    ).select(
        F.col("id").alias("src"),
        (F.lit(n_turns) + F.pmod(F.xxhash64(F.lit(seed), "id"), F.lit(n_tools))).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    return LinkGraph(edges=reply.union(tool), node_count=n_turns + n_tools)
