"""Deterministic dense node-id mapping (the GDS ``IdMap`` analog).

GDS maps original node ids to a dense ``[0, nodeCount)`` space so algorithms
can index flat arrays (reference: ``core-api/.../api/IdMap.java:35`` —
``toOriginalNodeId``/``toMappedNodeId``; built by
``core/.../loading/ArrayIdMapBuilder.java``). We need the same property so
CSR blocks can address per-block NumPy arrays by ``node_id - block_base``.

A naive ``row_number() OVER (ORDER BY key)`` is a single-partition window —
a driver-sized bottleneck at 10^12 rows. ``repartitionByRange`` is parallel
but **samples** the data to pick boundaries, and the sampled boundaries can
differ between the two actions this algorithm needs — which silently yields
out-of-range/duplicate ids (observed at 3.5M keys). Instead: a hash-bucket
two-phase rank, a pure function of the key set:

1. bucket every key by ``xxhash64(key) mod P`` (deterministic, no sampling);
2. count keys per bucket (tiny collect: P longs), prefix-sum on the driver;
3. rank within each bucket with a window partitioned by the bucket id
   (P-way parallel) ordered by the natural key, add the bucket offset.

The mapping is a stable bijection key → [0, n): same input ⇒ same ids, on
any cluster size. The global order interleaves buckets (it is *not* the
lexicographic rank) — callers needing an order-preserving rank build it from
structure they control (see triangles.py for a degree-ordered example).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.pregel.superstep import free_checkpointed

DEFAULT_BUCKETS = 256  # floor; see bucket_count_for()

# Target rows per in-bucket sort task. Each bucket's row_number() window
# sorts its keys in ONE task, so the bucket count — not the cluster size —
# bounds per-task work. Determinism requires a fixed count per *dataset*,
# not a small constant: bucket_count_for() derives it from the key count
# (a property of the data), and callers that persist an id map must record
# the bucket count in the map's manifest alongside the data fingerprint.
ROWS_PER_BUCKET = 2_000_000


def bucket_count_for(n_keys: int) -> int:
    """Deterministic bucket count for a dataset of ``n_keys`` keys: the
    next power of two of n/ROWS_PER_BUCKET, floored at DEFAULT_BUCKETS.
    Powers of two keep the count stable under small growth of n (it only
    changes when the dataset doubles), and ~2M rows/bucket keeps each
    bucket's single-task sort in tens-of-MB territory at any scale
    (10^12 keys → 2^19 buckets)."""
    need = max(1, (n_keys + ROWS_PER_BUCKET - 1) // ROWS_PER_BUCKET)
    p = 1
    while p < need:
        p *= 2
    return max(DEFAULT_BUCKETS, p)


def dense_ids(df: DataFrame, key_cols: list[str], num_buckets: int | None = None) -> DataFrame:
    """Return ``df.select(key_cols).distinct()`` + a dense ``node_id`` column
    in [0, n) — a deterministic bijection of the key set.

    The map is materialized once (``localCheckpoint``): callers join it
    against their data several times (edge derivation, result join-back),
    and a lazy map would rerun the distinct + window for every use. The
    checkpoint is reclaimed by Spark's ContextCleaner once the returned
    frame (and every frame derived from it) is garbage collected. The key
    count ``n`` is summed from the per-bucket counts this function collects
    anyway and is attached to the returned frame as ``key_count`` — read it
    instead of running a ``count()``.

    ``num_buckets=None`` derives the count from the key count via
    ``bucket_count_for``. Pass an explicit, recorded value to reproduce a
    previously-built id map bit-for-bit.
    """
    # Fresh attribute ids (the aliases): the checkpoint must not share the
    # key attributes of `df`, or joining the map back onto `df` — what every
    # caller does — fails Spark's self-join deduplication.
    keys = df.select(*[F.col(c).alias(c) for c in key_cols]).distinct()
    # bucket_count_for() is DEFAULT_BUCKETS for every key set up to
    # DEFAULT_BUCKETS × ROWS_PER_BUCKET keys, so rank with that count first
    # and re-rank only when the key count turns out to need more buckets.
    buckets = num_buckets or DEFAULT_BUCKETS
    while True:
        ranked = (
            keys.withColumn("_pid", F.pmod(F.xxhash64(*key_cols), F.lit(buckets)).cast("int"))
            .withColumn(
                "_rank",
                F.row_number().over(Window.partitionBy("_pid").orderBy(*key_cols)) - F.lit(1),
            )
            .localCheckpoint(eager=True)
        )
        # Tiny collect: one row per bucket. `ranked` is already clustered by
        # _pid (the window's exchange), so this is a single-stage scan.
        counts = {
            r["_pid"]: r["cnt"]
            for r in ranked.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
        n = sum(counts.values())
        if num_buckets is not None or bucket_count_for(n) == buckets:
            break
        free_checkpointed(ranked)
        buckets = bucket_count_for(n)

    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    offset_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in sorted(offsets)]),
            F.array(*[F.lit(offsets[p]) for p in sorted(offsets)]),
        ),
        F.col("_pid"),
    ) if offsets else F.lit(0)

    out = ranked.select(*key_cols, (F.col("_rank") + offset_col).cast("long").alias("node_id"))
    out.key_count = n
    return out
