"""A1/A2/A3 — the dedup core: unique-block store, dense bid assignment,
per-document membership, stats.

Reference semantics re-realized relationally:
- probe `md5 -> [bids]` + byte-verify `block_cmp`
  (/root/reference/src/dedup.c:329-395,232-292): our grouping key is
  `(md5, chunk_bytes)` — hash partitioning IS the hashtable, and including
  the bytes in the key carries the byte-verify guarantee (two different
  chunks that collide on MD5 land in different groups, exactly like the
  reference's collision-tolerant `[id_count, bid…]` entries).
- dense unique-block numbering `g_unique_block_nr`
  (/root/reference/src/dedup.c:40,367-375): deterministic dense ids from a
  range partition's own row positions (per-partition counts -> partition
  offset + row position), NOT a single-partition global window — this is the
  piece that must survive 100 TB.
- per-file bid array (/root/reference/src/dedup.c:391-392): sort_array of
  (chunk_idx, bid) structs per conv_id.
- stats (/root/reference/src/dedup.c:1273-1385): refcounts + dedup rate as
  plain aggregates.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import accumulate

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id() = (partition index << 33) + row position
_MID_SHIFT = 33


def assign_dense_ids(df: DataFrame, order_cols: list[str], id_col: str = "bid") -> DataFrame:
    """Deterministic dense 0-based ids in global `order_cols` order, scalably.

    Range-partition + in-partition sort, tag each row with its (partition,
    position) and freeze both with an eager checkpoint; one tiny collect
    counts rows per partition, and a row's id is its partition's offset (a
    literal array: only `max(defaultParallelism, 8)` partitions) plus its
    position.  Range boundaries are sample-based, but ids depend only on the
    GLOBAL order, which disjoint ordered ranges preserve.
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    parted = (
        df.repartitionByRange(nparts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)  # freeze partitions and positions
    )
    part = F.shiftright("_mid", _MID_SHIFT).cast("int")
    counts = dict(parted.groupBy(part).count().collect())
    sizes = [counts.get(p, 0) for p in range(max(counts, default=0) + 1)]
    offsets = F.array(*[F.lit(o).cast("long") for o in accumulate([0] + sizes[:-1])])
    pos = F.col("_mid").bitwiseAND((1 << _MID_SHIFT) - 1)
    return parted.withColumn(id_col, offsets[part] + pos).drop("_mid")


def _unique_chunks(body: DataFrame) -> DataFrame:
    """The dedup decision: one group per verify key `(md5, chunk_bytes)`,
    with its length, weak hash and reference count."""
    return body.groupBy("md5", "chunk_bytes").agg(
        F.first("chunk_len").alias("chunk_len"),
        F.first("weak32").alias("weak32"),
        F.count(F.lit(1)).alias("refcount"),
    )


def build_block_store(chunks: DataFrame) -> DataFrame:
    """chunks (non-tail) -> blocks(bid, md5, chunk_bytes, chunk_len, weak32, refcount).

    One hash-aggregate shuffle (Catalyst partial+final) + the id pass.
    """
    unique = _unique_chunks(chunks.filter(~F.col("is_tail")))
    return assign_dense_ids(unique, ["md5", "chunk_bytes"], "bid")


def build_file_meta(chunks: DataFrame, blocks: DataFrame) -> DataFrame:
    """-> file_meta(conv_id, bids array<long>, n_blocks, tail_bytes).

    Mirrors the reference metadata entry (pathname + bid array + raw tail,
    /root/reference/src/dedup.c:838-851).  Join back on the full verify key.
    """
    body = chunks.filter(~F.col("is_tail"))
    tails = chunks.filter(F.col("is_tail")).select("conv_id", F.col("chunk_bytes").alias("tail_bytes"))
    with_bid = body.join(blocks.select("md5", "chunk_bytes", "bid"), ["md5", "chunk_bytes"], "inner")
    meta = with_bid.groupBy("conv_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_idx", "bid"))), lambda s: s["bid"]
        ).alias("bids"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    # right join keeps zero-chunk documents (tail-only, < min block size)
    return (
        meta.join(tails, "conv_id", "right")
        .withColumn("bids", F.coalesce("bids", F.array().cast("array<long>")))
        .withColumn("n_blocks", F.coalesce("n_blocks", F.lit(0)))
    )


@dataclass
class DedupStats:
    total_blocks: int
    unique_blocks: int
    dup_blocks: int
    total_bytes: int
    unique_bytes: int
    dedup_rate: float


def dedup_stats(blocks: DataFrame, file_meta: DataFrame) -> DedupStats:
    """A3 — the reference's `-s` verb (/root/reference/src/dedup.c:1273-1385)."""
    b = blocks.agg(
        F.count(F.lit(1)).alias("uniq"),
        F.sum("refcount").alias("total"),
        F.sum("chunk_len").alias("uniq_bytes"),
        F.sum(F.col("chunk_len") * F.col("refcount")).alias("total_bytes"),
    ).collect()[0]
    tail_bytes = file_meta.agg(F.sum(F.length("tail_bytes")).alias("t")).collect()[0]["t"] or 0
    total_bytes = int(b["total_bytes"] or 0) + int(tail_bytes)
    stored = int(b["uniq_bytes"] or 0) + int(tail_bytes)
    return DedupStats(
        total_blocks=int(b["total"] or 0),
        unique_blocks=int(b["uniq"]),
        dup_blocks=int(b["total"] or 0) - int(b["uniq"]),
        total_bytes=total_bytes,
        unique_bytes=stored,
        dedup_rate=(total_bytes / stored) if stored else 1.0,
    )


def refcounts(file_meta: DataFrame) -> DataFrame:
    """Per-bid reference counts from membership arrays
    (the reference's listdb refcount pass, /root/reference/src/dedup.c:1406-1697)."""
    return (
        file_meta.select(F.explode("bids").alias("bid"))
        .groupBy("bid")
        .agg(F.count(F.lit(1)).alias("refcount"))
    )


def remove_documents(
    blocks: DataFrame, file_meta: DataFrame, remove_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """A6 — remove + renumber (/root/reference/src/dedup.c:1406-1697).

    Drop the given conv_ids, drop zero-ref blocks, compact bids densely
    (old order preserved), remap membership arrays via an id map join.
    """
    surviving = file_meta.join(remove_ids.select("conv_id"), "conv_id", "left_anti")
    live_blocks = blocks.drop("refcount").join(refcounts(surviving), "bid", "inner")
    # compact: new id = rank of old id among survivors (dense, order-preserving)
    # via the range-partitioned numbering — a global Window.orderBy would
    # sort the entire surviving block store in ONE task
    remap = assign_dense_ids(live_blocks.select("bid"), ["bid"], "new_bid")
    new_blocks = (
        live_blocks.join(remap, "bid", "inner")
        .drop("bid")
        .withColumnRenamed("new_bid", "bid")
    )
    # remap membership arrays: explode -> join -> re-collect in position order
    # posexplode_outer yields a (pos=null, bid=null) row for empty-bids
    # (tail-only) docs; collect_list skips nulls, so gating the struct on
    # pos keeps their rebuilt bids [] instead of [null].  Only (conv_id, bids)
    # flow through the remap; every other file_meta column (tail_bytes,
    # n_blocks, per-turn metadata arrays, …) is re-attached by conv_id so
    # remove never silently drops metadata the package carries.
    remapped = (
        surviving.select("conv_id", F.posexplode_outer("bids").alias("pos", "bid"))
        .join(remap, "bid", "left")
        .groupBy("conv_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.when(F.col("pos").isNotNull(), F.struct("pos", "new_bid")))),
                lambda s: s["new_bid"],
            ).alias("bids")
        )
        .withColumn("bids", F.coalesce("bids", F.array().cast("array<long>")))
    )
    new_meta = surviving.drop("bids").join(remapped, "conv_id", "inner")
    return new_blocks, new_meta.select(*file_meta.columns)


def append_documents(
    blocks: DataFrame, file_meta: DataFrame, new_chunks: DataFrame,
    new_extra: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """A5 — incremental append (/root/reference/src/dedup.c:908-1077).

    New chunks are deduped against the existing store via an anti-join on the
    verify key; genuinely-new blocks get ids continuing from max(bid)
    (the reference continues g_unique_block_nr).  Returns (blocks', meta').

    `new_extra` (conv_id + metadata columns, e.g. assemble.turn_metadata) is
    joined onto the new documents' meta rows so appended packages keep the
    same per-turn metadata the create path stores.
    """
    unique = _unique_chunks(new_chunks.filter(~F.col("is_tail")))
    novel = unique.join(blocks.select("md5", "chunk_bytes"), ["md5", "chunk_bytes"], "left_anti")
    start = blocks.agg(F.max("bid")).collect()[0][0]
    start = -1 if start is None else int(start)
    novel_ids = assign_dense_ids(novel, ["md5", "chunk_bytes"], "bid").withColumn(
        "bid", (F.col("bid") + F.lit(start + 1)).cast("long")
    )
    # pre-existing blocks referenced by the appended batch gain refcount —
    # the reference's append path re-counts every reuse (dedup.c:329-395 on
    # the rebuilt table); without this, stats under-report after append
    add_refs = unique.select("md5", "chunk_bytes", F.col("refcount").alias("_add_ref"))
    updated_existing = (
        blocks.join(add_refs, ["md5", "chunk_bytes"], "left")
        .withColumn("refcount", F.col("refcount") + F.coalesce(F.col("_add_ref"), F.lit(0)))
        .drop("_add_ref")
    )
    all_blocks = updated_existing.unionByName(novel_ids.select(*updated_existing.columns))
    new_meta = build_file_meta(new_chunks, all_blocks)
    if new_extra is not None:
        new_meta = new_meta.join(new_extra, "conv_id", "left")
    return all_blocks, file_meta.unionByName(new_meta, allowMissingColumns=True)
