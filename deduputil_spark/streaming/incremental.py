"""Incremental / streaming dedup.

The reference's append verb rebuilds its md5→bid table from the existing
package and continues numbering (`dedup_append_prepare`,
/root/reference/src/dedup.c:908-1077).  The Spark-native re-realization is a
Structured Streaming micro-batch upsert: each batch of (complete)
conversations is chunked and anti-joined against the persistent block store;
novel blocks extend the bid space, membership rows append.  State lives in
parquet tables (Iceberg on a real cluster — the io.py seam), so a crashed
stream resumes from the last committed batch (checkpointLocation) with
exactly-once semantics per micro-batch.

Also provided: watermarked streaming exact-duplicate suppression
(`dropDuplicatesWithinWatermark`) for the turn stream itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.dedup import append_documents, build_block_store, build_file_meta

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


class DedupState:
    """Parquet-backed blocks/file_meta state for the micro-batch upsert."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    @property
    def blocks_path(self) -> str:
        return os.path.join(self.dir, "blocks")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.dir, "file_meta")

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.blocks_path, "_SUCCESS"))

    def read(self) -> tuple[DataFrame, DataFrame]:
        return (
            self.spark.read.parquet(self.blocks_path),
            self.spark.read.parquet(self.meta_path),
        )

    def write(self, blocks: DataFrame, meta: DataFrame) -> None:
        # stage-then-swap: write to tmp, re-read, overwrite (parquet cannot
        # overwrite its own input mid-plan); Iceberg swaps snapshots instead
        tmp_b, tmp_m = self.blocks_path + "_tmp", self.meta_path + "_tmp"
        blocks.write.mode("overwrite").parquet(tmp_b)
        meta.write.mode("overwrite").parquet(tmp_m)
        self.spark.read.parquet(tmp_b).write.mode("overwrite").parquet(self.blocks_path)
        self.spark.read.parquet(tmp_m).write.mode("overwrite").parquet(self.meta_path)


def apply_batch(state: DedupState, batch: DataFrame, cfg: DedupConfig) -> None:
    """One micro-batch upsert: dedup `batch` conversations against state.

    Re-ingested conv_ids are dropped (the reference's path-dedup idempotence,
    /root/reference/src/dedup.c:782-786) so replayed batches are no-ops."""
    docs = assemble_documents(batch)
    if state.exists():
        blocks, meta = state.read()
        docs = docs.join(meta.select("conv_id"), "conv_id", "left_anti")  # A4 idempotence
        chunks = chunk_documents(docs, cfg)
        new_blocks, new_meta = append_documents(blocks, meta, chunks)
    else:
        chunks = chunk_documents(docs, cfg)
        new_blocks = build_block_store(chunks)
        new_meta = build_file_meta(chunks, new_blocks)
    state.write(new_blocks, new_meta)


def incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
):
    """readStream over a parquet drop-zone of completed conversations ->
    foreachBatch micro-batch upsert into the dedup state tables, run once
    over every file present (availableNow trigger)."""
    cfg = cfg or DedupConfig()
    state = DedupState(spark, state_dir)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_batch(state, batch_df, cfg)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_exact_dedup(transcript_stream: DataFrame) -> DataFrame:
    """Suppress exact-duplicate turns in-flight: state-bounded by a 1-hour
    watermark on `ts` (late duplicates beyond it are the batch layer's job)."""
    return (
        transcript_stream.withWatermark("ts", "1 hour")
        .withColumn("text_md5", F.md5(F.col("text").cast("binary")))
        .dropDuplicatesWithinWatermark(["text_md5"])
    )
