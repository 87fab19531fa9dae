"""Incremental / streaming dedup.

The reference's append verb rebuilds its md5→bid table from the existing
package and continues numbering (`dedup_append_prepare`, src/dedup.c:908-1077).
The Spark-native re-realization is a Structured Streaming micro-batch upsert
into a dedup package (`sources/package.py`): the first batch of (complete)
conversations creates the package (`dedup -c`) and every later batch appends
to it (`dedup -a`).  The streamed state is therefore an ordinary package that
`list_package`, `package_stats` and `extract_turns` read, and a crashed batch
replays from the stream's checkpointLocation onto a package that the commit
protocol in `package.py` has kept whole.

Also provided: watermarked streaming exact-duplicate suppression
(`dropDuplicatesWithinWatermark`) for the turn stream itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.sources.package import append_package, create_package, package_exists

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def apply_batch(pkg_dir: str, batch: DataFrame, cfg: DedupConfig) -> None:
    """One micro-batch upsert of `batch` conversations into the package at
    `pkg_dir`: create it on the first batch, append to it after that.

    `append_package` drops re-ingested conv_ids (the reference's path-dedup
    idempotence, src/dedup.c:782-786), so a replayed batch is a no-op."""
    spark = batch.sparkSession
    if package_exists(pkg_dir):
        append_package(spark, batch, pkg_dir, cfg)
    else:
        create_package(spark, batch, pkg_dir, cfg)


def incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    pkg_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
):
    """readStream over a parquet drop-zone of completed conversations ->
    foreachBatch micro-batch upsert into the package at `pkg_dir`, run once
    over every file present (availableNow trigger)."""
    cfg = cfg or DedupConfig()
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_batch(pkg_dir, batch_df, cfg)

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
