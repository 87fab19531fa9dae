"""Streaming incremental dedup: micro-batch upserts must converge to the same
state as one batch run (streaming/batch equivalence), resume idempotently,
and round-trip."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.dedup import build_block_store, build_file_meta
from deduputil_spark.operators.reconstruct import reconstruct_documents, roundtrip_mismatches
from deduputil_spark.streaming.incremental import (
    DedupState,
    apply_batch,
    incremental_dedup_stream,
    streaming_exact_dedup,
)

CFG = DedupConfig(block_size=256, block_min_size=64, block_max_size=1024)


def test_microbatch_upserts_match_batch(spark, transcripts):
    convs = [r["conv_id"] for r in transcripts.select("conv_id").distinct().collect()]
    convs.sort()
    third = len(convs) // 3
    batches = [convs[:third], convs[third : 2 * third], convs[2 * third :]]
    with tempfile.TemporaryDirectory() as d:
        state = DedupState(spark, os.path.join(d, "state"))
        for ids in batches:
            b = transcripts.filter(F.col("conv_id").isin(ids))
            apply_batch(state, b, CFG)
        sb, sm = state.read()
        # batch-mode ground truth
        chunks = chunk_documents(assemble_documents(transcripts), CFG)
        bb = build_block_store(chunks)
        bm = build_file_meta(chunks, bb)
        # same unique block SET (ids may be permuted: append order != global order)
        a = {r["md5"] for r in sb.select("md5").collect()}
        b_ = {r["md5"] for r in bb.select("md5").collect()}
        assert a == b_
        assert sm.count() == bm.count()
        # bids dense + unique in streamed state
        n = sb.count()
        mm = sb.agg(F.min("bid"), F.max("bid")).collect()[0]
        assert (mm[0], mm[1]) == (0, n - 1)
        assert sb.select("bid").distinct().count() == n
        # round-trip from streamed state
        recon = reconstruct_documents(sm, sb)
        assert roundtrip_mismatches(transcripts, recon).count() == 0


def test_replayed_batch_is_noop(spark, transcripts):
    ids = [r["conv_id"] for r in transcripts.select("conv_id").distinct().limit(20).collect()]
    b = transcripts.filter(F.col("conv_id").isin(ids))
    with tempfile.TemporaryDirectory() as d:
        state = DedupState(spark, os.path.join(d, "state"))
        apply_batch(state, b, CFG)
        b1, m1 = state.read()
        n_blocks, n_meta = b1.count(), m1.count()
        apply_batch(state, b, CFG)  # replay (A4 idempotence)
        b2, m2 = state.read()
        assert b2.count() == n_blocks
        assert m2.count() == n_meta


def test_streaming_source_end_to_end(spark, transcripts):
    """Real readStream → foreachBatch → state tables with availableNow."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ids = [r["conv_id"] for r in transcripts.select("conv_id").distinct().limit(30).collect()]
        transcripts.filter(F.col("conv_id").isin(ids)).write.parquet(src)
        q = incremental_dedup_stream(
            spark, src, os.path.join(d, "state"), os.path.join(d, "ckpt"), CFG
        )
        q.awaitTermination(120)
        state = DedupState(spark, os.path.join(d, "state"))
        sb, sm = state.read()
        assert sm.count() == 30
        recon = reconstruct_documents(sm, sb)
        src_df = transcripts.filter(F.col("conv_id").isin(ids))
        assert roundtrip_mismatches(src_df, recon).count() == 0


def test_streaming_exact_dedup_plan(spark, transcripts):
    """dropDuplicatesWithinWatermark builds a valid streaming plan and, run
    on a memory-ish source via availableNow, suppresses exact dup turns."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        out = os.path.join(d, "out")
        dup_turns = spark.createDataFrame(
            [("x1", 0, "user", "same text", None, None),
             ("x2", 0, "user", "same text", None, None),
             ("x3", 0, "user", "other text", None, None)],
            schema=transcripts.schema,
        ).withColumn("ts", F.current_timestamp())
        dup_turns.write.parquet(src)
        stream = spark.readStream.schema(dup_turns.schema).parquet(src)
        dd = streaming_exact_dedup(stream)
        q = (
            dd.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == 2  # one of the two "same text" turns suppressed

