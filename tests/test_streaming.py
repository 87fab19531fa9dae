"""Streaming incremental dedup: micro-batch upserts into a package must
converge to the same state as one batch run (streaming/batch equivalence),
resume idempotently, survive a batch that dies mid-commit, and round-trip."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.dedup import build_block_store, build_file_meta
from deduputil_spark.operators.reconstruct import reconstruct_documents, roundtrip_mismatches
from deduputil_spark.sources.package import (
    create_package,
    extract_turns,
    list_package,
    open_package,
    package_stats,
)
from deduputil_spark.streaming.incremental import (
    apply_batch,
    incremental_dedup_stream,
    streaming_exact_dedup,
)

CFG = DedupConfig(block_size=256, block_min_size=64, block_max_size=1024)
TURN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _state(spark, pkg_dir):
    pkg = open_package(spark, pkg_dir)
    return pkg["blocks"], pkg["file_meta"]


def _part_files(pkg_dir):
    return {n: sorted(f for f in os.listdir(os.path.join(pkg_dir, n)) if f.startswith("part-"))
            for n in ("blocks", "file_meta", "manifest")}


def _conv_ids(transcripts):
    return sorted(r["conv_id"] for r in transcripts.select("conv_id").distinct().collect())


def test_microbatch_upserts_match_batch(spark, transcripts):
    convs = [r["conv_id"] for r in transcripts.select("conv_id").distinct().collect()]
    convs.sort()
    third = len(convs) // 3
    batches = [convs[:third], convs[third : 2 * third], convs[2 * third :]]
    with tempfile.TemporaryDirectory() as d:
        state = os.path.join(d, "state")
        for ids in batches:
            b = transcripts.filter(F.col("conv_id").isin(ids))
            apply_batch(state, b, CFG)
        sb, sm = _state(spark, state)
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
        state = os.path.join(d, "state")
        apply_batch(state, b, CFG)
        b1, m1 = _state(spark, state)
        n_blocks, n_meta = b1.count(), m1.count()
        parts = _part_files(state)
        apply_batch(state, b, CFG)  # replay (A4 idempotence)
        b2, m2 = _state(spark, state)
        assert b2.count() == n_blocks
        assert m2.count() == n_meta
        assert _part_files(state) == parts  # nothing was rewritten


def test_streaming_source_end_to_end(spark, transcripts):
    """Real readStream → foreachBatch → package with availableNow."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ids = [r["conv_id"] for r in transcripts.select("conv_id").distinct().limit(30).collect()]
        transcripts.filter(F.col("conv_id").isin(ids)).write.parquet(src)
        q = incremental_dedup_stream(
            spark, src, os.path.join(d, "state"), os.path.join(d, "ckpt"), CFG
        )
        q.awaitTermination(120)
        sb, sm = _state(spark, os.path.join(d, "state"))
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



def test_stream_output_is_a_package(spark, transcripts, tmp_path):
    """The streamed state is a package: the package verbs read it, and it
    matches a batch `create_package` over the same transcripts."""
    convs = _conv_ids(transcripts)
    src, pkg, ckpt = (str(tmp_path / n) for n in ("src", "pkg", "ckpt"))
    # two runs over one drop-zone and one checkpoint: the first run's batch
    # creates the package, the second run sees only the new files and appends
    half = len(convs) // 2
    for ids in (convs[:half], convs[half:]):
        transcripts.filter(F.col("conv_id").isin(ids)).select(*TURN_COLS).write.mode("append").parquet(src)
        incremental_dedup_stream(spark, src, pkg, ckpt, CFG).awaitTermination(120)

    assert [r["conv_id"] for r in list_package(spark, pkg).collect()] == convs
    want = create_package(spark, transcripts, str(tmp_path / "batch"), CFG)
    got = package_stats(spark, pkg)
    for fld in ("unique_blocks", "total_blocks", "total_bytes"):
        assert getattr(got, fld) == getattr(want, fld), fld
    out = sorted(map(tuple, extract_turns(spark, pkg).select(*TURN_COLS).collect()))
    assert out == sorted(map(tuple, transcripts.select(*TURN_COLS).collect()))


def _refcounts(spark, pkg_dir):
    blocks, _ = _state(spark, pkg_dir)
    return sorted(map(tuple, blocks.select("md5", "refcount").collect()))


@pytest.fixture(scope="module")
def two_batches(spark, transcripts, tmp_path_factory):
    """A package holding the first half of the conversations, the second half
    as the next micro-batch, the true reference count (every non-tail chunk)
    and the (md5, refcount) rows of an uncrashed second batch."""
    convs = _conv_ids(transcripts)
    half = len(convs) // 2
    first = transcripts.filter(F.col("conv_id").isin(convs[:half]))
    second = transcripts.filter(F.col("conv_id").isin(convs[half:]))
    d = tmp_path_factory.mktemp("crash")
    base, uncrashed = str(d / "base"), str(d / "uncrashed")
    apply_batch(base, first, CFG)
    shutil.copytree(base, uncrashed)
    apply_batch(uncrashed, second, CFG)
    truth = chunk_documents(assemble_documents(transcripts), CFG).filter(~F.col("is_tail")).count()
    return base, second, len(convs), truth, _refcounts(spark, uncrashed)


@pytest.mark.parametrize(
    "target, n",
    [
        ("parquet", 1),  # blocks_tmp
        ("parquet", 2),  # file_meta_tmp
        ("parquet", 3),  # manifest_tmp
        ("rename", 3),  # manifest -> manifest_old: the live tables are aside
        ("rename", 6),  # manifest_tmp -> manifest: only the manifest is missing
    ],
    ids=["stage-blocks", "stage-file_meta", "stage-manifest", "rename-manifest-aside", "rename-manifest-promote"],
)
def test_batch_that_dies_mid_commit_converges_on_replay(spark, two_batches, tmp_path, crash_at, target, n):
    """A micro-batch that dies anywhere in the package commit is replayed by
    the stream; the replay must end at every document once and every
    reference counted once, exactly as if the batch had never died."""
    base, second, n_docs, truth, uncrashed = two_batches
    pkg = str(tmp_path / "pkg")
    shutil.copytree(base, pkg)
    with crash_at(target, n):
        apply_batch(pkg, second, CFG)
    apply_batch(pkg, second, CFG)  # the replay of the uncommitted batch
    blocks, meta = _state(spark, pkg)
    assert meta.count() == n_docs
    assert blocks.agg(F.sum("refcount")).collect()[0][0] == truth
    assert _refcounts(spark, pkg) == uncrashed
