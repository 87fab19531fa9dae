"""Dedup → reconstruct round-trip (the reference's create→extract oracle,
/root/reference/src/dedup.c:1082-1202 vs 1817-1895) plus byte-verify
collision separation and stats sanity."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents, validate_assembly
from deduputil_spark.operators.chunk import chunk_documents, chunk_fsp_sql
from deduputil_spark.operators.dedup import (
    append_documents,
    assign_dense_ids,
    build_block_store,
    build_file_meta,
    dedup_stats,
    refcounts,
    remove_documents,
)
from deduputil_spark.operators.reconstruct import reconstruct_documents, roundtrip_mismatches


@pytest.fixture(scope="module", params=["cdc", "fsp"])
def pipeline(request, spark, transcripts):
    cfg = DedupConfig(chunk_algo=request.param)
    validate_assembly(transcripts)
    docs = assemble_documents(transcripts).cache()
    chunks = chunk_documents(docs, cfg).cache()
    blocks = build_block_store(chunks).cache()
    meta = build_file_meta(chunks, blocks).cache()
    return dict(cfg=cfg, docs=docs, chunks=chunks, blocks=blocks, meta=meta)


def _bid_by_key(blocks) -> dict[tuple[str, bytes], int]:
    rows = blocks.select("bid", "md5", "chunk_bytes").collect()
    return {(r["md5"], bytes(r["chunk_bytes"])): r["bid"] for r in rows}


def test_roundtrip_per_turn_equality(spark, transcripts, pipeline):
    recon = reconstruct_documents(pipeline["meta"], pipeline["blocks"])
    bad = roundtrip_mismatches(transcripts, recon)
    assert bad.count() == 0


def test_block_store_is_exact(pipeline):
    """bid is unique; (md5, chunk_bytes) is unique — byte-verify semantics."""
    blocks = pipeline["blocks"]
    n = blocks.count()
    assert blocks.select("bid").distinct().count() == n
    assert blocks.select("md5", "chunk_bytes").distinct().count() == n
    # dense 0..n-1
    mm = blocks.agg(F.min("bid"), F.max("bid")).collect()[0]
    assert mm[0] == 0 and mm[1] == n - 1
    # bid = index of (md5, chunk_bytes) in sorted order: packages, append /
    # remove renumbering and the benchmark's exact digest all rely on it
    bids = _bid_by_key(blocks)
    assert [bids[k] for k in sorted(bids)] == list(range(n))


def test_exact_duplicate_convs_share_all_bids(spark, corpus, pipeline):
    truth = corpus.truth_pairs
    exact = truth[truth["kind"] == "exact"]
    meta = {r["conv_id"]: r["bids"] for r in pipeline["meta"].collect()}
    for _, row in exact.iterrows():
        assert meta[row["conv_a"]] == meta[row["conv_b"]], (row["conv_a"], row["conv_b"])


def test_refcount_consistency(pipeline):
    """Σ refcount over membership == total non-tail chunk rows."""
    rc = refcounts(pipeline["meta"]).agg(F.sum("refcount")).collect()[0][0]
    total = pipeline["chunks"].filter(~F.col("is_tail")).count()
    assert rc == total


def test_dedup_stats(pipeline):
    st = dedup_stats(pipeline["blocks"], pipeline["meta"])
    assert st.total_blocks >= st.unique_blocks
    assert st.dup_blocks == st.total_blocks - st.unique_blocks
    assert st.dedup_rate >= 1.0  # planted exact dups guarantee > 1 for cdc


def test_deterministic_bids(spark, pipeline):
    """Re-running bid assignment yields identical (bid, md5) pairs."""
    blocks2 = build_block_store(pipeline["chunks"])
    a = {(r["bid"], r["md5"]) for r in pipeline["blocks"].select("bid", "md5").collect()}
    b = {(r["bid"], r["md5"]) for r in blocks2.select("bid", "md5").collect()}
    assert a == b


def test_block_store_plan_has_no_exchange(pipeline, plan_nodes):
    """The numbering reads its checkpoint in place: no second shuffle of the
    store (and its bytes) and no broadcast of per-partition offsets."""
    blocks = build_block_store(pipeline["chunks"])
    blocks.collect()
    classes = {n.getClass().getSimpleName() for n in plan_nodes(blocks._jdf.queryExecution().executedPlan())}
    assert not classes & {"ShuffleExchangeExec", "BroadcastExchangeExec"}, classes


def test_assign_dense_ids_empty_and_sparse_partitions(spark):
    empty = spark.createDataFrame([], "k long")
    assert assign_dense_ids(empty, ["k"]).count() == 0
    # 3 rows over max(defaultParallelism, 8) range partitions: most are empty
    sparse = spark.createDataFrame([(30,), (10,), (20,)], "k long").repartition(8)
    got = sorted((r["k"], r["bid"]) for r in assign_dense_ids(sparse, ["k"]).collect())
    assert got == [(10, 0), (20, 1), (30, 2)]


def test_append_numbers_novel_blocks_after_old_max_in_key_order(spark, transcripts, pipeline):
    """Old bids stay; novel blocks get old max + 1 on, in (md5, chunk_bytes)
    order (the reference continues g_unique_block_nr)."""
    # 40 KB of unseen alphanumerics: the CDC window sum reaches its cut
    # residue often enough for many novel blocks at the default sizes
    rng = random.Random(11)
    text = "".join(rng.choices(string.ascii_letters + string.digits, k=40000))
    new_t = spark.createDataFrame([("znew02", 0, "user", text, None, None)], schema=transcripts.schema)
    chunks2 = chunk_documents(assemble_documents(new_t), pipeline["cfg"])
    old = _bid_by_key(pipeline["blocks"])
    new = _bid_by_key(append_documents(pipeline["blocks"], pipeline["meta"], chunks2)[0])
    assert {k: new[k] for k in old} == old
    novel = sorted(set(new) - set(old))
    assert len(novel) > 1
    assert [new[k] for k in novel] == list(range(max(old.values()) + 1, len(new)))


def test_remove_documents(spark, pipeline):
    meta, blocks = pipeline["meta"], pipeline["blocks"]
    victims = meta.select("conv_id").limit(5)
    nb, nm = remove_documents(blocks, meta, victims)
    n = nb.count()
    mm = nb.agg(F.min("bid"), F.max("bid")).collect()[0]
    assert mm[0] == 0 and mm[1] == n - 1  # renumbered densely
    old, new = _bid_by_key(blocks), _bid_by_key(nb)
    assert sorted(new, key=old.get) == sorted(new, key=new.get)  # survivors keep their order
    assert nm.count() == meta.count() - 5
    # surviving docs still reconstruct
    recon = reconstruct_documents(nm, nb)
    docs = pipeline["docs"].join(victims, "conv_id", "left_anti")
    diff = (
        docs.select("conv_id", F.col("doc_text").alias("src"))
        .join(recon, "conv_id", "full_outer")
        .filter((F.col("src") != F.col("doc_text")) | F.col("src").isNull() | F.col("doc_text").isNull())
    )
    assert diff.count() == 0


def test_append_documents(spark, transcripts, pipeline):
    """Append a batch; old bids unchanged, new blocks continue numbering,
    appended docs reconstruct (reference A5, /root/reference/src/dedup.c:908-1077)."""
    cfg = pipeline["cfg"]
    new_t = transcripts.limit(0).sparkSession.createDataFrame(
        [("znew01", 0, "user", "completely new content " + "x" * 900, None, None),
         ("znew01", 1, "assistant", "more new content never seen before", None, None)],
        schema=transcripts.schema,
    )
    docs2 = assemble_documents(new_t)
    chunks2 = chunk_documents(docs2, cfg)
    nb, nm = append_documents(pipeline["blocks"], pipeline["meta"], chunks2)
    old_max = pipeline["blocks"].agg(F.max("bid")).collect()[0][0]
    assert nb.count() >= pipeline["blocks"].count()
    assert nb.select("bid").distinct().count() == nb.count()
    recon = reconstruct_documents(nm.filter(F.col("conv_id") == "znew01"), nb)
    got = recon.collect()[0]["doc_text"]
    want = docs2.collect()[0]["doc_text"]
    assert got == want
    assert old_max == pipeline["blocks"].agg(F.max("bid")).collect()[0][0]


def test_fsp_sql_matches_pandas_fsp_on_ascii(spark, pipeline):
    """Char-stride SQL FSP == byte FSP on ASCII corpora (chunk counts + hashes)."""
    if pipeline["cfg"].chunk_algo != "fsp":
        pytest.skip("fsp only")
    docs = pipeline["docs"]
    sql_chunks = chunk_fsp_sql(docs)
    a = (
        pipeline["chunks"].filter(~F.col("is_tail"))
        .select("conv_id", "chunk_idx", F.md5(F.col("chunk_bytes")).alias("h"))
    )
    b = (
        sql_chunks.filter(~F.col("is_tail"))
        .select("conv_id", "chunk_idx", F.md5(F.col("chunk_text").cast("binary")).alias("h"))
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sb_chunk_algo_roundtrip(spark, transcripts):
    """chunk_algo='sb' (C3 as a package-creation mode): chunks tile each doc,
    round-trip is exact, and a self-repetitive doc actually dedups."""
    from deduputil_spark.config import DedupConfig
    from deduputil_spark.operators.assemble import assemble_documents
    from deduputil_spark.operators.chunk import chunk_documents
    from deduputil_spark.operators.dedup import build_block_store, build_file_meta
    from deduputil_spark.operators.reconstruct import reconstruct_documents, roundtrip_mismatches

    cfg = DedupConfig(chunk_algo="sb")
    docs = assemble_documents(transcripts)
    chunks = chunk_documents(docs, cfg)
    blocks = build_block_store(chunks)
    meta = build_file_meta(chunks, blocks)
    recon = reconstruct_documents(meta, blocks)
    assert roundtrip_mismatches(transcripts, recon).count() == 0


def test_sb_spans_self_dedup():
    """A doc of X+X: the second copy confirms against blocks stored while
    scanning the first -> duplicate fixed blocks, per-doc state only."""
    import random

    from deduputil_spark.functions.hashes import sb_spans

    rng = random.Random(7)
    base = bytes(rng.randrange(1, 256) for _ in range(4096 * 3))
    data = base + base
    spans, tail_start = sb_spans(data)
    chunks = [data[s:e] for s, e in spans]
    assert len(chunks) > len(set(chunks)), "repeat must produce duplicate blocks"
    # spans tile [0, tail_start) contiguously
    pos = 0
    for s, e in spans:
        assert s == pos
        pos = e
    assert pos == tail_start


def test_zlib_divergence_md5_is_over_uncompressed_bytes(spark, transcripts):
    """F4 divergence pin (VERDICT r2 item 7): the reference's -z compresses a
    block BEFORE hashing (/root/reference/src/dedup.c:462-473), so its md5 is
    over COMPRESSED bytes; ours is always over the UNCOMPRESSED block (parquet
    owns storage compression).  Pin both halves: (a) compressed-storage still
    round-trips, (b) our md5 equals md5(raw) and differs from md5(zlib(raw))
    — i.e. a -z package from the binary is NOT block-compatible, by design."""
    import hashlib
    import zlib

    from deduputil_spark.operators.chunk import chunk_documents, zlib_block

    cfg = DedupConfig(block_size=256, block_min_size=64, block_max_size=1024)
    docs = assemble_documents(transcripts)
    chunks = chunk_documents(docs, cfg).filter(~F.col("is_tail")).limit(50).collect()
    assert chunks
    for r in chunks:
        raw = bytes(r["chunk_bytes"])
        comp = zlib_block(raw)
        # (a) compressed storage round-trips byte-exactly
        assert zlib.decompress(comp) == raw
        # (b) our md5 column is the hash of the RAW bytes...
        assert r["md5"] == hashlib.md5(raw).hexdigest()
        # ...and never of the compressed bytes (the reference's -z hash)
        if comp != raw:
            assert r["md5"] != hashlib.md5(comp).hexdigest()


def test_compressed_package_roundtrip_and_z_semantics(spark, transcripts, tmp_path):
    """F4 full `-z` mode: compress_blocks=True stores zlib-compressed blocks
    keyed by md5(COMPRESSED bytes) — the reference's exact -z semantics
    (/root/reference/src/dedup.c:462-473: compress, then md5, then dedup) —
    and extract decompresses transparently (dedup.c:1783-1791).  Tail blocks
    stay raw (the reference writes last_block uncompressed, dedup.c:1794)."""
    import hashlib
    import zlib

    from deduputil_spark.operators.reconstruct import roundtrip_mismatches
    from deduputil_spark.sources.package import (
        append_package,
        create_package,
        extract_package,
        extract_turns,
        open_package,
    )

    cfg = DedupConfig(compress_blocks=True)
    pkg_dir = str(tmp_path / "pkgz")
    ids = [r[0] for r in transcripts.select("conv_id").distinct().limit(40).collect()]
    first, rest = ids[:30], ids[30:]
    t1 = transcripts.filter(F.col("conv_id").isin(first))
    create_package(spark, t1, pkg_dir, cfg)

    pkg = open_package(spark, pkg_dir)
    assert pkg["manifest"].collect()[0]["block_z"] is True
    # every stored block: md5 is over the COMPRESSED bytes, and decompressing
    # round-trips (i.e. the bytes really are zlib streams)
    for row in pkg["blocks"].limit(50).collect():
        cb = bytes(row["chunk_bytes"])
        assert row["md5"] == hashlib.md5(cb).hexdigest()
        assert len(zlib.decompress(cb)) >= len(cb) - 16  # decompresses cleanly
        assert row["chunk_len"] == len(cb)

    # extract decompresses: per-turn text equality against the source rows
    assert roundtrip_mismatches(t1, extract_package(spark, pkg_dir)).count() == 0
    # metadata restore composes with compression
    back = extract_turns(spark, pkg_dir)
    src = t1.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    assert src.exceptAll(back.select(*src.columns)).count() == 0

    # append against a compressed store keeps the compressed keyspace:
    # appended docs dedup against EXISTING compressed blocks (no key split)
    append_package(spark, transcripts.filter(F.col("conv_id").isin(rest)), pkg_dir, cfg)
    pkg2 = open_package(spark, pkg_dir)
    n = pkg2["blocks"].count()
    assert pkg2["blocks"].select("md5", "chunk_bytes").distinct().count() == n
    allt = transcripts.filter(F.col("conv_id").isin(ids))
    assert roundtrip_mismatches(allt, extract_package(spark, pkg_dir)).count() == 0
