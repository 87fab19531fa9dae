"""The "dedup package" as tables (S3/S4/S5 —
/root/reference/src/dedup.c:1082-1202,1207-1268,1817-1895).

The reference packs `header | unique block data | logic block data | file
metadata` into one archive file.  The Spark-native package is a directory of
four tables plus a one-row manifest mirroring the header fields
(/root/reference/src/dedup.h:59-70):

  manifest:    block_size, block_num, file_num, magic_num, config_hash, …
  blocks:      bid, md5, chunk_bytes, chunk_len, weak32, refcount
  file_meta:   conv_id, bids, n_blocks, tail_bytes
  (block_index is folded into blocks — parquet row-group offsets replace the
   reference's physical (offset, len) ldata entries)

`create_package` = dedup -c, `list_package` = dedup -t, `package_stats` =
dedup -s, `extract_package` = dedup -x, `append_package` = dedup -a,
`remove_from_package` = dedup -r.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.cache import track
from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import DOC_SEP, TURN_META_COLS, assemble_documents, turn_metadata
from deduputil_spark.operators.chunk import chunk_documents, compress_chunk_blocks
from deduputil_spark.operators.dedup import (
    DedupStats,
    append_documents,
    build_block_store,
    build_file_meta,
    dedup_stats,
    remove_documents,
)
from deduputil_spark.operators.reconstruct import reconstruct_documents

MAGIC = 0x1329149  # reference magic (/root/reference/src/dedup.h:62)


def _p(pkg_dir: str, name: str) -> str:
    return os.path.join(pkg_dir, name)


def create_package(
    spark: SparkSession, transcripts: DataFrame, pkg_dir: str, cfg: DedupConfig | None = None
) -> DedupStats:
    """dedup -c: chunk + dedup `transcripts` into a package directory."""
    cfg = cfg or DedupConfig()
    docs = assemble_documents(transcripts)
    chunks = chunk_documents(docs, cfg)
    if cfg.compress_blocks:  # reference -z: dedup keys over compressed bytes
        chunks = compress_chunk_blocks(chunks)
    blocks = build_block_store(chunks)
    meta = build_file_meta(chunks, blocks)
    # per-turn metadata rides in file_meta (the reference stores mode/atime/
    # mtime in its metadata entry, /root/reference/src/dedup.c:838-851) so
    # extract_turns can rebuild the FULL row, not just the text
    if set(TURN_META_COLS).issubset(transcripts.columns):
        meta = meta.join(turn_metadata(transcripts), "conv_id", "left")
    meta = track(meta)
    blocks.write.mode("overwrite").parquet(_p(pkg_dir, "blocks"))
    meta.write.mode("overwrite").parquet(_p(pkg_dir, "file_meta"))
    st = dedup_stats(blocks, meta)
    manifest = spark.createDataFrame(
        [(cfg.block_size, st.unique_blocks, int(meta.count()), MAGIC, cfg.config_hash(),
          cfg.chunk_algo, st.total_bytes, st.unique_bytes, bool(cfg.compress_blocks))],
        "block_size int, block_num long, file_num long, magic_num long, "
        "config_hash string, chunk_algo string, total_bytes long, stored_bytes long, "
        "block_z boolean",
    )
    manifest.write.mode("overwrite").parquet(_p(pkg_dir, "manifest"))
    return st


def package_exists(pkg_dir: str) -> bool:
    """Whether `pkg_dir` holds a complete package: the manifest is written
    last by `create_package` and swapped in by `_rewrite`.  `_recover` runs
    first, because a crash at the manifest's rename leaves it only as
    `manifest_tmp`; deciding before the repair would re-create the package."""
    _recover(pkg_dir)
    return os.path.exists(os.path.join(pkg_dir, "manifest", "_SUCCESS"))


def open_package(spark: SparkSession, pkg_dir: str) -> dict[str, DataFrame]:
    _recover(pkg_dir)
    manifest = spark.read.parquet(_p(pkg_dir, "manifest"))
    if manifest.collect()[0]["magic_num"] != MAGIC:
        raise ValueError("not a dedup package (bad magic)")
    return {
        "manifest": manifest,
        "blocks": spark.read.parquet(_p(pkg_dir, "blocks")),
        "file_meta": spark.read.parquet(_p(pkg_dir, "file_meta")),
    }


def _pkg_z(pkg: dict[str, DataFrame]) -> bool:
    """Whether the package stores zlib-compressed blocks (the reference's
    header block_z field, /root/reference/src/dedup.h:64; like the binary,
    the PACKAGE header — not the caller's flags — governs extract and append,
    /root/reference/src/dedup.c:938,1783).  Packages written before this
    field existed have no column and read as uncompressed."""
    m = pkg["manifest"]
    return "block_z" in m.columns and bool(m.collect()[0]["block_z"])


def list_package(spark: SparkSession, pkg_dir: str) -> DataFrame:
    """dedup -t: the stored document names."""
    return open_package(spark, pkg_dir)["file_meta"].select("conv_id").orderBy("conv_id")


def package_stats(spark: SparkSession, pkg_dir: str) -> DedupStats:
    """dedup -s."""
    pkg = open_package(spark, pkg_dir)
    return dedup_stats(pkg["blocks"], pkg["file_meta"])


def extract_package(spark: SparkSession, pkg_dir: str) -> DataFrame:
    """dedup -x: reconstruct every document -> (conv_id, doc_text)."""
    pkg = open_package(spark, pkg_dir)
    return reconstruct_documents(pkg["file_meta"], pkg["blocks"], compressed=_pkg_z(pkg))


def extract_turns(spark: SparkSession, pkg_dir: str) -> DataFrame:
    """dedup -x with metadata restore: full (conv_id, turn_idx, role, text,
    tool, ts) rows — the Spark analog of the reference re-applying mode and
    atime/mtime after writing the bytes
    (/root/reference/src/dedup.c:1761,1798-1802).

    Requires the package to have been created from a transcript table carrying
    TURN_META_COLS; raises otherwise (text-only packages extract via
    `extract_package`)."""
    pkg = open_package(spark, pkg_dir)
    meta_cols = {"roles", "tools", "tss"}
    if not meta_cols.issubset(pkg["file_meta"].columns):
        raise ValueError(
            "package has no per-turn metadata arrays (created from a text-only "
            "table?) — use extract_package for (conv_id, doc_text)"
        )
    recon = reconstruct_documents(pkg["file_meta"], pkg["blocks"], compressed=_pkg_z(pkg))
    joined = recon.join(pkg["file_meta"].select("conv_id", "roles", "tools", "tss"), "conv_id")
    # a metadata-less document (e.g. text-only rows appended later via
    # append_documents' allowMissingColumns union) has NULL metadata arrays;
    # arrays_zip(…, NULL) is NULL and posexplode would silently DROP the whole
    # document — coalesce each array to all-nulls sized by the split instead
    # (ADVICE r3)
    texts = F.split("doc_text", DOC_SEP)
    null_sized = lambda typ: F.transform(texts, lambda x: F.lit(None).cast(typ))  # noqa: E731
    z = F.posexplode(
        F.arrays_zip(
            texts.alias("text"),
            F.coalesce(F.col("roles"), null_sized("string")).alias("role"),
            F.coalesce(F.col("tools"), null_sized("string")).alias("tool"),
            F.coalesce(F.col("tss"), null_sized("timestamp")).alias("ts"),
        )
    ).alias("turn_idx", "t")
    return joined.select("conv_id", z).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("t.role").alias("role"),
        F.col("t.text").alias("text"),
        F.col("t.tool").alias("tool"),
        F.col("t.ts").alias("ts"),
    )


def append_package(
    spark: SparkSession, transcripts: DataFrame, pkg_dir: str, cfg: DedupConfig | None = None
) -> None:
    """dedup -a: dedup new conversations against the existing store."""
    cfg = cfg or DedupConfig()
    pkg = open_package(spark, pkg_dir)
    new = transcripts.join(pkg["file_meta"].select("conv_id"), "conv_id", "left_anti")
    chunks = chunk_documents(assemble_documents(new), cfg)
    if _pkg_z(pkg):  # the package header governs, as in the binary (dedup.c:938)
        chunks = compress_chunk_blocks(chunks)
    extra = turn_metadata(new) if set(TURN_META_COLS).issubset(new.columns) else None
    nb, nm = append_documents(pkg["blocks"], pkg["file_meta"], chunks, new_extra=extra)
    _rewrite(spark, pkg_dir, nb, nm)


def remove_from_package(spark: SparkSession, conv_ids: DataFrame, pkg_dir: str) -> None:
    """dedup -r: drop documents, drop zero-ref blocks, renumber densely."""
    pkg = open_package(spark, pkg_dir)
    nb, nm = remove_documents(pkg["blocks"], pkg["file_meta"], conv_ids)
    _rewrite(spark, pkg_dir, nb, nm)


#: tables replaced as ONE unit by _rewrite: all three swap together or the
#: crash-recovery in open_package restores/promotes all three together, so a
#: package can never mix new blocks with old file_meta (mismatched bids)
_SWAP_TABLES = ("blocks", "file_meta", "manifest")


def _rewrite(spark: SparkSession, pkg_dir: str, blocks: DataFrame, meta: DataFrame) -> None:
    """Stage-then-rename (parquet can't overwrite its own input mid-plan).

    Every replaced table — INCLUDING the refreshed manifest — is fully
    materialized under <name>_tmp first; only then does the staged swap run
    (live→_old for all, _tmp→live for all, delete _old last).  A crash at any
    point leaves a state `_recover` can roll forward (all _tmp staged) or back
    (otherwise); data is written ONCE, not twice.  On an object-store
    deployment the io.py Iceberg seam replaces this with a snapshot commit."""
    blocks.write.mode("overwrite").parquet(_p(pkg_dir, "blocks_tmp"))
    meta.write.mode("overwrite").parquet(_p(pkg_dir, "file_meta_tmp"))
    # refresh every derived header field (counts AND byte totals — the
    # reference recomputes its header on rewrite, dedup.c:1162-1189) FROM THE
    # STAGED tables, so the new manifest swaps in atomically with them; the
    # original manifest DataFrame schema is reused so column types never
    # drift across rewrites (int stays int, no inference from Python values)
    mdf = spark.read.parquet(_p(pkg_dir, "manifest"))
    schema = mdf.schema
    manifest = mdf.collect()[0].asDict()
    b = spark.read.parquet(_p(pkg_dir, "blocks_tmp"))
    m = spark.read.parquet(_p(pkg_dir, "file_meta_tmp"))
    st = dedup_stats(b, m)
    manifest["block_num"] = st.unique_blocks
    manifest["file_num"] = m.count()
    manifest["total_bytes"] = st.total_bytes
    manifest["stored_bytes"] = st.unique_bytes
    spark.createDataFrame(
        [tuple(manifest[f.name] for f in schema.fields)], schema
    ).write.mode("overwrite").parquet(_p(pkg_dir, "manifest_tmp"))

    # staged swap: marker-free two-phase rename with _old kept until the end
    for name in _SWAP_TABLES:  # phase 1: move every live table aside
        final = _p(pkg_dir, name)
        shutil.rmtree(final + "_old", ignore_errors=True)
        if os.path.exists(final):
            os.rename(final, final + "_old")
    for name in _SWAP_TABLES:  # phase 2: promote every staged table
        os.rename(_p(pkg_dir, name) + "_tmp", _p(pkg_dir, name))
    for name in _SWAP_TABLES:  # phase 3: drop the previous versions
        shutil.rmtree(_p(pkg_dir, name) + "_old", ignore_errors=True)


def _recover(pkg_dir: str) -> None:
    """Repair a package left mid-_rewrite by a crash.

    Discriminator: phase 1 only starts after every _tmp is fully written, and
    it is the first step that touches a live table.  So if any live table is
    missing or any _old exists, the staged set is complete → ROLL FORWARD
    (finish phases 1-3).  Otherwise the crash happened during the _tmp writes
    themselves → ROLL BACK (drop partial _tmp dirs; live tables untouched)."""
    tmp = {n: os.path.exists(_p(pkg_dir, n + "_tmp")) for n in _SWAP_TABLES}
    old = {n: os.path.exists(_p(pkg_dir, n + "_old")) for n in _SWAP_TABLES}
    live = {n: os.path.exists(_p(pkg_dir, n)) for n in _SWAP_TABLES}
    if not any(tmp.values()) and not any(old.values()):
        return  # clean package
    phase1_started = any(old.values()) or not all(live.values())
    if phase1_started:
        for n in _SWAP_TABLES:  # roll forward
            if tmp[n]:
                if live[n]:
                    shutil.rmtree(_p(pkg_dir, n + "_old"), ignore_errors=True)
                    os.rename(_p(pkg_dir, n), _p(pkg_dir, n) + "_old")
                os.rename(_p(pkg_dir, n) + "_tmp", _p(pkg_dir, n))
            elif not live[n] and old[n]:
                # promoted nothing for this table yet its live is gone — can
                # only happen if _tmp promotion already ran; _old is stale
                os.rename(_p(pkg_dir, n) + "_old", _p(pkg_dir, n))
    for n in _SWAP_TABLES:
        shutil.rmtree(_p(pkg_dir, n + "_tmp"), ignore_errors=True)
        shutil.rmtree(_p(pkg_dir, n + "_old"), ignore_errors=True)
