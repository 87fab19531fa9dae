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

Every write (-c, -a, -r) goes through `_commit`, which stages all three
tables under `<name>_tmp`, manifest last, and then swaps them in.  The
staged manifest's `_SUCCESS` file is the commit record: `_recover` (run by
every reader) rolls a crashed write forward when it exists and back when it
does not, so a package never mixes one write's tables with another's.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import (
    DOC_SEP,
    TURN_META_COLS,
    assemble_documents,
    turn_metadata,
    validate_assembly,
)
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


#: the manifest's one schema, mirroring the header fields: every commit
#: writes it, so no rewrite can drift a column's type
_MANIFEST = (
    ("block_size", "int"), ("block_num", "long"), ("file_num", "long"), ("magic_num", "long"),
    ("config_hash", "string"), ("chunk_algo", "string"), ("total_bytes", "long"),
    ("stored_bytes", "long"), ("block_z", "boolean"),
)


def create_package(
    spark: SparkSession, transcripts: DataFrame, pkg_dir: str, cfg: DedupConfig | None = None
) -> DedupStats:
    """dedup -c: chunk + dedup `transcripts` into a package directory.
    Raises ValueError, writing nothing, if a turn holds `DOC_SEP`."""
    cfg = cfg or DedupConfig()
    validate_assembly(transcripts)
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
    header = {"block_size": cfg.block_size, "magic_num": MAGIC, "config_hash": cfg.config_hash(),
              "chunk_algo": cfg.chunk_algo, "block_z": bool(cfg.compress_blocks)}
    return _commit(spark, pkg_dir, blocks, meta, header)


def package_exists(pkg_dir: str) -> bool:
    """Whether `pkg_dir` holds a committed package.  `_recover` runs first:
    a write that died after its commit record but before the manifest's
    rename leaves the manifest only as `manifest_tmp`, and deciding before
    the repair would re-create the package."""
    _recover(pkg_dir)
    return os.path.exists(os.path.join(pkg_dir, "manifest", "_SUCCESS"))


def _open(spark: SparkSession, pkg_dir: str) -> tuple[dict[str, DataFrame], dict]:
    """The package's tables and its header row, read once."""
    _recover(pkg_dir)
    manifest = spark.read.parquet(_p(pkg_dir, "manifest"))
    header = manifest.collect()[0].asDict()
    if header["magic_num"] != MAGIC:
        raise ValueError("not a dedup package (bad magic)")
    return {
        "manifest": manifest,
        "blocks": spark.read.parquet(_p(pkg_dir, "blocks")),
        "file_meta": spark.read.parquet(_p(pkg_dir, "file_meta")),
    }, header


def open_package(spark: SparkSession, pkg_dir: str) -> dict[str, DataFrame]:
    return _open(spark, pkg_dir)[0]


def _pkg_z(header: dict) -> bool:
    """Whether the package stores zlib-compressed blocks (the reference's
    header block_z field, /root/reference/src/dedup.h:64; like the binary,
    the PACKAGE header — not the caller's flags — governs extract and append,
    /root/reference/src/dedup.c:938,1783).  Packages written before this
    field existed have no column and read as uncompressed."""
    return bool(header.get("block_z"))


def list_package(spark: SparkSession, pkg_dir: str) -> DataFrame:
    """dedup -t: the stored document names."""
    return open_package(spark, pkg_dir)["file_meta"].select("conv_id").orderBy("conv_id")


def package_stats(spark: SparkSession, pkg_dir: str) -> DedupStats:
    """dedup -s."""
    pkg = open_package(spark, pkg_dir)
    return dedup_stats(pkg["blocks"], pkg["file_meta"])


def extract_package(spark: SparkSession, pkg_dir: str) -> DataFrame:
    """dedup -x: reconstruct every document -> (conv_id, doc_text)."""
    pkg, header = _open(spark, pkg_dir)
    return reconstruct_documents(pkg["file_meta"], pkg["blocks"], compressed=_pkg_z(header))


def extract_turns(spark: SparkSession, pkg_dir: str) -> DataFrame:
    """dedup -x with metadata restore: full (conv_id, turn_idx, role, text,
    tool, ts) rows — the Spark analog of the reference re-applying mode and
    atime/mtime after writing the bytes
    (/root/reference/src/dedup.c:1761,1798-1802).

    Requires the package to have been created from a transcript table carrying
    TURN_META_COLS; raises otherwise (text-only packages extract via
    `extract_package`)."""
    pkg, header = _open(spark, pkg_dir)
    meta_cols = {"roles", "tools", "tss"}
    if not meta_cols.issubset(pkg["file_meta"].columns):
        raise ValueError(
            "package has no per-turn metadata arrays (created from a text-only "
            "table?) — use extract_package for (conv_id, doc_text)"
        )
    recon = reconstruct_documents(pkg["file_meta"], pkg["blocks"], compressed=_pkg_z(header))
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
    """dedup -a: dedup new conversations against the existing store.  With no
    new conversation (a replayed batch) nothing is written.  Raises
    ValueError, writing nothing, if a turn holds `DOC_SEP`."""
    cfg = cfg or DedupConfig()
    validate_assembly(transcripts)
    pkg, header = _open(spark, pkg_dir)
    new = transcripts.join(pkg["file_meta"].select("conv_id"), "conv_id", "left_anti")
    if new.isEmpty():
        return
    chunks = chunk_documents(assemble_documents(new), cfg)
    if _pkg_z(header):  # the package header governs, as in the binary (dedup.c:938)
        chunks = compress_chunk_blocks(chunks)
    extra = turn_metadata(new) if set(TURN_META_COLS).issubset(new.columns) else None
    nb, nm = append_documents(pkg["blocks"], pkg["file_meta"], chunks, new_extra=extra)
    _commit(spark, pkg_dir, nb, nm, header)


def remove_from_package(spark: SparkSession, conv_ids: DataFrame, pkg_dir: str) -> None:
    """dedup -r: drop documents, drop zero-ref blocks, renumber densely."""
    pkg, header = _open(spark, pkg_dir)
    nb, nm = remove_documents(pkg["blocks"], pkg["file_meta"], conv_ids)
    _commit(spark, pkg_dir, nb, nm, header)


#: tables replaced as ONE unit by _commit: all three swap together or
#: _recover promotes or drops all three together, so a package can never mix
#: one write's blocks with another's file_meta (mismatched bids)
_SWAP_TABLES = ("blocks", "file_meta", "manifest")


def _commit(
    spark: SparkSession, pkg_dir: str, blocks: DataFrame, meta: DataFrame, header: dict
) -> DedupStats:
    """The one write of a package: stage, then swap (parquet can't overwrite
    its own input mid-plan, and a crash must not leave a mixed package).

    `blocks` and `file_meta` are staged under <name>_tmp, then the manifest:
    the fixed fields of `header` plus every derived field (counts AND byte
    totals — the reference recomputes its header on rewrite,
    dedup.c:1162-1189) read back FROM THE STAGED tables.  `manifest_tmp`'s
    `_SUCCESS` is the commit record; `_recover` then swaps the staged set in,
    as it would after a crash.  On an object-store deployment the io.py
    Iceberg seam replaces this with a snapshot commit."""
    _recover(pkg_dir)  # a commit starts from a settled package
    blocks.write.mode("overwrite").parquet(_p(pkg_dir, "blocks_tmp"))
    meta.write.mode("overwrite").parquet(_p(pkg_dir, "file_meta_tmp"))
    m = spark.read.parquet(_p(pkg_dir, "file_meta_tmp"))
    st = dedup_stats(spark.read.parquet(_p(pkg_dir, "blocks_tmp")), m)
    row = dict(header, block_num=st.unique_blocks, file_num=m.count(),
               total_bytes=st.total_bytes, stored_bytes=st.unique_bytes)
    spark.createDataFrame(
        [tuple(row.get(n) for n, _ in _MANIFEST)], ", ".join(f"{n} {t}" for n, t in _MANIFEST)
    ).write.mode("overwrite").parquet(_p(pkg_dir, "manifest_tmp"))
    _recover(pkg_dir)
    return st


def _recover(pkg_dir: str) -> None:
    """Finish or undo a commit, so the live tables are one write's.

    `manifest_tmp/_SUCCESS` is the commit record: the manifest is staged
    after `blocks_tmp` and `file_meta_tmp` are complete, and no live table is
    touched before it exists.  With the record → ROLL FORWARD: move every
    live table that still has a staged version aside to <name>_old, then
    promote every staged table.  Without it → ROLL BACK: the live tables are
    untouched, so the partial staged tables are dropped.  The _old tables go
    last."""
    staged = [n for n in _SWAP_TABLES if os.path.exists(_p(pkg_dir, n + "_tmp"))]
    if os.path.exists(os.path.join(_p(pkg_dir, "manifest_tmp"), "_SUCCESS")):
        for n in staged:  # phase 1: move the live tables aside
            if os.path.exists(_p(pkg_dir, n)):
                os.rename(_p(pkg_dir, n), _p(pkg_dir, n + "_old"))
        for n in staged:  # phase 2: promote the staged tables
            os.rename(_p(pkg_dir, n + "_tmp"), _p(pkg_dir, n))
    for n in _SWAP_TABLES:  # phase 3 (or the roll back)
        shutil.rmtree(_p(pkg_dir, n + "_tmp"), ignore_errors=True)
        shutil.rmtree(_p(pkg_dir, n + "_old"), ignore_errors=True)
