"""S5 — extract / un-dedup: the round-trip oracle.

The Spark analog of undedup_regfile + dedup_package_extract
(/root/reference/src/dedup.c:1726-1812,1817-1895): walk each document's bid
array, join to the unique-block store, re-concatenate in position order,
append the raw tail.  Create→extract must reproduce the input byte-for-byte —
the north-rule invariant is per-turn text equality under stable
(conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduputil_spark.operators.assemble import DOC_SEP


def reconstruct_documents(
    file_meta: DataFrame, blocks: DataFrame, compressed: bool = False
) -> DataFrame:
    """file_meta(conv_id, bids, tail_bytes) × blocks(bid, chunk_bytes)
    -> docs(conv_id, doc_text).

    posexplode keeps chunk order; the bid→bytes join is the only shuffle
    (broadcast when the block store is small; AQE decides).

    `compressed=True` mirrors the reference's extract of a `-z` package:
    every stored block is zlib-inflated before reassembly while the tail is
    already raw (/root/reference/src/dedup.c:1783-1794).  Decompression runs
    on the UNIQUE block store before the bid join — each block inflates once,
    not once per reference.
    """
    if compressed:
        import zlib

        @F.pandas_udf("binary")
        def _zd(s: pd.Series) -> pd.Series:
            return s.map(lambda b: zlib.decompress(bytes(b)))

        blocks = blocks.withColumn("chunk_bytes", _zd("chunk_bytes"))
    exploded = file_meta.select("conv_id", "tail_bytes", F.posexplode_outer("bids").alias("pos", "bid"))
    joined = exploded.join(blocks.select("bid", "chunk_bytes"), "bid", "left")
    # CRITICAL: concatenate BINARY chunks first, decode to string ONCE — a CDC
    # cut can land mid-UTF-8-code-point, so per-chunk decode would corrupt.
    body = joined.groupBy("conv_id").agg(
        F.first("tail_bytes").alias("tail_bytes"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col("chunk_bytes").alias("cb")))
                ),
                lambda s: s["cb"],
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, F.coalesce(x, F.lit(b""))),
        ).alias("body_bytes"),
    )
    return body.select(
        "conv_id",
        F.concat(
            F.coalesce("body_bytes", F.lit(b"")), F.coalesce("tail_bytes", F.lit(b""))
        ).cast("string").alias("doc_text"),
    )


def reconstruct_turns(reconstructed_docs: DataFrame) -> DataFrame:
    """Re-split reconstructed documents into (conv_id, turn_idx, text) rows
    for the per-turn equality assertion (input_hint invariant)."""
    return reconstructed_docs.select(
        "conv_id",
        F.posexplode(F.split("doc_text", DOC_SEP)).alias("turn_idx", "text"),
    ).withColumn("turn_idx", F.col("turn_idx").cast("int"))


def roundtrip_mismatches(transcripts: DataFrame, reconstructed_docs: DataFrame) -> DataFrame:
    """Rows where reconstruction diverges from the source (must be empty)."""
    recon = reconstruct_turns(reconstructed_docs)
    src = transcripts.select("conv_id", "turn_idx", F.col("text").alias("src_text"))
    return (
        src.join(recon, ["conv_id", "turn_idx"], "full_outer")
        .filter(
            F.col("src_text").isNull()
            | F.col("text").isNull()
            | (F.col("src_text") != F.col("text"))
        )
    )
