"""Shingling — documents to k-gram token-shingle sets.

The similarity front-end (the reference's analog is the per-file chunk-hash
multiset that bsim builds, /root/reference/src/bsim.c:122-175; token shingles
are the text-native equivalent for near-dup detection at the north rule's
shingle/signature config).

Pure Spark SQL (split + sequence + transform + explode — all
whole-stage-codegen), deliberately expressible 1:1 in DuckDB for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingles(docs: DataFrame, k: int = 5, distinct: bool = True) -> DataFrame:
    """docs(conv_id, doc_text) -> (conv_id, shingle), DISTINCT per doc by default.

    Tokens = whitespace split; shingle = k consecutive tokens joined by ' '.
    Documents with fewer than k tokens emit their whole token string as the
    single shingle (so tiny docs still participate).

    SCALE NOTE: `distinct=False` keeps this a pure narrow map (no shuffle).
    MinHash only needs the multiset (min over multiset == min over set), so
    the signature path NEVER shuffles the exploded shingle table — at corpus
    scale that shuffle (billions of rows) would dominate the whole pipeline.
    Set-semantics consumers deduplicate AFTER pruning to the rows they need
    (the default ``distinct=True`` does it here).
    """
    k = int(k)
    toks = F.split(F.trim(F.col("doc_text")), r"\s+")
    out = docs.select("conv_id", toks.alias("toks")).select(
        "conv_id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - k),
                    lambda i: F.array_join(F.slice(F.col("toks"), i + 1, k), " "),
                ),
            ).otherwise(F.array(F.array_join(F.col("toks"), " ")))
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out

