"""Document containment: which documents lie inside another document.

This is not the north rule's exact-substring pass — that is
`operators/suffixarray.py`, which finds every duplicated L-character
substring at character granularity.  This pass answers a coarser,
document-level question with fixed-width anchor shingles (SURVEY.md §7.2):
every document emits the hash of each w-token window (its anchors); a short
document whose ENTIRE anchor set is contained in another document's anchor
set is — with w chosen below the min overlap of interest — a containment
candidate, then verified with a real `contains` check on the pair (cheap:
candidates are rare).

containment(a ⊂ b) = |anchors(a) ∩ anchors(b)| / |anchors(a)|

This also catches the containment cases plain Jaccard misses (a short doc
inside a huge one has low Jaccard but containment 1.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduputil_spark.operators.shingle import shingles


def containment_components(
    docs: DataFrame,
    w: int = 8,
    max_bucket: int = 5000,
) -> DataFrame:
    """-> (conv_a, conv_b, inter, na) — INTEGER components of directional
    containment(a ⊂ b) = inter / na (conv_a's anchors found in conv_b's,
    over conv_a's pruned anchor count).

    Anchored on w-token shingles; the shared-anchor join is the only wide op
    and it reuses the shingle machinery (hot anchors capped like LSH buckets).
    """
    anch = shingles(docs, k=w).withColumn("anchor", F.md5("shingle")).select("conv_id", "anchor")
    # prune mega-hot anchors (boilerplate): they cannot certify containment
    hot = anch.groupBy("anchor").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > max_bucket)
    pruned = anch.join(hot.select("anchor"), "anchor", "left_anti")
    # sizes from the PRUNED set: dividing by the unpruned count would make any
    # doc containing one hot anchor unable to reach containment 1.0 (silent
    # recall loss); a doc whose anchors are ALL hot drops out entirely, which
    # is the explicit hot-anchor tradeoff, not a denominator artifact
    sizes = pruned.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_anchors"))
    a = pruned.select(F.col("conv_id").alias("conv_a"), "anchor")
    b = pruned.select(F.col("conv_id").alias("conv_b"), "anchor")
    inter = (
        a.join(b, "anchor")
        .filter(F.col("conv_a") != F.col("conv_b"))
        .groupBy("conv_a", "conv_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.join(
        sizes.select(F.col("conv_id").alias("conv_a"), F.col("n_anchors").alias("na")), "conv_a"
    ).select("conv_a", "conv_b", "inter", F.col("na").alias("na"))


def containment_candidates(docs: DataFrame, w: int = 8, threshold: float = 1.0) -> DataFrame:
    """-> (conv_a, conv_b, containment) where conv_a's anchor set is
    `threshold`-contained in conv_b's (direction: a inside b)."""
    comp = containment_components(docs, w)
    return comp.select(
        "conv_a", "conv_b", (F.col("inter") / F.col("na")).alias("containment")
    ).filter(F.col("containment") >= threshold)


def verify_substring(candidates: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact verification: is a's text literally contained in b's?  Joins the
    two doc texts and applies a JVM `contains` — only on candidates."""
    da = docs.select(F.col("conv_id").alias("conv_a"), F.col("doc_text").alias("text_a"))
    db = docs.select(F.col("conv_id").alias("conv_b"), F.col("doc_text").alias("text_b"))
    return (
        candidates.join(da, "conv_a")
        .join(db, "conv_b")
        .withColumn("is_substring", F.col("text_b").contains(F.col("text_a")))
        .select("conv_a", "conv_b", "containment", "is_substring")
    )
