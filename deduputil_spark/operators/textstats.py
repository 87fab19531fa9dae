"""Text-analysis operators for training-data pipelines (driver-graded extras):
language-ID heuristic, document fingerprinting, word n-gram Jaccard pairs.
All pure Spark SQL expressions (JVM/codegen; no UDFs) and all expressible
1:1 in DuckDB for exact oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduputil_spark.operators.shingle import shingles

# tiny high-frequency stopword lists per language (heuristic language ID)
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "qui", "pas"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
}


def _stopword_hits(words: list[str]):
    """Count of tokens from `words` present in the token array (JVM-side)."""
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        f"size(filter(split(lower(trim(text)), '\\\\s+'), t -> array_contains(array({arr}), t)))"
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit counts
    ('und' when all zero).  Deterministic tie-break by language code order."""
    hits = docs.select(
        "doc_id",
        *[_stopword_hits(ws).alias(f"hits_{lang}") for lang, ws in _LANG_STOPWORDS.items()],
    )
    langs = list(_LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties (reverse fold)
        pred = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(pred)
    return hits.select("doc_id", F.when(best > 0, pred).otherwise(F.lit("und")).alias("lang_pred"))


def doc_fingerprint(docs: DataFrame, w: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: the minimum md5 over the document's
    w-token anchor windows (1 shingle if shorter) — a compact near-dup key
    that's robust to small edits at the ends."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    grams = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - w),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, w), " ")),
        ),
    ).otherwise(F.array(F.md5(F.array_join(toks, " "))))
    return docs.select("doc_id", F.array_min(grams).alias("fingerprint"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, max_df: int = 50_000) -> DataFrame:
    """docs(conv_id, doc_text) -> (doc_a, doc_b, inter, uni) — INTEGER
    components of word n-gram Jaccard = inter / uni for every pair (doc_a <
    doc_b) sharing an n-gram: the direct (non-LSH) dedup path for
    small-to-medium corpora, fully relational.  Callers cut on the integers
    (`inter * 2 >= uni` is Jaccard ≥ 0.5, exactly).

    Hot-shingle cap (same pattern as substring.containment_components /
    lsh.py bucket caps): a shingle present in > max_df documents generates
    |df|² join rows, so boilerplate grams are pruned BEFORE the self-join and
    the per-doc set sizes are computed from the pruned universe — Jaccard
    stays exact over that universe, and when nothing exceeds the cap (any
    sane cap at oracle sf) the result is bit-identical to the uncapped form.
    """
    sh = shingles(docs, n)
    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > max_df)
    sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sizes = sh.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("conv_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("conv_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("conv_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("conv_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", "inter", (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"))
    )
