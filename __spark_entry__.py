"""Driver contract for the spark-graft builder (PySpark target).

`queries()` maps operator names (SURVEY.md §2 inventory + training-data
extras) to (spark, sf_dir) callables; `oracle_sql()` gives the DuckDB-
equivalent SQL over the pre-registered views (region nation customer supplier
part orders lineitem events documents embeddings).

Design for oracle exactness:
- MinHash uses the md5 family (bit-identical in Spark and DuckDB).
- Ratio-valued outputs emit integer numerators/denominators where possible
  (no float-rounding hash risk); cosine uses round(…, 6) double arithmetic.
- Everything is aliased identically on both sides.

Non-SQL-expressible stages (the mapInArrow CDC chunker, full transcript pipeline,
round-trip reconstruction) are included WITHOUT oracle entries (rows-only
checks) and covered by the repo's own pytest oracles instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig

# --- shared small configs (kept tiny so DuckDB oracles run fast at sf0.01) ---
FSP_BS = 128          # documents are 48-553 chars; 4096 would be all-tail
SHINGLE_K = 5
NUM_PERM = 16
BANDS, ROWS = 4, 4
NGRAM_N = 3
ANN_K = 5
QUERY_MOD = 25        # ann query subset: vec_id % 25 == 0


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# S1 — document assembly (window-ordered concat) over events-as-transcripts
# ---------------------------------------------------------------------------

def q_assemble_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    turn = F.struct(F.col("ts"), F.col("event_id"), F.concat_ws(":", "event_type", "props").alias("txt"))
    return (
        ev.groupBy(F.col("user_id").alias("conv_id"))
        .agg(
            F.md5(
                F.concat_ws("\n", F.transform(F.array_sort(F.collect_list(turn)), lambda s: s["txt"])).cast("binary")
            ).alias("doc_md5"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )


SQL_ASSEMBLE = """
SELECT user_id AS conv_id,
       md5(string_agg(event_type || ':' || props, chr(10) ORDER BY ts, event_id)) AS doc_md5,
       count(*) AS n_turns
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# C1 — FSP chunking (pure-SQL char-stride; byte path is pytest-covered)
# ---------------------------------------------------------------------------

def q_fsp_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.chunk import chunk_fsp_sql

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text"))
    ch = chunk_fsp_sql(docs, FSP_BS)
    return ch.filter(~F.col("is_tail")).select(
        F.col("conv_id").alias("doc_id"),
        "chunk_idx",
        F.col("md5").alias("chunk_md5"),
        "chunk_len",
    )


SQL_FSP_CHUNKS = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(i AS INT) AS chunk_idx,
       md5(substr(text, i*{FSP_BS}+1, {FSP_BS})) AS chunk_md5,
       CAST({FSP_BS} AS INT) AS chunk_len
FROM documents, LATERAL (SELECT unnest(range(0, CAST(floor(length(text)/{FSP_BS}) AS BIGINT)))) t(i)
"""


def q_fsp_tails(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.chunk import chunk_fsp_sql

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text"))
    ch = chunk_fsp_sql(docs, FSP_BS)
    return ch.filter(F.col("is_tail")).select(
        F.col("conv_id").alias("doc_id"),
        F.col("md5").alias("tail_md5"),
        F.col("chunk_len").alias("tail_len"),
    )


SQL_FSP_TAILS = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       md5(substr(text, CAST(floor(length(text)/{FSP_BS}) AS BIGINT)*{FSP_BS}+1)) AS tail_md5,
       CAST(length(text) - floor(length(text)/{FSP_BS})*{FSP_BS} AS INT) AS tail_len
FROM documents
"""


# ---------------------------------------------------------------------------
# A1/A3/A4 — exact dedup, block store stats, refcounts
# ---------------------------------------------------------------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
    )


SQL_EXACT_DUPS = """
SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keeper_doc
FROM documents GROUP BY 1
"""


def q_block_refcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = q_fsp_chunks(spark, sf_dir)
    return ch.groupBy(F.col("chunk_md5").alias("block_md5")).agg(F.count(F.lit(1)).alias("refcount"))


SQL_BLOCK_REFCOUNTS = f"""
WITH ch AS ({SQL_FSP_CHUNKS})
SELECT chunk_md5 AS block_md5, count(*) AS refcount FROM ch GROUP BY 1
"""


def q_dedup_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 dedup-rate aggregates grouped by documents.source (integer-exact)."""
    docs = _docs(spark, sf_dir)
    from deduputil_spark.operators.chunk import chunk_fsp_sql

    d2 = docs.select(F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text"), "source")
    ch = chunk_fsp_sql(d2.select("conv_id", "doc_text"), FSP_BS).filter(~F.col("is_tail"))
    joined = ch.join(d2.select("conv_id", "source"), "conv_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_blocks"),
        F.countDistinct("md5").alias("unique_blocks"),
        F.sum("chunk_len").alias("total_bytes"),
    )


SQL_DEDUP_BY_SOURCE = f"""
WITH ch AS ({SQL_FSP_CHUNKS})
SELECT d.source AS source,
       count(*) AS total_blocks,
       count(DISTINCT ch.chunk_md5) AS unique_blocks,
       CAST(sum(ch.chunk_len) AS BIGINT) AS total_bytes
FROM ch JOIN documents d ON ch.doc_id = CAST(d.doc_id AS VARCHAR)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Shingling / MinHash / LSH / verify / cluster (md5 family — exact oracles)
# ---------------------------------------------------------------------------

def _doc_shingles(spark: SparkSession, sf_dir: str, distinct: bool = True) -> DataFrame:
    from deduputil_spark.operators.shingle import shingles

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text"))
    return shingles(docs, SHINGLE_K, distinct=distinct)


SQL_SHINGLES = f"""
SELECT DISTINCT CAST(doc_id AS VARCHAR) AS conv_id,
  CASE WHEN len(toks) >= {SHINGLE_K}
       THEN array_to_string(toks[i+1 : i+{SHINGLE_K}], ' ')
       ELSE array_to_string(toks, ' ') END AS shingle
FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
LATERAL (SELECT unnest(CASE WHEN len(toks) >= {SHINGLE_K}
                            THEN range(0, len(toks) - {SHINGLE_K} + 1)
                            ELSE [0] END)) t(i)
"""


def q_shingle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_shingles(spark, sf_dir).groupBy(F.col("conv_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_shingles")
    )


SQL_SHINGLE_COUNTS = f"""
WITH sh AS ({SQL_SHINGLES})
SELECT conv_id AS doc_id, count(*) AS n_shingles FROM sh GROUP BY 1
"""


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.minhash import lsh_bands, minhash_signatures

    cfg = DedupConfig(num_perm=NUM_PERM, lsh_bands=BANDS, lsh_rows=ROWS)
    # non-distinct shingles: MIN over the multiset equals MIN over the set,
    # so the per-doc distinct's extra exchange buys nothing here — the min
    # aggregate partial-combines map-side either way (one shuffle, not two)
    sigs = minhash_signatures(_doc_shingles(spark, sf_dir, distinct=False), cfg)
    return lsh_bands(sigs, cfg).select(F.col("conv_id").alias("doc_id"), "band_idx", "band_hash")


SQL_MINHASH_BANDS = f"""
WITH sh AS ({SQL_SHINGLES}),
mins AS (
  SELECT conv_id, i, min(md5(shingle || '#' || CAST(i AS VARCHAR))) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, {NUM_PERM})) AS i) perms
  GROUP BY conv_id, i
)
SELECT conv_id AS doc_id,
       CAST(i // {ROWS} AS INT) AS band_idx,
       md5(string_agg(h, '|' ORDER BY i)) AS band_hash
FROM mins GROUP BY conv_id, i // {ROWS}
"""


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.lsh import candidate_pairs

    cfg = DedupConfig(num_perm=NUM_PERM, lsh_bands=BANDS, lsh_rows=ROWS, hot_bucket_cap=100000)
    bands = q_minhash_bands(spark, sf_dir).withColumnRenamed("doc_id", "conv_id")
    return candidate_pairs(bands, cfg).select(
        F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b")
    )


SQL_LSH_CANDIDATES = f"""
WITH bands AS ({SQL_MINHASH_BANDS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


def q_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard verify on LSH candidates — integer-exact (inter, union).

    NOT persisted deliberately: sh's three uses (sizes + both join sides) are
    identical canonical subtrees, so Catalyst's ReuseExchange computes the
    distinct-shingle exchange once — an explicit persist was measured SLOWER
    (adds a columnar-cache write and bypasses exchange reuse: ~6 s → ~10 s at
    sf0.1).  The explicit null filter is what keeps the three subtrees equal:
    without it the optimizer infers `isnotnull(shingle)` on the two join sides
    only, and the sizes side shuffles the shingles a second time.  It cannot
    change a row: a null shingle comes only from a null text, that doc has no
    other shingle, and a null never matches in the shingle join anyway."""
    sh = _doc_shingles(spark, sf_dir).filter(F.col("shingle").isNotNull())
    pairs = q_lsh_candidates(spark, sf_dir)
    sizes = sh.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("conv_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("conv_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("conv_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("conv_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").alias("inter"),
            (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"),
        )
        .filter(F.col("inter") * 10 >= F.col("uni") * 6)  # jaccard >= 0.6, exact
    )
    return out


SQL_VERIFIED_PAIRS = f"""
WITH sh AS ({SQL_SHINGLES}),
cand AS ({SQL_LSH_CANDIDATES}),
sz AS (SELECT conv_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.conv_id = c.doc_a
  JOIN sh b ON b.conv_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter AS inter, (za.n + zb.n - i.inter) AS uni
FROM inter i JOIN sz za ON za.conv_id = i.doc_a JOIN sz zb ON zb.conv_id = i.doc_b
WHERE i.inter * 10 >= (za.n + zb.n - i.inter) * 6
"""


def q_bsim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — reference bsim weighted block-frequency similarity
    (/root/reference/src/bsim.c:122-294), integer-exact components over FSP
    chunk md5 multisets on the LSH candidate pairs."""
    from deduputil_spark.operators.chunk import chunk_fsp_sql
    from deduputil_spark.operators.verify import bsim_components

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text")
    )
    chunks = chunk_fsp_sql(docs, FSP_BS)
    pairs = q_lsh_candidates(spark, sf_dir).select(
        F.col("doc_a").alias("conv_a"), F.col("doc_b").alias("conv_b")
    )
    return bsim_components(pairs, chunks).select(
        F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b"), "w_inter", "wsum"
    )


SQL_BSIM_PAIRS = f"""
WITH ch AS ({SQL_FSP_CHUNKS}),
cand AS ({SQL_LSH_CANDIDATES}),
freq AS (SELECT doc_id, chunk_md5, count(*) AS n, min(chunk_len) AS len FROM ch GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(n * len) AS BIGINT) AS total FROM freq GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(sum(least(fa.n, fb.n) * fa.len) AS BIGINT) AS w_inter
  FROM cand c
  JOIN freq fa ON fa.doc_id = c.doc_a
  JOIN freq fb ON fb.doc_id = c.doc_b AND fb.chunk_md5 = fa.chunk_md5
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       CAST(coalesce(i.w_inter, 0) AS BIGINT) AS w_inter,
       CAST(ta.total + tb.total AS BIGINT) AS wsum
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN tot ta ON ta.doc_id = c.doc_a
JOIN tot tb ON tb.doc_id = c.doc_b
"""


def q_lcs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — reference LCS ordered similarity (/root/reference/src/bsim.c:177-275)
    over FSP chunk-md5 sequences on the LSH candidate pairs, integer-exact.

    FSP blocks are uniformly {FSP_BS} chars, so lcs_bytes = {FSP_BS}·LCS_len is
    backtrack-path-independent — which makes an exact SQL oracle possible via a
    longest-chain recursive CTE (the general weighted case is pytest-gated
    against the scalar transliteration instead)."""
    from deduputil_spark.operators.chunk import chunk_fsp_sql
    from deduputil_spark.operators.verify import lcs_verify_components, pair_chunk_sequences

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text")
    )
    chunks = chunk_fsp_sql(docs, FSP_BS).withColumnRenamed("chunk_text", "chunk_bytes")
    pairs = q_lsh_candidates(spark, sf_dir).select(
        F.col("doc_a").alias("conv_a"), F.col("doc_b").alias("conv_b")
    )
    with_seqs = pair_chunk_sequences(pairs, chunks)
    return lcs_verify_components(with_seqs).select(
        F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b"), "lcs_bytes", "union_bytes"
    )


SQL_LCS_PAIRS = f"""
WITH RECURSIVE
ch AS ({SQL_FSP_CHUNKS}),
cand AS ({SQL_LSH_CANDIDATES}),
n_blocks AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY 1),
matches AS (
  SELECT c.doc_a, c.doc_b, a.chunk_idx AS i, b.chunk_idx AS j
  FROM cand c
  JOIN ch a ON a.doc_id = c.doc_a
  JOIN ch b ON b.doc_id = c.doc_b AND b.chunk_md5 = a.chunk_md5
),
chain(doc_a, doc_b, i, j, l) AS (
  SELECT doc_a, doc_b, i, j, 1 FROM matches
  UNION
  SELECT m.doc_a, m.doc_b, m.i, m.j, c.l + 1
  FROM matches m
  JOIN chain c ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b AND m.i > c.i AND m.j > c.j
),
lcs AS (SELECT doc_a, doc_b, max(l) AS lcs_len FROM chain GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b,
       CAST(coalesce(l.lcs_len, 0) * {FSP_BS} AS BIGINT) AS lcs_bytes,
       CAST((na.n + nb.n) * {FSP_BS} AS BIGINT) AS union_bytes
FROM cand c
JOIN n_blocks na ON na.doc_id = c.doc_a
JOIN n_blocks nb ON nb.doc_id = c.doc_b
LEFT JOIN lcs l ON l.doc_a = c.doc_a AND l.doc_b = c.doc_b
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.cluster import connected_components

    pairs = q_verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("conv_a"), F.col("doc_b").alias("conv_b")
    )
    return connected_components(pairs, max_iterations=30).select(
        F.col("conv_id").alias("doc_id"), "cluster_id"
    )


SQL_DUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_VERIFIED_PAIRS}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(v, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.v
)
SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
"""


ANCHOR_W = 8          # containment anchor width (tokens)
ANCHOR_HOT_CAP = 5000  # hot-anchor prune threshold


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document containment over w-token anchor shingles
    (operators/substring.py; the exact-substring pass itself is the suffix
    queries' operators/suffixarray.py) — integer-exact components, filtered
    at containment >= 0.8 (inter*10 >= na*8)."""
    from deduputil_spark.operators.substring import containment_components

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text")
    )
    comp = containment_components(docs, w=ANCHOR_W, max_bucket=ANCHOR_HOT_CAP)
    return comp.filter(F.col("inter") * 10 >= F.col("na") * 8).select(
        F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b"), "inter", "na"
    )


SQL_CONTAINMENT_PAIRS = f"""
WITH sh AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS conv_id,
    CASE WHEN len(toks) >= {ANCHOR_W}
         THEN array_to_string(toks[i+1 : i+{ANCHOR_W}], ' ')
         ELSE array_to_string(toks, ' ') END AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
  LATERAL (SELECT unnest(CASE WHEN len(toks) >= {ANCHOR_W}
                              THEN range(0, len(toks) - {ANCHOR_W} + 1)
                              ELSE [0] END)) t(i)
),
anch AS (SELECT conv_id, md5(shingle) AS anchor FROM sh),
hot AS (SELECT anchor FROM anch GROUP BY 1 HAVING count(*) > {ANCHOR_HOT_CAP}),
pruned AS (
  SELECT a.conv_id, a.anchor FROM anch a
  LEFT JOIN hot h ON h.anchor = a.anchor WHERE h.anchor IS NULL
),
sizes AS (SELECT conv_id, count(*) AS na FROM pruned GROUP BY 1),
inter AS (
  SELECT a.conv_id AS doc_a, b.conv_id AS doc_b, count(*) AS inter
  FROM pruned a JOIN pruned b ON a.anchor = b.anchor AND a.conv_id != b.conv_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter AS inter, s.na AS na
FROM inter i JOIN sizes s ON s.conv_id = i.doc_a
WHERE i.inter * 10 >= s.na * 8
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram Jaccard near-dup pairs (direct, non-LSH) — integer-exact."""
    from deduputil_spark.operators.textstats import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text"))
    pairs = ngram_jaccard_pairs(docs, NGRAM_N)
    return pairs.filter(F.col("inter") * 2 >= F.col("uni"))  # jaccard >= 0.5


SQL_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS conv_id,
    CASE WHEN len(toks) >= {NGRAM_N}
         THEN array_to_string(toks[i+1 : i+{NGRAM_N}], ' ')
         ELSE array_to_string(toks, ' ') END AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
  LATERAL (SELECT unnest(CASE WHEN len(toks) >= {NGRAM_N}
                              THEN range(0, len(toks) - {NGRAM_N} + 1)
                              ELSE [0] END)) t(i)
),
sz AS (SELECT conv_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.conv_id AS doc_a, b.conv_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.conv_id < b.conv_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter AS inter, (za.n + zb.n - i.inter) AS uni
FROM inter i JOIN sz za ON za.conv_id = i.doc_a JOIN sz zb ON zb.conv_id = i.doc_b
WHERE i.inter * 2 >= (za.n + zb.n - i.inter)
"""


# ---------------------------------------------------------------------------
# SimHash (md5-bit source so DuckDB matches exactly)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10).cast("long"))
    aggs = [
        F.sum(F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bucketed = toks.groupBy("doc_id").agg(*aggs)
    expr = " + ".join([f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)])
    return bucketed.select("doc_id", F.expr(f"CAST({expr} AS BIGINT)").alias("simhash"))


SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
),
buckets AS (
  SELECT doc_id,
    {", ".join(f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(SIMHASH_BITS))}
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
  CAST({" + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))} AS BIGINT) AS simhash
FROM buckets
"""


# ---------------------------------------------------------------------------
# Text analysis (integer-exact feature counts)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    stop = ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"]
    arr = ", ".join(f"'{w}'" for w in stop)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))).alias("n_punct"),
        F.expr(
            f"size(filter(split(lower(trim(text)), '\\\\s+'), t -> array_contains(array({arr}), t)))"
        ).alias("n_stopwords"),
    )


SQL_TOKEN_STATS = """
SELECT doc_id,
  len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens,
  length(text) AS n_chars_calc,
  length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
  len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
      t -> list_contains(['the','and','of','to','is','in','that','it','for','was'], t))) AS n_stopwords
FROM documents
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


SQL_LANGUAGE_ID = """
WITH hits AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        t -> list_contains(['the','and','of','to','is','in','that','it','for','was'], t))) AS h_en,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        t -> list_contains(['el','la','de','que','los','las','una','por','con','para'], t))) AS h_es,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        t -> list_contains(['le','la','les','des','est','une','dans','pour','qui','pas'], t))) AS h_fr,
    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        t -> list_contains(['der','die','und','das','ist','von','mit','den','nicht','ein'], t))) AS h_de
  FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
       WHEN h_en >= greatest(h_es, h_fr, h_de) THEN 'en'
       WHEN h_es >= greatest(h_fr, h_de) THEN 'es'
       WHEN h_fr >= h_de THEN 'fr'
       ELSE 'de' END AS lang_pred
FROM hits
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir), w=8)


SQL_DOC_FINGERPRINTS = """
WITH grams AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 8 THEN md5(array_to_string(toks[i+1 : i+8], ' '))
         ELSE md5(array_to_string(toks, ' ')) END AS g
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
  LATERAL (SELECT unnest(CASE WHEN len(toks) >= 8
                              THEN range(0, len(toks) - 8 + 1)
                              ELSE [0] END)) t(i)
)
SELECT doc_id, min(g) AS fingerprint FROM grams GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# ANN / embedding similarity
# ---------------------------------------------------------------------------

EMB_DIM = 64
ANN_PLANES = 4        # SRP bits per table
ANN_TABLES = 8        # independent hash tables
ANN_SEED = 7


def q_ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the exactness baseline for the SRP path
    (hard-capped: this entry can never run against a corpus-scale table)."""
    from deduputil_spark.operators.ann import BRUTE_FORCE_MAX_ROWS, cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return cosine_topk(emb, queries, k=ANN_K, max_rows=BRUTE_FORCE_MAX_ROWS).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank")
    )


SQL_ANN_TOPK_BRUTE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round(
      (SELECT sum(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE))
       FROM (SELECT unnest(q.embedding) qe, unnest(c.embedding) ce)) /
      (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(q.embedding) x))) *
       sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(c.embedding) x)))),
      6) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id % {QUERY_MOD} = 0 AND q.vec_id != c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {ANN_K}
"""


def _srp_planes_values() -> str:
    """VALUES rows (tbl, pidx, plane DOUBLE[]) replicating the Spark-side SRP
    hyperplanes, so DuckDB reproduces the bucketing bit-for-bit (min |dot|
    over this data is 4e-5 — 10 orders above float summation-order noise)."""
    from deduputil_spark.operators.ann import srp_planes, table_seed

    rows = []
    for t in range(ANN_TABLES):
        planes = srp_planes(ANN_PLANES, EMB_DIM, table_seed(ANN_SEED, t))
        for i, row in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in row) + "]"
            rows.append(f"({t}, {i}, {lit})")
    return ",\n".join(rows)


def _sql_srp_sig_ctes() -> str:
    """CTE chain planes -> bits -> sig(vec_id, tbl, bucket); bucket bit order
    matches the Spark fold (plane 0 = most significant bit)."""
    return f"""planes(tbl, pidx, pv) AS (VALUES
{_srp_planes_values()}
),
bits AS (
  SELECT e.vec_id, p.tbl, p.pidx,
         CASE WHEN (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                    FROM (SELECT unnest(e.embedding) x, unnest(p.pv) y)) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes p
),
sig AS (
  SELECT vec_id, tbl,
         CAST(sum(bit * (1 << ({ANN_PLANES} - 1 - pidx))) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, tbl
)"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path: multi-table SRP-bucketed top-k (no full scan).  The
    DuckDB oracle replicates the bucketing exactly, certifying the bucketed
    semantics, not just the lucky full-recall case."""
    from deduputil_spark.operators.ann import lsh_bucketed_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return lsh_bucketed_topk(
        emb, queries, k=ANN_K, n_planes=ANN_PLANES, n_tables=ANN_TABLES, seed=ANN_SEED, dim=EMB_DIM
    ).select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))


SQL_ANN_TOPK = f"""
WITH {_sql_srp_sig_ctes()},
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id % {QUERY_MOD} = 0 AND a.vec_id != b.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
    round(
      (SELECT sum(CAST(qe AS DOUBLE) * CAST(ce AS DOUBLE))
       FROM (SELECT unnest(q.embedding) qe, unnest(c.embedding) ce)) /
      (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(q.embedding) x))) *
       sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(c.embedding) x)))),
      6) AS cos
  FROM cand
  JOIN embeddings q ON q.vec_id = cand.query_id
  JOIN embeddings c ON c.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {ANN_K}
"""


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deduputil_spark.operators.ann import embedding_near_pairs

    return embedding_near_pairs(_emb(spark, sf_dir), threshold=0.35)


SQL_EMB_NEAR_PAIRS = """
WITH scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(
      (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(a.embedding) x, unnest(b.embedding) y)) /
      (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) x))) *
       sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(b.embedding) x)))),
      6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.35
"""


def q_embedding_near_pairs_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for threshold near-pairs: candidates generated only
    within (table, srp_bucket), never all-pairs.  Oracle replicates the
    bucketing, so the hash match certifies the bucketed plan's semantics."""
    from deduputil_spark.operators.ann import srp_near_pairs

    return srp_near_pairs(
        _emb(spark, sf_dir),
        threshold=0.35,
        n_planes=ANN_PLANES,
        n_tables=ANN_TABLES,
        seed=ANN_SEED,
        dim=EMB_DIM,
    )


SQL_EMB_NEAR_PAIRS_SRP = f"""
WITH {_sql_srp_sig_ctes()},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT cand.id_a, cand.id_b,
    round(
      (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(a.embedding) x, unnest(b.embedding) y)) /
      (sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(a.embedding) x))) *
       sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)) FROM (SELECT unnest(b.embedding) x)))),
      6) AS cos
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.id_a
  JOIN embeddings b ON b.vec_id = cand.id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.35
"""


HASHQ_BUCKETS = 1024


def q_hash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference hashtest harness (bucket usage / max chain / collisions)."""
    from deduputil_spark.operators.hashtest import hash_quality_report

    return hash_quality_report(_docs(spark, sf_dir), "text", HASHQ_BUCKETS)


SQL_HASH_QUALITY = f"""
WITH per_bucket AS (
  SELECT CAST(concat('0x', substr(md5(v), 1, 8)) AS BIGINT) % {HASHQ_BUCKETS} AS bucket,
         count(*) AS chain
  FROM (SELECT DISTINCT text AS v FROM documents)
  GROUP BY 1
)
SELECT CAST(sum(chain) AS BIGINT) AS n_values, count(*) AS used_buckets, max(chain) AS max_chain,
       round(avg(chain), 6) AS avg_chain,
       CAST(sum(CASE WHEN chain > 1 THEN chain ELSE 0 END) AS BIGINT) AS collisions
FROM per_bucket
"""


# ---------------------------------------------------------------------------
# Events sessionization (gap rule, window functions)
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = ev.withColumn(
        "new_sess",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)), F.lit(SESSION_GAP_S + 1)
            )
            > SESSION_GAP_S
        ).cast("int"),
    )
    return with_gap.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id,
    CASE WHEN coalesce(epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)),
                       {SESSION_GAP_S + 1}) > {SESSION_GAP_S} THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Suffix-array pass (north-rule: exact-substring dupes)
# ---------------------------------------------------------------------------

SUFFIX_L = 15  # gram length shared by the three suffix queries and their oracles


def q_suffix_dup_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every character position whose length-L substring occurs >=2 times
    anywhere in the corpus — the equality classes of the L-truncated suffix
    array — via the rolling-hash path (8-byte L-gram hashes grouped, each
    candidate group re-checked against the gram text).  The DuckDB oracle
    recomputes duplicated positions directly from the gram text, so a hash
    match certifies the classes position-for-position."""
    from deduputil_spark.operators.suffixarray import duplicated_positions

    return duplicated_positions(_docs(spark, sf_dir), SUFFIX_L).select(
        "doc_id", F.col("pos").cast("int").alias("pos")
    )


def q_suffix_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged duplicated-substring spans per document (the text a training
    pipeline would strip), via the rolling-hash scale path: 8 bytes/position
    on the wire, candidates re-verified against the actual gram."""
    from deduputil_spark.operators.suffixarray import duplicated_spans

    docs = _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    return duplicated_spans(docs, SUFFIX_L).select(
        "doc_id", "span_start", "span_end", "n_dup_grams"
    )


SQL_SUFFIX_GRAMS = f"""
WITH pos AS (
  SELECT doc_id, CAST(unnest(generate_series(0, length(text) - {SUFFIX_L})) AS INT) AS pos, text
  FROM documents WHERE length(text) >= {SUFFIX_L}
),
grams AS (SELECT doc_id, pos, substr(text, pos + 1, {SUFFIX_L}) AS gram FROM pos),
dups AS (
  SELECT g.doc_id, g.pos FROM grams g
  JOIN (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2) dk USING (gram)
)
"""

def q_suffix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after the exact-substring pass: every duplicated span
    stripped from every document (Lee et al. ExactSubstr semantics), rebuilt
    JVM-side with a higher-order fold over the merged spans — the value hash
    certifies the reconstructed text character-for-character."""
    from deduputil_spark.operators.suffixarray import strip_duplicated_spans

    docs = _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    return strip_duplicated_spans(docs, SUFFIX_L).select(
        "doc_id", "clean_text", "n_stripped"
    )


SQL_SUFFIX_DUP_POSITIONS = SQL_SUFFIX_GRAMS + "SELECT doc_id, pos FROM dups"

SQL_SUFFIX_SPANS = SQL_SUFFIX_GRAMS + f""",
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {SUFFIX_L}
         THEN 1 ELSE 0 END AS brk
  FROM dups WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {SUFFIX_L} AS INT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_dup_grams
FROM islands GROUP BY doc_id, island
"""

SQL_SUFFIX_STRIP = SQL_SUFFIX_GRAMS + f""",
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {SUFFIX_L}
         THEN 1 ELSE 0 END AS brk
  FROM dups WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SUFFIX_L} AS e
  FROM islands GROUP BY doc_id, island
),
ordered AS (
  SELECT doc_id, s, e, lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
  FROM spans
),
pieces AS (
  SELECT doc_id, prev_e AS seg_start, s AS seg_end FROM ordered
  UNION ALL
  SELECT o.doc_id, max(o.e), max(length(d.text))
  FROM ordered o JOIN documents d USING (doc_id) GROUP BY o.doc_id
),
cleaned AS (
  SELECT p.doc_id,
         string_agg(substr(d.text, p.seg_start + 1, p.seg_end - p.seg_start), '' ORDER BY p.seg_start) AS clean_text
  FROM pieces p JOIN documents d USING (doc_id)
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(c.clean_text, d.text) AS clean_text,
       CAST(length(d.text) - length(coalesce(c.clean_text, d.text)) AS BIGINT) AS n_stripped
FROM documents d LEFT JOIN cleaned c USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Rows-only entries (non-SQL-expressible: mapInArrow CDC, full pipeline)
# ---------------------------------------------------------------------------

def _synth_transcripts(spark: SparkSession):
    from deduputil_spark.synth import synthesize

    res = synthesize(n_base_convs=120, seed=42)
    df = spark.createDataFrame(res.transcripts)
    return df.withColumn("turn_idx", F.col("turn_idx").cast("int"))


def q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC chunker (mapInArrow) stats per conversation — rows-only check;
    byte-exactness is pytest-golden-tested against the reference walk."""
    from deduputil_spark.operators.assemble import assemble_documents
    from deduputil_spark.operators.chunk import chunk_documents

    t = _synth_transcripts(spark)
    chunks = chunk_documents(assemble_documents(t), DedupConfig())
    return (
        chunks.filter(~F.col("is_tail"))
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"), F.sum("chunk_len").alias("chunk_bytes"))
    )


def q_transcript_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transcript near-dup pipeline (rows-only; recall gated in pytest)."""
    from deduputil_spark.plans.pipeline import run_pipeline

    t = _synth_transcripts(spark)
    res = run_pipeline(spark, t, DedupConfig())
    return res.clusters


def q_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 round-trip, HARD-oracled: FSP-chunk documents.parquet through the
    REAL binary path (mapInArrow chunker → block store → file_meta →
    reconstruct, the Spark analog of dedup_package_extract,
    /root/reference/src/dedup.c:1726-1812), then emit the md5 + length of the
    RECONSTRUCTED text.  The DuckDB oracle computes md5/length of the SOURCE
    text directly — a hash match certifies byte-exact reconstruction per doc
    with zero shared code between the two sides."""
    from deduputil_spark.operators.chunk import chunk_documents
    from deduputil_spark.operators.dedup import build_block_store, build_file_meta
    from deduputil_spark.operators.reconstruct import reconstruct_documents

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"), F.col("text").alias("doc_text")
    )
    cfg = DedupConfig(chunk_algo="fsp", block_size=FSP_BS)
    chunks = chunk_documents(docs, cfg)
    blocks = build_block_store(chunks)
    meta = build_file_meta(chunks, blocks)
    recon = reconstruct_documents(meta, blocks)
    return recon.select(
        F.col("conv_id").alias("doc_id"),
        F.md5(F.col("doc_text").cast("binary")).alias("recon_md5"),
        F.length("doc_text").cast("int").alias("recon_len"),
    )


SQL_ROUNDTRIP = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       md5(text) AS recon_md5,
       CAST(length(text) AS INT) AS recon_len
FROM documents
"""


def q_roundtrip_check_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-variant round-trip on synthetic transcripts, HARD-oracled via a
    golden fixture (VERDICT r3 #2): the md5/length of what comes OUT of the
    real CDC chunk → block-store → file_meta → reconstruct path, compared by
    DuckDB against source-side md5s precomputed with hashlib (zero shared
    code) in tests/fixtures/roundtrip_check_cdc.parquet.  CDC boundaries are
    not SQL-expressible, so the EXPECTED side is a fixture rather than a live
    SQL recomputation; per-turn equality stays pytest-gated too."""
    from deduputil_spark.operators.assemble import assemble_documents
    from deduputil_spark.operators.chunk import chunk_documents
    from deduputil_spark.operators.dedup import build_block_store, build_file_meta
    from deduputil_spark.operators.reconstruct import reconstruct_documents

    t = _synth_transcripts(spark)
    docs = assemble_documents(t)
    chunks = chunk_documents(docs, DedupConfig())
    blocks = build_block_store(chunks)
    meta = build_file_meta(chunks, blocks)
    recon = reconstruct_documents(meta, blocks)
    return recon.select(
        "conv_id",
        F.md5(F.col("doc_text").cast("binary")).alias("recon_md5"),
        F.length("doc_text").cast("int").alias("recon_len"),
    )


#: golden-fixture oracle: DuckDB reads the precomputed expected output
#: (absolute path — the driver's DuckDB runs on this host)
SQL_FIXTURE = (
    "SELECT * FROM read_parquet('"
    + os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "{name}.parquet")
    + "')"
)


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-dup clusters of the documents table at sf0.001."""
    return q_dup_clusters(spark, "/root/testdata/sf0.001")


def _scoped(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's tracked operator caches before building
    the next plan, so a many-query driver session never accumulates persisted
    RDDs beyond the live query's working set (see deduputil_spark/cache.py)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from deduputil_spark.cache import release_caches

        release_caches()
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "assemble_docs": _scoped(q_assemble_docs),
        "fsp_chunks": _scoped(q_fsp_chunks),
        "fsp_tails": _scoped(q_fsp_tails),
        "exact_dup_groups": _scoped(q_exact_dup_groups),
        "block_refcounts": _scoped(q_block_refcounts),
        "dedup_stats_by_source": _scoped(q_dedup_stats_by_source),
        "shingle_counts": _scoped(q_shingle_counts),
        "minhash_bands": _scoped(q_minhash_bands),
        "lsh_candidates": _scoped(q_lsh_candidates),
        "verified_pairs": _scoped(q_verified_pairs),
        "bsim_pairs": _scoped(q_bsim_pairs),
        "lcs_pairs": _scoped(q_lcs_pairs),
        "dup_clusters": _scoped(q_dup_clusters),
        "ngram_jaccard": _scoped(q_ngram_jaccard),
        "containment_pairs": _scoped(q_containment_pairs),
        "simhash": _scoped(q_simhash),
        "token_stats": _scoped(q_token_stats),
        "language_id": _scoped(q_language_id),
        "doc_fingerprints": _scoped(q_doc_fingerprints),
        "ann_topk": _scoped(q_ann_topk),
        "ann_topk_brute": _scoped(q_ann_topk_brute),
        "embedding_near_pairs": _scoped(q_embedding_near_pairs),
        "embedding_near_pairs_srp": _scoped(q_embedding_near_pairs_srp),
        "sessionize": _scoped(q_sessionize),
        "hash_quality": _scoped(q_hash_quality),
        "suffix_dup_positions": _scoped(q_suffix_dup_positions),
        "suffix_spans": _scoped(q_suffix_spans),
        "suffix_strip": _scoped(q_suffix_strip),
        "cdc_chunk_stats": _scoped(q_cdc_chunk_stats),
        "transcript_clusters": _scoped(q_transcript_clusters),
        "roundtrip_check": _scoped(q_roundtrip_check),
        "roundtrip_check_cdc": _scoped(q_roundtrip_check_cdc),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "assemble_docs": SQL_ASSEMBLE,
        "fsp_chunks": SQL_FSP_CHUNKS,
        "fsp_tails": SQL_FSP_TAILS,
        "exact_dup_groups": SQL_EXACT_DUPS,
        "block_refcounts": SQL_BLOCK_REFCOUNTS,
        "dedup_stats_by_source": SQL_DEDUP_BY_SOURCE,
        "shingle_counts": SQL_SHINGLE_COUNTS,
        "minhash_bands": SQL_MINHASH_BANDS,
        "lsh_candidates": SQL_LSH_CANDIDATES,
        "verified_pairs": SQL_VERIFIED_PAIRS,
        "bsim_pairs": SQL_BSIM_PAIRS,
        "lcs_pairs": SQL_LCS_PAIRS,
        "dup_clusters": SQL_DUP_CLUSTERS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "containment_pairs": SQL_CONTAINMENT_PAIRS,
        "simhash": SQL_SIMHASH,
        "token_stats": SQL_TOKEN_STATS,
        "language_id": SQL_LANGUAGE_ID,
        "doc_fingerprints": SQL_DOC_FINGERPRINTS,
        "ann_topk": SQL_ANN_TOPK,
        "ann_topk_brute": SQL_ANN_TOPK_BRUTE,
        "embedding_near_pairs": SQL_EMB_NEAR_PAIRS,
        "embedding_near_pairs_srp": SQL_EMB_NEAR_PAIRS_SRP,
        "sessionize": SQL_SESSIONIZE,
        "hash_quality": SQL_HASH_QUALITY,
        "suffix_dup_positions": SQL_SUFFIX_DUP_POSITIONS,
        "suffix_spans": SQL_SUFFIX_SPANS,
        "suffix_strip": SQL_SUFFIX_STRIP,
        "roundtrip_check": SQL_ROUNDTRIP,
        # The three non-SQL-expressible queries (mapInArrow CDC chunker, full
        # minhash/LSH pipeline) are HARD-oracled via golden fixtures: their
        # expected outputs are precomputed by scalar Spark-free code
        # (tests/fixtures/gen_fixtures.py — cdc_cuts_ref transliteration,
        # hashlib md5, all-pairs Jaccard + union-find) and DuckDB reads the
        # parquet; tests/test_golden_fixtures.py guards fixture drift.
        "cdc_chunk_stats": SQL_FIXTURE.format(name="cdc_chunk_stats"),
        "transcript_clusters": SQL_FIXTURE.format(name="transcript_clusters"),
        "roundtrip_check_cdc": SQL_FIXTURE.format(name="roundtrip_check_cdc"),
    }
