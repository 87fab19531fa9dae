"""LSH candidate-pair generation with explicit skew handling.

The band-bucket self-join is where web-scale dedup dies: one boilerplate
greeting shingle puts 30% of the corpus in a single (band_idx, band_hash)
bucket and the naive self-join generates |bucket|² pairs on one reducer.

Strategy (north rule: "salted band-key repartitioning for skewed hot buckets"):

1. Count bucket sizes first (cheap aggregate).
2. Buckets of size 1 generate nothing — anti-joined away before the self-join.
3. Buckets ≤ hot_bucket_cap take the normal pair self-join; AQE skew-join
   splitting handles residual imbalance.
4. Buckets > cap are HOT: their members are (deterministically) hash-salted
   into ceil(size/cap) sub-buckets — a stateless projection
   (pmod(xxhash64(conv_id), n_sub)), no per-bucket sort; pairs are generated
   within sub-buckets plus a ring pass between adjacent sub-buckets.  This
   bounds any single task's pair fan-out at ~cap² while keeping recall high for the
   dominant case (hot buckets are boilerplate — members are near-identical, so
   any co-bucket pair that matters also co-occurs in several other bands; the
   per-band truncation is logged and measured by the planted-pair recall
   gate).  Truncation is REPORTED, never silent.

All relational, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduputil_spark.cache import track
from deduputil_spark.config import DedupConfig


def candidate_pairs(
    bands: DataFrame, cfg: DedupConfig | None = None, persist_bands: bool = True
) -> DataFrame:
    """(conv_id, band_idx, band_hash) -> distinct (conv_a, conv_b), conv_a < conv_b.

    ONE fused self-join (was three: cold / hot-within / hot-ring, each
    re-shuffling the bucket-pruned band table behind a persist):

    - every member gets a deterministic STATELESS hash-salt
      pmod(xxhash64(conv_id), ceil(bsz/cap)) — cold buckets (bsz ≤ cap) have
      exactly one sub-bucket, so their salt is 0 and the salted join IS the
      plain bucket self-join for them;
    - the RIGHT side explodes each member to [salt, salt-1] (salt-1 only when
      salt > 0): joining on (band, hash, salt) then yields both the within-
      sub-bucket pairs and the adjacent-ring pairs in the same exchange, so
      the salt boundary never hard-splits a hot bucket;
    - sub-bucket membership is hash-ordered, so pairs are canonicalized with
      least/greatest + distinct rather than conv_a < conv_b (which would drop
      cross-sub-bucket edges whose orientation is reversed).

    Output is identical to the three-branch form; the plan has no persist and
    two fewer shuffle joins.  Hot-bucket pair fan-out stays bounded at ~cap²
    per task; truncation is measured by `bucket_skew_report`, never silent.
    No per-doc degree cap here: `run_pipeline` applies `cap_pair_degree` as
    a stage of its own when `max_pair_degree` is set.
    """
    cfg = cfg or DedupConfig()
    cap = int(cfg.hot_bucket_cap)

    # bands feeds the bucket-size aggregate AND the self-join input; persist
    # it (tracked — caller releases, cache.py) or its upstream — typically the
    # expensive minhash map — re-executes once per consumer.  Callers that
    # already persist the upstream SIGNATURE table pass persist_bands=False:
    # caching the exploded band table costs bands× the rows of the sig cache
    # for the same information, and re-deriving bands from cached sigs is one
    # cheap JVM explode per consumer (measured ~5 s of cache-write saved at
    # sf0.1).
    if persist_bands:
        bands = track(bands)
    sizes = bands.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("bsz"))
    multi = sizes.filter(F.col("bsz") > 1)
    b = bands.join(multi, ["band_idx", "band_hash"], "inner")

    n_sub = F.greatest(F.ceil(F.col("bsz") / F.lit(cap)).cast("int"), F.lit(1))
    salted = b.withColumn("salt", F.pmod(F.xxhash64("conv_id"), n_sub).cast("int"))
    left = salted.select("band_idx", "band_hash", "salt", F.col("conv_id").alias("conv_a"))
    # right side carries each member once at its own salt (ring=false) and,
    # for salt>0, once shifted to salt-1 (ring=true) — the within-sub-bucket
    # pairs keep the cheap conv_a < conv_b canonical filter (half the pair
    # volume on exactly the hottest buckets), while ring pairs (hash-ordered
    # membership) canonicalize via least/greatest
    right = salted.select(
        "band_idx",
        "band_hash",
        F.explode(
            F.when(
                F.col("salt") > 0,
                F.array(
                    F.struct(F.col("salt").alias("s"), F.lit(False).alias("ring")),
                    F.struct((F.col("salt") - 1).alias("s"), F.lit(True).alias("ring")),
                ),
            ).otherwise(F.array(F.struct(F.col("salt").alias("s"), F.lit(False).alias("ring"))))
        ).alias("e"),
        F.col("conv_id").alias("conv_b"),
    ).select("band_idx", "band_hash", F.col("e.s").alias("salt"), F.col("e.ring").alias("ring"), "conv_b")
    return (
        left.join(right, ["band_idx", "band_hash", "salt"])
        .filter(
            (~F.col("ring") & (F.col("conv_a") < F.col("conv_b")))
            | (F.col("ring") & (F.col("conv_a") != F.col("conv_b")))
        )
        .select(
            F.least("conv_a", "conv_b").alias("conv_a"),
            F.greatest("conv_a", "conv_b").alias("conv_b"),
        )
        .distinct()
    )


def bucket_skew_report(bands: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Observability for the skew path: per-band bucket-size distribution and
    how many buckets exceeded the hot cap (truncation is never silent)."""
    cfg = cfg or DedupConfig()
    sizes = bands.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("bsz"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bsz").alias("max_bucket"),
        F.expr("percentile_approx(bsz, 0.999)").alias("p999_bucket"),
        F.sum((F.col("bsz") > cfg.hot_bucket_cap).cast("int")).alias("hot_buckets"),
        F.sum(F.when(F.col("bsz") > 1, F.col("bsz") * (F.col("bsz") - 1) / 2).otherwise(0)).alias(
            "naive_pair_count"
        ),
    )


def cap_pair_degree(pairs: DataFrame, max_degree: int) -> DataFrame:
    """Safety valve for pathological hot documents in the candidate set.

    A doc that lands in d ≫ max_degree candidate pairs ships its k-gram set d
    times through verify (the per-pair kset replication noted in verify.py);
    at corpus scale one boilerplate doc can dominate the verify stage.  Docs
    with degree ≤ max_degree are untouched.  Above the cap, each incident
    pair survives with probability max_degree/max(deg_a, deg_b) via a
    DETERMINISTIC coin (pmod(xxhash64(conv_a, conv_b), deg) < max_degree), so
    the expected post-cap degree is ≈ max_degree and reruns are reproducible.

    Recall: hot docs are boilerplate clusters whose members co-bucket in many
    bands; after thinning, each member still keeps ~max_degree random
    intra-cluster edges, and a random graph with expected degree ≫ log n is
    connected w.h.p. — connected components restores cluster membership
    through transitivity.  The planted-pair recall gate (≥0.99) is the
    measured guard.  Thinning is deterministic, so dropped-edge counts are
    reproducible: `pairs.count() - capped.count()` when observability is
    needed (same never-silent contract as bucket_skew_report).

    Cost: one count aggregate over exploded pair endpoints + two broadcast-
    friendly joins against the (small) over-cap doc list — no windows, no
    sorts, safe at any scale.
    """
    deg = (
        pairs.select(F.col("conv_a").alias("conv_id"))
        .unionByName(pairs.select(F.col("conv_b").alias("conv_id")))
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") > max_degree)
    )
    da = deg.select(F.col("conv_id").alias("conv_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("conv_id").alias("conv_b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(da, "conv_a", "left")
        .join(db, "conv_b", "left")
        .withColumn("_deg", F.greatest(F.coalesce("deg_a", F.lit(0)), F.coalesce("deg_b", F.lit(0))))
        .filter(
            (F.col("_deg") <= max_degree)
            | (F.pmod(F.xxhash64("conv_a", "conv_b"), F.col("_deg")) < F.lit(max_degree))
        )
        .drop("deg_a", "deg_b", "_deg")
    )
