"""Cache lifecycle + brute-force guards (VERDICT r2 items 6 and 9):
operator-internal persists must all be released by release_caches(), and the
O(N²) oracle paths must refuse corpus-scale inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduputil_spark.cache import release_caches
from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.ann import cosine_topk, embedding_near_pairs
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.plans.pipeline import run_pipeline


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _baseline(spark, transcripts) -> int:
    """Persistent-RDD count attributable to the surrounding test session
    (conftest caches etc.), with operator caches drained and the shared
    fixtures force-materialized so they can't appear mid-test."""
    release_caches()
    transcripts.count()
    return _n_persistent_rdds(spark)


def test_no_persisted_rdds_after_release(spark, transcripts):
    """The default pipeline persists sigs/cands/verified internally; after the
    caller materializes and releases, the count returns to baseline."""
    base = _baseline(spark, transcripts)

    res = run_pipeline(spark, transcripts, DedupConfig())
    res.clusters.count()
    assert _n_persistent_rdds(spark) > base  # tracked persists are live mid-query

    released = release_caches()
    assert released >= 3  # sigs + cands + verified at minimum
    assert _n_persistent_rdds(spark) == base


def test_verify_caches_tracked(spark, transcripts):
    from deduputil_spark.operators.verify import jaccard_verify_docs

    base = _baseline(spark, transcripts)
    docs = assemble_documents(transcripts)
    pairs = (
        docs.alias("a")
        .crossJoin(docs.alias("b"))
        .filter(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(F.col("a.conv_id").alias("conv_a"), F.col("b.conv_id").alias("conv_b"))
        .limit(50)
    )
    jaccard_verify_docs(pairs, docs, k=5).count()
    assert release_caches() >= 1
    assert _n_persistent_rdds(spark) == base


def test_brute_force_guards(spark):
    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=int(i)) for i in range(4)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="brute-force"):
        embedding_near_pairs(emb, threshold=0.0, max_rows=10)
    with pytest.raises(ValueError, match="brute-force"):
        cosine_topk(emb, emb.limit(2), k=3, max_rows=10)
    # under the cap (and with the guard off) both still run
    assert embedding_near_pairs(emb, threshold=-1.0, max_rows=100).count() > 0
    assert cosine_topk(emb, emb.limit(2), k=3).count() > 0


def test_suffix_queries_leave_no_persisted_rdds(spark):
    """Each suffix driver query persists its dup-key sets and candidates;
    after `release_caches()` no RDD that the query persisted is still listed
    (compared as id sets: ids persisted before the query may be collected
    meanwhile, so a count can move for unrelated reasons)."""
    import __spark_entry__ as em

    def ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for name in ("suffix_dup_positions", "suffix_spans", "suffix_strip"):
        release_caches()
        before = ids()
        em.queries()[name](spark, "/root/testdata/sf0.001").count()
        release_caches()
        assert ids() <= before, name
