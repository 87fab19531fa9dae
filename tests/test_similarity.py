"""Similarity backbone tests: MinHash accuracy, LSH recall vs brute force,
clustering vs union-find oracle, planted-pair recall, collision separation,
checkpoint resume (SURVEY.md §5.4-5.6)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from deduputil_spark.cache import release_caches
from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.lsh import bucket_skew_report, candidate_pairs
from deduputil_spark.operators.minhash import (
    lsh_bands,
    minhash_jaccard_estimate,
    minhash_signatures,
    minhash_signatures_numpy,
)
from deduputil_spark.operators.shingle import shingles
from deduputil_spark.operators.simhash import simhash_candidates, simhash_signatures
from deduputil_spark.operators.substring import containment_candidates, verify_substring
from deduputil_spark.operators.verify import jaccard_verify
from deduputil_spark.plans.pipeline import pair_recall, run_pipeline

CFG = DedupConfig()


@pytest.fixture(scope="module")
def docs(spark, transcripts):
    return assemble_documents(transcripts).cache()


@pytest.fixture(scope="module")
def shingle_df(docs):
    return shingles(docs, CFG.shingle_k).cache()


@pytest.fixture(scope="module", params=["oph", "md5"])
def family(request):
    return request.param


def sign(family, docs, shingle_df, cfg):
    """(signatures, bands) under `family`: "md5" is the DuckDB oracle family,
    "oph" the numpy OPH signatures + xxhash band keys the pipeline ships."""
    if family == "md5":
        sigs = minhash_signatures(shingle_df, cfg)
        return sigs, lsh_bands(sigs, cfg)
    sigs = minhash_signatures_numpy(docs, cfg)
    return sigs, lsh_bands(sigs, cfg, band_key="xxhash")


def brute_force_jaccard(shingle_df, threshold):
    """All-pairs exact Jaccard (oracle; only viable on the tiny corpus)."""
    a = shingle_df.select(F.col("conv_id").alias("conv_a"), "shingle")
    b = shingle_df.select(F.col("conv_id").alias("conv_b"), "shingle")
    sizes = shingle_df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("conv_a") < F.col("conv_b"))
        .groupBy("conv_a", "conv_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("conv_id").alias("conv_a"), F.col("n").alias("na")), "conv_a")
        .join(sizes.select(F.col("conv_id").alias("conv_b"), F.col("n").alias("nb")), "conv_b")
        .select("conv_a", "conv_b", (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def test_minhash_estimates_jaccard(spark, docs, shingle_df, family):
    """Signature agreement ≈ true Jaccard within ε on true-positive pairs."""
    truth = brute_force_jaccard(shingle_df, 0.5).cache()
    sigs, _ = sign(family, docs, shingle_df, CFG)
    est = minhash_jaccard_estimate(sigs, truth.select("conv_a", "conv_b"))
    joined = truth.join(est, ["conv_a", "conv_b"]).collect()
    assert len(joined) > 0
    for r in joined:
        assert abs(r["jaccard"] - r["est_jaccard"]) < 0.15, r


def test_lsh_recall_vs_brute_force(spark, docs, shingle_df, family):
    """LSH candidates must cover ≥99% of true pairs above threshold."""
    truth = {(r["conv_a"], r["conv_b"]) for r in brute_force_jaccard(shingle_df, CFG.jaccard_threshold).collect()}
    assert truth, "corpus must contain planted high-jaccard pairs"
    _, bands = sign(family, docs, shingle_df, CFG)
    cands = {(r["conv_a"], r["conv_b"]) for r in candidate_pairs(bands, CFG).collect()}
    missed = truth - cands
    recall = 1 - len(missed) / len(truth)
    assert recall >= 0.99, f"LSH recall {recall}: missed {sorted(missed)[:5]}"


def test_pipeline_recall_and_collision_separation(spark, transcripts, corpus, shingle_df):
    res = run_pipeline(spark, transcripts, CFG)
    clusters = res.clusters.cache()
    truth = spark.createDataFrame(corpus.truth_pairs)
    # the gate (FIXTURES.md): recall over planted pairs whose TRUE Jaccard
    # clears the verify threshold (5%-edit pairs sit at J≈0.63 < 0.7 by design)
    planted = truth.filter(F.col("kind") != "collision_nonpair").select("conv_a", "conv_b")
    strong = jaccard_verify(planted, shingle_df, threshold=CFG.jaccard_threshold).select(
        "conv_a", "conv_b"
    ).withColumn("kind", F.lit("planted"))
    assert strong.count() > 0
    rec = pair_recall(clusters, strong)
    assert rec >= 0.99, f"planted-pair recall {rec}"
    # adler-collision pair must NOT merge (byte-verify semantics)
    coll = truth.filter(F.col("kind") == "collision_nonpair")
    la = clusters.select(F.col("conv_id").alias("conv_a"), F.col("cluster_id").alias("ca"))
    lb = clusters.select(F.col("conv_id").alias("conv_b"), F.col("cluster_id").alias("cb"))
    merged = coll.join(la, "conv_a").join(lb, "conv_b").filter(F.col("ca") == F.col("cb")).count()
    assert merged == 0


def test_default_run_launches_no_extra_jobs(spark, transcripts):
    """The default (uncheckpointed) plan runs no count() jobs and writes no
    metrics: the pipeline plus one noop write of its clusters launches at
    most the 26 Spark jobs the plan needed before the checkpointed path was
    folded into the same function."""
    transcripts.count()  # the cached fixture materializes outside the group
    release_caches()  # earlier tests' tracked persists must not serve this run
    sc = spark.sparkContext
    group = "default-run-job-count"
    sc.setJobGroup(group, "run_pipeline default plan")
    try:
        res = run_pipeline(spark, transcripts, CFG)
        res.clusters.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches()
    assert res.metrics == []
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 26, n_jobs


@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])  # driver + distributed paths
def test_connected_components_vs_union_find(spark, driver_threshold):
    import random

    rng = random.Random(99)
    n = 200
    edges = [(f"v{rng.randrange(n):03d}", f"v{rng.randrange(n):03d}") for _ in range(150)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "conv_a string, conv_b string")
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iterations=50, driver_threshold=driver_threshold).collect()
    }
    # union-find oracle
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[str, list[str]] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    for root, members in comp.items():
        want = min(members)
        for m in members:
            assert got[m] == want, (m, got[m], want)


def test_checkpoint_resume(spark, transcripts):
    with tempfile.TemporaryDirectory() as d:
        r1 = run_pipeline(spark, transcripts, CFG, checkpoint_dir=d)
        c1 = sorted((r["conv_id"], r["cluster_id"]) for r in r1.clusters.collect())
        assert not any(m.resumed for m in r1.metrics)
        # checkpointing wraps the same layers: the default plan agrees
        c0 = run_pipeline(spark, transcripts, CFG).clusters.collect()
        assert sorted((r["conv_id"], r["cluster_id"]) for r in c0) == c1
        r2 = run_pipeline(spark, transcripts, CFG, checkpoint_dir=d)
        c2 = sorted((r["conv_id"], r["cluster_id"]) for r in r2.clusters.collect())
        assert all(m.resumed for m in r2.metrics), [m for m in r2.metrics if not m.resumed]
        assert c1 == c2
        # different config hash must NOT resume
        cfg3 = DedupConfig(shingle_k=7)
        r3 = run_pipeline(spark, transcripts, cfg3, checkpoint_dir=d)
        assert not any(m.resumed for m in r3.metrics)


def test_hot_bucket_salting_preserves_recall(spark, shingle_df):
    """Force the hot-bucket path (cap=3) and confirm true pairs still surface:
    hot buckets are near-identical members, so within+ring sub-bucket passes
    plus the other 31 bands must keep recall ≥0.99."""
    cfg_hot = DedupConfig(hot_bucket_cap=3)
    # 12 identical docs -> every band is one bucket of size 12 (>> cap=3)
    text = " ".join(f"tok{i}" for i in range(50))
    docs = spark.createDataFrame([(f"h{i:02d}", text) for i in range(12)], "conv_id string, doc_text string")
    bands = lsh_bands(minhash_signatures_numpy(docs, cfg_hot), cfg_hot, band_key="xxhash")
    rep = bucket_skew_report(bands, cfg_hot).collect()[0]
    assert rep["hot_buckets"] > 0, "identical docs must form hot buckets"
    cands = {(r["conv_a"], r["conv_b"]) for r in candidate_pairs(bands, cfg_hot).collect()}
    # within + ring passes must chain every member to its neighbors: clustering
    # connectivity is what recall needs (h00-h01, h01-h02, ... covers the clique
    # transitively); assert full single-component connectivity
    from deduputil_spark.operators.cluster import connected_components

    pairs_df = spark.createDataFrame(sorted(cands), "conv_a string, conv_b string")
    labels = {r["conv_id"]: r["cluster_id"] for r in connected_components(pairs_df).collect()}
    assert len(labels) == 12 and len(set(labels.values())) == 1, labels


def test_skew_report_sees_hot_boilerplate(spark, docs, shingle_df):
    _, bands = sign("oph", docs, shingle_df, CFG)
    rep = bucket_skew_report(bands, CFG).collect()[0]
    assert rep["n_buckets"] > 0
    assert rep["max_bucket"] >= 1


def test_simhash_finds_exact_dups(spark, docs, corpus):
    sigs = simhash_signatures(docs).cache()
    cands = simhash_candidates(sigs, bands=4, max_hamming=3)
    got = {(r["conv_a"], r["conv_b"]) for r in cands.collect()}
    truth = corpus.truth_pairs
    exact = truth[truth["kind"] == "exact"]
    for _, row in exact.iterrows():
        assert (row["conv_a"], row["conv_b"]) in got, row.tolist()


def test_substring_pass(spark, docs, corpus):
    cands = containment_candidates(docs, w=8, threshold=0.9)
    ver = verify_substring(cands, docs).filter(F.col("is_substring"))
    got = {(r["conv_a"], r["conv_b"]) for r in ver.collect()}
    got |= {(b, a) for a, b in got}
    truth = corpus.truth_pairs
    sub = truth[truth["kind"] == "substring"]
    assert len(sub) > 0
    hit = sum((r["conv_a"], r["conv_b"]) in got for _, r in sub.iterrows())
    assert hit / len(sub) >= 0.99, f"substring recall {hit}/{len(sub)}"


def test_oph_signature_estimator_quality():
    """OPH signatures (the scale scheme): agreement fraction is an unbiased
    Jaccard estimator (mean bias < 0.02 over 40 seeded set pairs) and exact
    for identical sets; densification keeps short docs banding-safe."""
    import numpy as np

    from deduputil_spark.operators.minhash import MERSENNE_P, oph_bin_edges, oph_signature

    k = CFG.num_perm
    edges = oph_bin_edges(k)
    rng = np.random.default_rng(5)
    biases = []
    for _ in range(40):
        inter = rng.integers(0, MERSENNE_P, 1400)
        a = np.unique(np.concatenate((inter, rng.integers(0, MERSENNE_P, 600))))
        b = np.unique(np.concatenate((inter, rng.integers(0, MERSENNE_P, 600))))
        tj = len(np.intersect1d(a, b)) / len(np.union1d(a, b))
        est = (oph_signature(a, k, edges) == oph_signature(b, k, edges)).mean()
        biases.append(est - tj)
    assert abs(float(np.mean(biases))) < 0.02, np.mean(biases)
    same = np.unique(rng.integers(0, MERSENNE_P, 500))
    assert (oph_signature(same, k, edges) == oph_signature(same.copy(), k, edges)).all()
    # short doc: fewer elements than bins -> densified, no sentinel left
    short = np.unique(rng.integers(0, MERSENNE_P, 9))
    s = oph_signature(short, k, edges)
    assert len(s) == k and (s < MERSENNE_P).all()
    # empty doc convention: all zeros
    assert (oph_signature(np.zeros(0, dtype=np.int64), k, edges) == 0).all()


def test_star_cc_on_path_graph(spark):
    """Small-star/large-star alternation: a 10k-node PATH graph (worst case
    for label propagation, diameter ~ n) must converge in O(log n) rounds
    with the same labels as union-find (everything -> the chain's min id)."""
    from deduputil_spark.operators.cluster import _star_components

    n = 10_000
    ids = [f"v{i:05d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "conv_a string, conv_b string"
    )
    labels_df, rounds = _star_components(pairs, max_iterations=40)
    labels = {r["conv_id"]: r["cluster_id"] for r in labels_df.collect()}
    assert len(labels) == n
    assert set(labels.values()) == {ids[0]}, "one component rooted at the min id"
    assert rounds <= 16, f"star alternation took {rounds} rounds on a 10k chain (want O(log n))"


def test_lsh_band_parameter_frontier(spark, docs, shingle_df):
    """b×r sweep at num_perm=128: recall (vs brute-force J≥0.7 truth) and
    candidate volume for (64,2), (32,4), (16,8).  The default (32,4) must sit
    on the frontier: ≥0.99 recall with fewer candidates than (64,2)."""
    truth = {
        (r["conv_a"], r["conv_b"])
        for r in brute_force_jaccard(shingle_df, CFG.jaccard_threshold).collect()
    }
    assert truth
    stats = {}
    for bands, rows in [(64, 2), (32, 4), (16, 8)]:
        cfg = DedupConfig(lsh_bands=bands, lsh_rows=rows)
        _, band_df = sign("oph", docs, shingle_df, cfg)
        cands = {(r["conv_a"], r["conv_b"]) for r in candidate_pairs(band_df, cfg).collect()}
        recall = len(truth & cands) / len(truth)
        stats[(bands, rows)] = (recall, len(cands))
    rec_default, n_default = stats[(32, 4)]
    rec_wide, n_wide = stats[(64, 2)]
    assert rec_default >= 0.99, stats
    # wider bands (fewer rows/band) always catch at least as much but cost more
    assert n_default <= n_wide, stats
    assert rec_wide >= rec_default - 1e-9, stats


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A planted mega-shingle (shared by EVERY doc) must not quadratically
    pair the whole corpus; docs similar beyond the boilerplate still pair."""
    from deduputil_spark.operators.textstats import ngram_jaccard_pairs

    boiler = "standard legal disclaimer footer"
    rows = [("near_a", f"alpha beta gamma delta epsilon zeta {boiler}"),
            ("near_b", f"alpha beta gamma delta epsilon eta {boiler}")]
    rows += [(f"uniq_{i}", f"w{i}a w{i}b w{i}c w{i}d w{i}e {boiler}") for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # uncapped: the boilerplate 3-grams pair every doc with every other
    uncapped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=10**6)
    assert uncapped.count() > 40 * 41 / 2  # quadratic blowup present

    capped = ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=5)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert ("near_a", "near_b") in got          # real near-dups survive
    assert all("uniq_" not in a or "uniq_" not in b for a, b in got)  # boilerplate-only pairs gone

    # below-cap corpora are bit-identical to the uncapped form
    small = docs.filter(F.col("doc_id").isin("near_a", "near_b"))
    a = sorted(map(tuple, ngram_jaccard_pairs(small, 3, 0.01, max_df=10**6).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(small, 3, 0.01, max_df=50).collect()))
    assert a == b


def test_cap_pair_degree_thins_hot_docs_deterministically(spark):
    """max_pair_degree safety valve (lsh.cap_pair_degree): a planted star doc
    with 4000 incident candidate pairs is thinned to ≈cap expected degree,
    cold pairs pass untouched, and the deterministic coin makes reruns
    byte-identical (VERDICT r2: bound the per-pair kset replication for
    high-fan-out docs)."""
    from deduputil_spark.operators.lsh import cap_pair_degree

    hot = [("HOT", f"s{i:05d}") for i in range(4000)]
    cold = [(f"c{i}a", f"c{i}b") for i in range(50)]
    pairs = spark.createDataFrame(hot + cold, "conv_a string, conv_b string")
    cap = 500
    out = cap_pair_degree(pairs, cap).cache()
    rows = {(r["conv_a"], r["conv_b"]) for r in out.collect()}
    # all cold pairs survive (degree 1 each)
    assert all(c in rows for c in cold)
    # hot doc's degree lands near the cap (hash-thinned, expected = cap)
    hot_deg = sum(1 for a, b in rows if a == "HOT")
    assert cap * 0.7 <= hot_deg <= cap * 1.3, hot_deg
    # deterministic: a second evaluation yields the identical pair set
    rows2 = {(r["conv_a"], r["conv_b"]) for r in cap_pair_degree(pairs, cap).collect()}
    assert rows == rows2
    out.unpersist()
    # the knob routes through candidate_pairs via DedupConfig
    assert DedupConfig(max_pair_degree=123).max_pair_degree == 123


def test_degree_cap_dropped_edges_metered(spark, transcripts, tmp_path):
    """VERDICT r3 #8: with max_pair_degree set, a checkpointed run_pipeline
    emits a `degree_cap_dropped` metrics row equal to raw-minus-capped
    candidate counts — thinning is observable, never silent."""
    cfg = DedupConfig(max_pair_degree=3)
    res = run_pipeline(spark, transcripts, cfg, checkpoint_dir=str(tmp_path))
    by_stage = {m.stage: m for m in res.metrics}
    assert "candidates_raw" in by_stage and "candidates" in by_stage
    assert "degree_cap_dropped" in by_stage
    dropped = by_stage["degree_cap_dropped"].rows_out
    assert dropped == by_stage["candidates_raw"].rows_out - by_stage["candidates"].rows_out
    assert dropped >= 0
