"""Similarity backbone tests: MinHash accuracy, LSH recall vs brute force,
clustering vs union-find oracle, planted-pair recall, collision separation,
checkpoint resume (SURVEY.md §5.4-5.6)."""

from __future__ import annotations

import tempfile

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from deduputil_spark.cache import release_caches
from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.lsh import bucket_skew_report, candidate_pairs
from deduputil_spark.operators.minhash import (
    KGRAM_P,
    MERSENNE_P,
    arrow_token_hashes,
    batch_kgram_sets,
    batch_oph_signatures,
    doc_kgram_hashes,
    lsh_bands,
    minhash_jaccard_estimate,
    minhash_signatures,
    minhash_signatures_numpy,
    oph_bin_edges,
    oph_signature,
    token_hashes_from_buffer,
    utf8_buffer_view,
)
from deduputil_spark.operators.shingle import shingles
from deduputil_spark.operators.substring import containment_candidates, verify_substring
from deduputil_spark.operators.verify import jaccard_verify_docs, jaccard_verify_sets
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
    # brute force orients pairs conv_a < conv_b; planted pairs may be either way
    eligible = brute_force_jaccard(shingle_df, CFG.jaccard_threshold).select("conv_a", "conv_b")
    flipped = eligible.select(F.col("conv_b").alias("conv_a"), F.col("conv_a").alias("conv_b"))
    strong = (
        planted.join(eligible, ["conv_a", "conv_b"], "left_semi")
        .unionByName(planted.join(flipped, ["conv_a", "conv_b"], "left_semi"))
        .withColumn("kind", F.lit("planted"))
    )
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
    most 18 Spark jobs (measured 18 once connected components decided its
    path and fetched the driver path's edges in one bounded collect; 20
    before, and 26 before verify joined the sign layer's k-gram sets)."""
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
    assert 0 < n_jobs <= 18, n_jobs


def test_sign_layer_outputs_match_scalar_definitions(spark, docs):
    """The sign mapInArrow's kset is each doc's `doc_kgram_hashes`, and its
    sig is the single-doc `oph_signature` of that set mod MERSENNE_P (OPH
    ignores duplicates, so this is also the k-gram multiset's signature) —
    for every corpus doc plus an empty and a whitespace-only doc."""
    extra = spark.createDataFrame([("~empty", ""), ("~blank", " \t\n\r ")], "conv_id string, doc_text string")
    texts = docs.select("conv_id", "doc_text").unionByName(extra)
    want = {r["conv_id"]: r["doc_text"] for r in texts.collect()}
    edges = oph_bin_edges(CFG.num_perm)
    rows = minhash_signatures_numpy(texts, CFG).collect()
    assert sorted(r["conv_id"] for r in rows) == sorted(want)
    for r in rows:
        ref = doc_kgram_hashes(want[r["conv_id"]], CFG.shingle_k)
        assert np.array_equal(np.array(r["kset"], dtype=np.int64), ref), r["conv_id"]
        sig = oph_signature(np.sort(ref % MERSENNE_P), CFG.num_perm, edges)
        assert np.array_equal(np.array(r["sig"], dtype=np.int64), sig), r["conv_id"]


def test_verified_pairs_match_text_verify(spark, transcripts, docs):
    """The pipeline's verify joins the sign layer's k-gram sets; its verified
    pairs, jaccard values included, equal re-tokenizing the candidate docs
    (`jaccard_verify_docs`) on the same candidates."""
    release_caches()
    sigs = minhash_signatures_numpy(docs, CFG).cache()
    try:
        got = sorted(tuple(r) for r in run_pipeline(spark, transcripts, CFG).verified_pairs.collect())
        cands = candidate_pairs(lsh_bands(sigs, CFG, band_key="xxhash"), CFG, persist_bands=False)
        from_text = jaccard_verify_docs(cands, docs, CFG.shingle_k, threshold=CFG.jaccard_threshold)
        from_sets = jaccard_verify_sets(cands, sigs.select("conv_id", "kset"), CFG.jaccard_threshold)
        want = sorted(tuple(r) for r in from_text.collect())
        assert got and got == want
        assert sorted(tuple(r) for r in from_sets.collect()) == want
    finally:
        sigs.unpersist()
        release_caches()


def test_docs_without_kgrams_cluster_together(spark):
    """An empty and a whitespace-only doc have no k-grams: both get the
    all-zero OPH signature and meet in every band.  Verify scores them
    J(∅, ∅) = 1.0, as perfbench's exact Jaccards do, rather than dividing
    0 by 0 (a [DIVIDE_BY_ZERO] failure of the whole run under ANSI mode);
    an ordinary doc stays a singleton."""
    transcripts = spark.createDataFrame(
        [("e1", 0, ""), ("e2", 0, "   "), ("n1", 0, "an ordinary turn with enough words for several grams")],
        "conv_id string, turn_idx int, text string",
    )
    labels = {r["conv_id"]: r["cluster_id"] for r in run_pipeline(spark, transcripts, CFG).clusters.collect()}
    assert labels == {"e1": "e1", "e2": "e1", "n1": "n1"}


@settings(max_examples=40, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab c\t\né", max_size=40), max_size=12),
    k=st.integers(1, 6),
    num_perm=st.sampled_from([4, 16, 128]),
)
def test_batch_kernels_match_single_doc_kernels(texts, k, num_perm):
    """Spark-free: the batch k-gram sets and batch OPH equal the single-doc
    kernels on arbitrary batches (empty, short and whitespace-only docs)."""
    keys, bounds = batch_kgram_sets(*arrow_token_hashes(pa.array(texts, type=pa.string())), k)
    sigs = batch_oph_signatures(keys, bounds, num_perm).reshape(len(texts), num_perm)
    edges = oph_bin_edges(num_perm)
    assert len(bounds) == len(texts) + 1
    for i, t in enumerate(texts):
        ref = doc_kgram_hashes(t, k)
        assert np.array_equal(keys[bounds[i] : bounds[i + 1]], ref)
        assert np.array_equal(sigs[i], oph_signature(np.sort(ref % MERSENNE_P), num_perm, edges))


def _token_hashes_model(text: str | None) -> list[int]:
    """Independent scalar model of the byte tokenizer: split the UTF-8 bytes
    on the six ASCII whitespace bytes (`bytes.split`), fold each token's
    first 32 bytes, then mix in its full length."""
    out = []
    for tok in (text or "").encode("utf-8", "surrogatepass").split():
        h = 0
        for b in tok[:32]:
            h = (h * 31 + b) % KGRAM_P
        out.append((h * 31 + len(tok)) % KGRAM_P)
    return out


_WS = " \t\n\r\x0b\x0c"
# U+00A0 and U+3000 are token bytes here (the documented divergence from
# str.split); NUL, 2-byte é and 3-byte CJK exercise the byte fold
_TOKEN_CHARS = "ab\x00é中文\u00a0\u3000"
_doc = st.one_of(
    st.text(alphabet=_WS + _TOKEN_CHARS, max_size=60),
    # long tokens: up to 50 chars of up to 3 bytes, far past the 32-byte fold cap
    st.lists(st.tuples(st.text(_WS, max_size=3), st.text(_TOKEN_CHARS, min_size=1, max_size=50)), max_size=6)
    .map(lambda parts: "".join(sep + tok for sep, tok in parts)),
)


def _assert_matches_model(texts, h, offsets):
    assert len(offsets) == len(texts) + 1
    for i, t in enumerate(texts):
        assert h[offsets[i] : offsets[i + 1]].tolist() == _token_hashes_model(t), t


@settings(max_examples=200, deadline=None)
@given(texts=st.lists(_doc, max_size=10))
def test_token_hashes_from_buffer_match_scalar_model(texts):
    """Spark-free: the vectorized tokenizer over a back-to-back UTF-8 buffer
    equals the scalar model doc by doc (empty and whitespace-only docs, NUL,
    U+00A0, CJK, tokens longer than 32 bytes)."""
    enc = [t.encode("utf-8", "surrogatepass") for t in texts]
    bounds = np.concatenate(([0], np.cumsum([len(e) for e in enc], dtype=np.int64)))
    _assert_matches_model(texts, *token_hashes_from_buffer(np.frombuffer(b"".join(enc), dtype=np.uint8), bounds))


@settings(max_examples=200, deadline=None)
@given(
    before=st.lists(_doc, max_size=3),
    texts=st.lists(st.one_of(_doc, st.none()), max_size=10),
    after=st.lists(_doc, max_size=3),
    large=st.booleans(),
)
def test_arrow_token_hashes_match_scalar_model(before, texts, after, large):
    """Spark-free: `arrow_token_hashes` on a sliced Arrow string array (a
    non-zero offset whenever `before` is non-empty; nulls are empty docs)
    takes the zero-copy buffer path and equals the scalar model."""
    arr = pa.array(before + texts + after, type=pa.large_string() if large else pa.string())
    arr = arr.slice(len(before), len(texts))
    assert utf8_buffer_view(arr) is not None
    _assert_matches_model(texts, *arrow_token_hashes(arr))


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
    # no edges: every vertex comes back as its own singleton (an empty labels frame)
    no_edges = spark.createDataFrame([], "conv_a string, conv_b string")
    verts = spark.createDataFrame([(f"v{i:03d}",) for i in range(5)], "conv_id string")
    alone = connected_components(no_edges, max_iterations=50, all_vertices=verts, driver_threshold=driver_threshold)
    assert {r["conv_id"]: r["cluster_id"] for r in alone.collect()} == {f"v{i:03d}": f"v{i:03d}" for i in range(5)}


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

    def pairs(docs, max_df):  # Jaccard >= 0.01, integer-exact
        return ngram_jaccard_pairs(docs, n=3, max_df=max_df).filter(F.col("inter") * 100 >= F.col("uni"))

    boiler = "standard legal disclaimer footer"
    rows = [("near_a", f"alpha beta gamma delta epsilon zeta {boiler}"),
            ("near_b", f"alpha beta gamma delta epsilon eta {boiler}")]
    rows += [(f"uniq_{i}", f"w{i}a w{i}b w{i}c w{i}d w{i}e {boiler}") for i in range(40)]
    docs = spark.createDataFrame(rows, ["conv_id", "doc_text"])

    # uncapped: the boilerplate 3-grams pair every doc with every other
    uncapped = pairs(docs, max_df=10**6)
    assert uncapped.count() > 40 * 41 / 2  # quadratic blowup present

    capped = pairs(docs, max_df=5)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert ("near_a", "near_b") in got          # real near-dups survive
    assert all("uniq_" not in a or "uniq_" not in b for a, b in got)  # boilerplate-only pairs gone

    # below-cap corpora are bit-identical to the uncapped form
    small = docs.filter(F.col("conv_id").isin("near_a", "near_b"))
    a = sorted(map(tuple, pairs(small, max_df=10**6).collect()))
    b = sorted(map(tuple, pairs(small, max_df=50).collect()))
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
    # the knob is a DedupConfig field; run_pipeline applies the cap
    # (test_degree_cap_dropped_edges_metered)
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
