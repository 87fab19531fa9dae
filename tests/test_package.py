"""Package verb tests: create/list/stat/extract/append/remove round-trips
(the reference CLI surface, /root/reference/src/dedup.c:2089-2112)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.reconstruct import roundtrip_mismatches
from deduputil_spark.sources.package import (
    append_package,
    create_package,
    extract_package,
    list_package,
    open_package,
    package_stats,
    remove_from_package,
)

CFG = DedupConfig(block_size=256, block_min_size=64, block_max_size=1024)


@pytest.fixture(scope="module")
def pkg(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pkg"))
    st = create_package(spark, transcripts, d, CFG)
    return d, st


def test_create_and_stats(spark, pkg):
    d, st = pkg
    assert st.dedup_rate > 1.0  # planted exact dups guarantee savings
    st2 = package_stats(spark, d)
    assert st2.unique_blocks == st.unique_blocks
    assert st2.total_blocks == st.total_blocks


def test_list(spark, pkg, transcripts):
    d, _ = pkg
    names = [r["conv_id"] for r in list_package(spark, d).collect()]
    want = sorted(r["conv_id"] for r in transcripts.select("conv_id").distinct().collect())
    assert names == want


def test_extract_roundtrip(spark, pkg, transcripts):
    d, _ = pkg
    recon = extract_package(spark, d)
    assert roundtrip_mismatches(transcripts, recon).count() == 0


def test_append_then_extract(spark, pkg, transcripts):
    d, _ = pkg
    extra = spark.createDataFrame(
        [("zz0001", 0, "user", "brand new appended conversation " * 30, None, None)],
        schema=transcripts.schema,
    )
    append_package(spark, extra, d, CFG)
    names = [r["conv_id"] for r in list_package(spark, d).collect()]
    assert "zz0001" in names
    recon = extract_package(spark, d).filter(F.col("conv_id") == "zz0001")
    want = assemble_documents(extra).collect()[0]["doc_text"]
    assert recon.collect()[0]["doc_text"] == want
    # original docs still intact after append (exclude the appended conv —
    # it isn't in `transcripts`, so the full-outer check would flag it)
    originals = extract_package(spark, d).filter(F.col("conv_id") != "zz0001")
    assert roundtrip_mismatches(transcripts, originals).count() == 0


def test_remove_then_extract(spark, pkg, transcripts):
    d, _ = pkg
    victims = spark.createDataFrame([("zz0001",)], "conv_id string")
    remove_from_package(spark, victims, d)
    names = [r["conv_id"] for r in list_package(spark, d).collect()]
    assert "zz0001" not in names
    # survivors reconstruct; bids stay dense
    assert roundtrip_mismatches(transcripts, extract_package(spark, d)).count() == 0
    blocks = open_package(spark, d)["blocks"]
    n = blocks.count()
    mm = blocks.agg(F.min("bid"), F.max("bid")).collect()[0]
    assert (mm[0], mm[1]) == (0, n - 1)


def test_append_refcounts_and_manifest_consistent(spark, transcripts, tmp_path_factory):
    """After append, per-block refcounts and manifest byte totals must equal a
    from-scratch package over the same corpus (the reference's append path
    re-counts every reuse — dedup.c:908-1077)."""
    d_inc = str(tmp_path_factory.mktemp("pkg_incremental"))
    d_all = str(tmp_path_factory.mktemp("pkg_scratch"))
    ids = sorted(r["conv_id"] for r in transcripts.select("conv_id").distinct().collect())
    half = set(ids[: len(ids) // 2])
    first = transcripts.filter(F.col("conv_id").isin(half))
    create_package(spark, first, d_inc, CFG)
    append_package(spark, transcripts, d_inc, CFG)
    create_package(spark, transcripts, d_all, CFG)
    inc, scratch = open_package(spark, d_inc), open_package(spark, d_all)
    rc_inc = sorted((r["md5"], r["refcount"]) for r in inc["blocks"].select("md5", "refcount").collect())
    rc_all = sorted((r["md5"], r["refcount"]) for r in scratch["blocks"].select("md5", "refcount").collect())
    assert rc_inc == rc_all
    mi = inc["manifest"].collect()[0]
    ma = scratch["manifest"].collect()[0]
    for fld in ("block_num", "file_num", "total_bytes", "stored_bytes"):
        assert mi[fld] == ma[fld], (fld, mi[fld], ma[fld])


def test_remove_manifest_totals_refresh(spark, transcripts, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pkg_rm_manifest"))
    create_package(spark, transcripts, d, CFG)
    before = open_package(spark, d)["manifest"].collect()[0]
    victims = transcripts.select("conv_id").distinct().limit(3)
    remove_from_package(spark, victims, d)
    pkg = open_package(spark, d)
    after = pkg["manifest"].collect()[0]
    assert after["file_num"] == before["file_num"] - 3
    st = package_stats(spark, d)
    assert after["total_bytes"] == st.total_bytes
    assert after["stored_bytes"] == st.unique_bytes
    assert after["block_num"] == st.unique_blocks


def test_extract_turns_full_row_roundtrip(spark, transcripts, tmp_path_factory):
    """S5 metadata restore (/root/reference/src/dedup.c:1761,1798-1802): a
    create→extract_turns round-trip reproduces the FULL transcript row —
    (conv_id, turn_idx, role, text, tool, ts) — not just the text."""
    from deduputil_spark.sources.package import extract_turns

    d = str(tmp_path_factory.mktemp("pkg_meta"))
    create_package(spark, transcripts, d, CFG)
    got = extract_turns(spark, d)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    src = sorted(map(tuple, transcripts.select(*cols).collect()))
    out = sorted(map(tuple, got.select(*cols).collect()))
    assert out == src

    # metadata survives append + remove rewrites too
    extra = spark.createDataFrame(
        [("zzmeta", 0, "assistant", "appended with metadata " * 20, "bash", None)],
        schema=transcripts.schema,
    )
    append_package(spark, extra, d, CFG)
    victims = transcripts.select("conv_id").distinct().limit(2)
    remove_from_package(spark, victims, d)
    removed = {r["conv_id"] for r in victims.collect()}
    survivors = transcripts.filter(~F.col("conv_id").isin(removed)).select(*cols)
    want = sorted(map(tuple, survivors.unionByName(extra.select(*cols)).collect()))
    out2 = sorted(map(tuple, extract_turns(spark, d).select(*cols).collect()))
    assert out2 == want


def test_extract_turns_keeps_metadata_less_appends(spark, transcripts, tmp_path_factory):
    """ADVICE r3: appending a TEXT-ONLY table into a metadata-carrying package
    leaves its roles/tools/tss arrays NULL — extract_turns must emit those
    turns with null metadata, never silently drop the document."""
    from deduputil_spark.sources.package import extract_turns

    d = str(tmp_path_factory.mktemp("pkg_nometa"))
    create_package(spark, transcripts, d, CFG)
    bare = spark.createDataFrame(
        [("zzbare", i, f"text-only appended turn {i} " * 10) for i in range(3)],
        "conv_id string, turn_idx int, text string",
    )
    append_package(spark, bare, d, CFG)
    got = extract_turns(spark, d).filter(F.col("conv_id") == "zzbare").orderBy("turn_idx")
    rows = got.collect()
    assert [r["turn_idx"] for r in rows] == [0, 1, 2]
    assert [r["text"] for r in rows] == [f"text-only appended turn {i} " * 10 for i in range(3)]
    assert all(r["role"] is None and r["tool"] is None and r["ts"] is None for r in rows)


def test_package_writes_refuse_turns_holding_the_separator(spark, transcripts, tmp_path_factory):
    """A turn holding `DOC_SEP` would come back from extract as two turns,
    shifting every later turn's metadata: create and append refuse such a
    table before staging anything, and a refused append leaves the package
    as it was."""
    from deduputil_spark.sources.package import extract_turns

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    bad = spark.createDataFrame(
        [("zzsep", 0, "user", "line one\nline two", None, None),
         ("zzsep", 1, "assistant", "reply", "bash", None)],
        schema=transcripts.schema,
    )
    d = str(tmp_path_factory.mktemp("pkg_sep"))
    with pytest.raises(ValueError, match="separator"):
        create_package(spark, bad, d, CFG)
    assert os.listdir(d) == []
    few = transcripts.join(transcripts.select("conv_id").distinct().orderBy("conv_id").limit(3), "conv_id", "left_semi")
    create_package(spark, few, d, CFG)
    before = sorted(map(tuple, extract_turns(spark, d).select(*cols).collect()))
    with pytest.raises(ValueError, match="separator"):
        append_package(spark, bad, d, CFG)
    assert sorted(os.listdir(d)) == ["blocks", "file_meta", "manifest"]
    assert sorted(map(tuple, extract_turns(spark, d).select(*cols).collect())) == before


def test_manifest_schema_stable_across_rewrites(spark, transcripts, tmp_path_factory):
    """ADVICE r2: rewrites must reuse the manifest's original schema — no
    type drift (int->bigint) from Python-value inference."""
    d = str(tmp_path_factory.mktemp("pkg_schema"))
    create_package(spark, transcripts, d, CFG)
    before = open_package(spark, d)["manifest"].schema
    remove_from_package(spark, transcripts.select("conv_id").distinct().limit(1), d)
    after = open_package(spark, d)["manifest"].schema
    assert after == before


def test_crash_recovery_roll_forward_and_back(spark, transcripts, tmp_path_factory):
    """ADVICE r2: a crash mid-_commit must not leave a half-swapped package.
    Simulate the two crash classes and check open_package self-heals."""
    import os
    import shutil

    from deduputil_spark.sources.package import _SWAP_TABLES, _p

    d = str(tmp_path_factory.mktemp("pkg_crash"))
    create_package(spark, transcripts, d, CFG)
    n_before = open_package(spark, d)["file_meta"].count()

    # crash class 1: _tmp writes finished, phase 1 partially done
    # (blocks moved aside, file_meta/manifest still live)
    for n in _SWAP_TABLES:
        shutil.copytree(_p(d, n), _p(d, n) + "_tmp")
    os.rename(_p(d, "blocks"), _p(d, "blocks") + "_old")
    pkg = open_package(spark, d)  # must roll FORWARD (promote all _tmp)
    assert pkg["file_meta"].count() == n_before
    assert not any(
        os.path.exists(_p(d, n) + sfx) for n in _SWAP_TABLES for sfx in ("_tmp", "_old")
    )
    assert roundtrip_mismatches(transcripts, extract_package(spark, d)).count() == 0

    # crash class 2: died during the _tmp writes (partial/garbage tmp, live
    # tables untouched) -> roll BACK (drop tmp, keep live)
    os.makedirs(_p(d, "blocks") + "_tmp")
    with open(os.path.join(_p(d, "blocks") + "_tmp", "part-garbage"), "w") as f:
        f.write("not parquet")
    pkg = open_package(spark, d)
    assert pkg["file_meta"].count() == n_before
    assert not os.path.exists(_p(d, "blocks") + "_tmp")
    assert roundtrip_mismatches(transcripts, extract_package(spark, d)).count() == 0


@pytest.fixture(scope="module")
def two_packages(spark, transcripts, tmp_path_factory):
    """A package of the first half of the conversations, and the second half
    to be packaged over it."""
    ids = sorted(r["conv_id"] for r in transcripts.select("conv_id").distinct().collect())
    old = transcripts.filter(F.col("conv_id").isin(ids[: len(ids) // 2]))
    new = transcripts.filter(F.col("conv_id").isin(ids[len(ids) // 2 :]))
    d = str(tmp_path_factory.mktemp("pkg_old"))
    create_package(spark, old, d, CFG)
    return d, old, new


@pytest.mark.parametrize(
    "target, n, committed",
    [
        ("parquet", 1, False),  # blocks_tmp
        ("parquet", 2, False),  # file_meta_tmp
        ("parquet", 3, False),  # manifest_tmp: no commit record
        ("rename", 1, True),  # blocks -> blocks_old
        ("rename", 3, True),  # manifest -> manifest_old
        ("rename", 6, True),  # manifest_tmp -> manifest
    ],
)
def test_create_over_a_package_that_dies_mid_commit(
    spark, two_packages, tmp_path, crash_at, target, n, committed
):
    """dedup -c over an existing package that dies anywhere in its write
    leaves exactly one of the two packages: the old one before the commit
    record exists, the new one after — never one's blocks under the other's
    file_meta or manifest."""
    base, old, new = two_packages
    d = str(tmp_path / "pkg")
    shutil.copytree(base, d)
    with crash_at(target, n):
        create_package(spark, new, d, CFG)
    open_package(spark, d)
    want = new if committed else old
    assert roundtrip_mismatches(want, extract_package(spark, d)).count() == 0
