"""Golden chunker tests — SURVEY.md §5.3.

The vectorized cut walk must agree cut-for-cut with the byte-at-a-time
transliteration of /root/reference/src/dedup.c:402-546 (which itself was
validated against the compiled reference binary: identical unique/total block
counts on an 8-file corpus, see PROGRESS notes).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from deduputil_spark.config import DedupConfig
from deduputil_spark.functions.hashes import (
    adler32_checksum,
    adler32_rolling,
    cdc_cuts_fast,
    cdc_cuts_ref,
    fsp_cuts,
    rabin_hash32,
    rabin_window_hashes,
    sb_spans,
)

rng = random.Random(1234)


@pytest.mark.parametrize("n", [0, 1, 47, 48, 100, 511, 512, 513, 5000, 40000, 131072, 140001])
def test_cdc_fast_matches_reference_walk(n):
    data = bytes(rng.randrange(256) for _ in range(n))
    assert cdc_cuts_fast(data) == cdc_cuts_ref(data)


@pytest.mark.parametrize("fn", ["rabin", "elf"])
def test_cdc_nonrolling_paths_match(fn):
    data = bytes(rng.randrange(256) for _ in range(30000))
    assert cdc_cuts_fast(data, cut_hash=fn) == cdc_cuts_ref(data, cut_hash=fn)
    # with embedded NULs (strlen truncation semantics)
    data2 = bytes(rng.randrange(256) for _ in range(8000)) + b"\x00" + bytes(rng.randrange(256) for _ in range(8000))
    assert cdc_cuts_fast(data2, cut_hash=fn) == cdc_cuts_ref(data2, cut_hash=fn)


def test_elf_hash_vectorized_matches_scalar():
    from deduputil_spark.functions.hashes import elf_hash, elf_window_hashes

    data = bytes(rng.randrange(1, 256) for _ in range(300))
    hw = elf_window_hashes(data)
    for i in range(0, len(data) - 48 + 1, 11):
        assert int(hw[i]) == elf_hash(data[i : i + 48])


def test_cdc_block_size_bounds():
    data = bytes(rng.randrange(256) for _ in range(300000))
    cuts = cdc_cuts_fast(data)
    sizes = np.diff([0] + cuts)
    assert sizes.min() >= 512
    assert sizes.max() <= 32768 + 48 - 1  # max forced cut, or match at head p+max-1


def test_adler_rolling_consistency():
    """Rolling state mod 4096 equals the plain window byte-sum (the identity
    the vectorized cut mask relies on)."""
    data = bytes(rng.randrange(256) for _ in range(5000))
    s = np.frombuffer(data, dtype=np.int8).astype(np.int64)
    h = adler32_checksum(data[:48])
    for k in range(1, 2000):
        h = adler32_rolling(h, 48, int(s[k - 1]), int(s[k + 47]))
        assert h % 4096 == int(s[k : k + 48].sum()) % 4096


def test_adler_collision_pair():
    """'baab' vs 'abba' repeated blocks: identical adler32, different bytes."""
    a = (b"baab" * 12)
    b = (b"abba" * 12)
    assert a != b
    assert adler32_checksum(a) == adler32_checksum(b)


def test_rabin_windows_vectorized():
    data = bytes(rng.randrange(256) for _ in range(500))
    hw = rabin_window_hashes(data)
    for i in range(0, len(data) - 48 + 1, 13):
        assert int(hw[i]) == rabin_hash32(data[i : i + 48])


def test_fsp_cuts():
    assert fsp_cuts(0) == []
    assert fsp_cuts(4095) == []
    assert fsp_cuts(4096) == [4096]
    assert fsp_cuts(10000) == [4096, 8192]


def test_cdc_fast_nonpow2_blocksize_falls_back_to_ref():
    """Non-power-of-two block_size: cdc_cuts_fast must still equal the scalar
    reference walk (byte-sum shortcut invalid -> explicit fallback)."""
    import numpy as np

    from deduputil_spark.functions.hashes import cdc_cuts_fast, cdc_cuts_ref

    rng = np.random.default_rng(9)
    data = bytes(rng.integers(0, 256, 20000, dtype=np.uint8))
    for bs in (3000, 5000):
        fast = cdc_cuts_fast(data, block_size=bs, min_size=256, max_size=4096)
        ref = cdc_cuts_ref(data, block_size=bs, min_size=256, max_size=4096)
        assert fast == ref, (bs, fast[:5], ref[:5])


def test_config_block_size_matches_reference_binary_domain():
    """The reference -b accepts any positive size (ADVICE r2): fsp/rabin at
    -b 1000 are valid configs; only non-positive sizes are rejected.  Non-pow2
    adler CDC stays exact via cdc_cuts_fast's scalar fallback (tested above)."""
    import pytest as _pytest

    from deduputil_spark.config import DedupConfig

    with _pytest.raises(ValueError):
        DedupConfig(block_size=0)
    with _pytest.raises(ValueError):
        DedupConfig(block_size=-4096)
    DedupConfig(block_size=3000)          # non-pow2 CDC: exact scalar fallback
    DedupConfig(block_size=131072)        # > 65536: same
    DedupConfig(block_size=1000, chunk_algo="fsp")
    DedupConfig(block_size=1000, cut_hash="rabin")


def test_config_rejects_min_size_below_window():
    """block_min_size < BLOCK_WIN would make the first skip-ahead head
    negative, where cdc_cuts_fast and cdc_cuts_ref disagree; the config
    rejects it, and at the bound the two walks cut alike."""
    import numpy as np
    import pytest as _pytest

    from deduputil_spark.config import DedupConfig
    from deduputil_spark.functions.hashes import BLOCK_WIN, cdc_cuts_fast, cdc_cuts_ref

    with _pytest.raises(ValueError, match="block_min_size"):
        DedupConfig(block_size=64, block_min_size=BLOCK_WIN - 1, block_max_size=256)
    DedupConfig(block_size=64, block_min_size=BLOCK_WIN, block_max_size=256)
    r = np.random.default_rng(3)
    for _ in range(10):
        data = bytes(r.integers(0, 256, 3000, dtype=np.uint8))
        fast = cdc_cuts_fast(data, 64, BLOCK_WIN, 256)
        assert fast and fast == cdc_cuts_ref(data, 64, BLOCK_WIN, 256)


@pytest.mark.parametrize(
    "fn", ["simple", "rs", "js", "pjw", "elf", "bkdr", "sdbm", "djb", "ap", "crc", "rabin"]
)
def test_cut_hash_window_matches_scalar(fn):
    from deduputil_spark.functions.hashes import CUT_HASH_SCALAR, CUT_HASH_WINDOW

    data = bytes(rng.randrange(1, 256) for _ in range(500))
    hw = CUT_HASH_WINDOW[fn](data)
    sf = CUT_HASH_SCALAR[fn]
    for i in range(0, len(data) - 48 + 1, 13):
        assert int(hw[i]) == sf(data[i : i + 48]), (fn, i)


@pytest.mark.parametrize(
    "fn", ["simple", "rs", "js", "pjw", "bkdr", "sdbm", "djb", "ap", "crc"]
)
def test_cdc_new_cut_hashes_fast_matches_ref(fn):
    data = bytes(rng.randrange(256) for _ in range(25000))
    assert cdc_cuts_fast(data, cut_hash=fn) == cdc_cuts_ref(data, cut_hash=fn)
    data2 = (
        bytes(rng.randrange(256) for _ in range(8000))
        + b"\x00"
        + bytes(rng.randrange(256) for _ in range(8000))
    )
    assert cdc_cuts_fast(data2, cut_hash=fn) == cdc_cuts_ref(data2, cut_hash=fn)


# ---------------------------------------------------------------------------
# Arrow chunker vs the golden references: `make_arrow_chunker` on pyarrow
# RecordBatches must emit, for every document, the cuts of cdc_cuts_ref /
# fsp_cuts / sb_spans plus the always-emitted tail, each chunk's weak32 from
# adler32_checksum, and chunk bytes that tile the document — on every string
# layout `utf8_buffer_view` reads.
# ---------------------------------------------------------------------------

def _is_utf8(data: bytes) -> bool:
    try:
        data.decode()
    except UnicodeDecodeError:
        return False
    return True


def _docs_corpus():
    # empty doc, sub-min doc, exact block, multi-byte utf8, big random, NULs
    return [
        b"",
        b"tiny",
        bytes(rng.randrange(256) for _ in range(512)),
        ("héllo wörld é" * 400).encode("utf-8"),
        bytes(rng.randrange(256) for _ in range(50000)),
        bytes(rng.randrange(256) for _ in range(4000)) + b"\x00\x00" + bytes(rng.randrange(256) for _ in range(4000)),
        bytes(rng.randrange(256) for _ in range(4096)),
    ]


@pytest.mark.parametrize(
    "cfg",
    [
        DedupConfig(),
        DedupConfig(chunk_algo="fsp"),
        DedupConfig(chunk_algo="sb", block_size=1024),
        DedupConfig(cut_hash="rabin"),
        DedupConfig(block_size=1000),  # non-pow2 adler -> scalar fallback path
    ],
    ids=["cdc-adler", "fsp", "sb", "cdc-rabin", "cdc-adler-nonpow2"],
)
def test_arrow_batch_chunker_matches_scalar_walk(cfg):
    import pyarrow as pa

    from deduputil_spark.operators.chunk import make_arrow_chunker

    def golden(cid, data):
        if cfg.chunk_algo == "fsp":
            cuts = fsp_cuts(len(data), cfg.block_size)
        elif cfg.chunk_algo == "sb":
            spans, tail_start = sb_spans(data, cfg.block_size)
            cuts = [e for _, e in spans]
            assert tail_start == (cuts[-1] if cuts else 0)
        else:
            cuts = cdc_cuts_ref(data, cfg.block_size, cfg.block_min_size, cfg.block_max_size, cfg.cut_hash)
        ends = [*cuts, len(data)]
        return [
            (cid, j, data[s:e], e - s, adler32_checksum(data[s:e]), j == len(cuts))
            for j, (s, e) in enumerate(zip([0, *cuts], ends))
        ]

    docs = {f"c{i}": d for i, d in enumerate(_docs_corpus())}
    with_nulls = {k: v for c, d in docs.items() for k, v in ((c, d), (c + "-null", None))}
    text = {c: d.decode() for c, d in docs.items() if _is_utf8(d)}

    def strings(values, typ=pa.binary(), as_type=pa.string()):
        # a binary view keeps non-UTF-8 bytes: the chunker reads bytes, not text
        return pa.array(values, type=typ).view(as_type)

    layouts = {  # name -> (conv_id -> doc, its doc_text column)
        "plain": (docs, strings(list(docs.values()))),
        "sliced": (docs, strings([b"pad", *docs.values(), b"pad"]).slice(1, len(docs))),
        "large_string": (docs, strings(list(docs.values()), pa.large_binary(), pa.large_string())),
        "nulls": (with_nulls, strings(list(with_nulls.values()))),
        # a dictionary column is decoded by `utf8_buffer_view` first
        "dictionary": (text, pa.array(list(text.values())).dictionary_encode()),
    }
    chunker = make_arrow_chunker(cfg)
    for name, (by_id, txt) in layouts.items():
        batch = pa.RecordBatch.from_arrays([pa.array(list(by_id)), txt], names=["conv_id", "doc_text"])
        (out,) = chunker([batch])
        got = list(zip(*(col.to_pylist() for col in out.columns)))
        want = [
            r for c, d in by_id.items()
            for r in golden(c, d.encode() if isinstance(d, str) else d or b"")
        ]
        assert len(got) == len(want), name
        for g, w in zip(got, want):
            assert g == w, (name, g[:2], w[:2])
