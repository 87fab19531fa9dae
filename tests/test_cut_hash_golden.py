"""Golden validation of the full CDC cut-hash family against the COMPILED
reference binary (`dedup -c -C CDC -f <name>` — reference src/dedup.c:73-115,
hash functions src/hash.c:5-182).

For every selectable hash function the unique/duplicated block counts of the
reference package must equal the counts our `cdc_cuts_ref` chunking produces
on the same files.  The binary's counts on this corpus are pinned below as
literals, so every host runs the comparison; where the binary exists or can
be rebuilt, each test also compares against it directly.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import subprocess

import pytest

from deduputil_spark.functions.hashes import cdc_cuts_ref

BIN = "/tmp/refbuild/dedup"

# The compiled binary's (unique, duplicated) block counts on the `corpus`
# fixture, and for -z its stored block bytes.  Recorded from `cdc_cuts_ref` and
# `sb_spans` at 837691b, the last commit to change them or the cut hashes
# they call; at that commit these tests ran green against the binary itself,
# so the recorded counts are the binary's.
BINARY_CDC = {
    "simple": (15, 6),
    "rs": (22, 8),
    "js": (15, 3),
    "pjw": (16, 1),
    "elf": (16, 1),
    "bkdr": (16, 5),
    "sdbm": (19, 8),
    "djb": (18, 5),
    "ap": (14, 7),
    "crc": (14, 5),
    "rabin": (15, 1),
    "adler": (40, 11),
}
BINARY_SB = (14, 8)
BINARY_BLOCK_SIZE = {1024: (47, 14), 8192: (40, 11)}
BINARY_Z = (40, 11)
BINARY_Z_STORED_BYTES = 57639

REF_NAME = {
    "simple": "simple_hash",
    "rs": "RS_hash",
    "js": "JS_hash",
    "pjw": "PJW_hash",
    "elf": "ELF_hash",
    "bkdr": "BKDR_hash",
    "sdbm": "SDBM_hash",
    "djb": "DJB_hash",
    "ap": "AP_hash",
    "crc": "CRC_hash",
    "rabin": "rabin_hash",
    "adler": "adler_hash",
}


def _build_binary() -> bool:
    if os.path.exists(BIN):
        return True
    if shutil.which("gcc") is None:
        return False
    src = "/root/reference/src"
    os.makedirs("/tmp/refbuild", exist_ok=True)
    files = "dedup.c md5.c hash.c rabinhash32.c checksum.c libz.c listdb.c bloom.c hashdb.c bighashtable.c"
    cmd = (
        f"cd /tmp/refbuild && cp {src}/*.c {src}/*.h . && "
        f"gcc -w -std=gnu89 -include string.h -o dedup {files} -lz"
    )
    return subprocess.run(cmd, shell=True, capture_output=True).returncode == 0


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("goldcorpus")
    rng = random.Random(4242)
    base = bytes(rng.randrange(1, 256) for _ in range(30000))  # NUL-free (C strings)
    paths = []
    for name, payload in [
        ("f1.bin", base + base[:10000]),
        ("f2.bin", base[5000:25000] + bytes(rng.randrange(1, 256) for _ in range(20000))),
        # > 128 KB so the reference's buffer-refill path is exercised too
        ("f3.txt", (" ".join(f"word{i % 500}" for i in range(20000))).encode()),
    ]:
        p = d / name
        p.write_bytes(payload)
        paths.append(str(p))
    return paths


def _ref_counts(pkg: str) -> tuple[int, int]:
    out = subprocess.run([BIN, "-s", "-v", pkg], capture_output=True, text=True).stderr
    uniq = int(re.search(r"block_num = (\d+)", out).group(1))
    dup = int(re.search(r"duplicated block number: (\d+)", out).group(1))
    return uniq, dup


def _toggling_rabin():
    """The binary's call-parity rabin — now the library's public bug-compat
    scalar (hashes.rabin_bugcompat_scalar); share ONE instance across the
    whole multi-file run to golden-match the binary's global table state."""
    from deduputil_spark.functions.hashes import rabin_bugcompat_scalar

    return rabin_bugcompat_scalar()


@pytest.mark.parametrize("fn", sorted(REF_NAME))
def test_cut_hash_family_matches_compiled_reference(fn, corpus, tmp_path):
    want_uniq, want_dup = BINARY_CDC[fn]
    if _build_binary():
        pkg = str(tmp_path / f"{fn}.ded")
        r = subprocess.run(
            [BIN, "-c", "-C", "CDC", "-f", REF_NAME[fn], pkg, *corpus], capture_output=True
        )
        assert r.returncode == 0, r.stderr[-300:]
        assert _ref_counts(pkg) == (want_uniq, want_dup), fn
    cut_fn = _toggling_rabin() if fn == "rabin" else fn  # shared parity across files
    chunks = []
    for p in corpus:
        data = open(p, "rb").read()
        cuts = cdc_cuts_ref(data, cut_hash=cut_fn)
        prev = 0
        for c in cuts:
            chunks.append(data[prev:c])
            prev = c
    from collections import Counter

    counts = Counter(chunks)
    uniq = len(counts)
    # reference dup_blocks_nr = unique blocks referenced MORE than once
    # (dedup.c:1366-1372), not total minus unique
    dup = sum(1 for c in counts.values() if c > 1)
    assert (uniq, dup) == (want_uniq, want_dup), (fn, uniq, dup, want_uniq, want_dup)


def test_sb_chunking_matches_compiled_reference(corpus, tmp_path):
    """SB sliding-block mode (-C SB, file_chunk_sb dedup.c:551-711): the
    sequential shared-state transliteration must reproduce the binary's
    unique/duplicated block counts on the same files in the same order."""
    from collections import Counter

    from deduputil_spark.functions.hashes import SBState, sb_spans

    want_uniq, want_dup = BINARY_SB
    if _build_binary():
        pkg = str(tmp_path / "sb.ded")
        r = subprocess.run([BIN, "-c", "-C", "SB", pkg, *corpus], capture_output=True)
        assert r.returncode == 0, r.stderr[-300:]
        assert _ref_counts(pkg) == (want_uniq, want_dup)
    st = SBState()
    chunks = []
    for p in corpus:
        data = open(p, "rb").read()
        spans, _tail = sb_spans(data, state=st)
        chunks.extend(data[s:e] for s, e in spans)
    counts = Counter(chunks)
    uniq = len(counts)
    dup = sum(1 for c in counts.values() if c > 1)
    assert (uniq, dup) == (want_uniq, want_dup), (uniq, dup, want_uniq, want_dup)


@pytest.mark.parametrize("bs", [1024, 8192])
def test_cdc_nondefault_block_size_matches_compiled_reference(bs, corpus, tmp_path):
    """-b <size>: the reference scales its CDC divisor D with the block size
    (D == g_block_size); our parametrized walk must track it exactly."""
    from collections import Counter

    want_uniq, want_dup = BINARY_BLOCK_SIZE[bs]
    if _build_binary():
        pkg = str(tmp_path / f"bs{bs}.ded")
        r = subprocess.run([BIN, "-c", "-C", "CDC", "-b", str(bs), pkg, *corpus], capture_output=True)
        assert r.returncode == 0, r.stderr[-300:]
        assert _ref_counts(pkg) == (want_uniq, want_dup), bs
    chunks = []
    for p in corpus:
        data = open(p, "rb").read()
        cuts = cdc_cuts_ref(data, block_size=bs)
        prev = 0
        for c in cuts:
            chunks.append(data[prev:c])
            prev = c
    counts = Counter(chunks)
    got = (len(counts), sum(1 for c in counts.values() if c > 1))
    assert got == (want_uniq, want_dup), (bs, got, want_uniq, want_dup)
    # and the vectorized walk tracks the scalar one at this size too
    from deduputil_spark.functions.hashes import cdc_cuts_fast

    d0 = open(corpus[0], "rb").read()
    assert cdc_cuts_fast(d0, block_size=bs) == cdc_cuts_ref(d0, block_size=bs)


def test_zlib_mode_matches_compiled_reference_bytes(corpus, tmp_path):
    """F4 full `-z` semantics vs the binary, byte-exact.

    With -z the reference compresses each CDC chunk (zlib, Z_DEFAULT_COMPRESSION
    — /root/reference/src/libz.c:270-279) BEFORE hashing, so the dedup key is
    md5(zlib(chunk)) and the package stores compressed bytes
    (/root/reference/src/dedup.c:462-473).  Three golden signals on the same
    files:

    - unique/duplicated block counts match (dedup decisions on compressed keys);
    - block_z = 1 in the package header;
    - total stored block bytes match EXACTLY: ldata_offset − sizeof(header)
      (40 bytes, /root/reference/src/dedup.h:60-70) equals the sum of OUR
      zlib-compressed unique block lengths — this certifies that Python's
      zlib.compress(block, 6) is byte-identical to the binary's
      zlib_compress_block on this host (same libz, same defaults).

    Without the binary the pinned byte total stands in for ldata_offset; it
    assumes a zlib whose level-6 deflate output matches the one it was
    recorded with.
    """
    import zlib
    from collections import Counter

    want_uniq, want_dup = BINARY_Z
    want_stored = BINARY_Z_STORED_BYTES
    if _build_binary():
        pkg = str(tmp_path / "z.ded")
        r = subprocess.run([BIN, "-z", "-c", "-C", "CDC", pkg, *corpus], capture_output=True)
        assert r.returncode == 0, r.stderr[-300:]
        assert _ref_counts(pkg) == (want_uniq, want_dup)
        out = subprocess.run([BIN, "-s", "-v", pkg], capture_output=True, text=True).stderr
        assert re.search(r"block_z = 1", out), out
        ldata_offset = int(re.search(r"ldata_offset = (\d+)", out).group(1))
        assert ldata_offset - 40 == want_stored, ldata_offset

    counts = Counter()
    for p in corpus:
        data = open(p, "rb").read()
        cuts = cdc_cuts_ref(data)
        prev = 0
        for c in cuts:
            counts[zlib.compress(data[prev:c], 6)] += 1
            prev = c
    uniq = len(counts)
    dup = sum(1 for c in counts.values() if c > 1)
    assert (uniq, dup) == (want_uniq, want_dup), (uniq, dup, want_uniq, want_dup)
    stored = sum(len(cb) for cb in counts)  # each unique block stored once
    assert stored == want_stored, (stored, want_stored)
