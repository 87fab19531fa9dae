"""Hash + chunking primitives matching the reference's semantics.

Reference semantics (studied, not copied):
- adler32 weak checksum + O(1) rolling update: /root/reference/src/checksum.c:7-40
  (CHAR_OFFSET == 0, /root/reference/src/checksum.h).  NOTE: C `char` is signed
  on x86, so bytes are interpreted as int8; all arithmetic wraps in uint32 and
  the rolling state truncates s1/s2 to 16 bits each step.
- CDC content-defined chunking: /root/reference/src/dedup.c:402-546 —
  window 48, cut when hash(window) % block_size == 13, min 512 / max 32768,
  skip-ahead of (min - win) bytes after each cut, fresh adler after skip,
  rolling adler while sliding.
- FSP fixed-size chunking: /root/reference/src/dedup.c:716-764 — stride blocks
  of exactly block_size; the trailing `N % block_size` bytes are the raw
  "last block" (never deduped).
- rabinhash32 (GF(2) polynomial, table-driven): /root/reference/src/rabinhash32.c
  — note the reference calls it with poly P=1 via rabin_hash().

Two implementations of the CDC cut walk live here:
- `cdc_cuts_ref`: direct byte-at-a-time transliteration of the C control flow
  (golden oracle for tests; computes the genuine 32-bit rolling hkey).
- `cdc_cuts_fast`: vectorized numpy, the walk the chunk operator runs on
  every document (`fsp_cuts` and `sb_spans` are its FSP and SB walks, and
  `adler32_checksum` its chunks' weak32).  Key derivation: with CHAR_OFFSET == 0 the
  rolling state satisfies s1 ≡ sum(window signed bytes) (mod 2^16) — the
  fresh/rolling distinction telescopes away — and since block_size (4096)
  divides 2^16, `hkey % 4096 == (s1 mod 4096)`.  The cut-candidate mask is
  therefore a sliding-window sum, computable for ALL positions at once; only
  the min/max/skip walk is sequential and it is O(number of cuts).  That walk
  is `cdc_walk`.  An adler block size that does not divide 2^16 falls back
  to `cdc_cuts_ref`.
"""

from __future__ import annotations

import numpy as np

BLOCK_WIN = 48  # CDC rolling window (reference src/dedup.h:51)
CDC_R = 13  # CDC cut residue: cut when hash(window) % block_size == CDC_R (dedup.h:112)
U32 = 0xFFFFFFFF


# ---------------------------------------------------------------------------
# adler32 (reference weak checksum; signed-char semantics)
# ---------------------------------------------------------------------------

def adler32_checksum(data: bytes) -> int:
    """Full-window weak checksum, semantics of /root/reference/src/checksum.c:7-24."""
    a = np.frombuffer(data, dtype=np.int8).astype(np.int64)
    s1 = int(a.sum())
    # s2 = sum of prefix-inclusive s1 values == sum over i of (len - i) * byte[i]
    n = len(a)
    s2 = int((a * np.arange(n, 0, -1)).sum())
    return ((s1 & 0xFFFF) + ((s2 << 16) & U32)) & U32


def adler32_rolling(csum: int, length: int, c1: int, c2: int) -> int:
    """O(1) roll, semantics of /root/reference/src/checksum.c:30-40.

    c1/c2 are SIGNED byte values (int8) of the outgoing/incoming chars.
    """
    s1 = csum & 0xFFFF
    s2 = (csum >> 16) & 0xFFFF
    s1 = (s1 - (c1 - c2)) & U32
    s2 = (s2 - (length * c1 - s1)) & U32
    return ((s1 & 0xFFFF) + ((s2 << 16) & U32)) & U32


# ---------------------------------------------------------------------------
# rabinhash32 (GF(2) polynomial hash; /root/reference/src/rabinhash32.c)
# ---------------------------------------------------------------------------

def _rabin_tables(poly: int = 1) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Build the four 256-entry shift tables (int32 semantics in uint32 arrays)."""
    p_degree = 32
    x_p_degree = 1 << (p_degree - 1)
    mods = [0] * p_degree
    mods[0] = poly & U32
    for i in range(1, p_degree):
        last = mods[i - 1]
        this = (last << 1) & U32
        if last & x_p_degree:
            this ^= poly & U32
        mods[i] = this
    t32 = np.zeros(256, dtype=np.uint32)
    t40 = np.zeros(256, dtype=np.uint32)
    t48 = np.zeros(256, dtype=np.uint32)
    t56 = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        c = i
        j = 0
        while j < 8 and c > 0:
            if c & 1:
                t32[i] ^= mods[j]
                t40[i] ^= mods[j + 8]
                t48[i] ^= mods[j + 16]
                t56[i] ^= mods[j + 24]
            c >>= 1
            j += 1
    return t32, t40, t48, t56


_RABIN_T = None


def _get_rabin_tables():
    global _RABIN_T
    if _RABIN_T is None:
        _RABIN_T = _rabin_tables(1)
    return _RABIN_T


def rabin_hash32(data: bytes) -> int:
    """rabinhash32 with poly=1 over `data` (reference rabin_hash semantics,
    /root/reference/src/rabinhash32.c:85-94, minus the strlen truncation —
    callers must pre-truncate at NUL to match C exactly).

    DOCUMENTED DIVERGENCE from the compiled binary: the C initialize_tables()
    (rabinhash32.c:10-49) XORs into its static tables on EVERY rabinhash32()
    call without zeroing, so the binary's tables toggle real/zero on
    alternating calls — per-window hashes depend on global call parity (a
    reference bug; also why dedup.c:441 calls rabin "very bad" — it rebuilds
    tables per window).  We implement the corrected single-initialization
    semantics; tests/test_cut_hash_golden.py golden-matches the binary by
    emulating the toggle explicitly."""
    t32, t40, t48, t56 = _get_rabin_tables()
    a = np.frombuffer(data, dtype=np.uint8)
    w = np.uint64(0)
    s = 0
    starter = len(a) % 4
    w = 0
    for i in range(starter):
        w = ((w << 8) ^ int(a[i])) & U32
    s = starter
    while s < len(a):
        shifted = int(t32[w & 0xFF]) ^ int(t40[(w >> 8) & 0xFF]) ^ int(t48[(w >> 16) & 0xFF]) ^ int(t56[(w >> 24) & 0xFF])
        # C does (A[s] << 24) on a SIGNED char -> sign-extends; in uint32 terms
        # that is ((int8)A[s] << 24) & U32, identical to (A[s] & 0xFF) << 24.
        w = (shifted ^ (int(a[s]) << 24) ^ (int(a[s + 1]) << 16) ^ (int(a[s + 2]) << 8) ^ int(a[s + 3])) & U32
        s += 4
    return w & U32


def rabin_bugcompat_scalar():
    """Bug-compatible rabin for BYTE-EXACT interop with packages the compiled
    binary produced with `-f rabin_hash` (ADVICE r2).

    The binary's initialize_tables() XORs into its static tables on every
    rabinhash32() call without zeroing (/root/reference/src/rabinhash32.c:10-49),
    so odd-numbered calls see real tables and even-numbered calls see all-zero
    tables (the hash degenerates to the last 4 bytes big-endian).  This factory
    returns a STATEFUL scalar carrying that call parity; pass it as
    `cdc_cuts_ref(..., cut_hash=rabin_bugcompat_scalar())`, sharing ONE
    instance across all files of a run exactly like the binary's globals.

    Deliberately NOT a DedupConfig cut_hash name: the parity is global
    sequential state, so it cannot be computed distributed/parallel — which is
    precisely why the repo default uses corrected single-init semantics
    (rabin_hash32 above; divergence also noted in README/COVERAGE)."""
    state = {"n": 0}

    def zero_table_rabin(b: bytes) -> int:
        w = 0
        starter = len(b) % 4
        for i in range(starter):
            w = ((w << 8) ^ b[i]) & U32
        s = starter
        while s < len(b):
            w = ((b[s] << 24) ^ (b[s + 1] << 16) ^ (b[s + 2] << 8) ^ b[s + 3]) & U32
            s += 4
        return w

    def fn(b: bytes) -> int:
        state["n"] += 1
        return rabin_hash32(b) if state["n"] % 2 == 1 else zero_table_rabin(b)

    return fn


def rabin_window_hashes(data: bytes) -> np.ndarray:
    """rabinhash32(poly=1) of every length-`BLOCK_WIN` window, vectorized across
    positions (BLOCK_WIN/4 table-gather rounds over all windows at once)."""
    t32, t40, t48, t56 = _get_rabin_tables()
    a = np.frombuffer(data, dtype=np.uint8).astype(np.uint32)
    n = len(a) - BLOCK_WIN + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    w = np.zeros(n, dtype=np.uint32)
    idx = np.arange(n)
    for k in range(0, BLOCK_WIN, 4):
        shifted = (
            t32[w & 0xFF]
            ^ t40[(w >> np.uint32(8)) & 0xFF]
            ^ t48[(w >> np.uint32(16)) & 0xFF]
            ^ t56[(w >> np.uint32(24)) & 0xFF]
        )
        w = (
            shifted
            ^ (a[idx + k] << np.uint32(24))
            ^ (a[idx + k + 1] << np.uint32(16))
            ^ (a[idx + k + 2] << np.uint32(8))
            ^ a[idx + k + 3]
        )
    return w.astype(np.uint64)


# ---------------------------------------------------------------------------
# ELF hash (the reference's recommended CDC cut hash —
# /root/reference/src/hash.c:69-85, praised at /root/reference/src/dedup.c:443)
# ---------------------------------------------------------------------------

def elf_hash(data: bytes) -> int:
    """ELF_hash over `data` (C-string semantics: caller pre-truncates at NUL).
    NOTE: `*str` is a signed char — bytes ≥ 0x80 add negative values."""
    h = 0
    for b in np.frombuffer(data, dtype=np.int8):
        h = ((h << 4) + int(b)) & U32
        x = h & 0xF0000000
        if x:
            h ^= x >> 24
            h &= (~x) & U32
    # ELF_hash's final `& 0x7FFFFFFF` (hash.c:84).  The loop clears the top
    # nibble every iteration so this is provably a no-op, kept for literal
    # parity with the reference.
    return h & 0x7FFFFFFF


def elf_window_hashes(data: bytes) -> np.ndarray:
    """ELF_hash of every length-`BLOCK_WIN` window, vectorized across positions
    (BLOCK_WIN sequential steps, each a full-array op)."""
    a = np.frombuffer(data, dtype=np.int8).astype(np.int64)
    n = len(a) - BLOCK_WIN + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    h = np.zeros(n, dtype=np.int64)
    idx = np.arange(n)
    for k in range(BLOCK_WIN):
        h = ((h << 4) + a[idx + k]) & U32
        x = h & 0xF0000000
        nz = x != 0
        h = np.where(nz, (h ^ (x >> 24)) & (~x & U32), h)
    return (h & 0x7FFFFFFF).astype(np.uint64)  # ELF_hash final mask (hash.c:84)


# ---------------------------------------------------------------------------
# Remaining CDC cut-hash family (/root/reference/src/hash.c:5-182, selectable
# via -f through CDC_CHUNK_HASHFUNC, /root/reference/src/dedup.c:73-115).
#
# C semantics carried over exactly:
# - `char *str` functions see SIGNED chars (bytes >= 0x80 add negative,
#   wrapping in uint32); simple_hash alone casts to unsigned char, and
#   CRC_hash reads unsigned little-endian uint16 words.
# - every function stops at the first NUL (strlen) — scalar versions take
#   NUL-pre-truncated bytes, the cut walks do the truncation.
# - all (except CRC) return `hash & 0x7FFFFFFF`.
# ---------------------------------------------------------------------------

_U32_64 = np.uint64(U32)
_M31_64 = np.uint64(0x7FFFFFFF)

# RS_hash's evolving multiplier a_k = 63689 * 378551^k mod 2^32
_RS_A = [63689]
for _ in range(BLOCK_WIN):
    _RS_A.append((_RS_A[-1] * 378551) & U32)


def simple_hash(data: bytes) -> int:
    """simple_hash (hash.c:5-14) — the one UNSIGNED-char function."""
    h = 0
    for b in data:
        h = (31 * h + b) & U32
    return h & 0x7FFFFFFF


def rs_hash(data: bytes) -> int:
    while len(_RS_A) < len(data):
        _RS_A.append((_RS_A[-1] * 378551) & U32)
    h = 0
    for k, c in enumerate(np.frombuffer(data, dtype=np.int8)):
        h = (h * _RS_A[k] + int(c)) & U32
    return h & 0x7FFFFFFF


def js_hash(data: bytes) -> int:
    h = 1315423911
    for c in np.frombuffer(data, dtype=np.int8):
        h = (h ^ ((h << 5) + int(c) + (h >> 2))) & U32
    return h & 0x7FFFFFFF


def pjw_hash(data: bytes) -> int:
    """PJW_hash (hash.c:44-66): like ELF but clears the WHOLE top nibble."""
    h = 0
    for c in np.frombuffer(data, dtype=np.int8):
        h = ((h << 4) + int(c)) & U32
        t = h & 0xF0000000
        if t:
            h = (h ^ (t >> 24)) & 0x0FFFFFFF
    return h & 0x7FFFFFFF


def bkdr_hash(data: bytes) -> int:
    h = 0
    for c in np.frombuffer(data, dtype=np.int8):
        h = (h * 131 + int(c)) & U32
    return h & 0x7FFFFFFF


def sdbm_hash(data: bytes) -> int:
    h = 0
    for c in np.frombuffer(data, dtype=np.int8):
        h = (int(c) + (h << 6) + (h << 16) - h) & U32
    return h & 0x7FFFFFFF


def djb_hash(data: bytes) -> int:
    h = 5381
    for c in np.frombuffer(data, dtype=np.int8):
        h = (h + (h << 5) + int(c)) & U32
    return h & 0x7FFFFFFF


def ap_hash(data: bytes) -> int:
    h = 0
    for i, c in enumerate(np.frombuffer(data, dtype=np.int8)):
        if (i & 1) == 0:
            h = (h ^ ((h << 7) ^ int(c) ^ (h >> 3))) & U32
        else:
            h = (h ^ (~((h << 11) ^ int(c) ^ (h >> 5)))) & U32
    return h & 0x7FFFFFFF


def crc_hash(data: bytes) -> int:
    """CRC_hash (hash.c:146-182): internet-checksum fold of LE uint16 words."""
    s = 0
    n = len(data)
    for i in range(0, n - 1, 2):
        s += data[i] | (data[i + 1] << 8)
    if n & 1:
        s += data[n - 1]
    s = (s >> 16) + (s & 0xFFFF)
    s += s >> 16
    return (~s) & 0xFFFF


def _signed_vals_u64(data: bytes) -> np.ndarray:
    """Signed-char byte values as 32-bit two's-complement in uint64 lanes."""
    return (np.frombuffer(data, dtype=np.int8).astype(np.int64) & U32).astype(np.uint64)


def _window_recurrence(data: bytes, init: int, step, signed: bool = True) -> np.ndarray:
    """Vectorize a byte recurrence across every window position.

    `step(h, c, k) -> h'` over uint64 lanes; h is pre-masked to 32 bits on
    entry to each step, so +,*,<<,&,|,^ (and >> on h) preserve uint32
    semantics; the result is masked after each step."""
    if signed:
        a = _signed_vals_u64(data)
    else:
        a = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(a) - BLOCK_WIN + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    h = np.full(n, init, dtype=np.uint64)
    for k in range(BLOCK_WIN):
        h = step(h, a[k : k + n], k) & _U32_64
    return h & _M31_64


def simple_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(data, 0, lambda h, c, k: h * np.uint64(31) + c, signed=False)


def rs_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(data, 0, lambda h, c, k: h * np.uint64(_RS_A[k]) + c)


def js_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(
        data, 1315423911, lambda h, c, k: h ^ ((h << np.uint64(5)) + c + (h >> np.uint64(2)))
    )


def _pjw_step(h, c, k):
    h = ((h << np.uint64(4)) + c) & _U32_64
    t = h & np.uint64(0xF0000000)
    return np.where(t != 0, (h ^ (t >> np.uint64(24))) & np.uint64(0x0FFFFFFF), h)


def pjw_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(data, 0, _pjw_step)


def bkdr_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(data, 0, lambda h, c, k: h * np.uint64(131) + c)


def sdbm_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(
        data, 0, lambda h, c, k: c + (h << np.uint64(6)) + (h << np.uint64(16)) - h
    )


def djb_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(data, 5381, lambda h, c, k: h + (h << np.uint64(5)) + c)


def _ap_step(h, c, k):
    if (k & 1) == 0:
        return h ^ ((h << np.uint64(7)) ^ c ^ (h >> np.uint64(3)))
    return h ^ (~((h << np.uint64(11)) ^ c ^ (h >> np.uint64(5))))


def ap_window_hashes(data: bytes) -> np.ndarray:
    return _window_recurrence(data, 0, _ap_step)


def crc_window_hashes(data: bytes) -> np.ndarray:
    """CRC_hash of every window, via parity-split cumulative byte sums (the
    LE word layout means low bytes sit at even in-window offsets)."""
    a = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    n = len(a) - BLOCK_WIN + 1
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    even_mask = np.arange(len(a)) % 2 == 0
    ce = np.concatenate(([0], np.cumsum(np.where(even_mask, a, 0))))
    ct = np.concatenate(([0], np.cumsum(a)))
    idx = np.arange(n)
    even_abs = ce[idx + BLOCK_WIN] - ce[idx]  # bytes at even ABSOLUTE positions
    total = ct[idx + BLOCK_WIN] - ct[idx]
    low = np.where(idx % 2 == 0, even_abs, total - even_abs)
    s = low + ((total - low) << 8)
    s = (s >> 16) + (s & 0xFFFF)
    s += s >> 16
    return ((~s) & 0xFFFF).astype(np.uint64)


CUT_HASH_SCALAR = {
    "rabin": rabin_hash32,
    "elf": elf_hash,
    "simple": simple_hash,
    "rs": rs_hash,
    "js": js_hash,
    "pjw": pjw_hash,
    "bkdr": bkdr_hash,
    "sdbm": sdbm_hash,
    "djb": djb_hash,
    "ap": ap_hash,
    "crc": crc_hash,
}

CUT_HASH_WINDOW = {
    "rabin": rabin_window_hashes,
    "elf": elf_window_hashes,
    "simple": simple_window_hashes,
    "rs": rs_window_hashes,
    "js": js_window_hashes,
    "pjw": pjw_window_hashes,
    "bkdr": bkdr_window_hashes,
    "sdbm": sdbm_window_hashes,
    "djb": djb_window_hashes,
    "ap": ap_window_hashes,
    "crc": crc_window_hashes,
}


# ---------------------------------------------------------------------------
# CDC cut walks
# ---------------------------------------------------------------------------

def cdc_cuts_ref(
    data: bytes,
    block_size: int = 4096,
    min_size: int = 512,
    max_size: int = 32768,
    cut_hash: str = "adler",
) -> list[int]:
    """Byte-at-a-time transliteration of /root/reference/src/dedup.c:402-546
    (stream view: the 128 KB buffer refills preserve these exact semantics).

    Returns emitted-block END offsets; bytes after the last cut are the raw
    tail ("last block", /root/reference/src/dedup.c:536-542).
    """
    n = len(data)
    signed = np.frombuffer(data, dtype=np.int8)
    scalar_fn = cut_hash if callable(cut_hash) else CUT_HASH_SCALAR.get(cut_hash)
    cuts: list[int] = []
    p = 0  # block start
    hkey = 0
    while True:
        h = p + (min_size - BLOCK_WIN)  # skip-ahead: bytes [p, h) enter block unhashed
        if h + BLOCK_WIN > n:
            break
        fresh = True
        while h + BLOCK_WIN <= n:
            if cut_hash == "adler":
                if fresh:
                    hkey = adler32_checksum(data[h : h + BLOCK_WIN])
                    fresh = False
                else:
                    hkey = adler32_rolling(
                        hkey, BLOCK_WIN, int(signed[h - 1]), int(signed[h + BLOCK_WIN - 1])
                    )
            else:  # non-rolling path (g_rolling_hash == 0): full rehash each window
                stop = data.find(b"\x00", h, h + BLOCK_WIN)  # C strlen truncation
                end = h + BLOCK_WIN if stop == -1 else stop
                hkey = scalar_fn(data[h:end])
            if hkey % block_size == CDC_R:
                cuts.append(h + BLOCK_WIN)
                p = h + BLOCK_WIN
                break
            h += 1
            if h - p == max_size:
                cuts.append(p + max_size)
                p = p + max_size
                break
        else:
            break  # ran out of windows mid-block -> tail
    return cuts


def cdc_cuts_fast(
    data: bytes,
    block_size: int = 4096,
    min_size: int = 512,
    max_size: int = 32768,
    cut_hash: str = "adler",
) -> list[int]:
    """Vectorized CDC walk — identical cuts to `cdc_cuts_ref` (golden-tested).

    adler path: cut condition reduces to sliding signed-byte window sum
    ≡ CDC_R (mod block_size) because block_size | 2^16 (see module docstring).
    rabin path: full window hashes vectorized across positions.
    """
    n = len(data)
    if n - BLOCK_WIN + 1 <= 0:
        return []
    if cut_hash == "adler" and ((block_size & (block_size - 1)) != 0 or block_size > 65536):
        # byte-sum residue shortcut requires block_size | 2^16; fall back to
        # the scalar reference walk rather than silently diverging
        return cdc_cuts_ref(data, block_size, min_size, max_size, cut_hash)
    if cut_hash == "adler":
        c = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.frombuffer(data, dtype=np.int8), dtype=np.int64, out=c[1:])
        wsum = c[BLOCK_WIN:] - c[:-BLOCK_WIN]  # wsum[h] = sum(data[h:h+BLOCK_WIN])
        match = (wsum & (block_size - 1)) == CDC_R  # block_size is a power of two here
    else:
        hk = CUT_HASH_WINDOW[cut_hash](data)
        # NUL-containing windows hash differently (strlen); handle lazily below
        match = (hk % np.uint64(block_size)) == np.uint64(CDC_R)
        if b"\x00" in data:
            scalar = CUT_HASH_SCALAR[cut_hash]
            zero_pos = np.frombuffer(data, dtype=np.uint8) == 0
            zc = np.concatenate(([0], np.cumsum(zero_pos)))
            has_nul = (zc[BLOCK_WIN:] - zc[:-BLOCK_WIN]) > 0
            bad = np.flatnonzero(has_nul)
            for h in bad:
                stop = data.find(b"\x00", h, h + BLOCK_WIN)
                match[h] = scalar(data[h:stop]) % block_size == CDC_R
    return cdc_walk(np.flatnonzero(match), n, min_size, max_size)


def cdc_walk(match_pos: np.ndarray, n: int, min_size: int, max_size: int) -> list[int]:
    """The min/skip/max walk of `cdc_cuts_ref` over precomputed candidates:
    `match_pos` holds, ascending, every window head whose hash meets the cut
    condition in an `n`-byte input.  O(number of cuts) `searchsorted` probes;
    returns the same block END offsets as `cdc_cuts_ref`."""
    cuts: list[int] = []
    nm = len(match_pos)
    p = 0
    last_head = n - BLOCK_WIN  # last evaluable window head
    while True:
        h0 = p + (min_size - BLOCK_WIN)
        if h0 + BLOCK_WIN > n:
            break
        hi_cap = p + max_size - 1  # last head before forced max cut
        j = int(np.searchsorted(match_pos, h0))
        if j < nm and match_pos[j] <= min(hi_cap, last_head):
            cut = int(match_pos[j]) + BLOCK_WIN
        elif hi_cap <= last_head:
            cut = p + max_size  # every head evaluated, none matched
        else:
            break  # windows ran out mid-block -> tail
        cuts.append(cut)
        p = cut
    return cuts


class SBState:
    """Sliding-block dedup state — the reference's cross-file g_sb_htable_crc
    (weak adler of stored fixed blocks) + the md5 block-store table."""

    __slots__ = ("crc", "md5s")

    def __init__(self) -> None:
        self.crc: set[int] = set()
        self.md5s: set[bytes] = set()


def sb_spans(
    data: bytes, block_size: int = 4096, state: SBState | None = None
) -> tuple[list[tuple[int, int]], int]:
    """C3 — sliding-block chunking, transliteration of `file_chunk_sb`
    (/root/reference/src/dedup.c:551-711, -z off), stream view.

    Walk: adler of the block_size window at `head` (fresh when no slide is
    pending, O(1) roll otherwise).  Weak hit → md5 confirm against the block
    store; confirmed → emit the pending pre-fragment (if any) then the reused
    fixed block, jump a full block.  Miss → slide one byte; a slide that
    reaches block_size is emitted as a NEW fixed block and its adler+md5
    check in.  Returns (contiguous block spans, tail start) — the tail is the
    pending slide fragment plus the unprocessed remainder (dedup.c:703-708).

    `state` persists across calls to reproduce the reference's cross-file
    tables (scan-order-dependent; the Spark operator uses per-document state
    for order-independent parallel semantics — see chunk.py)."""
    import hashlib as _hl

    st = state if state is not None else SBState()
    n = len(data)
    signed = np.frombuffer(data, dtype=np.int8)
    spans: list[tuple[int, int]] = []
    head = 0
    slide_start = 0
    hkey = 0
    while head + block_size <= n:
        if head == slide_start:  # slide_sz == 0 -> fresh checksum
            hkey = adler32_checksum(data[head : head + block_size])
        else:
            hkey = adler32_rolling(
                hkey, block_size, int(signed[head - 1]), int(signed[head + block_size - 1])
            )
        if hkey in st.crc:
            m = _hl.md5(data[head : head + block_size]).digest()
            if m in st.md5s:
                if head > slide_start:  # pre-fragment
                    st.md5s.add(_hl.md5(data[slide_start:head]).digest())
                    spans.append((slide_start, head))
                spans.append((head, head + block_size))
                head += block_size
                slide_start = head
                continue
        head += 1
        if head - slide_start == block_size:  # slide filled a whole block
            blk = data[slide_start:head]
            st.crc.add(adler32_checksum(blk))
            st.md5s.add(_hl.md5(blk).digest())
            spans.append((slide_start, head))
            slide_start = head
    return spans, slide_start


def fsp_cuts(n: int, block_size: int = 4096) -> list[int]:
    """Fixed-size partition ends; tail = n % block_size raw bytes
    (/root/reference/src/dedup.c:716-764)."""
    return [e for e in range(block_size, n + 1, block_size)]
