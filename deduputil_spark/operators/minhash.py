"""MinHash signatures + LSH banding.

Two signature builders:

- `minhash_signatures_numpy` — the production path: one-permutation hashing
  (OPH) over numpy k-gram hashes, computed batch-at-a-time in mapInArrow
  straight off the Arrow string buffer (narrow, no shingle shuffle).  Each
  output row also carries the doc's sorted unique k-gram keys (`kset`), the
  set the Jaccard verifier joins, so no later layer re-reads the text.
- `minhash_signatures` — the "md5" oracle family: minhash_i =
  MIN(md5(shingle || '#' || i)).  Lexicographic min over a uniform 128-bit
  hex hash is a valid min-wise permutation approximation, and — crucially —
  `md5` is bit-identical in Spark and DuckDB, so signatures, band keys, and
  candidate pairs get EXACT SQL oracles (the correctness gate).  It is a
  single hash-aggregate shuffle: num_perm MIN() aggregate expressions per
  document (Catalyst computes map-side partial mins before the exchange, so
  the shuffle carries one num_perm-wide row per (doc × partition), NOT per
  shingle).

This two-tier cheap-signature → expensive-verify staging is the distributed
re-realization of the reference's weak→strong probe
(/root/reference/src/dedup.c:594-611, /root/reference/src/sync.c:275-281).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduputil_spark.config import DedupConfig

# 2^31-1: the OPH hash space.  31-bit minhash space is ample: only relative
# order matters, and per-pair collision probability 2^-31 is negligible at
# document shingle-set sizes.
MERSENNE_P = (1 << 31) - 1


def minhash_signatures(shingle_df: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(conv_id, shingle) -> (conv_id, sig array<string>[num_perm]), the md5
    family that DuckDB reproduces exactly (the oracle signatures)."""
    cfg = cfg or DedupConfig()
    p = cfg.num_perm
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(p)
    ]
    sig = shingle_df.groupBy("conv_id").agg(*aggs)
    return sig.select("conv_id", F.array(*[F.col(f"h{i}") for i in range(p)]).alias("sig"))


_SIG_SCHEMA = "conv_id string, sig array<bigint>, kset array<bigint>"
KGRAM_P = (1 << 57) - 13


def _kgram_fold(th: np.ndarray, k: int) -> np.ndarray:
    """K-gram keys (polynomial fold) of ONE doc's token-hash array — MULTISET,
    one key per window, duplicates kept.  The scalar definition that
    `batch_kgram_sets` reproduces for a whole batch."""
    if len(th) == 0:
        return np.zeros(0, dtype=np.int64)
    if len(th) >= k:
        kg = th[: len(th) - k + 1].copy()
        for j in range(1, k):
            kg = (kg * 31 + th[j : len(th) - k + 1 + j]) % KGRAM_P
    else:
        kg = th[:1].copy()
        for j in range(1, len(th)):
            kg = (kg * 31 + th[j : j + 1]) % KGRAM_P
    return kg


def batch_kgram_sets(th: np.ndarray, offs: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Every doc's sorted UNIQUE k-gram keys for a whole batch.

    `th`/`offs` are `token_hashes_from_buffer`'s flat token hashes and per-doc
    token offsets.  One Horner fold runs over the flat array; a doc's windows
    are the slice of it that starts and ends inside the doc, so windows that
    cross a doc boundary are never read.  A doc with fewer than k tokens gets
    one key, the fold of all its tokens (`_kgram_fold`).  Each doc's slice is
    then deduplicated with its own np.unique: a value sort of a few thousand
    keys, measured 2× faster than one batch-wide argsort on (doc, key).
    Returns (flat keys, per-doc offsets of length n_docs+1): the Arrow
    ListArray layout.  Same keys as `np.unique(_kgram_fold(doc_th, k))` per
    doc, bit for bit."""
    n_win = max(len(th) - k + 1, 0)
    kg = th[:n_win].copy()
    for j in range(1, k):
        np.multiply(kg, 31, out=kg)
        np.add(kg, th[j : n_win + j], out=kg)
        np.mod(kg, KGRAM_P, out=kg)
    sets = [
        np.unique(kg[a : b - k + 1] if b - a >= k else _kgram_fold(th[a:b], k))
        for a, b in zip(offs[:-1].tolist(), offs[1:].tolist())
    ]
    bounds = np.zeros(len(sets) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, sets), dtype=np.int64, count=len(sets)), out=bounds[1:])
    return (np.concatenate(sets) if sets else np.zeros(0, dtype=np.int64)), bounds


# ASCII whitespace lookup for the byte-level tokenizer.  Deliberate, documented
# divergence from str.split(): exotic UNICODE whitespace (U+00A0, U+2028, …) is
# treated as token bytes.  Both the minhash signer and the k-gram Jaccard
# verifier share this definition, so the pipeline stays self-consistent.
_WS_LUT = np.zeros(256, dtype=bool)
for _b in b" \t\n\r\x0b\x0c":
    _WS_LUT[_b] = True
_NONWS_LUT = ~_WS_LUT

_TOKEN_HASH_CAP = 32  # bytes of each token fed to the polynomial; full length mixed in

def token_hashes_from_buffer(buf: np.ndarray, bounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Hash EVERY token of a batch in one byte-level vectorized pass, straight
    off a contiguous UTF-8 buffer (e.g. an Arrow string column's values
    buffer — ZERO Python strings anywhere on this path).

    `buf` holds the docs back-to-back; doc i occupies [bounds[i], bounds[i+1])
    and token breaks are FORCED at doc boundaries (no separator bytes needed).
    Returns (flat token-hash array in [0, KGRAM_P), per-doc token-count
    offsets of length n_docs+1).  Token boundaries come from a whitespace LUT,
    and each token's polynomial hash over its first `_TOKEN_HASH_CAP` bytes is
    a Horner fold (+ the full byte length mixed in, so cap-truncated tokens of
    different lengths stay distinct).

    The fold runs over tokens sorted by capped length (descending, stable —
    a ONE-pass radix argsort on the uint8 length key), so pass j touches only
    the tokens that still have a j-th byte: total fold work is O(total capped
    token bytes) instead of O(max_len × n_tokens) — the old masked form paid
    the full width for every pass while the mean token is ~8 bytes (measured
    1.4× on production-sized batches, bit-identical output).  The per-doc
    offsets come from the TRANSPOSED binary search (n_docs+1 probes into the
    sorted starts instead of n_tokens probes into bounds — the n_tok-probe
    form was the single most expensive pass of the whole tokenizer)."""
    n_docs = len(bounds) - 1
    empty = np.zeros(0, dtype=np.int64)
    if n_docs <= 0:
        return empty, np.zeros(1, dtype=np.int64)
    nb = len(buf)
    if nb == 0:
        return empty, np.zeros(n_docs + 1, dtype=np.int64)
    nonws = _NONWS_LUT[buf]
    inner = bounds[1:-1]
    # a doc's first byte always starts a token run (virtual break): without
    # this, adjacent docs in the raw buffer would bridge into one token
    iv = inner[inner < nb]
    smask = np.empty_like(nonws)
    smask[0] = nonws[0]
    np.greater(nonws[1:], nonws[:-1], out=smask[1:])  # non-ws after ws
    smask[iv] = nonws[iv]
    starts = np.flatnonzero(smask)
    if len(starts) == 0:
        return empty, np.zeros(n_docs + 1, dtype=np.int64)
    emask = smask  # reuse the buffer; smask fully consumed above
    emask[-1] = nonws[-1]
    np.greater(nonws[:-1], nonws[1:], out=emask[:-1])  # non-ws before ws
    lb = inner - 1
    lb = lb[lb >= 0]
    emask[lb] = nonws[lb]  # doc's last byte ends its token
    ends = np.flatnonzero(emask)
    lens = ends - starts + 1
    # offsets[j] = #tokens starting before bounds[j] — empty docs collapse
    offsets = np.searchsorted(starts, bounds).astype(np.int64)
    n_tok = len(starts)
    capped = np.minimum(lens, _TOKEN_HASH_CAP)
    order = np.argsort((_TOKEN_HASH_CAP - capped).astype(np.uint8), kind="stable")
    s_starts = starts[order]
    le_j = np.cumsum(np.bincount(capped, minlength=_TOKEN_HASH_CAP + 1))
    # Horner over the live prefix only.  Scratch written with out= — fresh
    # >1MB numpy temporaries are mmap-backed and the page-fault churn
    # measurably dominates on bandwidth-poor hosts (~4× on the bench VM).
    h_s = np.zeros(n_tok, dtype=np.int64)
    idx = np.empty(n_tok, dtype=np.int64)
    g8 = np.empty(n_tok, dtype=np.uint8)
    b64 = np.empty(n_tok, dtype=np.int64)
    for j in range(int(capped.max(initial=0))):
        mj = n_tok - int(le_j[j])  # tokens with capped length > j
        if mj <= 0:
            break
        np.add(s_starts[:mj], j, out=idx[:mj])
        np.take(buf, idx[:mj], out=g8[:mj])
        np.copyto(b64[:mj], g8[:mj], casting="unsafe")
        hs = h_s[:mj]
        np.multiply(hs, 31, out=hs)
        np.add(hs, b64[:mj], out=hs)
        np.mod(hs, KGRAM_P, out=hs)
    s_lens = lens[order]
    np.multiply(h_s, 31, out=h_s)
    np.add(h_s, s_lens, out=h_s)
    np.mod(h_s, KGRAM_P, out=h_s)
    h = np.empty(n_tok, dtype=np.int64)
    h[order] = h_s  # back to buffer token order
    return h, offsets


def utf8_buffer_view(arr) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (values-buffer, byte-bounds) view of an Arrow string column.

    Owns the Arrow string layout for every caller: `string` and
    `large_string` are viewed in place (a slice's offset honoured), a
    dictionary column is decoded first, and a missing values buffer (every
    value empty or null) reads as empty.  Null slots occupy zero bytes, so
    they become empty docs.  Any other type raises TypeError."""
    import pyarrow as pa

    if pa.types.is_dictionary(arr.type):
        arr = arr.dictionary_decode()
    if pa.types.is_large_string(arr.type):
        odt = np.int64
    elif pa.types.is_string(arr.type):
        odt = np.int32
    else:
        raise TypeError(f"not an Arrow string column: {arr.type}")
    _, offs, data = arr.buffers()
    o = np.frombuffer(offs, dtype=odt)[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.zeros(0, dtype=np.uint8) if data is None else np.frombuffer(data, dtype=np.uint8)
    return data[o[0] : o[-1]], o - o[0]


def doc_kgram_hashes(text: str, k: int) -> np.ndarray:
    """Unique k-gram hash keys of one document (single-doc convenience; batch
    paths use `batch_kgram_sets`).  The set definition shared by the numpy
    signatures, their k-gram sets and the Jaccard verifier."""
    import pyarrow as pa

    th, _ = arrow_token_hashes(pa.array([text], type=pa.string()))
    return np.unique(_kgram_fold(th, k))


def arrow_token_hashes(txt) -> tuple[np.ndarray, np.ndarray]:
    """`token_hashes_from_buffer` over an Arrow string column, zero-copy off
    its UTF-8 buffer (`utf8_buffer_view`)."""
    return token_hashes_from_buffer(*utf8_buffer_view(txt))


def list_array(flat: np.ndarray, bounds: np.ndarray):
    """Arrow list<int64> column from flat values and per-row offsets."""
    import pyarrow as pa

    # int32 list offsets silently wrap past 2^31 total entries; a batch that
    # large would already have exhausted memory, but fail loudly rather than
    # build corrupt offsets (ADVICE r3)
    if bounds[-1] >= (1 << 31):
        raise ValueError(f"batch overflows int32 list offsets ({int(bounds[-1])} entries)")
    return pa.ListArray.from_arrays(bounds.astype(np.int32), pa.array(flat, type=pa.int64()))


def oph_signature(u: np.ndarray, num_perm: int, edges: np.ndarray) -> np.ndarray:
    """One-permutation-hashing signature of a SORTED unique hash array.

    Classic OPH (Li, Owen, Zhang, NIPS 2012): split the hash value space into
    num_perm contiguous bins; the signature component for a bin is the min
    hash landing in it — with `u` sorted that is simply the FIRST element of
    each bin (two searchsorted calls, no num_perm× rehash matrix).  Empty bins
    are densified by borrowing the next non-empty bin circularly (rotation
    densification, Shrivastava & Li 2014) so LSH banding stays well-defined.
    Estimator parity with k-permutation MinHash is gated by pytest
    (unbiasedness re-verified: mean bias < 0.01 at J∈{0.35, 0.7})."""
    sig = np.full(num_perm, MERSENNE_P, dtype=np.int64)
    if len(u) == 0:
        return np.zeros(num_perm, dtype=np.int64)
    b = np.searchsorted(u, edges)
    firsts = np.concatenate(([0], b))
    valid = firsts < np.concatenate((b, [len(u)]))
    sig[valid] = u[firsts[valid]]
    if not valid.all():
        ne = np.nonzero(valid)[0]
        pos = np.searchsorted(ne, np.arange(num_perm))
        pos = np.where(pos == len(ne), 0, pos)
        sig = sig[ne[pos]]
    return sig


def oph_bin_edges(num_perm: int) -> np.ndarray:
    return (np.arange(1, num_perm) * ((MERSENNE_P // num_perm) + 1)).astype(np.int64)


def batch_oph_signatures(keys: np.ndarray, bounds: np.ndarray, num_perm: int) -> np.ndarray:
    """`oph_signature` of every doc of a batch at once, from `batch_kgram_sets`
    output (keys, per-doc offsets) -> flat (n_docs × num_perm) int64.

    No sort: each key mod MERSENNE_P lands in cell doc·num_perm + bin, and
    one unbuffered `np.minimum.at` takes the min per cell.  Rotation
    densification then runs over the (n_docs, num_perm) matrix: a reversed
    running min of the non-empty bin indices gives each bin the next
    non-empty bin, wrapping to the row's first one.  A doc without k-grams
    gets the all-zero signature, as in `oph_signature`."""
    n = len(bounds) - 1
    u = keys % MERSENNE_P
    width = MERSENNE_P // num_perm + 1  # the bin width of oph_bin_edges
    cell = np.repeat(np.arange(n, dtype=np.int64) * num_perm, np.diff(bounds)) + u // width
    sig = np.full(n * num_perm, MERSENNE_P, dtype=np.int64)  # > any value mod MERSENNE_P
    np.minimum.at(sig, cell, u)
    sig = sig.reshape(n, num_perm)
    col = np.where(sig < MERSENNE_P, np.arange(num_perm), num_perm)
    nxt = np.minimum.accumulate(col[:, ::-1], axis=1)[:, ::-1]
    first = nxt[:, :1]
    nxt = np.where(nxt == num_perm, first, nxt)
    sig = np.take_along_axis(sig, np.minimum(nxt, num_perm - 1), axis=1)
    sig[first[:, 0] == num_perm] = 0
    return sig.ravel()


def minhash_signatures_numpy(docs: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(conv_id, doc_text) -> (conv_id, sig array<bigint>[num_perm],
    kset array<bigint>): vectorized-numpy OPH MinHash over assembled
    documents, plus each doc's sorted unique k-gram keys (mapInArrow).

    NARROW — no exploded-shingle shuffle at all, and NO Python strings: the
    Arrow string column's UTF-8 values buffer is viewed directly as a numpy
    byte array (`utf8_buffer_view`), tokens are hashed with a vectorized
    byte-level polynomial, and `batch_kgram_sets` folds and dedups the k-gram
    keys of the whole batch.  `kset` is that set — what the Jaccard verifier
    joins, so a doc's text crosses into Python once per pipeline run.  The
    signature is one-permutation hashing of the set mod MERSENNE_P
    (`batch_oph_signatures`, = `oph_signature` per doc): O(set size) instead
    of the O(num_perm × set size) of num_perm independent rehashes.  OPH's
    min per bin ignores duplicates, so it equals the signature of the k-gram
    multiset.

    The Arrow→pandas string materialization + re-encode that mapInPandas
    forces (one Python str per doc, then .encode back to the same bytes) was
    measurably larger than the hash math itself at sf0.1; mapInArrow avoids
    both copies.  The only shuffle in the whole signature→band flow is the
    final band exchange.
    """
    import pyarrow as pa

    cfg = cfg or DedupConfig()
    k = cfg.shingle_k
    p = cfg.num_perm

    def sig_batches(batches):
        for batch in batches:
            names = batch.schema.names
            cid = batch.column(names.index("conv_id"))
            keys, bounds = batch_kgram_sets(*arrow_token_hashes(batch.column(names.index("doc_text"))), k)
            sig = list_array(batch_oph_signatures(keys, bounds, p), np.arange(0, (batch.num_rows + 1) * p, p))
            yield pa.RecordBatch.from_arrays(
                [cid.cast(pa.string()), sig, list_array(keys, bounds)], names=["conv_id", "sig", "kset"]
            )

    return docs.select("conv_id", "doc_text").mapInArrow(sig_batches, schema=_SIG_SCHEMA)


def lsh_bands(
    signatures: DataFrame, cfg: DedupConfig | None = None, band_key: str = "md5"
) -> DataFrame:
    """(conv_id, sig) -> (conv_id, band_idx, band_hash).

    band_key="md5": md5 of the '|'-joined row signatures of that band — a
    compact fixed-width key that DuckDB reproduces exactly (the oracle form).
    band_key="xxhash": xxhash64 of the sliced long array directly — no string
    construction, the pipeline fast path (same banding semantics: equal
    band ⇔ equal row signatures, collisions 2^-64); band_hash stays a LONG —
    8 bytes per row through the band exchange/aggregate instead of a 19-20
    char string (guide §2.3 narrower types; equality classes unchanged)."""
    cfg = cfg or DedupConfig()
    r = cfg.lsh_rows
    if band_key == "md5":
        key = lambda b: F.md5(  # noqa: E731
            F.array_join(
                F.transform(F.slice(F.col("sig"), b * r + 1, r), lambda x: x.cast("string")),
                "|",
            )
        )
    elif band_key == "xxhash":
        key = lambda b: F.xxhash64(F.slice(F.col("sig"), b * r + 1, r))  # noqa: E731
    else:
        raise ValueError(f"unknown band_key {band_key!r}")
    bands = signatures.select(
        "conv_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)), key)
        ).alias("band_idx", "band_hash"),
    )
    return bands.withColumn("band_idx", F.col("band_idx").cast("int"))


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """Signature-agreement Jaccard estimate for given (conv_a, conv_b) pairs:
    fraction of equal components (zip_with + aggregate, JVM-side)."""
    a = signatures.select(F.col("conv_id").alias("conv_a"), F.col("sig").alias("sig_a"))
    b = signatures.select(F.col("conv_id").alias("conv_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(a, "conv_a").join(b, "conv_b")
        .select(
            "conv_a",
            "conv_b",
            (
                F.aggregate(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / F.size("sig_a")
            ).alias("est_jaccard"),
        )
    )
