"""Pipeline configuration.

Mirrors the reference's settings (reference src/dedup.h:48-54):
BLOCK_SIZE 4096 (its -b flag; CHUNK_CDC_D == block_size), BLOCK_MIN_SIZE 512,
BLOCK_MAX_SIZE 32768, and the -C, -f and -z flags — plus the similarity-stage
knobs (shingle k, MinHash permutations, LSH bands×rows) that the north rule
requires to be frozen per run ("same shingle/signature config").  The
reference compiles its CDC window (BLOCK_WIN_SIZE 48) and cut residue
(CHUNK_CDC_R 13) in as constants (dedup.h:51,112); so does this package:
`hashes.BLOCK_WIN` and `hashes.CDC_R`.

tests/test_surface.py fails on a field that the package does not read or
that no caller sets, outside a short allowlist with reasons.

The config hash is stamped into every checkpoint + metrics row so a resumed
run refuses to mix incompatible stage outputs.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from deduputil_spark.functions.hashes import BLOCK_WIN


@dataclass(frozen=True)
class DedupConfig:
    # --- chunking (reference defaults, /root/reference/src/dedup.h:48-52) ---
    block_size: int = 4096          # FSP block + CDC expected size / divisor D
    block_min_size: int = 512       # CDC lower bound (/root/reference/src/dedup.c:460)
    block_max_size: int = 32768     # CDC forced cut (/root/reference/src/dedup.c:490)
    chunk_algo: str = "cdc"         # "fsp" | "cdc" | "sb"  (reference -C flag)
    cut_hash: str = "adler"         # reference -f flag; adler = default rolling hash.
    # full CDC_CHUNK_HASHFUNC family (/root/reference/src/dedup.c:73-115):
    # adler | rabin | simple | rs | js | pjw | elf | bkdr | sdbm | djb | ap | crc

    # --- shingling / signatures (similarity stage) ---
    shingle_k: int = 5              # k-gram word shingles
    num_perm: int = 128             # MinHash permutations
    lsh_bands: int = 32             # bands
    lsh_rows: int = 4               # rows per band (bands*rows == num_perm)

    # --- verify / cluster ---
    jaccard_threshold: float = 0.7
    max_cc_iterations: int = 20     # hash-to-min converges in O(log n)

    # --- storage (reference -z: compress each block BEFORE hashing, so the
    # dedup key is md5(zlib(chunk)) — /root/reference/src/dedup.c:462-473) ---
    compress_blocks: bool = False

    # --- scale knobs (shuffle partitions come from session.get_spark) ---
    hot_bucket_cap: int = 2000      # LSH buckets above this salt into ceil(size/cap) sub-buckets
    max_pair_degree: int | None = None  # per-doc candidate-degree cap run_pipeline applies; None = off

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) must equal num_perm ({self.num_perm})"
            )
        if self.chunk_algo not in ("fsp", "cdc", "sb"):
            raise ValueError(f"unknown chunk_algo {self.chunk_algo!r}")
        if self.cut_hash not in (
            "adler", "rabin", "simple", "rs", "js", "pjw", "elf", "bkdr", "sdbm", "djb", "ap", "crc"
        ):
            raise ValueError(f"unknown cut_hash {self.cut_hash!r}")
        # the reference -b accepts any positive size: fsp/sb never use the
        # adler residue trick, non-adler cut hashes compute a true
        # hk % block_size at any size, and cdc_cuts_fast falls back to the
        # exact scalar walk for non-power-of-two adler — so any positive
        # block_size is a valid (and reference-compatible) configuration
        if self.block_size <= 0:
            raise ValueError(f"block_size {self.block_size} must be positive")
        # the skip-ahead after each cut is block_min_size - BLOCK_WIN bytes
        # (reference dedup.c:460); a negative skip has no reference meaning
        if self.block_min_size < BLOCK_WIN:
            raise ValueError(f"block_min_size {self.block_min_size} must be at least BLOCK_WIN ({BLOCK_WIN})")

    def config_hash(self) -> str:
        """Stable 12-hex digest of every semantic knob; stamped on checkpoints."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:12]

