"""Hashing primitives: content hashes, portable token hashes, minhash perms.

Reference equivalents:
- ``get_file_hash`` — SHA-256 of whole file bytes, hex string
  (`rag_search/vector_db.py:420-429`) → `sha2(col, 256)` (JVM-side, one
  expression, no per-file Python loop).
- The minhash machinery has **no reference equivalent** — it is part of the
  LLM-data-pipeline extension surface (near-duplicate detection at 100 TB).

Two hash families on purpose:
- ``xxhash64``-based (fast, JVM, used inside minhash/simhash signatures where
  results are consumed only by this engine);
- ``md5``-based (bit-identical in DuckDB, used wherever an oracle-checked SQL
  query must reproduce the hash).

Permutation constants are module-level literals derived once from a fixed
seed — no RNG at plan-build time, so signatures are reproducible across runs,
sessions and cluster sizes.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1; (a*h+b) stays within int64 for h,a,b < P.
MINHASH_PRIME = 2_147_483_647


def _perm_constants(n: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(n)
    ]


#: 64 fixed universal-hash permutations, sliced as needed.
PERMS: list[tuple[int, int]] = _perm_constants(64)


def sha256_hex(c: Column | str) -> Column:
    """Hex SHA-256 — lowercase in both Spark (`sha2(x,256)`) and DuckDB
    (`sha256(x)`), so it is oracle-portable. Reference: vector_db.py:420-429."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sha2(c, 256)


def token_bucket_hash(c: Column | str) -> Column:
    """Non-negative int64 token hash < 2^31-1, via xxhash64 (JVM, seed 42).
    Engine-internal only (DuckDB cannot reproduce xxhash64)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.pmod(F.xxhash64(c), F.lit(MINHASH_PRIME))
