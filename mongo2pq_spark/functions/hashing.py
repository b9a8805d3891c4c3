"""Portable hashing primitives.

Every hash here is defined by MD5 (identical hex in every engine), so a
Spark column expression and a DuckDB SQL fragment produce bit-identical
values — that is what lets MinHash/SimHash/fingerprint operators be
oracle-checked value-for-value. Spark's own ``hash()``/``xxhash64()``
are NOT portable across engines, hence MD5 (still JVM-side codegen,
no Python in the loop).

Layout of a token hash: first 8 hex digits of md5 → unsigned 32-bit int
(as int64). MinHash permutations are (a*x + b) mod p with
p = 2^31 - 1 (Mersenne) and a < 2^30, so a*x + b < 2^62 + 2^31 stays
inside signed int64 in both engines — no overflow, no bigint tricks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1

# Deterministic permutation coefficients from a fixed LCG (seed pinned;
# NOT runtime randomness — the same constants are baked into oracle SQL).
def _lcg(seed: int):
    state = seed
    while True:
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        yield state


def minhash_perms(k: int, seed: int = 42) -> list[tuple[int, int]]:
    gen = _lcg(seed)
    perms = []
    for _ in range(k):
        a = next(gen) % ((1 << 30) - 1) + 1      # 1 <= a < 2^30
        b = next(gen) % MERSENNE_P               # 0 <= b < p
        perms.append((a, b))
    return perms


# -- Spark column expressions ------------------------------------------------

def token_hash32(col: Column) -> Column:
    """md5-derived 32-bit token hash as BIGINT (portable)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("bigint")


def hash64(col: Column) -> Column:
    """md5-derived 60-bit hash as BIGINT (fingerprints, bucket keys)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


def spark_token_hash32(expr: str) -> str:
    """``token_hash32`` as Spark SQL text (for ``selectExpr``)."""
    return f"CAST(conv(substring(md5(CAST({expr} AS BINARY)), 1, 8), 16, 10) AS BIGINT)"


# -- DuckDB SQL fragments ----------------------------------------------------

def sql_token_hash32(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def sql_hash64(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def sql_minhash(hash_expr: str, a: int, b: int) -> str:
    """One MinHash permutation; the same text is valid Spark SQL."""
    return f"(({hash_expr}) * {a} + {b}) % {MERSENNE_P}"
