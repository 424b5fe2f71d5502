"""Portable deterministic hashing for pipeline operators.

Every hash that participates in an oracle-checked result is derived
from md5 (identical in Spark and DuckDB) rather than engine-native
hashes (xxhash64 / duckdb hash are not portable):

    h32(s) = int(md5(s)[:8], 16)            ∈ [0, 2^32)
    perm_i(h) = (a_i * (h % P) + b_i) % P    P = 2^31 - 1

The modular form keeps every intermediate < 2^62, so the arithmetic
is exact int64 in both engines (no overflow-behavior divergence).
Permutation constants come from a fixed LCG so Spark and the oracle
SQL generator share them by construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31 - 1


def lcg_constants(n: int, seed: int = 20260813) -> list[tuple[int, int]]:
    """n deterministic (a, b) pairs, a odd and nonzero, both < 2^31."""
    state = seed
    out = []
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = (state % (MERSENNE_P - 1)) | 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MERSENNE_P
        out.append((a, b))
    return out


# -- Spark side ---------------------------------------------------------


def h32(col: Column) -> Column:
    """32-bit integer hash of a string column via md5 (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h60(col: Column) -> Column:
    """60-bit integer hash via md5 (portable). 15 hex chars — NOT 16 —
    so the value stays < 2^60 and is exact in a signed int64 in both
    engines (16 chars can exceed 2^63-1 and overflow-diverge). Use for
    shingle/identity keys where 32-bit birthday collisions (~N²/2^33)
    would bias a metric at corpus scale (novelty down, overlap up);
    at 60 bits the collision expectation is N²/2^61 — negligible for
    N up to ~10^8 distinct shingles per hash domain."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h32_fast(col: Column) -> Column:
    """32-bit hash via JVM xxhash64 folded into [0, 2^32) — cheaper
    than md5 (no digest + hex round-trip; ~25% on simhash at sf0.1,
    more when docs are long and hashing dominates the fold) but NOT
    reproducible in the DuckDB oracle. Use for production runs of the
    signature operators (minhash / simhash / winnowing); the md5 path
    exists so results can be hash-compared across engines."""
    return F.pmod(F.xxhash64(col), F.lit(1 << 32))


def hash32(hasher: str):
    """Column-hash factory: ``portable`` (md5, oracle-reproducible) or
    ``fast`` (xxhash64)."""
    try:
        return {"portable": h32, "fast": h32_fast}[hasher]
    except KeyError:
        raise ValueError(f"unknown hasher {hasher!r}: use 'portable' or 'fast'")


# -- SQL text, shared by Spark and the DuckDB oracles --------------------


def perm_hash_sql(h_expr: str, a: int, b: int) -> str:
    """The permutation formula as SQL text. It parses in Spark
    (``minhash_signatures``) and DuckDB (the oracles) alike, so both
    engines read the one formula."""
    return f"(({a} * (({h_expr}) % {MERSENNE_P}) + {b}) % {MERSENNE_P})"


# -- oracle (DuckDB SQL fragment) side ---------------------------------


def duck_h32(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def duck_h60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"
