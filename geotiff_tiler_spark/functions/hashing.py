"""Portable deterministic hashing.

The engine's sketches (minhash, simhash, fingerprints) and the synthetic
geocoder all need a hash function that produces IDENTICAL values in
Spark SQL, DuckDB SQL (the correctness oracle), and numpy (unit tests).
md5 is the only hash all three share, so every portable hash here is
"a 60-bit integer carved out of the md5 hex digest":

    Spark : CAST(conv(substr(md5(x), pos, 15), 16, 10) AS BIGINT)
    DuckDB: ('0x' || substr(md5(x), pos, 15))::BIGINT
    Python: int(hashlib.md5(x).hexdigest()[pos-1:pos-1+15], 16)

15 hex chars = 60 bits < 2^63, so the value is always a non-negative
BIGINT in both engines (no sign-extension mismatches).

All helpers return Column objects built from `pyspark.sql.functions` —
JVM-side, whole-stage-codegen friendly, no Python in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Number of hex chars used per carved hash.
HEX_WIDTH = 15


def portable_hash64(col: Column, pos: int = 1) -> Column:
    """60-bit non-negative hash from md5 hex chars [pos, pos+15).

    pos is 1-based (SQL substr convention); pos in {1, 17} gives two
    independent hashes from one digest.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), pos, HEX_WIDTH), 16, 10).cast("bigint")


def seeded_hash64(col: Column, seed: int) -> Column:
    """Seeded portable hash: md5 over `seed || ':' || value`.

    Used for the minhash permutation family: each seed is an independent
    hash function over the same shingle.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(salted), 1, HEX_WIDTH), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str, pos: int = 1) -> str:
    """DuckDB SQL text equivalent of `portable_hash64`."""
    return f"(('0x' || substr(md5({expr}), {pos}, {HEX_WIDTH}))::BIGINT)"


def py_hash64(value: str, pos: int = 1) -> int:
    """Python/numpy-side equivalent, for unit-test oracles."""
    digest = hashlib.md5(value.encode("utf-8")).hexdigest()
    return int(digest[pos - 1 : pos - 1 + HEX_WIDTH], 16)


def py_seeded_hash64(value: str, seed: int) -> int:
    """Python-side equivalent of `seeded_hash64`."""
    return py_hash64(f"{seed}:{value}")
