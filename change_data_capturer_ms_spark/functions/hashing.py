"""Content hashing + id munging.

north_star: content hashing runs as a vectorized pandas/Arrow UDF; the engine also
keeps the pure-JVM `sha2` builtin (whole-stage-codegen'd) and tests them equal, so
deployments can choose throughput (builtin) vs the mandated UDF path. The per-row
invariant vs the reference final state is sha256(content) equality
(BASELINE.json input_hint).

`custom_id` is the reference's only scalar string op: prefix/id space-to-dash munge
(/root/reference/src/capturer/cosmos/cosmos.ts:40-45 `generateCustomId`).

Cross-engine-stable 56-bit hash (Spark ⇄ DuckDB oracle parity):
`md5_long56(x)` = first 14 hex chars of md5 as a BIGINT. Chosen because both engines
compute identical md5, and 56 bits always fits signed int64. DuckDB twin:
``('0x' || substr(md5(x), 1, 14))::BIGINT``. Used as the shingle/word hash for
MinHash, SimHash and fingerprinting so the DuckDB oracles can re-derive results
exactly (no implementation-defined hash like xxhash64/murmur crosses the boundary).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def content_sha256_builtin(col: str | Column) -> Column:
    """JVM-side sha256 hex (codegen hot path)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


@pandas_udf(StringType())
def _sha256_pd(s: pd.Series) -> pd.Series:
    # Arrow-batched (one Python call per ~10k-row batch), never row-at-a-time pickle
    return s.map(
        lambda v: None if v is None else hashlib.sha256(str(v).encode("utf-8")).hexdigest()
    )


def content_sha256_pandas(col: str | Column) -> Column:
    """Arrow/pandas UDF sha256 hex — the north_star-mandated UDF path; equality with
    the builtin is asserted in tests/test_functions.py."""
    c = F.col(col) if isinstance(col, str) else col
    return _sha256_pd(c)


def custom_id(id_col: str | Column, prefix: str = "") -> Column:
    """generateCustomId parity: `${prefix.replace(" ","-")}${id.replace(" ","-")}`
    (/root/reference/src/capturer/cosmos/cosmos.ts:40-45)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.concat(
        F.regexp_replace(F.lit(prefix), " ", "-"),
        F.regexp_replace(c, " ", "-"),
    )


# modulus + fixed affine permutation constants for MinHash: perm_i(h) = (a*h + b) % P.
# P < 2^31 and a < 2^31 keep a*(h%P)+b < 2^62 — no int64 overflow in either engine.
MINHASH_P = 1_000_000_007
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_203_077, 12_345), (2_654_435, 67_891), (7_367_287, 24_680),
    (9_576_890, 13_579), (15_485_863, 97_531), (32_452_843, 86_420),
    (49_979_687, 11_111), (67_867_967, 22_222),
]


def md5_long56(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 14), 16, 10).cast("long")


def md5_long56_sql(expr: str) -> str:
    """The DuckDB-SQL twin of md5_long56 (oracle side)."""
    return f"('0x' || substr(md5({expr}), 1, 14))::BIGINT"


def minhash_perm(h: Column, i: int) -> Column:
    a, b = MINHASH_PERMS[i]
    return (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)


def minhash_perm_sql(h_expr: str, i: int) -> str:
    a, b = MINHASH_PERMS[i]
    return f"(({a} * (({h_expr}) % {MINHASH_P}) + {b}) % {MINHASH_P})"
