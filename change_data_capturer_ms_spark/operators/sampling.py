"""Deterministic dataset splitting & sampling for training-data pipelines.

Hash-based, NOT random: split membership is a pure function of the key, so
retries, re-partitioning, cluster resizes and incremental re-runs never move a
document between train/val/test. Seeded `df.sample()` does not have that
property (it samples per-partition, so any repartition reshuffles membership) —
at 100 TB with speculative re-execution that silently leaks eval data into
train. A key-hash threshold is the standard fix (same trick as bucketed joins:
the decision rides on the value, not on physical placement).

The bucket hash is the cross-engine md5-derived 56-bit hash
(functions/hashing.md5_long56) so the DuckDB oracle rederives membership
bit-exactly; a salt string namespaces independent splits of the same corpus.

Scale shape: one projection (md5 + mod + CASE), whole-stage codegen, no
shuffle, no UDF. `stratified_sample` adds one window per stratum — used only
when an EXACT per-stratum count is required; the hash-threshold variant is the
100 TB default (fraction holds per stratum in expectation because the hash is
uniform and independent of any column).

Reference anchor: the reference has no sampling surface (it is a capture loop,
src/capturer/*); this is part of the training-data operator set the engine
adds on top (SURVEY.md §2.2 extras).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long56

_BUCKETS = 10_000  # split/sample resolution: 0.01% granularity


def _key_bucket(key_col: str | Column, salt: str) -> Column:
    """Deterministic uniform bucket in [0, _BUCKETS) from a key + salt."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return md5_long56(F.concat_ws(":", F.lit(salt), c.cast("string"))) % F.lit(_BUCKETS)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Sequence[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by key hash (cumulative thresholds).

    Weights must sum to 1.0 (validated). Rows sharing a key always land in the
    same split — dedupe-safe and join-safe.
    """
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    bucket = _key_bucket(key_col, salt)
    expr = None
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w
        cond = bucket < F.lit(int(round(cum * _BUCKETS)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def hash_split_case_sql(key_expr: str,
                        splits: Sequence[tuple[str, float]] = (
                            ("train", 0.8), ("val", 0.1), ("test", 0.1)),
                        salt: str = "split") -> str:
    """DuckDB twin of hash_split's split expression (oracle side)."""
    h = (f"(('0x' || substr(md5('{salt}:' || CAST({key_expr} AS VARCHAR)), 1, 14))"
         f"::BIGINT % {_BUCKETS})")
    parts, cum = [], 0.0
    for name, w in splits[:-1]:
        cum += w
        parts.append(f"WHEN {h} < {int(round(cum * _BUCKETS))} THEN '{name}'")
    return "CASE " + " ".join(parts) + f" ELSE '{splits[-1][0]}' END"


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                salt: str = "sample") -> DataFrame:
    """Deterministic ~`fraction` sample by key hash (stable across re-runs and
    re-partitionings; uniform within every stratum of any other column)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_key_bucket(key_col, salt) < F.lit(int(round(fraction * _BUCKETS))))


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str | Column,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic Poisson sampling with PER-ROW inclusion probability =
    `weight_col` (clamped to [0, 1]) — quality-weighted corpus sampling: keep
    a doc with probability equal to, e.g., its quality score, so high-quality
    documents survive at a higher rate without a global sort or quantile pass.

    The inclusion coin is `u(key) < weight` where u is the same uniform key
    hash as `hash_sample` — membership is a pure function of (salt, key,
    weight), so re-runs and repartitions keep the same rows, and a doc's fate
    only changes if its WEIGHT changes (an incremental re-score re-decides
    exactly the re-scored docs). Same scale shape: one codegen projection +
    filter, no shuffle, no UDF; SQL-expressible for the oracle the same way
    as hash_split_case_sql.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = _key_bucket(key_col, salt).cast("double") / F.lit(float(_BUCKETS))
    return df.filter(u < F.least(F.greatest(w.cast("double"), F.lit(0.0)),
                                 F.lit(1.0)))


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    key_col: str,
    salt: str = "mix",
    out_col: str = "mix_source",
) -> DataFrame:
    """Deterministic training-data mixture: per-source sampling rates applied
    by key hash, unioned by name, each row tagged with its source.

    `sources` maps name → (frame, rate) where rate ∈ [0, 1] is the FRACTION
    OF THAT SOURCE to keep (how published data mixtures are specified — e.g.
    books at 2.0 epochs is expressed upstream as repetition, downsampling web
    to 30% is rate=0.3 here). Rates are per-source, deliberately NOT
    normalized across sources: normalizing would make one source's rate
    depend on another's size, breaking incremental re-runs.

    Determinism: membership is a pure function of (salt ⊕ source name ⊕ key),
    so re-runs, retries and repartitions keep the same rows, and the same key
    in two sources is decided INDEPENDENTLY per source (namespaced salt) —
    no accidental correlation between sources' samples.

    Scale shape: one no-shuffle filter per source + unionByName
    (allowMissingColumns — additive schema differences tolerated, absent
    columns NULL). No UDF, no window; at 100 TB the union is purely logical
    (each source's files scan with its own pushed filter).
    """
    frames = []
    for name, (df, rate) in sources.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"mix rate for {name!r} must be in [0, 1], got {rate}")
        frames.append(
            hash_sample(df, key_col, rate, salt=f"{salt}:{name}")
            .withColumn(out_col, F.lit(name))
        )
    if not frames:
        raise ValueError("mix_corpora: no sources given")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def stratified_sample_exact(df: DataFrame, strata_cols: Sequence[str], key_col: str,
                            fraction: float, salt: str = "sample") -> DataFrame:
    """EXACT ceil(fraction * n) rows per stratum, deterministically chosen by
    hash order (then key as tiebreak). One window shuffle on the strata — use
    only when exact counts matter; `hash_sample` is the no-shuffle default."""
    w = (Window.partitionBy(*strata_cols)
         .orderBy(_key_bucket(key_col, salt).asc(), F.col(key_col).asc()))
    cw = Window.partitionBy(*strata_cols)
    return (df.withColumn("_rk", F.row_number().over(w))
              .withColumn("_n", F.count(F.lit(1)).over(cw))
              .filter(F.col("_rk") <= F.ceil(F.col("_n") * F.lit(fraction)))
              .drop("_rk", "_n"))
