"""Sequence packing for LLM training-data pipelines: turn a deduped document
corpus into fixed-token-budget training sequences.

Two standard schemes, both deterministic (pure functions of the key — retries,
repartitions and cluster resizes never move a document, same contract as
operators/sampling.py):

- `pack_concat_chunks` — GPT-style concat-and-chunk: documents are laid out in
  a deterministic pseudo-random order inside hash shards, the token stream is
  cut every `budget` tokens, and a document may straddle a cut (the usual
  pretraining layout). Pure window arithmetic: one shuffle (the per-shard
  window), no UDF, SQL-expressible bit-exactly in any engine.
- `pack_bins_greedy` — whole-document greedy packing: bins never exceed
  `budget`, documents are never split (the SFT/eval layout where truncation is
  unacceptable). Greedy next-fit needs sequential per-shard state, which no
  window expresses — this is the engine's documented Pandas-UDF seam
  (`applyInPandas` per shard, Arrow-batched; SURVEY.md §2.2 E22).

Scale shape: sharding bounds every window/group to corpus_size / n_shards
documents — pick n_shards ≈ cluster cores × k so shards fit executor memory at
100 TB; packing then parallelizes embarrassingly (this mirrors how training
pipelines pack per data-loader worker). The order inside a shard is the hash
order — i.e. the global shuffle a training run wants anyway.

Reference anchor: the reference stops at capture/forward (src/capturer/*); the
packing surface is part of the training-data operator set the engine adds
(SURVEY.md §2.2 extras).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capturer_ms_spark.functions.hashing import md5_long56


def _shard_and_order(df: DataFrame, id_col: str, n_shards: int, salt: str):
    """Deterministic shard + within-shard pseudo-random order key."""
    h = md5_long56(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    return df.withColumn("_h", h).withColumn(
        "shard", (F.col("_h") % F.lit(n_shards)).cast("int"))


def pack_concat_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int = 64,
    salt: str = "pack",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Concat-and-chunk layout: per shard, documents concatenate in hash order
    and the stream is cut every `budget` tokens.

    Output per document: `shard`, `start_offset` (token offset of the doc in
    its shard's stream), `chunk` (the training sequence its first token lands
    in), `n_chunks_spanned` (how many sequences the doc crosses — 1 = intact),
    plus any `keep_cols` carried through (projection, not a join).
    Deterministic: layout is a pure function of (salt, id, token counts).

    ONE shuffle (the per-shard cumulative-sum window); everything else is
    projection arithmetic in whole-stage codegen.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (Window.partitionBy("shard")
         .orderBy(F.col("_h").asc(), F.col(id_col).asc()))
    toks = F.col(tokens_col).cast("long")
    end_excl = F.sum(toks).over(w)           # running total INCLUDING this doc
    start = (end_excl - toks).alias("start_offset")
    return (
        _shard_and_order(df, id_col, n_shards, salt)
        .filter(toks > 0)
        .select(
            F.col(id_col),
            *[F.col(c) for c in (keep_cols or [])],
            F.col("shard"),
            start,
            F.floor((end_excl - toks) / budget).cast("long").alias("chunk"),
            (F.floor((end_excl - 1) / budget)
             - F.floor((end_excl - toks) / budget) + 1)
            .cast("long").alias("n_chunks_spanned"),
        )
    )


def pack_bins_greedy(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int = 64,
    salt: str = "pack",
) -> DataFrame:
    """Whole-document greedy (next-fit) packing: walk each shard in hash order,
    open a new bin whenever the current document would overflow `budget`.
    Documents longer than the budget get a bin of their own, flagged
    `oversize` (the caller truncates or drops — never silently).

    Output per document: `shard`, `bin` (0-based per shard), `bin_offset`
    (token offset inside the bin), `oversize`. Invariant (tested): every
    non-oversize bin's token sum ≤ budget, and bin contents are contiguous in
    the deterministic order.

    Sequential per-shard state ⇒ `applyInPandas` over the shard (Arrow-batched,
    one pass, O(shard) memory for the id/token arrays only).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    prepared = (
        _shard_and_order(df, id_col, n_shards, salt)
        .filter(F.col(tokens_col).cast("long") > 0)
        .select(F.col(id_col).alias("_id"), F.col(tokens_col).cast("long").alias("_n"),
                "_h", "shard")
    )
    id_type = prepared.schema["_id"].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("shard", T.IntegerType()),
        T.StructField("bin", T.LongType()),
        T.StructField("bin_offset", T.LongType()),
        T.StructField("oversize", T.BooleanType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", "_id"], kind="mergesort")
        bins, offsets, oversize = [], [], []
        bin_id, filled = 0, 0
        first = True
        for n in pdf["_n"]:
            if not first and filled + n > budget:
                bin_id, filled = bin_id + 1, 0
            first = False
            bins.append(bin_id)
            offsets.append(filled)
            oversize.append(bool(n > budget))
            filled += int(n)
            if filled >= budget:          # full (or oversize) bin: start fresh
                bin_id, filled = bin_id + 1, 0
                first = True
        return pd.DataFrame({
            id_col: pdf["_id"].values, "shard": pdf["shard"].values,
            "bin": bins, "bin_offset": offsets, "oversize": oversize,
        })

    return prepared.groupBy("shard").applyInPandas(pack, out_schema)
