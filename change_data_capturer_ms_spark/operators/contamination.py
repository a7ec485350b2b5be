"""Benchmark-contamination detection: flag training documents that share
verbatim n-grams with an evaluation/benchmark set, and drop them before
training (the standard decontamination pass — GPT-3 appendix C, PaLM §9,
"training set decontamination" via 8–13-gram overlap).

Scale shape: the benchmark side is tiny by construction (eval suites are
thousands of items, the corpus is billions), so its distinct shingle-hash set
is BROADCAST — the 100 TB corpus is scanned once, shingled map-side, and
never shuffled for the membership probe; the only shuffles are the two
per-doc-id aggregations (count + overlap), which AQE coalesces. Shingle
hashes are md5-derived (`functions.hashing`) so any engine — including the
DuckDB oracle — rederives the flags bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.functions.hashing import md5_long56
from change_data_capturer_ms_spark.operators.dedup_docs import word_shingles


def contamination_check(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram overlap with the eval set.

    Output (one row per doc that has ≥ n words):
      - id               : the document id
      - n_shingles       : distinct word n-grams in the doc
      - n_contaminated   : how many of them also occur in ANY eval item
      - contamination_frac = n_contaminated / n_shingles (round 6)
      - n_eval_docs      : distinct eval items hit (which benchmarks leak)

    Docs with zero overlap ARE emitted (frac 0.0) — the caller filters; a
    decontamination pass needs the clean set, not just the flagged one.

    `n` trades precision for recall exactly like published decontamination
    (8-grams for GPT-3, 13-grams elsewhere); short docs (< n words) produce
    no shingles and are absent from the output — treat them upstream.
    """
    doc_sh = word_shingles(docs, text_col, id_col, n).select(
        "id", md5_long56(F.col("shingle")).alias("h")
    )
    eval_sh = word_shingles(eval_df, eval_text_col, eval_id_col, n).select(
        F.col("id").alias("eval_id"), md5_long56(F.col("shingle")).alias("h")
    )
    sizes = doc_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_sh.join(F.broadcast(eval_sh), "h")
        .groupBy("id")
        .agg(
            F.count_distinct("h").alias("n_contaminated"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
    )
    return (
        sizes.join(hits, "id", "left")
        .select(
            "id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)) / F.col("n_shingles"), 6
            ).alias("contamination_frac"),
            F.coalesce("n_eval_docs", F.lit(0)).alias("n_eval_docs"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    max_frac: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "doc_id",
    broadcast_flagged: bool = True,
) -> DataFrame:
    """The corpus minus contaminated documents: drop every doc whose
    contamination_frac exceeds `max_frac` (0.0 = any verbatim n-gram overlap
    disqualifies, the GPT-3 rule).

    The flagged set is bounded by the contamination RATE (typically a small
    fraction of the corpus), so `broadcast_flagged=True` (default) pins the
    subtraction as a broadcast LEFT ANTI join — the corpus is scanned, never
    shuffled. It is still data-proportional, not bounded: on a corpus known
    to be heavily contaminated pass False — the join falls back to shuffle
    and AQE converts it back to broadcast at runtime if the measured size
    allows (same contract as `operators.graph.dedup_keep_canonical`).
    """
    flagged = (
        contamination_check(
            docs, eval_df, n, text_col, id_col, eval_text_col, eval_id_col
        )
        .filter(F.col("contamination_frac") > max_frac)
        .select("id")
    )
    if broadcast_flagged:
        flagged = F.broadcast(flagged)
    return docs.join(flagged, docs[id_col] == flagged.id, "left_anti")
