"""Repetition profile (Gopher filters), benchmark decontamination, SemDeDup."""

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.operators import (
    contamination_check,
    decontaminate,
    repetition_profile,
    semdedup,
)


# -- repetition_profile --------------------------------------------------------

def test_repetition_profile_hand_checked(spark):
    docs = [
        # 4 lines, "dup dup" line twice -> dup_line_frac = 2/4
        (0, "dup dup\nuniq one\ndup dup\nuniq two"),
        # all lines distinct
        (1, "a b c\nd e f"),
        # heavy 2-gram repetition: "x y" appears 4x out of 7 2-grams
        (2, "x y x y x y x y"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["id"]: r for r in repetition_profile(df).collect()}

    r0 = rows[0]
    assert r0["n_lines"] == 4
    assert r0["dup_line_frac"] == pytest.approx(0.5)
    # dup lines carry 2*7=14 chars of 7+8+7+8=30
    assert r0["dup_line_char_frac"] == pytest.approx(round(14 / 30, 6))

    r1 = rows[1]
    assert r1["dup_line_frac"] == 0.0
    assert r1["dup_line_char_frac"] == 0.0

    r2 = rows[2]
    # 2-grams of 8 words: 7 occurrences; "x y" x4 is the top
    assert r2["top_g2_frac"] == pytest.approx(round(4 / 7, 6))
    # 5-grams: 4 occurrences, "x y x y x" x2 and "y x y x y" x2 -> all dup
    assert r2["dup_g5_frac"] == pytest.approx(1.0)


def test_repetition_profile_short_doc_null_grams(spark):
    df = spark.createDataFrame([(0, "only three words")], "doc_id long, text string")
    r = repetition_profile(df, gram_dup=5).collect()[0]
    assert r["n_lines"] == 1
    assert r["top_g2_frac"] is not None       # 2 grams exist
    assert r["dup_g5_frac"] is None           # < 5 words -> no 5-grams


def test_repetition_profile_single_scan_plan(spark):
    """One generator explode, no join — the single-scan shape."""
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = repetition_profile(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1
    assert "Join" not in plan


# -- contamination -------------------------------------------------------------

def _corpus(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely different words with no overlap whatsoever here now"),
            (2, "quick brown fox jumps over the lazy dog again ok"),
        ],
        "doc_id long, text string",
    )


def _evalset(spark):
    # one benchmark item sharing an 8-gram run with docs 0 and 2
    return spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )


def test_contamination_check_flags_overlap(spark):
    out = {r["id"]: r for r in
           contamination_check(_corpus(spark), _evalset(spark), n=8).collect()}
    assert out[0]["n_contaminated"] > 0
    assert out[2]["n_contaminated"] > 0
    assert out[1]["n_contaminated"] == 0
    assert out[1]["contamination_frac"] == 0.0
    assert out[0]["n_eval_docs"] == 1
    # frac consistency
    for r in out.values():
        assert r["contamination_frac"] == pytest.approx(
            round(r["n_contaminated"] / r["n_shingles"], 6))


def test_decontaminate_drops_flagged_docs(spark):
    kept = decontaminate(_corpus(spark), _evalset(spark), n=8, max_frac=0.0)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1]


def test_contamination_eval_side_is_broadcast(spark):
    plan = contamination_check(_corpus(spark), _evalset(spark), n=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


# -- semdedup ------------------------------------------------------------------

def test_semdedup_keeps_min_id_per_semantic_group(spark):
    # two tight groups of near-identical vectors + one singleton
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),
        (2, [0.998, 0.002, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.999, 0.001, 0.0]),
        (20, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(r["vec_id"] for r in
                  semdedup(df, tau=0.999, n_cells=3).collect())
    # min-id survivor per group: {0,1,2}->0, {10,11}->10, {20}->20
    assert kept == [0, 10, 20]


def test_semdedup_cell_cap_bounds_pair_join(spark):
    """With cell_cap exceeded, the pair join key becomes (cell, sub-bucket):
    near-dups in different sign-bit sub-buckets of an oversize cell no longer
    meet (the documented recall trade that bounds the per-cell quadratic)."""
    # 20 near-identical vectors in ONE cell; element[0]'s sign splits them
    # 10/10 across sub_bits=1 sub-buckets. Cross-group cosine ~0.99993 >= tau.
    rows = [(i, [0.01 if i < 10 else -0.01, 1.0, 1.0, 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # uncapped: all 20 are one semantic component -> single min-id survivor
    kept_uncapped = sorted(r["vec_id"] for r in
                           semdedup(df, tau=0.999, n_cells=1,
                                    cell_cap=None).collect())
    assert kept_uncapped == [0]
    # capped (20 > 5): pairs only meet within a sign-bit sub-bucket -> the
    # two sub-buckets each keep their min id
    kept_capped = sorted(r["vec_id"] for r in
                         semdedup(df, tau=0.999, n_cells=1, cell_cap=5,
                                  sub_bits=1).collect())
    assert kept_capped == [0, 10]
    # cells within the cap are untouched by the sub-split (sub = -1 both sides)
    kept_under = sorted(r["vec_id"] for r in
                        semdedup(df, tau=0.999, n_cells=1, cell_cap=50,
                                 sub_bits=1).collect())
    assert kept_under == [0]


def test_semdedup_cell_cap_short_vectors(spark):
    """Default sub_bits=8 with stride 4 probes element 29; dim-8 vectors in an
    over-cap cell must read the out-of-range sign bits as 0 instead of
    failing under ANSI mode. The in-range bits still split the cell."""
    rows = [(i, [0.01 if i < 10 else -0.01, 1.0, 1.0, 1.0,
                 1.0, 1.0, 1.0, 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(r["vec_id"] for r in
                  semdedup(df, tau=0.999, n_cells=1, cell_cap=5).collect())
    assert kept == [0, 10]


def test_semdedup_auto_n_cells(spark):
    """n_cells=None auto-scales: clamp(ceil(rows/1024), 8, 4096) — 20 rows
    -> 8 cells; identical result to passing 8 explicitly."""
    rows = [(i, [0.01 if i < 10 else -0.01, 1.0, 1.0, 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto = sorted(r["vec_id"] for r in semdedup(df, tau=0.999).collect())
    explicit = sorted(r["vec_id"] for r in
                      semdedup(df, tau=0.999, n_cells=8).collect())
    assert auto == explicit


def test_semdedup_no_pairs_is_identity(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(r["vec_id"] for r in semdedup(df, tau=0.999, n_cells=2).collect())
    assert kept == [0, 1, 2, 3]


# -- mix_corpora ---------------------------------------------------------------

def test_mix_corpora_deterministic_and_tagged(spark):
    from change_data_capturer_ms_spark.operators import mix_corpora

    web = spark.createDataFrame([(i, f"w{i}") for i in range(400)],
                                "doc_id long, text string")
    books = spark.createDataFrame([(i, f"b{i}", "en") for i in range(100)],
                                  "doc_id long, text string, lang string")
    mixed = mix_corpora({"web": (web, 0.3), "books": (books, 1.0)}, "doc_id")
    rows = mixed.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["mix_source"], []).append(r)
    # full-rate source kept entirely; downsampled source near its rate
    assert len(by_src["books"]) == 100
    assert 0.15 <= len(by_src["web"]) / 400 <= 0.45
    # additive schema: web rows carry NULL lang
    assert all(r["lang"] is None for r in by_src["web"])
    assert all(r["lang"] == "en" for r in by_src["books"])
    # determinism: a re-built, repartitioned input picks the SAME web rows
    again = mix_corpora({"web": (web.repartition(7), 0.3)}, "doc_id")
    assert sorted(r["doc_id"] for r in again.collect()) == \
        sorted(r["doc_id"] for r in by_src["web"])


def test_mix_corpora_validates_rates(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    from change_data_capturer_ms_spark.operators import mix_corpora
    with pytest.raises(ValueError, match="must be in"):
        mix_corpora({"a": (df, 1.5)}, "doc_id")
    with pytest.raises(ValueError, match="no sources"):
        mix_corpora({}, "doc_id")
