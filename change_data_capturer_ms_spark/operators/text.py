"""Text analysis operators for training-data pipelines: token counting, quality
scoring, n-gram language ID, document fingerprinting.

Everything is builtin-expression (codegen) except `lang_id_pandas`, the
Arrow-batched UDF variant kept for parity with the engine's mandated UDF surface.
All are single-pass projections or one aggregation — no joins, no state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from change_data_capturer_ms_spark.functions.hashing import md5_long56

# tiny per-language stopword lists for the n-gram/stopword heuristic language ID.
# The sandbox documents are synthetic word soup, so this doubles as a deterministic
# scoring function; real deployments plug in a fastText-style model via the same
# pandas-UDF seam.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def token_count_ws(col: str | Column) -> Column:
    """Whitespace token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def token_count_bpe_ish(col: str | Column) -> Column:
    """BPE-ish subword proxy: alnum runs + punctuation marks each count as a token
    (regex split on boundaries) — a deterministic stand-in for a real tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality features: length, token counts, mean token length,
    stopword ratio (en), distinct-token ratio."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(words)
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        token_count_bpe_ish(text_col).alias("n_subtokens"),
        F.round(F.length(text_col) / n_tok, 4).alias("mean_tok_len"),
        F.round(n_stop / n_tok, 4).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(words)) / n_tok, 4).alias("distinct_ratio"),
    )


def _lang_scores(words: Column) -> list[tuple[str, Column]]:
    """Per-language stopword hit counts over a tokenized column."""
    scores = []
    for lang, stops in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in stops])
        scores.append((lang, F.size(F.filter(words, lambda w: F.array_contains(arr, w)))))
    return scores


def _lang_argmax(scores: list[tuple[str, Column]]) -> Column:
    """First strictly-greater language in declared order wins ties; 'und' if 0."""
    expr_lang: Column = F.lit("und")
    expr_score: Column = F.lit(0)
    for lang, s in scores:
        take = s > expr_score
        expr_lang = F.when(take, F.lit(lang)).otherwise(expr_lang)
        expr_score = F.when(take, s).otherwise(expr_score)
    return expr_lang


def lang_id_builtin(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit counts, with a
    deterministic tiebreak (language order); 'und' when nothing matches. Pure
    expressions — and exactly re-expressible in oracle SQL."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    scores = _lang_scores(words)
    out = df.select(F.col(id_col), *[s.alias(f"score_{lang}") for lang, s in scores])
    # strict > in declared order ⇒ first-listed language wins ties (deterministic)
    expr_lang = _lang_argmax([(lang, F.col(f"score_{lang}")) for lang in LANG_STOPWORDS])
    return out.withColumn("lang_guess", expr_lang).select(
        id_col, *[f"score_{lang}" for lang in LANG_STOPWORDS], "lang_guess"
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """quality_scores ∪ language-ID in ONE projection (no join).

    At corpus scale these features are always consumed together (filter
    training data by quality AND language in one pass); joining two separate
    per-doc projections of the same table would shuffle on the doc id for
    nothing. Whole-stage codegen CSE shares the tokenization across all the
    derived columns (projection CSE applies — unlike aggregates, CLAUDE.md).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(words)
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    scores = _lang_scores(words)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        token_count_bpe_ish(text_col).alias("n_subtokens"),
        F.round(F.length(text_col) / n_tok, 4).alias("mean_tok_len"),
        F.round(n_stop / n_tok, 4).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(words)) / n_tok, 4).alias("distinct_ratio"),
        *[s.alias(f"score_{lang}") for lang, s in scores],
        _lang_argmax(scores).alias("lang_guess"),
    )


@pandas_udf(StringType())
def _langid_pd(text: pd.Series) -> pd.Series:
    def guess(t: str | None) -> str:
        if not t:
            return "und"
        words = t.split()
        best, best_score = "und", 0
        for lang, stops in LANG_STOPWORDS.items():
            s = sum(1 for w in words if w in stops)
            if s > best_score:
                best, best_score = lang, s
        return best
    return text.map(guess)


def lang_id_pandas(col: str | Column) -> Column:
    """Arrow-batched UDF variant of lang_id (the seam where a real model plugs in)."""
    c = F.col(col) if isinstance(col, str) else col
    return _langid_pd(c)


def tfidf_top_terms(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    top_k: int = 50) -> DataFrame:
    """Corpus-level TF-IDF term ranking: for each term, the number of documents
    containing it (doc_freq), total occurrences (total_tf), smoothed
    idf = ln((N+1)/(doc_freq+1)) + 1, and score = total_tf * idf; top-k terms.

    Ranking uses the INTEGER keys (doc_freq desc, total_tf desc, term asc) so
    the cutoff is deterministic across engines — ordering by the float score
    can flip inclusion at the boundary on 1-ulp differences.

    Plan: explode → per-(doc,term) count (map-side combine collapses the heavy
    duplication before the shuffle) → per-term agg → broadcast 1-row corpus
    count → top-k. Two shuffles total, both keyed on term after the first
    combine; no UDF. At 100 TB the term dictionary is the small side — the
    final top-k is a tiny sort.
    """
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").alias("total_tf"),
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = stats.join(F.broadcast(n_docs)).select(
        "term", "doc_freq", "total_tf",
        F.round(F.log((F.col("n_docs") + 1) / (F.col("doc_freq") + 1)) + 1, 5)
         .alias("idf"),
        F.round(F.col("total_tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("doc_freq") + 1)) + 1), 5)
         .alias("tfidf"),
    )
    return (scored.orderBy(F.col("doc_freq").desc(), F.col("total_tf").desc(),
                           F.col("term").asc())
                  .limit(top_k))


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    n: int = 4) -> DataFrame:
    """Rolling-hash document fingerprint: min & max md5-56 hash over word n-grams
    (a 2-sketch winnowing stand-in) + shingle count. One explode + one agg."""
    from change_data_capturer_ms_spark.operators.dedup_docs import word_shingles

    sh = word_shingles(df, text_col, id_col, n)
    h = md5_long56(F.col("shingle"))
    return sh.groupBy("id").agg(
        F.min(h).alias("fp_min"),
        F.max(h).alias("fp_max"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 4,
                        window: int = 4) -> DataFrame:
    """Winnowing fingerprints (the MOSS scheme, Schleimer et al. 2003): hash
    word n-grams in document order, then from every window of `window`
    consecutive hashes select the minimum (rightmost on ties); the distinct
    selected (position, hash) set is the fingerprint.

    Guarantee: any shared substring spanning ≥ window + n - 1 words yields at
    least one shared fingerprint — position-robust plagiarism/near-dup
    detection that `doc_fingerprint`'s global min/max sketch cannot give.

    Plan: ordered POSITIONED shingles (no array_distinct — winnowing needs
    document order) → per-doc ordered window min of struct(hash, -pos) over
    [current, window-1 FOLLOWING] → distinct. One shuffle on doc id; the
    per-doc window is linear scan work, and output size is ~2·len/window per
    doc (the winnowing density bound), so the fingerprint table is a fraction
    of the shingle table at any corpus size.
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(0), F.size(words) - n)
    sh = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    pos_sh = (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col).alias("id"), F.posexplode(sh).alias("pos", "shingle"))
        .withColumn("h", md5_long56(F.col("shingle")))
    )
    w = (Window.partitionBy("id").orderBy("pos")
         .rowsBetween(Window.currentRow, window - 1))
    n_sh = Window.partitionBy("id")
    picked = (
        pos_sh
        # min of (hash, -pos) = smallest hash, rightmost instance on ties
        .withColumn("sel", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w))
        .withColumn("n_sh", F.count(F.lit(1)).over(n_sh))
        # only full windows select (short docs: the single truncated window at pos 0)
        .filter((F.col("pos") <= F.col("n_sh") - window) | (F.col("pos") == 0))
        .select("id", F.col("sel.h").alias("fp_hash"), (-F.col("sel.np")).alias("fp_pos"))
        .distinct()
    )
    return picked


def repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_top: int = 2,
    gram_dup: int = 5,
) -> DataFrame:
    """Within-document repetition metrics (the Gopher quality-filter family,
    Rae et al. 2021 "Scaling Language Models: ... Gopher", Table A1): the
    repeated-content signals used to drop machine-generated / boilerplate
    documents from a training corpus.

    Per document:
      - n_lines             : non-empty newline-separated lines
      - dup_line_frac       : fraction of line occurrences whose line value
                              appears more than once in the doc
      - dup_line_char_frac  : same, weighted by line characters
      - top_g{gram_top}_frac: occurrences of the single most frequent word
                              gram_top-gram / total gram_top-grams
      - dup_g{gram_dup}_frac: fraction of gram_dup-gram occurrences whose gram
                              appears more than once in the doc
    Gram fractions are NULL for docs too short to form a gram.

    Plan shape: ONE scan — lines and both gram families are concatenated into
    a single array<struct<kind,tok>> and exploded once; then two hash
    aggregations, both keyed on the doc id (the second re-uses the first's
    partitioning, so one shuffle ends up doing all the work). No UDF, no join,
    no window; per-doc group sizes are bounded by document length, so there is
    no skew a hot KEY could create at 100 TB — only a pathologically long
    single document, which upstream length filters bound first.
    """
    words = F.split(F.col(text_col), " ")

    def grams(n: int) -> Column:
        g = F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
        # sequence(0, k) DESCENDS when k < 0 — guard short docs to empty
        return F.when(F.size(words) >= n, g).otherwise(
            F.array().cast("array<string>")
        )

    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")

    def tag(kind: str, arr: Column) -> Column:
        return F.transform(
            arr, lambda x: F.struct(F.lit(kind).alias("kind"), x.alias("tok"))
        )

    combined = F.concat(
        tag("line", lines),
        tag("gt", grams(gram_top)),
        tag("gd", grams(gram_dup)),
    )
    tok = df.select(F.col(id_col).alias("id"), F.explode(combined).alias("t")).select(
        "id", F.col("t.kind").alias("kind"), F.col("t.tok").alias("tok")
    )
    per_tok = tok.groupBy("id", "kind", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    chars = F.col("cnt") * F.length("tok")
    is_line = F.col("kind") == "line"
    is_gt = F.col("kind") == "gt"
    is_gd = F.col("kind") == "gd"
    dup = F.col("cnt") > 1
    zero = F.lit(0).cast("long")

    def csum(cond, val) -> Column:
        return F.sum(F.when(cond, val).otherwise(zero))

    agg = per_tok.groupBy("id").agg(
        csum(is_line, F.col("cnt")).alias("n_lines"),
        csum(is_line & dup, F.col("cnt")).alias("_dl"),
        csum(is_line, chars).alias("_lc"),
        csum(is_line & dup, chars).alias("_dlc"),
        csum(is_gt, F.col("cnt")).alias("_gt_n"),
        F.max(F.when(is_gt, F.col("cnt"))).alias("_gt_max"),
        csum(is_gd, F.col("cnt")).alias("_gd_n"),
        csum(is_gd & dup, F.col("cnt")).alias("_gd_dup"),
    )
    frac = lambda num, den: F.round(num / F.nullif(den, F.lit(0)), 6)  # noqa: E731
    return agg.select(
        "id",
        F.col("n_lines").cast("int").alias("n_lines"),
        frac(F.col("_dl"), F.col("n_lines")).alias("dup_line_frac"),
        frac(F.col("_dlc"), F.col("_lc")).alias("dup_line_char_frac"),
        frac(F.col("_gt_max"), F.col("_gt_n")).alias(f"top_g{gram_top}_frac"),
        frac(F.col("_gd_dup"), F.col("_gd_n")).alias(f"dup_g{gram_dup}_frac"),
    )


def gopher_rules(
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_tok: float = 3.0,
    max_mean_tok: float = 10.0,
    min_distinct: float = 0.1,
    max_dup_line: float = 0.30,
    max_top_g2: float = 0.20,
    max_dup_g5: float = 0.30,
    require_stopwords: bool = True,
    require_lang: str | None = None,
) -> list[tuple[str, Column]]:
    """The Gopher quality-filter rule set (Rae et al. 2021, Table A1) as
    (reason, fail-condition) pairs over the columns `text_profile` +
    `repetition_profile` already compute. Thresholds are the published ones;
    every condition is a plain comparison so the whole filter stays inside
    whole-stage codegen and mirrors 1:1 into oracle SQL."""
    rules: list[tuple[str, Column]] = [
        ("n_tokens",
         (F.col("n_tokens") < min_tokens) | (F.col("n_tokens") > max_tokens)),
        ("mean_tok_len",
         (F.col("mean_tok_len") < min_mean_tok)
         | (F.col("mean_tok_len") > max_mean_tok)),
        ("low_diversity", F.col("distinct_ratio") < min_distinct),
        ("dup_lines", F.col("dup_line_frac") > max_dup_line),
        ("top_2gram", F.col("top_g2_frac") > max_top_g2),
        ("dup_5gram", F.col("dup_g5_frac") > max_dup_g5),
    ]
    if require_stopwords:
        rules.append(("no_stopwords", F.col("stopword_ratio") <= 0))
    if require_lang is not None:
        rules.append(("lang", F.col("lang_guess") != require_lang))
    return rules


def gopher_filter(
    profile: DataFrame,
    rules: list[tuple[str, Column]] | None = None,
    reasons_col: str = "drop_reasons",
    keep_col: str = "keep",
) -> DataFrame:
    """Append `keep` + `drop_reasons` (array of failed rule names, declared
    order) to a quality-profile frame — the decision step of the Gopher
    pipeline, kept separate from the metric computation so the same profile
    pass can be audited, re-thresholded, or A/B'd without a rescan.

    NULL metric semantics: a NULL metric PASSES its rule (a doc too short to
    form a 5-gram is not thereby repetitive) — conditions are coalesced to
    false, so three-valued logic can't silently drop rows (the validate.py
    lesson). Pure projection: no UDF, no shuffle, no join."""
    if rules is None:
        rules = gopher_rules()
    tags = [
        F.when(F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in rules
    ]
    reasons = F.array_compact(F.array(*tags))
    return profile.withColumn(reasons_col, reasons).withColumn(
        keep_col, F.size(F.col(reasons_col)) == 0
    )


# -- PII redaction ------------------------------------------------------------

# Deliberately simple, auditable patterns (a production deployment swaps in its
# compliance team's set); keys are the redaction tag and the count column suffix.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d ().-]{7,}\d",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Scrub PII from a corpus before it becomes training data: appends
    `{text_col}_redacted` (matches replaced with `[PII:<kind>]`) and a
    `n_<kind>` match count per pattern.

    Scale shape: a single projection of chained `regexp_replace` /
    `regexp_count` — JVM regex inside whole-stage codegen, no UDF, no
    shuffle; at 100 TB this runs at scan speed and composes with any
    downstream filter (e.g. drop documents with n_ssn > 0 entirely).

    Patterns apply in declaration order on the running redacted text; counts
    are measured on the ORIGINAL text per kind (overlapping kinds may both
    count the same span — counts are audit metrics, not disjoint partitions).
    """
    kinds = tuple(kinds) if kinds is not None else tuple(PII_PATTERNS)
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds: {unknown}; known: {list(PII_PATTERNS)}")
    out_col = out_col or f"{text_col}_redacted"
    redacted = F.col(text_col)
    for k in kinds:
        redacted = F.regexp_replace(redacted, PII_PATTERNS[k], f"[PII:{k}]")
    return df.select(
        "*",
        redacted.alias(out_col),
        *[F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k])).alias(f"n_{k}")
          for k in kinds],
    )
