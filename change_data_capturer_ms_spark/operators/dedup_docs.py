"""Document deduplication operators for training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, and SimHash — all pure DataFrame
compositions (no Python in the hot path), designed around the shuffles they imply:

- exact_dedup: one hash aggregation on sha256(text); map-side combine applies.
- shingle explode → self-join is the quadratic danger at 100 TB; the LSH variants
  bound it: MinHash signatures are one aggregation, candidate pairs come from
  banded-bucket joins (only same-bucket docs meet), never an all-pairs join.
- All token hashes are md5-derived (`functions.hashing`) so results are
  re-derivable by the DuckDB oracle — no engine-private hash leaves the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.functions.hashing import (
    MINHASH_PERMS,
    md5_long56,
    minhash_perm,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: canonical (min) id + count per sha256(text).

    Scale: a single hash aggregation; the sha256 is computed map-side so the shuffle
    key is 64 hex chars, not the document body.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha256"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). Docs shorter than n
    words produce no shingles."""
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(0), F.size(words) - n)
    sh = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col).alias("id"), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    df_cap: int | None = 1000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold (id_a < id_b).

    Plan shape: shingle explode → equi-join on shingle (co-partitioned by shingle
    hash) → pair aggregation → plain equi-joins of per-doc shingle counts. The
    shingle join only meets docs sharing ≥1 shingle — far from all-pairs.

    The sizes joins are deliberately NOT broadcast-hinted: `sizes` is one row
    PER CORPUS DOCUMENT, so a forced broadcast is tens of GB at 10⁸–10⁹ docs
    (driver/executor OOM). The pair frame shuffles on id instead — it is
    threshold-bounded and far smaller than the corpus — and AQE still converts
    the join back to broadcast at runtime when the measured size allows. The
    only broadcast hint in this plan is the hot-shingle anti-join list, which
    is bounded by construction (shingles with df > df_cap).

    `df_cap` bounds the quadratic danger: a shingle shared by M docs fans out
    M² pairs, so one stop-shingle at corpus scale is a job-killer. Shingles
    whose document frequency exceeds df_cap are excluded from the JOIN (via a
    broadcast anti-join against the tiny hot-shingle list — one extra
    aggregation, no second shuffle of the shingle table). Per-doc sizes stay
    UNCAPPED, so the Jaccard denominator is exact and the estimate only
    undercounts pairs whose overlap was purely stop-shingles — the pairs a
    dedup pipeline wants to drop anyway. df_cap=None disables the cap (exact
    baseline for small corpora).

    `shingles` lets the caller pass a pre-materialized `word_shingles` frame
    (columns id, shingle) — this plan reads the shingle table four times
    (per-doc sizes, hot-shingle DF, both self-join sides), so sharing one
    checkpointed frame across miners avoids re-deriving the explode lineage.
    """
    sh = word_shingles(df, text_col, id_col, n) if shingles is None else shingles
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_join = sh
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        sh_join = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh_join.alias("a")
    b = sh_join.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "shared", "jaccard")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: columns mh0..mh{k-1} (k = len(MINHASH_PERMS)).

    One aggregation over exploded shingles; each min is partially aggregated
    map-side, so shuffle volume is docs × k longs regardless of shingle count.
    `shingles` accepts a shared pre-materialized word_shingles frame.
    """
    # materialize the md5 hash as a projected column: aggregate expressions get
    # no common-subexpression elimination, so embedding md5_long56 in each of
    # the k min() aggs would hash every shingle k times
    sh = (word_shingles(df, text_col, id_col, n) if shingles is None
          else shingles).withColumn("h", md5_long56(F.col("shingle")))
    aggs = [F.min(minhash_perm(F.col("h"), i)).alias(f"mh{i}")
            for i in range(len(MINHASH_PERMS))]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_est: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH + estimated similarity.

    Signature of k hashes split into `bands` bands of k/bands rows; docs colliding
    on any full band become candidates (the classic S-curve selectivity). The only
    joins are per-band self-equi-joins on the band key — at scale each bucket is
    tiny, so the pair fan-out is near-linear in true duplicates.

    est_jaccard = fraction of signature positions agreeing (unbiased MinHash
    estimator), rounded for cross-engine comparability.
    """
    k = len(MINHASH_PERMS)
    assert k % bands == 0
    rows = k // bands
    sig = minhash_signatures(df, text_col, id_col, n, shingles=shingles)
    # explode each doc to (band_idx, band_key) rows and self-join ONCE on the
    # band key — the per-band-loop formulation would recompute the signature
    # aggregation 2*bands times; this computes it once per side and turns the
    # band dimension into data, the scalable shape (band buckets co-partition)
    banded = sig.select(
        "id",
        F.array(*[F.col(f"mh{i}") for i in range(k)]).alias("sig"),
        F.explode(F.array(*[
            F.struct(
                F.lit(bidx).alias("band"),
                F.array(*[F.col(f"mh{i}")
                          for i in range(bidx * rows, (bidx + 1) * rows)]).alias("key"),
            )
            for bidx in range(bands)
        ])).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in several bands
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v,
    )
    out = cand.withColumn("est_jaccard", F.round(agree / F.lit(float(k)), 6)).filter(
        F.col("est_jaccard") >= min_est
    )
    return out.select("id_a", "id_b", "est_jaccard")


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 15,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs: (id, cluster_id) where
    cluster_id = the smallest doc id in the component (the canonical survivor
    every dedup pipeline keeps).

    Min-label propagation: each round every node adopts the minimum label in
    its closed neighborhood; converges in O(component diameter) rounds —
    near-dup clusters are dense and shallow, so a handful of rounds suffices
    (the CC-MR / large-star-small-star family is the same idea with edge
    rewriting; plain propagation keeps the per-round plan to one join + one
    aggregation on the co-partitioned node key). Each round localCheckpoints
    the label table: without it the iterative lineage grows a plan Catalyst
    re-optimizes from scratch every round.

    Raises after max_iter without convergence (pathological chain — raise the
    bound or pre-bucket). Iterative ⇒ not oracle-SQL-expressible; verified
    against a union-find reference in tests.
    """
    from change_data_capturer_ms_spark.operators.graph import _Ckpointer

    _ckpt = _Ckpointer(checkpoint_dir)
    edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    labels = _ckpt(
        edges.select(F.col("u").alias("id")).distinct()
        .withColumn("label", F.col("id")),
    )
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u").agg(F.min("label").alias("nmin"))
        )
        new_labels = _ckpt(
            labels.join(neigh_min, labels.id == neigh_min.u, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            ),
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("id", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"duplicate_clusters did not converge in {max_iter} rounds")


def dedup_dataset(
    df: DataFrame,
    method: str = "minhash",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    bands: int = 4,
    max_hamming: int = 3,
    broadcast_losers: bool = True,
) -> DataFrame:
    """The end-user dedup operation: the corpus minus non-canonical near-dups.

    method='exact'  : drop every row whose sha256(text) group has a smaller id.
    method='minhash': MinHash-LSH candidate pairs at est_jaccard ≥ threshold →
                      connected components → keep the min-id doc per cluster.
    method='simhash': banded hamming-≤max_hamming pairs → same clustering.

    Plan shape: pair mining is bucketed (never all-pairs); the loser set is
    usually a small fraction of the corpus, so `broadcast_losers=True`
    (default) pins the subtraction as a broadcast LEFT ANTI join — the full
    corpus is scanned once and never shuffled. The loser count is
    DUP-RATE-proportional, not bounded: at extreme dup rates (a raw crawl
    that is half mirror copies) pass False — the join falls back to shuffle
    and AQE still converts it back to broadcast at runtime if the measured
    size allows. A forced broadcast of an unbounded side is the failure mode
    to avoid, not the shuffle (same contract as
    `operators.graph.dedup_keep_canonical`).
    """
    if method == "exact":
        from pyspark.sql import Window

        losers = (
            df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("h"))
            .withColumn("keep", F.min("id").over(Window.partitionBy("h")))
            .filter(F.col("id") != F.col("keep"))
            .select("id")
        )
    else:
        if method == "minhash":
            pairs = minhash_lsh_pairs(df, bands=bands, text_col=text_col,
                                      id_col=id_col, min_est=threshold)
        elif method == "simhash":
            pairs = simhash_pairs_banded(df, text_col=text_col, id_col=id_col,
                                         bits=32, bands=bands,
                                         max_hamming=max_hamming)
        else:
            raise ValueError(f"unknown dedup method: {method}")
        clusters = duplicate_clusters(pairs)
        losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    if broadcast_losers:
        losers = F.broadcast(losers)
    return df.join(losers, df[id_col] == losers.id, "left_anti")


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Per-doc SimHash over word hashes (bit j set iff sum of ±1 votes > 0).

    Bag-of-words semantics (duplicate words vote multiple times). One explode +
    one aggregation; the `bits` conditional sums all partial-aggregate map-side.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    h = md5_long56(F.col("w"))
    words = words.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = words.groupBy("id").agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("id", sim.cast("long").alias("simhash"))


def simhash_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      bits: int = 16) -> DataFrame:
    """Near-dup candidates = exact SimHash collisions (hamming distance 0 at the
    chosen bit width; `simhash_pairs_banded` is the hamming-≤k generalization)."""
    s = simhash(df, text_col, id_col, bits)
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("simhash"))
    )


def simhash_pairs_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    with_sigs: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming, found via
    banded buckets (never an all-pairs join).

    The `bits`-bit signature splits into `bands` equal bands; two docs become
    candidates iff they collide on at least one whole band. Pigeonhole
    guarantees completeness for max_hamming ≤ bands - 1: fewer than `bands`
    differing bits cannot touch every band. Candidates then pass an exact
    popcount(xor) filter. Same sublinear shape as `minhash_lsh_pairs`: per-band
    self-equi-joins on small buckets, fan-out ~ true near-dups, not corpus².
    """
    assert bits % bands == 0, "bits must divide evenly into bands"
    assert max_hamming <= bands - 1, "pigeonhole completeness needs max_hamming < bands"
    width = bits // bands
    mask = (1 << width) - 1
    s = simhash(df, text_col, id_col, bits)
    banded = s.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sim_a"), F.col("b.simhash").alias("sim_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair may collide in several bands
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming",
                *([F.col("sim_a").alias("sig_a"), F.col("sim_b").alias("sig_b")]
                  if with_sigs else []))
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    df_cap: int = 1000,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): find every
    maximal token span that appears verbatim in MORE THAN ONE document, so the
    caller can cut the repeated bytes instead of dropping whole documents —
    the dedup mode whole-doc/near-dup operators cannot express.

    Suffix arrays don't distribute; the Spark-shaped equivalent is windowed
    hashing: every n-token window (md5-hashed, cross-engine stable) → one
    aggregation for the window's document frequency → windows shared by 2..
    `df_cap` docs mark their positions → per-doc gaps-and-islands folds
    overlapping windows into MAXIMAL spans. Any shared substring of ≥ n tokens
    is covered by ≥ 1 shared window, and a span of L shared tokens produces
    L-n+1 marked windows that fold into exactly one island.

    Output: (id, span_start, span_end, n_windows) with token-index bounds
    [span_start, span_end] inclusive.

    Scale shape: the window table is O(total tokens) — the honest cost of
    exact dedup (the suffix array is the same size). Both shuffles key on
    bounded-skew columns: the window hash (df_cap bounds any hot window's
    group, mirroring the shingle DF cap on ngram_jaccard_pairs), then the doc
    id (islands are a per-doc linear window). No UDF, no self-join.
    """
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(0), F.size(words) - n)
    sh = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    pos_h = (
        df.filter(F.size(words) >= n)
        .select(F.col(id_col).alias("id"), F.posexplode(sh).alias("pos", "w"))
        .select("id", "pos", md5_long56(F.col("w")).alias("h"))
    )
    # document frequency per window hash; cap kills boilerplate windows that
    # would otherwise mark most of every document (license headers etc.)
    shared = (
        pos_h.groupBy("h")
        .agg(F.count_distinct("id").alias("ndocs"))
        .filter((F.col("ndocs") > 1) & (F.col("ndocs") <= df_cap))
    )
    marked = pos_h.join(shared, "h").select("id", "pos")
    # gaps-and-islands: a window starting at pos overlaps a previous one iff
    # pos <= prev_pos + n - 1; running max of window ends finds the break
    from pyspark.sql import Window

    w_prev = (Window.partitionBy("id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_ord = Window.partitionBy("id").orderBy("pos")
    islands = (
        marked
        .withColumn("_prev_end", F.max(F.col("pos") + n - 1).over(w_prev))
        .withColumn("_new", (F.col("_prev_end").isNull()
                             | (F.col("pos") > F.col("_prev_end"))).cast("int"))
        .withColumn("_island", F.sum("_new").over(w_ord))
    )
    return (
        islands.groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_island")
    )
