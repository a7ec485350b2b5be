"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, and an LSH-bucketed variant as
the scale path. All vector math stays JVM-side via higher-order functions
(`zip_with` + `aggregate`) on arrays cast to double — no Python worker in the loop.

Scale design: brute force is a broadcast-join of the (small) query set against the
full corpus — linear scan, embarrassingly parallel, the right baseline. The LSH
variant buckets corpus + queries by deterministic sign-bit hyperplanes so each query
only scans its bucket (~corpus/2^bits rows); recall is traded via `bits` and
multi-probe. The IVF variants replace the bucketer with centroids — same join shape.

Every operator is built from one copy of each mechanism: `_rank_by_cosine` (exact
top-k over candidate pairs), `_top_n` (the only per-group window), `_argmin`
(nearest centroid/code as a partial/final `min_by` aggregate), `_hash_seeds`
(the deterministic centroid sample) and `_sqdist` (the one distance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _sqdist(a, b):
    """Squared euclidean distance of two array<double> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_sim(a, b):
    """Cosine similarity of two array<double> columns, pure Catalyst expressions.

    A zero vector on either side has no direction: its cosine is NULL
    (`try_divide`, so ANSI mode does not raise DIVIDE_BY_ZERO). NULL ranks
    after every scored neighbour and fails every `>= threshold` filter."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _as_double(col):
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def _vectors(df: DataFrame, id_col: str, vec_col: str, id_as: str, vec_as: str) -> DataFrame:
    """(id_as, vec_as): the id column and the vector column cast to array<double>."""
    return df.select(F.col(id_col).alias(id_as), _as_double(vec_col).alias(vec_as))


def _with_unit(df: DataFrame, vec, out: str) -> DataFrame:
    """Adds `_n` = the L2 norm of `vec` and `out` = vec / _n; zero vectors pass
    through unchanged. The norm is projected ONCE as a column before the
    transform (aggregate expressions get no CSE; a per-element lambda
    referencing _norm(vec) would recompute the norm dim times)."""
    return df.withColumn("_n", _norm(vec)).withColumn(
        out, F.when(F.col("_n") == 0.0, vec).otherwise(F.transform(vec, lambda x: x / F.col("_n"))))


def _subvectors(df: DataFrame, vec: str, m: int, w: int, *keep: str) -> DataFrame:
    """(*keep, sub, sv): one row per subspace s < m, sv = `vec`'s width-w slice s."""
    parts = [F.struct(F.lit(s).alias("sub"), F.slice(vec, s * w + 1, w).alias("sv"))
             for s in range(m)]
    return df.select(*keep, F.explode(F.array(*parts)).alias("x")).select(*keep, "x.sub", "x.sv")


def _top_n(df: DataFrame, by, order: list, n: int, rank: str = "rank") -> DataFrame:
    """The first `n` rows of every `by` group under `order`, numbered 1..n in
    `rank`. Order ties must be broken by a unique column for determinism."""
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _argmin(df: DataFrame, by, keep: list, order: list) -> DataFrame:
    """(*by, *keep): per `by` group, the `keep` columns of the row with the
    smallest `order` tuple. `min_by` over structs plans as a partial/final
    aggregate — one row per group per partition crosses the shuffle, not every
    candidate row as a `row_number() == 1` window would."""
    by = [by] if isinstance(by, str) else list(by)
    best = F.min_by(F.struct(*keep), F.struct(*order)).alias("_best")
    return df.groupBy(*by).agg(best).select(*by, "_best.*")


def _hash_seeds(df: DataFrame, id_col: str, vec: str, n: int) -> DataFrame:
    """(cell, centroid): the `n` rows with the smallest md5-derived id hash (a
    seeded pseudo-random sample — the same trick a k-means++ seeding pass uses,
    minus the iterations), numbered 0..n-1 in hash order. Closed-form, so the
    DuckDB oracles re-derive it exactly."""
    from pyspark.sql import Window

    from change_data_capturer_ms_spark.functions.hashing import md5_long56

    hashed = df.withColumn("h", md5_long56(F.col(id_col).cast("string")))
    return hashed.orderBy("h", id_col).limit(n).select(
        (F.row_number().over(Window.orderBy("h", id_col)) - 1).alias("cell"),
        F.col(vec).alias("centroid"))


def _cell_dists(df: DataFrame, vec: str, cent: DataFrame) -> DataFrame:
    """`df` × the tiny (cell, centroid) table — a broadcast nested-loop — with
    `dist` = the euclidean distance from `vec` to each centroid.

    sqrt, not squared distance: the DuckDB oracle orders by list_distance
    (euclidean) — near-tie squared distances can become EQUAL doubles after
    sqrt, flipping the (dist, cell) tiebreak between engines unless both order
    by the identical value."""
    dist = F.sqrt(_sqdist(F.col(vec), F.col("centroid")))
    return df.crossJoin(F.broadcast(cent)).withColumn("dist", dist)


def _nearest_cell(c: DataFrame, id_col: str, vec: str, cent: DataFrame) -> DataFrame:
    """(id_col, vec, cell): every row's nearest centroid, argmin by
    (distance, cell) — ties break to the smaller cell id on both engines."""
    return _argmin(_cell_dists(c, vec, cent), id_col, [vec, "cell"], ["dist", "cell"])


def _rank_by_cosine(pairs: DataFrame, k: int, *extra: str) -> DataFrame:
    """Exact top-k from candidate pairs (query_id, neighbor_id, qv, cv, ...):
    self-hits dropped, cosine descending, ties to the smaller neighbor_id.
    Output (query_id, neighbor_id, *extra, cosine rounded to 6 places, rank)."""
    scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")) \
        .withColumn("cosine", cosine_sim(F.col("qv"), F.col("cv")))
    return _top_n(scored, "query_id", [F.col("cosine").desc(), F.col("neighbor_id")], k) \
        .select("query_id", "neighbor_id", *extra, F.round("cosine", 6).alias("cosine"), "rank")


def _ivf_search(assigned: DataFrame, q: DataFrame, cent: DataFrame, k: int,
                nprobe: int) -> DataFrame:
    """IVF search: each query (query_id, qv) probes its `nprobe` nearest cells
    (ties to the smaller cell id) and ranks the members of those inverted
    lists (`assigned`: neighbor_id, cv, cell)."""
    probes = _top_n(_cell_dists(q, "qv", cent), "query_id", ["dist", "cell"], nprobe, "pr") \
        .select("query_id", "qv", "cell")
    return _rank_by_cosine(assigned.join(F.broadcast(probes), ["cell"]), k, "cell")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query over the whole corpus.

    queries is broadcast (the small side); ranking is a per-query window. Self-hits
    (same id) are excluded.
    """
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    return _rank_by_cosine(c.crossJoin(F.broadcast(q)), k)


def signbit_bucket(vec, bits: int = 4, stride: int = 4):
    """Deterministic LSH bucket id: bit j = sign(vec[j*stride]).

    Axis-aligned hyperplanes — crude but fully deterministic and oracle-rederivable;
    production swaps in seeded random hyperplanes (same plan shape, a dot product
    per bit).

    A bit whose index falls past the vector's end reads as 0: try_element_at
    yields NULL there, where element_at throws under ANSI mode (e.g. semdedup's
    8-bit sub-split of dim < 30 vectors).
    """
    bucket = F.lit(0)
    for j in range(bits):
        bit = F.try_element_at(vec, F.lit(j * stride + 1)) > 0
        bucket = bucket + F.when(bit, F.lit(2 ** j)).otherwise(F.lit(0))
    return bucket.cast("int")


def multiprobe_buckets(q: DataFrame, bits: int, multiprobe: bool) -> DataFrame:
    """Queries (query_id, qv) plus their sign-bit `bucket`. multiprobe=True adds
    one row per hamming-1 neighbour bucket (each sign bit flipped once), so a
    query scans bits+1 buckets through the same bucket equi-join."""
    q = q.withColumn("bucket", signbit_bucket(F.col("qv"), bits))
    if not multiprobe:
        return q
    flips = [F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(bits)]
    return q.withColumn("bucket", F.explode(F.array(F.col("bucket"), *flips)))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by sign-bit LSH, scan only the
    query's bucket. The bucket equi-join replaces the full-corpus scan: cost drops
    ~2^bits-fold at matching recall cost.

    multiprobe=True probes the query's bucket PLUS its hamming-1 neighbors
    (each sign bit flipped once) — (bits+1)× the scan for a large recall lift,
    still a bucket equi-join (the classic multi-probe LSH trade; at scale you'd
    order the flips by |margin| and cap the probe count)."""
    q = multiprobe_buckets(_vectors(queries, id_col, vec_col, "query_id", "qv"), bits, multiprobe)
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv") \
        .withColumn("bucket", signbit_bucket(F.col("cv"), bits))
    return _rank_by_cosine(c.join(F.broadcast(q), ["bucket"]), k, "bucket")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer.

    Train: pyspark.ml KMeans (seeded, fixed iterations — deterministic for a
    given input) learns `n_cells` centroids; every corpus vector is assigned to
    its nearest cell. Search: each query probes its `nprobe` nearest cells and
    scans only those inverted lists — cost ~ corpus * nprobe / n_cells.

    Scale path: centroids are tiny (n_cells x dim) and broadcast; the cell
    assignment is one pass; the probe join is a broadcast equi-join on cell id,
    exactly the `lsh_topk` plan shape with a learned bucketer. At 100 TB the
    train step runs on a sample (`corpus.sample`), not the full corpus.

    Iterative training is not SQL-expressible — driver records a rows-only
    check; recall vs `brute_force_topk` is asserted in tests.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    train = c.withColumn("features", array_to_vector("cv"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter, initMode="k-means||") \
        .fit(train)
    assigned = model.transform(train).select("neighbor_id", "cv", F.col("prediction").alias("cell"))

    # centroid table (tiny) for query-side probe assignment
    cents = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    cent_df = corpus.sparkSession.createDataFrame(cents, "cell int, centroid array<double>")
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    return _ivf_search(assigned, q, cent_df, k, nprobe)


def ivf_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k with a DETERMINISTIC coarse quantizer.

    Centroids are the `n_cells` corpus vectors with the smallest md5-derived
    id hash (a seeded pseudo-random sample — the same trick a k-means++ seeding
    pass uses, minus the iterations), cell ids assigned in hash order. Every
    step is a closed-form expression, so the DuckDB oracle re-derives the exact
    result (the KMeans variant `ivf_topk` trades that for learned centroids —
    same probe-join shape, recall-tested instead of oracle-checked).

    Scale shape: the centroid table is n_cells rows (broadcast); corpus
    assignment is one broadcast nested-loop over n_cells candidates per vector
    (cheap, embarrassingly parallel); search probes `nprobe` inverted lists via
    a broadcast equi-join on cell id — cost ~ corpus * nprobe / n_cells,
    identical to `lsh_topk` with a data-dependent bucketer.
    """
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv")
    cent = _hash_seeds(c, "neighbor_id", "cv", n_cells)
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    return _ivf_search(_nearest_cell(c, "neighbor_id", "cv", cent), q, cent, k, nprobe)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN top-k (ADC + exact re-rank), pure DataFrame.

    Train: the vector space splits into `m` subspaces; each subspace gets a
    `n_codes`-entry codebook seeded deterministically (the sub-vectors of the
    corpus rows with the smallest md5 id-hash — same hash-seeding trick as
    `ivf_topk_det`, so results are reproducible without iterative training).
    Encode: every corpus vector stores only m one-byte codes (argmin centroid
    per subspace) — a 4-byte-per-dim float corpus compresses ~dim*4/m bytes
    per vector, the reason PQ is THE billion-vector technique.
    Search: asymmetric distance — per query a (sub, code) → partial-distance
    lookup table (m×n_codes rows, broadcast); approx dist = sum of m lookups;
    the top `rerank` candidates per query get exact cosine re-ranking.

    Plan shape: codebooks and LUTs are tiny broadcasts; the scoring join hits
    the (vec, sub, code) table on (sub, code) with map-side partial sums, and
    only `rerank` rows per query touch the full vectors again. At true scale
    the LUT sum runs as an Arrow `mapInPandas` over packed code arrays instead
    of the join formulation — same algebra, fewer shuffled rows; the join form
    keeps this sandbox implementation 100% JVM-side.

    An empty corpus has no neighbours: the result is empty, with the usual
    columns. `m` must divide the embedding dimension (ValueError otherwise).
    """
    # L2-normalize before quantization: ADC ranks by euclidean distance, and
    # only on unit vectors is that monotone in the cosine objective (the exact
    # re-rank below is norm-invariant)
    c = _vectors(corpus, id_col, vec_col, "vec", "v")
    c = _with_unit(c, F.col("v"), "v")
    first = c.first()
    if first is None:
        return brute_force_topk(corpus, queries, k, id_col, vec_col)
    dim = len(first["v"])
    if m < 1 or dim % m:
        raise ValueError(f"pq_topk: m={m} must divide the embedding dimension dim={dim}")
    w = dim // m

    # deterministic codebooks: the smallest-id-hash corpus rows, code ids in
    # hash order; the hash ignores the subspace, so one sample split per
    # subspace is every subspace's codebook
    codebook = _subvectors(_hash_seeds(c, "vec", "v", n_codes), "centroid", m, w, "cell") \
        .select("sub", F.col("cell").alias("code"), F.col("sv").alias("centroid"))

    # encode: argmin centroid per (vec, sub) — broadcast m*n_codes codebook
    subs = _subvectors(c, "v", m, w, "vec").join(F.broadcast(codebook), "sub")
    codes = _argmin(subs.withColumn("d", _sqdist(F.col("sv"), F.col("centroid"))),
                    ["vec", "sub"], ["code"], ["d", "code"])

    # per-query LUT: partial distance query-subvector -> every (sub, code)
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    q = _with_unit(q, F.col("qv"), "qv")
    qsubs = _subvectors(q, "qv", m, w, "query_id").join(F.broadcast(codebook), "sub")
    lut = qsubs.select("query_id", "sub", "code",
                       _sqdist(F.col("sv"), F.col("centroid")).alias("pd"))

    # ADC: sum the m lookups per (query, vec); partial aggregation map-side
    approx = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "vec")
        .agg(F.sum("pd").alias("adist"))
        .filter(F.col("query_id") != F.col("vec"))
    )
    cand = _top_n(approx, "query_id", ["adist", "vec"], rerank, "rn") \
        .select("query_id", F.col("vec").alias("neighbor_id"))

    # exact re-rank of the small candidate set
    vecs = c.select(F.col("vec").alias("neighbor_id"), F.col("v").alias("cv"))
    return _rank_by_cosine(cand.join(vecs, "neighbor_id").join(F.broadcast(q), "query_id"), k)


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """L2-normalize an embedding column (unit vectors) — pure Catalyst.

    The norm is projected ONCE as a column before the transform (aggregate
    expressions get no CSE; a per-element lambda referencing _norm(vec) would
    recompute the norm dim times). Zero vectors pass through unchanged."""
    return _with_unit(df, _as_double(vec_col), "unit") \
        .select(F.col(id_col), "unit", F.col("_n").alias("norm"))


def quantize_embeddings_int8(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q[i] = round(x[i] / scale) ∈ [-127, 127].

    4× storage/shuffle reduction for ANN pipelines (at 100 TB the embedding
    column dominates both); reconstruction error is bounded by scale/2 per
    dimension. Everything stays JVM-side; `dequantize_embeddings` inverts."""
    v = _as_double(vec_col)
    amax = F.aggregate(F.transform(v, lambda x: F.abs(x)), F.lit(0.0),
                       lambda acc, x: F.greatest(acc, x))
    return (
        df.withColumn("_scale", amax / F.lit(127.0))
        .select(
            F.col(id_col),
            F.col("_scale").alias("scale"),
            F.when(F.col("_scale") == 0.0, F.transform(v, lambda x: F.lit(0)))
            .otherwise(F.transform(v, lambda x: F.round(x / F.col("_scale"))
                                   .cast("int")))
            .alias("q"),
        )
    )


def dequantize_embeddings(df: DataFrame, q_col: str = "q",
                          scale_col: str = "scale") -> DataFrame:
    """Inverse of `quantize_embeddings_int8`: x̂[i] = q[i] * scale."""
    return df.withColumn(
        "embedding",
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def _cosine_pairs(c: DataFrame, keys: list, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine): pairs of `c` (id, v, *keys) that agree on every
    key, id_a < id_b, with cosine rounded to 6 places >= threshold — a
    self-equi-join on the keys, so pairs only meet inside a key group."""
    a, b = c.alias("a"), c.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for key in reversed(keys):
        cond = (F.col(f"a.{key}") == F.col(f"b.{key}")) & cond
    return (
        a.join(b, cond)
        .withColumn("cosine", F.round(cosine_sim(F.col("a.v"), F.col("b.v")), 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def semdedup(
    df: DataFrame,
    tau: float = 0.95,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 15,
    cell_cap: int = 4096,
    sub_bits: int = 8,
    broadcast_losers: bool = True,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    drop all but one document from every group of SEMANTIC duplicates —
    embeddings with cosine ≥ tau — keeping the min-id representative.

    The paper's trick, kept here: pairwise cosine is only computed WITHIN a
    coarse cluster, never across the corpus, so the quadratic term is bounded
    by the largest cell, not the corpus (k-means cells there; the engine's
    deterministic hash-seeded quantizer here — same assignment shape as
    `ivf_topk_det`, so the cells are reproducible across runs and engines).
    Cross-cell near-dups are missed by construction — the published
    recall/cost trade.

    Scale bounds (the paper's trick only works when cells are numerous AND
    small; both knobs here keep that true at any corpus size):
    - `n_cells=None` (default) auto-scales with the corpus:
      clamp(ceil(rows/1024), 8, 4096) — cells average ≤ ~1k members until the
      4096-centroid ceiling, which keeps the assignment crossJoin O(rows ×
      n_cells) with a bounded broadcast (≤ 4096 centroid rows). Costs one
      count() job; pass an int to skip it. With `n_cells=None` the cell
      assignment, and so which near-duplicates can meet, depends on the
      corpus size: pass `n_cells` when results must stay stable as the
      corpus grows.
    - `cell_cap` bounds the residual quadratic term when auto-scaling hits
      the centroid ceiling or the assignment is skewed: any cell with more
      than `cell_cap` members is sub-split by a `sub_bits`-bit sign-bit LSH
      bucket and pairs only meet within a sub-bucket, so the largest
      self-join group is ~max(cell_cap, cell_n / 2^sub_bits) — never
      corpus²/n_cells. Like `df_cap` in `ngram_jaccard_pairs`, the cap only
      drops CROSS-sub-bucket pairs in pathological cells (a recall trade,
      not a correctness one); cell_cap=None disables it.

    Plan shape: centroid table is n_cells rows (broadcast, bounded); the
    cell-size table is n_cells rows (broadcast, bounded); assignment is one
    broadcast nested-loop; the pair join is a per-(cell, sub-bucket)
    self-equi-join (the `embedding_near_dup_pairs` shape with data-dependent
    buckets); components via min-label propagation; the final subtraction is
    a LEFT ANTI join — broadcast when `broadcast_losers=True` (default; the
    loser set is dup-rate-proportional — at extreme dup rates pass False and
    let AQE pick from measured size, the `dedup_keep_canonical` contract).
    """
    from change_data_capturer_ms_spark.operators.dedup_docs import (
        duplicate_clusters,
    )

    c = _vectors(df, id_col, vec_col, "id", "v")
    if n_cells is None:
        n_cells = min(4096, max(8, -(-c.count() // 1024)))
    assigned = _nearest_cell(c, "id", "v", _hash_seeds(c, "id", "v", n_cells))
    if cell_cap is not None:
        # sub-split oversize cells by a sign-bit LSH bucket so the self-join
        # KEY (cell, sub) bounds the largest join group; cells within the cap
        # use sub=-1 on both sides (all within-cell pairs still meet). The
        # cell-size table is n_cells rows — a bounded broadcast.
        cell_sizes = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("cell_n"))
        assigned = (
            assigned.join(F.broadcast(cell_sizes), "cell")
            .withColumn(
                "sub",
                F.when(F.col("cell_n") > cell_cap,
                       signbit_bucket(F.col("v"), sub_bits))
                .otherwise(F.lit(-1)),
            )
        )
    else:
        assigned = assigned.withColumn("sub", F.lit(-1))
    pairs = _cosine_pairs(assigned, ["cell", "sub"], tau)
    clusters = duplicate_clusters(pairs, max_iter=max_iter)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    if broadcast_losers:
        losers = F.broadcast(losers)
    return df.join(losers, df[id_col] == losers.id, "left_anti")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (pairs only meet inside a
    bucket; exact-threshold check on the survivors)."""
    c = _vectors(df, id_col, vec_col, "id", "v") \
        .withColumn("bucket", signbit_bucket(F.col("v"), bits))
    return _cosine_pairs(c, ["bucket"], threshold)
