"""Incremental (CDC-maintained) MinHash-LSH near-duplicate index.

The batch operators in `dedup_docs.py` answer "which documents in this corpus
are near-duplicates" by recomputing signatures over the whole corpus. At 100 TB
the corpus is ingested incrementally, and the question a training-data pipeline
actually asks per micro-batch is "is anything in THIS batch a near-duplicate of
anything already in the corpus" — recomputing O(corpus) per batch is the
classic IVM mistake. This module maintains the LSH band-bucket table itself as
a lake table, updated from the change feed at O(changed docs) per batch:

- Index rows are `(band, band_hash, doc id)`, keyed by all three columns and
  BUCKETED by `(band, band_hash)` only (LakeTable bucket_cols ⊂ key_cols), so
  a probe that knows a band hash touches exactly one bucket's files.
- Maintenance is a PURE FUNCTION of the change feed: a changed document's OLD
  text derives the band rows to tombstone and its NEW text the rows to upsert
  — no index lookback, no join against the index during maintenance. The feed
  shape (old image, new image per key) is exactly what the engine already
  emits (`operators/delta.snapshot_diff`, `sources/snapshot_cdc`).
- Updates go through the ordinary `LakeTable.merge`: exactly-once on
  (source_id, batch_id), delete-winners persist as tombstones so re-ordered /
  re-delivered batches cannot resurrect a deleted document's index rows.
- `probe(docs)` computes the batch's band rows, collects their DISTINCT band
  hashes (bounded: ≤ bands × batch docs, capped), maps them to buckets
  DRIVER-SIDE via the Spark-parity xxhash64 port, and joins only the matching
  buckets' files — per-batch probe cost is O(batch + touched buckets), never
  O(index).

The same banding scheme as `dedup_docs.minhash_lsh_pairs` (md5-derived
signatures, engine-rederivable hashes), so a probe hit means "collides in ≥1
band" with the classic S-curve selectivity.

Reference parity note: the reference has no dedup surface at all — this is the
training-pipeline extension mandated by the build brief, composed from the
engine's own lake/merge primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capturer_ms_spark.functions.hashing import (
    MINHASH_PERMS,
    md5_long56,
    minhash_perm,
)
from change_data_capturer_ms_spark.operators.dedup_docs import word_shingles


def band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(id, band, band_hash) — one row per document per band.

    One shingle explode + ONE aggregation (same shape as minhash_signatures);
    the band hash folds the band's k/bands minhash values into a single long
    via md5 so it can live as a lake key column. Documents shorter than n
    words produce no rows (they cannot be shingle-similar to anything).
    """
    k = len(MINHASH_PERMS)
    if k % bands != 0:
        raise ValueError(f"bands={bands} must divide k={k}")
    rows = k // bands
    sh = word_shingles(df, text_col, id_col, n).withColumn(
        "h", md5_long56(F.col("shingle"))
    )
    sig = sh.groupBy("id").agg(
        *[F.min(minhash_perm(F.col("h"), i)).alias(f"mh{i}") for i in range(k)]
    )
    return sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                md5_long56(F.concat_ws(",", *[
                    F.col(f"mh{i}").cast("string")
                    for i in range(b * rows, (b + 1) * rows)
                ])).alias("band_hash"),
            )
            for b in range(bands)
        ])).alias("bh"),
    ).select(F.col("bh.band").alias("band"),
             F.col("bh.band_hash").alias("band_hash"),
             "id")


def index_delta(
    changes: DataFrame,
    id_col: str = "doc_id",
    old_text_col: str = "old_text",
    new_text_col: str = "new_text",
    seq_col: str = "seq",
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Band-row changelog from a per-key change feed — the index maintenance
    delta as a pure function (no read of the index).

    `changes` has ONE row per changed document: the old text (NULL for a brand
    new doc), the new text (NULL for a deleted doc), and a per-doc seq. Old
    text ⇒ `delete` rows for the OLD band hashes; new text ⇒ `insert` rows for
    the new ones. Output seq is `2*seq + {0 delete, 1 insert}`: a band whose
    hash did not change yields both ops on the SAME key, and the insert must
    win the LWW tie; the transform is monotone so cross-batch ordering is
    preserved.

    Both sides ride ONE shingle explode + ONE aggregation (side is part of the
    grouping key), so maintenance costs the same as signing the changed docs.
    """
    stacked = changes.select(
        F.col(id_col).alias("id"),
        F.col(seq_col).cast("long").alias("_doc_seq"),
        F.explode(F.array(
            F.struct(F.lit("delete").alias("op"),
                     F.col(old_text_col).alias("text")),
            F.struct(F.lit("insert").alias("op"),
                     F.col(new_text_col).alias("text")),
        )).alias("s"),
    ).select("id", "_doc_seq", F.col("s.op").alias("op"),
             F.col("s.text").alias("text")
    ).filter(F.col("text").isNotNull())
    # composite STRUCT grouping key keeps one aggregation for both sides
    # (string packing would corrupt ids containing the separator)
    tagged = stacked.withColumn("k", F.struct("id", "op", "_doc_seq"))
    br = band_rows(tagged, text_col="text", id_col="k", bands=bands, n=n)
    return br.select(
        "band", "band_hash",
        F.col("id.id").alias("id"),
        F.col("id.op").alias("op"),
        (F.col("id._doc_seq") * 2
         + F.when(F.col("id.op") == "insert", 1).otherwise(0)).alias("seq"),
    )


INDEX_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType(), True),
    T.StructField("band_hash", T.LongType(), True),
    T.StructField("id", T.StringType(), True),
])


class MinHashLSHIndex:
    """Lake-backed incremental LSH index: `update()` from a change feed,
    `probe()` a batch of documents against the indexed corpus."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bands: int = 4,
        n: int = 3,
        n_buckets: int = 64,
        write_mode: str = "cow",
    ):
        from change_data_capturer_ms_spark.lake.table import LakeTable

        self.spark = spark
        self.bands = bands
        self.n = n
        self.table = LakeTable(
            spark, path,
            key_cols=["band", "band_hash", "id"],
            bucket_cols=["band", "band_hash"],
            n_buckets=n_buckets,
            write_mode=write_mode,
        )

    def update(
        self,
        changes: DataFrame,
        batch_id,
        source_id: str = "lsh-index",
        id_col: str = "doc_id",
        old_text_col: str = "old_text",
        new_text_col: str = "new_text",
        seq_col: str = "seq",
    ) -> dict:
        """Apply one change-feed batch to the index, exactly-once."""
        self.table.get_or_create(INDEX_SCHEMA)
        delta = index_delta(changes, id_col=id_col, old_text_col=old_text_col,
                            new_text_col=new_text_col, seq_col=seq_col,
                            bands=self.bands, n=self.n)
        return self.table.merge(delta, seq_col="seq", op_col="op",
                                batch_id=batch_id, source_id=source_id)

    def _probe_buckets(self, q: DataFrame, max_hashes: int) -> set[int] | None:
        """Buckets the probe batch can possibly hit, or None ⇒ no pruning.

        Bounded driver collect: ≤ max_hashes + 1 distinct (band, band_hash)
        rows; past the cap (a huge probe batch touches most buckets anyway)
        fall back to the full snapshot join.
        """
        from change_data_capturer_ms_spark.functions.xxh64 import xxhash64_cols

        rows = (q.select("band", "band_hash").distinct()
                 .limit(max_hashes + 1).collect())
        if len(rows) > max_hashes:
            return None
        n_buckets = self.table.manifest().n_buckets
        return {
            xxhash64_cols([r["band"], r["band_hash"]], ["int", "bigint"])
            % n_buckets
            for r in rows
        }

    def probe(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_hashes: int = 4096,
        include_self: bool = False,
    ) -> DataFrame:
        """Candidate near-duplicates of `docs` among the indexed corpus:
        (probe_id, index_id, n_shared_bands). Files whose bucket no probe
        hash maps to are never opened (manifest-side pruning)."""
        q = band_rows(docs, text_col=text_col, id_col=id_col,
                      bands=self.bands, n=self.n)
        buckets = self._probe_buckets(q, max_hashes)
        idx = self.table.read(buckets=buckets).select(
            "band", "band_hash", F.col("id").alias("index_id"))
        hits = q.withColumnRenamed("id", "probe_id").join(
            idx, ["band", "band_hash"])
        if not include_self:
            hits = hits.filter(F.col("probe_id") != F.col("index_id"))
        return (hits.groupBy("probe_id", "index_id")
                    .agg(F.count(F.lit(1)).alias("n_shared_bands")))
