"""Incremental (CDC-maintained) embedding ANN index — the vector twin of
`dedup_index.MinHashLSHIndex`.

`similarity.lsh_topk` answers batch ANN by bucketing the WHOLE corpus per
query job. Here the sign-bit bucket table is itself a lake table maintained
from the change feed at O(changed vectors) per batch, so per-micro-batch ANN
("what does this new batch sit next to?") never rescans or re-hashes the
corpus:

- Rows are `(bucket, id)` keys with the vector as the VALUE column, bucketed
  by `bucket` alone (bucket_cols ⊂ key_cols), so a probe that knows its LSH
  bucket prunes to matching lake buckets driver-side.
- Maintenance is a pure projection of the change feed — old vector ⇒
  tombstone its bucket row, new vector ⇒ upsert — through the ordinary
  exactly-once MERGE. No aggregation at all: signing a vector is O(bits).
- `probe(queries)` = sign-bit bucket (+ optional hamming-1 multi-probe) →
  driver-side lake-bucket pruning (xxhash64 port) → bucket equi-join →
  exact cosine re-rank (zip_with/aggregate, JVM-side) → per-query top-k.

Same deterministic `signbit_bucket` as the batch operator, so batch and
incremental paths agree bucket-for-bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capturer_ms_spark.operators.similarity import (
    _as_double,
    _rank_by_cosine,
    _vectors,
    multiprobe_buckets,
    signbit_bucket,
)


def embed_index_delta(
    changes: DataFrame,
    id_col: str = "vec_id",
    old_vec_col: str = "old_vec",
    new_vec_col: str = "new_vec",
    seq_col: str = "seq",
    bits: int = 4,
) -> DataFrame:
    """Bucket-row changelog from a per-key vector change feed: one projection,
    no shuffle. Seq is `2*seq + {0 delete, 1 insert}` so an unmoved vector's
    re-insert wins the LWW tie against its own tombstone (same convention as
    dedup_index.index_delta)."""
    stacked = changes.select(
        F.col(id_col).alias("id"),
        F.col(seq_col).cast("long").alias("_doc_seq"),
        F.explode(F.array(
            F.struct(F.lit("delete").alias("op"),
                     _as_double(old_vec_col).alias("vec")),
            F.struct(F.lit("insert").alias("op"),
                     _as_double(new_vec_col).alias("vec")),
        )).alias("s"),
    ).select("id", "_doc_seq", F.col("s.op").alias("op"),
             F.col("s.vec").alias("vec")
    ).filter(F.col("vec").isNotNull())
    return stacked.select(
        signbit_bucket(F.col("vec"), bits).alias("bucket"),
        "id",
        # tombstones need no payload; keeping it NULL keeps delete rows tiny
        F.when(F.col("op") == "insert", F.col("vec")).alias("vec"),
        "op",
        (F.col("_doc_seq") * 2
         + F.when(F.col("op") == "insert", 1).otherwise(0)).alias("seq"),
    )


EMBED_INDEX_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType(), True),
    T.StructField("id", T.StringType(), True),
    T.StructField("vec", T.ArrayType(T.DoubleType()), True),
])


class EmbeddingANNIndex:
    """Lake-backed incremental sign-bit LSH ANN index.

    `bits` sizes the LSH bucket space (2^bits buckets): a hamming-1
    multiprobe scans ~(bits+1)/2^bits of the corpus per query, so probe cost
    stays sublinear only if bits grows ~log2(corpus) (e.g. 4 bits for 1e3-1e4
    vectors, 8 for 1e5, 12+ for 1e7). Maintenance cost is independent of
    bits and of corpus size — O(changed) projection + bucketed MERGE,
    measured flat (1.06x) at 10x corpus in BENCH/FINDINGS.md's index-scale
    section. The default is the unit-scale setting; raise it for real
    corpora (rebuilding the index re-buckets — there is no in-place rebit)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bits: int = 4,
        n_buckets: int = 32,
        write_mode: str = "cow",
    ):
        from change_data_capturer_ms_spark.lake.table import LakeTable

        self.spark = spark
        self.bits = bits
        self.table = LakeTable(
            spark, path,
            key_cols=["bucket", "id"],
            bucket_cols=["bucket"],
            n_buckets=n_buckets,
            write_mode=write_mode,
        )

    def update(
        self,
        changes: DataFrame,
        batch_id,
        source_id: str = "embed-index",
        id_col: str = "vec_id",
        old_vec_col: str = "old_vec",
        new_vec_col: str = "new_vec",
        seq_col: str = "seq",
    ) -> dict:
        """Apply one vector change-feed batch, exactly-once."""
        self.table.get_or_create(EMBED_INDEX_SCHEMA)
        delta = embed_index_delta(changes, id_col=id_col,
                                  old_vec_col=old_vec_col,
                                  new_vec_col=new_vec_col, seq_col=seq_col,
                                  bits=self.bits)
        return self.table.merge(delta, seq_col="seq", op_col="op",
                                batch_id=batch_id, source_id=source_id)

    def _lake_buckets(self, lsh_buckets: set[int]) -> set[int]:
        from change_data_capturer_ms_spark.functions.xxh64 import xxhash64_cols

        n = self.table.manifest().n_buckets
        return {xxhash64_cols([b], ["int"]) % n for b in lsh_buckets}

    def probe(
        self,
        queries: DataFrame,
        k: int = 5,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        multiprobe: bool = True,
        max_buckets: int = 4096,
    ) -> DataFrame:
        """Top-k indexed neighbors per query: (query_id, neighbor_id, cosine,
        rank). Lake files whose bucket no probe hash maps to are never opened."""
        q = multiprobe_buckets(_vectors(queries, id_col, vec_col, "query_id", "qv"),
                               self.bits, multiprobe)
        rows = (q.select("bucket").distinct()
                 .limit(max_buckets + 1).collect())
        buckets = (None if len(rows) > max_buckets
                   else self._lake_buckets({r["bucket"] for r in rows}))
        idx = self.table.read(buckets=buckets).select(
            "bucket", F.col("id").alias("neighbor_id"), F.col("vec").alias("cv"))
        return _rank_by_cosine(idx.join(F.broadcast(q), ["bucket"]), k)
