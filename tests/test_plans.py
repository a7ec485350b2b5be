"""Physical-plan hygiene: the properties that make the engine scale must be
visible in `explain` output, not assumed (SURVEY.md §4).

- predicate pushdown reaches the parquet scan (PushedFilters),
- resume reads prune seq_bucket partitions (PartitionFilters),
- column pruning shrinks ReadSchema,
- small-dim joins broadcast,
- the MERGE planning aggregation never executes the Arrow-UDF transform,
- hot-path expressions stay inside WholeStageCodegen.
"""

import os
import re

from pyspark.sql import functions as F

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.sources import gen_changelog, write_changelog, ChangeLogReader
from change_data_capturer_ms_spark.streaming.pipeline import prepare_batch


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_resume_read_prunes_partitions_and_pushes_seq(spark, tmpdir_path):
    log_dir = os.path.join(tmpdir_path, "log")
    write_changelog(
        gen_changelog(spark, 3000, seed=31, seq_bucket_size=1000), log_dir
    )
    reader = ChangeLogReader(spark, log_dir)
    df = reader.read_batch(after_seq=2100, seq_bucket_size=1000).select("seq", "repo")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "seq_bucket" in plan.split("PartitionFilters", 1)[1]
    assert "PushedFilters" in plan and "GreaterThan(seq,2100)" in plan
    # only two non-partition columns survive pruning
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "seq" in read_schema and "repo" in read_schema
    assert "content" not in read_schema


def test_op_filter_pushdown(spark, tmpdir_path):
    log_dir = os.path.join(tmpdir_path, "log")
    write_changelog(gen_changelog(spark, 1000, seed=32), log_dir)
    df = spark.read.parquet(log_dir).filter(F.col("op").isin("insert", "update"))
    assert "PushedFilters: [In(op" in _plan(df)


def test_broadcast_join_for_small_dim(spark, sf_dir):
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_merge_planning_agg_never_runs_udfs(spark, tmpdir_path):
    """The affected-bucket agg reads raw key/op/seq columns; Catalyst must prune
    the pandas-UDF projections entirely (lake/table.py merge step 1)."""
    log_dir = os.path.join(tmpdir_path, "log")
    write_changelog(gen_changelog(spark, 1000, seed=33), log_dir)
    batch = spark.read.parquet(log_dir)
    prepared = prepare_batch(batch, EngineConfig(n_buckets=8), use_pandas_udfs=True)
    planning = (
        prepared.select("repo", "path", "op", "seq")
        .groupBy("repo")
        .agg(F.count(F.lit(1)))
    )
    plan = _plan(planning)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the write-path plan, by contrast, does carry the Arrow UDF stage —
    # and exactly ONE: classify + sha256 are independent, so Spark fuses them
    # into a single ArrowEvalPython exchange (one Arrow IPC round trip per
    # batch, not two). A second node appearing means someone chained the UDFs
    # through a dependent projection and doubled the Python-boundary cost.
    write_plan = _plan(prepared)
    assert write_plan.count("ArrowEvalPython") == 1


def test_agg_stays_in_wholestage_codegen(spark, sf_dir):
    l = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    q = l.groupBy("l_returnflag").agg(F.sum("l_quantity"), F.avg("l_extendedprice"))
    q.collect()  # AQE reveals codegen stages only in the final adaptive plan
    plan = _plan(q)
    # "*(n)" prefixes mark WholeStageCodegen spans in plan strings
    assert "*(" in plan
    assert "HashAggregate" in plan


def test_lww_dedupe_uses_partial_aggregation(spark, tmpdir_path):
    """max_by dedupe must plan with map-side partial aggregation (shuffle volume
    = one row per key per partition), never as a full-shuffle window sort — that
    is the operator's scale story (operators/dedupe.py). Spark plans struct-
    buffered max_by as SortAggregate (HashAggregate needs fixed-width buffers);
    the partial/final split is what matters."""
    from change_data_capturer_ms_spark.operators.dedupe import lww_dedupe

    log_dir = os.path.join(tmpdir_path, "log")
    write_changelog(gen_changelog(spark, 1000, seed=34), log_dir)
    df = lww_dedupe(spark.read.parquet(log_dir), ["repo", "path"], "seq", ["token"])
    plan = _plan(df)
    assert "partial_max_by" in plan  # map-side combine present
    assert "Window" not in plan


def test_simhash_banded_pairs_plan_has_no_cartesian(spark, sf_dir):
    """Banded SimHash candidates must come from an equi-join on (band, key) —
    never a nested-loop/cartesian pair enumeration."""
    from change_data_capturer_ms_spark.operators import simhash_pairs_banded

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(simhash_pairs_banded(d, bits=32, bands=4, max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_multiprobe_stays_bucket_equijoin(spark, sf_dir):
    """Multi-probe explodes the query side but the corpus join must remain a
    broadcast hash equi-join on the bucket id (never a full-corpus scan per
    query)."""
    from change_data_capturer_ms_spark.operators import lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 3)
    plan = _plan(lsh_topk(emb, q, k=5, bits=4, multiprobe=True))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def _window_partitions(plan: str) -> set:
    """Partition-by columns (expression ids stripped) of every window function
    in a plan: the windowspecdefinition arguments before the first ordering."""
    parts = set()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
        keys = []
        for arg in spec.split(", "):
            if " ASC " in arg or " DESC " in arg:
                break
            keys.append(re.sub(r"#\d+L?$", "", arg))
        parts.add(tuple(keys))
    return parts


def test_vector_argmins_use_partial_min_by(spark, sf_dir):
    """Nearest-cell assignment (ivf_topk_det) and PQ encoding are argmins:
    a min_by with a map-side partial aggregate, never a row_number window per
    vector (or per (vec, sub)) that shuffles every candidate row; the PQ
    codebook is one hash-ordered sample, not a window per subspace."""
    from change_data_capturer_ms_spark.operators import ivf_topk_det, pq_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 3)
    ivf = _plan(ivf_topk_det(emb, q, k=5, n_cells=8, nprobe=3))
    assert "partial_min_by" in ivf
    assert ("neighbor_id",) not in _window_partitions(ivf)
    pq = _plan(pq_topk(emb, q, k=5, m=4, n_codes=16, rerank=20))
    assert "partial_min_by" in pq
    parts = _window_partitions(pq)
    assert ("vec", "sub") not in parts and ("sub",) not in parts, parts


def test_ngram_df_cap_is_broadcast_anti_join(spark, sf_dir):
    """The hot-shingle exclusion must be a broadcast anti-join against the tiny
    hot list — not a second shuffle of the shingle table."""
    from change_data_capturer_ms_spark.operators import ngram_jaccard_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(ngram_jaccard_pairs(d, threshold=0.5, df_cap=100))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ngram_sizes_join_not_forced_broadcast(spark, sf_dir):
    """The per-doc `sizes` frame is one row PER CORPUS DOCUMENT — a forced
    broadcast of it is a driver OOM at 1e9 docs (round-4 verdict #1). The
    ONLY broadcast hint in the jaccard plan must be the df_cap hot-shingle
    anti-join list; the sizes joins carry no hint (AQE picks broadcast at
    runtime from measured size when appropriate)."""
    from change_data_capturer_ms_spark.operators import ngram_jaccard_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    analyzed = ngram_jaccard_pairs(d, threshold=0.5, df_cap=100) \
        ._jdf.queryExecution().analyzed().toString()
    # the hot-shingle anti-join only — it appears twice because the capped
    # shingle frame feeds BOTH sides of the self-join; the two sizes joins
    # contribute zero hints
    assert analyzed.count("ResolvedHint") == 2
    analyzed_nocap = ngram_jaccard_pairs(d, threshold=0.5, df_cap=None) \
        ._jdf.queryExecution().analyzed().toString()
    assert analyzed_nocap.count("ResolvedHint") == 0


def test_planning_groupingsets_is_bounded_and_udf_free(spark, tmpdir_path):
    """The per-batch planning aggregation (GROUPING SETS ((p),(bucket))) must
    expand+aggregate without any Python/Arrow stage and with partial
    aggregation (collect is bounded by partitions + buckets)."""
    from change_data_capturer_ms_spark.lake.table import bucket_expr

    log_dir = os.path.join(tmpdir_path, "log")
    write_changelog(gen_changelog(spark, 1000, seed=36), log_dir)
    batch = spark.read.parquet(log_dir)
    pre = (
        batch.filter(F.col("op").isin("insert", "update", "replace", "delete"))
        .select("repo", "path", "seq")
        .withColumn("_bucket", bucket_expr(["repo", "path"], 8))
        .withColumn("p", F.spark_partition_id())
    )
    agg = pre.groupingSets([["p"], ["_bucket"]], "p", "_bucket").agg(
        F.min("seq"), F.max("seq"), F.count(F.lit(1)), F.grouping_id()
    )
    plan = _plan(agg)
    assert "Expand" in plan and "HashAggregate" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    rows = agg.collect()
    n_parts = batch.rdd.getNumPartitions()
    assert len(rows) <= n_parts + 8
