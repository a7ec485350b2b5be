"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the engine's real MERGE-upsert path over sf0.001 events.
queries()      — one entry per implemented operator (SURVEY.md §2.2 + training-data
                 ops); each callable (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-ANSI twins; keys missing here get rows-only checks
                 (only the genuinely non-SQL-expressible streaming entry).

Column-name discipline: every computed column is aliased identically on both sides.
All timestamps are exported as epoch seconds (BIGINT) to dodge tz/format drift;
float aggregates are rounded on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capturer_ms_spark.functions.hashing import (
    MINHASH_P,
    MINHASH_PERMS,
    custom_id,
    md5_long56_sql,
    minhash_perm_sql,
)
from change_data_capturer_ms_spark.functions.classify import classify_op_builtin
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.operators import (
    brute_force_topk,
    contamination_check,
    doc_fingerprint,
    exact_dedup,
    extract_media_features,
    frame_sample,
    lsh_topk,
    lww_dedupe,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    pq_topk,
    psi_terms,
    synth_media,
)
from change_data_capturer_ms_spark.operators.similarity import embedding_near_dup_pairs
from change_data_capturer_ms_spark.operators.packing import pack_concat_chunks
from change_data_capturer_ms_spark.operators.sampling import (
    hash_split,
    hash_split_case_sql,
)
from change_data_capturer_ms_spark.operators.text import token_count_ws
from change_data_capturer_ms_spark.sources.snapshot_cdc import snapshot_to_changelog
from change_data_capturer_ms_spark.operators.delta import (
    change_deltas,
    scd2_history,
    snapshot_diff,
)
from change_data_capturer_ms_spark.operators.ivm import (
    agg_deltas_from_diff,
    agg_state,
    apply_agg_deltas,
)
from change_data_capturer_ms_spark.operators.text import (
    repetition_profile,
    text_profile,
    tfidf_top_terms,
)
from change_data_capturer_ms_spark.operators.reshape import melt, pivot_counts

_VER = "r3a"  # bump to invalidate cached temp tables when semantics change
# (r3a: CDCPipeline persists op_class as a payload column — stream-lake caches
# built pre-r3 have a different on-disk shape even though the queries' explicit
# selects return identical values)

# Query-count discipline: the driver records at most ~50 CORRECTNESS rows, so the
# surface is consolidated to exactly 50 entries — operator pairs with one natural
# home share a query (semi+anti, rollup+cube, except+intersect, map+collect,
# predicate+flatten, global+per-group top-k, tumbling+session windows,
# sha/string fns+custom_id, simhash sigs+banded pairs), each side
# distinguishable in the output; the one rows-only entry (cdc_streaming_state)
# is ordered last.


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# CDC core over `events` (event_id = seq/LSN, user_id = document key,
# event_type = op domain, props = post-image document)
# ---------------------------------------------------------------------------

def q_scan_projection(spark, sf_dir):
    """E1/E3: source scan + column pruning (reference $project, mongo.ts:26-33)."""
    return _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")


def q_filter_predicate(spark, sf_dir):
    """E2+E4: op-type + range predicate pushed to the scan (reference $match,
    mongo.ts:21-25) with the JSON post-image flattened on the survivors
    (north_star; the full schema-driven flatten operator is
    functions/flatten.py, asserted in tests/test_functions.py)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(
        F.col("event_type").isin("click", "purchase") & (F.col("value") > 50.0)
    ).select(
        "event_id", "user_id", "event_type", "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_classify_op(spark, sf_dir):
    """E5: op classification (builtin CASE twin of the pandas UDF; the UDF is
    asserted equal in tests/test_functions.py). Reference hardcodes 'insert'
    (mongoCDCService.ts:29-33)."""
    e = _t(spark, sf_dir, "events")
    cls = (
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type").isin("click", "view"), "engagement")
        .otherwise("error")
    )
    return e.select("event_id", "event_type", cls.alias("op_class"))


def q_lww_dedupe(spark, sf_dir):
    """E6: last-writer-wins per key by monotonic seq (engine lww_dedupe max_by)."""
    e = _t(spark, sf_dir, "events")
    d = lww_dedupe(e, keys=["user_id"], seq_col="ts", tiebreakers=["event_id"])
    return d.select("user_id", "event_id", "event_type", "value")


def q_merge_upsert(spark, sf_dir):
    """E7: the real lake MERGE — two micro-batches applied through LakeTable
    (error events act as deletes); final state must equal the single-pass oracle."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = f"/tmp/cdc_q_merge_{_VER}_{tag}"
    table = LakeTable(spark, path, key_cols=["user_id"], n_buckets=8)
    if not table.exists():
        e = _t(spark, sf_dir, "events").withColumn(
            "op",
            F.when(F.col("event_type") == "error", "delete").otherwise("insert"),
        ).withColumnRenamed("event_id", "seq").drop("props", "ts")
        # deterministic split point (max//2) so the v1 snapshot is
        # oracle-rederivable for the time_travel query
        mid = e.agg(F.floor(F.max("seq") / 2)).collect()[0][0]
        payload = [f for f in e.schema.fields if f.name not in ("seq", "op")]
        table.create(T.StructType(payload))
        table.merge(e.filter(F.col("seq") <= mid), batch_id=0)
        table.merge(e.filter(F.col("seq") > mid), batch_id=1)
    out = table.read()
    return out.select(
        "user_id", F.col("_last_seq").alias("event_id"), "event_type", "value"
    )


def q_time_travel(spark, sf_dir):
    """Snapshot time travel: read the table AS OF version 1 (after only the
    first micro-batch, events with seq <= max//2) — the manifest retains every
    snapshot's exact file set, so the oracle is the LWW state of the log
    prefix."""
    q_merge_upsert(spark, sf_dir)  # ensure the two-batch lake exists
    tag = os.path.basename(os.path.normpath(sf_dir))
    table = LakeTable(spark, f"/tmp/cdc_q_merge_{_VER}_{tag}", key_cols=["user_id"])
    v1 = table.read(version=1)
    return v1.select(
        "user_id", F.col("_last_seq").alias("event_id"), "event_type", "value"
    )


def q_join_broadcast(spark, sf_dir):
    """E8: broadcast equi-join (small dim vs fact) + agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_join_multiway(spark, sf_dir):
    """E8: 3-way join lineitem ⋈ orders ⋈ customer, revenue per nation."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_join_semi_anti(spark, sf_dir):
    """E8: left-semi (affected-key pruning primitive of the MERGE fast path) and
    left-anti (not-matched detection) in one surface, tagged by src."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    sem = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
           .select("c_custkey").withColumn("src", F.lit("semi")))
    ant = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
           .select("c_custkey").withColumn("src", F.lit("anti")))
    return sem.unionByName(ant)


def q_join_outer(spark, sf_dir):
    """E8: left outer join preserving unmatched keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_agg_pricing_summary(spark, sf_dir):
    """E9: TPC-H Q1-shaped hash aggregation with partial/final phases."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_incr_agg(spark, sf_dir):
    """Incremental view maintenance (operators/ivm.py): bootstrap the
    aggregate at watermark W1, fold in per-group deltas derived from the
    W1→final change feed (retract old image / insert new image, delete-aware,
    group-migration-aware), and the maintained state must equal a FULL
    recompute over the final LWW state — which is exactly what the oracle
    computes. Maintenance cost is O(changed keys), never O(table)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "op",
        F.when(F.col("event_type") == "error", "delete").otherwise("insert"),
    )
    w1 = e.agg(F.floor(F.max("event_id") / 2)).collect()[0][0]
    s1 = lww_dedupe(e.filter(F.col("event_id") <= w1),
                    keys=["user_id"], seq_col="event_id")
    base = agg_state(s1.filter(F.col("op") != "delete"),
                     ["event_type"], ["value"])
    diff = snapshot_diff(e, keys=["user_id"], seq_col="event_id",
                         value_cols=["event_type", "value"],
                         seq_old=w1, seq_new=1 << 62, op_col="op")
    deltas = agg_deltas_from_diff(diff, ["event_type"], ["value"])
    out = apply_agg_deltas(base, deltas, ["event_type"], ["value"])
    # COUNT(DISTINCT user_id) maintained EXACTLY via the value-level state
    # (operators/ivm.py distinct section): per-(event_type, user_id) live
    # counts are self-maintainable; the distinct count is a row count over
    # that state. Keys are emitted bare by snapshot_diff, so alias them to
    # the old_/new_ sides (a key never changes its own identity).
    from change_data_capturer_ms_spark.operators import distinct_counts
    vbase = agg_state(s1.filter(F.col("op") != "delete"),
                      ["event_type", "user_id"])
    diff_k = diff.withColumn("old_user_id", F.col("user_id")) \
                 .withColumn("new_user_id", F.col("user_id"))
    vdeltas = agg_deltas_from_diff(diff_k, ["event_type", "user_id"])
    vstate = apply_agg_deltas(vbase, vdeltas, ["event_type", "user_id"])
    dist = distinct_counts(vstate, ["event_type"])
    return out.join(dist, "event_type", "left").select(
        "event_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("value").cast("double"), 2).alias("sum_value"),
        F.col("n_distinct").cast("long").alias("n_distinct_users"),
    )


def q_rollup_cube_metrics(spark, sf_dir):
    """E10: rollup AND cube for metrics reporting, tagged by src."""
    o = _t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price")]
    r = (o.rollup("o_orderstatus", "o_orderpriority").agg(*aggs)
         .withColumn("src", F.lit("rollup")))
    c = (o.cube("o_orderstatus", "o_orderpriority").agg(*aggs)
         .withColumn("src", F.lit("cube")))
    return r.unionByName(c)


def q_topk_orders(spark, sf_dir):
    """E11 both shapes in one surface, tagged by src: global top-10
    (orderBy+limit ⇒ TakeOrderedAndProject, no global sort) and per-group
    top-3 (window rank), each with deterministic tiebreaks."""
    o = _t(spark, sf_dir, "orders")
    glob = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            F.lit("global").alias("src"),
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("int").alias("rk"),
            "o_orderkey", "o_totalprice",
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    grp = (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.lit("group").alias("src"), "o_orderpriority", "rk",
                "o_orderkey", "o_totalprice")
    )
    return glob.unionByName(grp)


def q_set_ops(spark, sf_dir):
    """E12: set difference (verification-diff primitive) and intersection in one
    surface, tagged by src."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    ex = clicks.exceptAll(buys).withColumn("src", F.lit("except"))
    it = clicks.intersect(buys).withColumn("src", F.lit("intersect"))
    return ex.unionByName(it)


def q_string_hash(spark, sf_dir):
    """E13: content hashing + string fns (the sha256 verification invariant,
    BASELINE.json input_hint)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.length("text").alias("text_len"),
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.concat_ws("::", "source", "lang").alias("src_lang"),
        # S7 parity folded in: generateCustomId space→dash munge (cosmos.ts:40-45)
        custom_id("source", prefix="cdc data lease ").alias("cid"),
    )


def q_datetime_bucket(spark, sf_dir):
    """E14 + E9 distinct fold: event-time bucketing (epoch seconds to avoid
    tz/format drift) with exact count-distinct and sum (absorbs the former
    `agg_distinct` row — same table, same aggregate surface)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_math_funcs(spark, sf_dir):
    """E15: arithmetic / rounding / abs / modulo."""
    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg(F.abs(F.col("l_discount") - 0.05)), 4).alias("avg_disc_dev"),
        F.sum(F.when(F.pmod(F.col("l_orderkey"), 7) == 3, 1).otherwise(0)).alias("n_mod7"),
    )


def q_array_wordcount(spark, sf_dir):
    """E16: array explode + count (top words)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


def q_window_tumbling(spark, sf_dir):
    """E19 both window kinds in one surface, tagged by src: tumbling 30-min
    event-time windows (user_id = -1) and per-user session windows (10-min
    gap; Spark semantics — a gap ≥ 10 min starts a new session). Window starts
    exported as epoch seconds."""
    e = _t(spark, sf_dir, "events")
    tumb = (
        e.groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.lit("tumbling").alias("src"),
            F.lit(-1).cast("long").alias("user_id"),
            F.unix_timestamp(F.col("w.start")).alias("win_epoch"),
            "n", "sum_value",
        )
    )
    sess = (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.lit("session").alias("src"),
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("win_epoch"),
            "n", "sum_value",
        )
    )
    return tumb.unionByName(sess)


def q_predicate_like_null(spark, sf_dir):
    """E2: LIKE / IS NOT NULL predicates pushed to the scan."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").like("%the %") & F.col("lang").isNotNull()
    ).select("doc_id", "lang", "n_chars")


def q_point_lookup(spark, sf_dir):
    """L6: point lookup by key (reference findDocumentByID,
    mongo/utils.ts:80-96) — at scale this hits one bucket via key hashing."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") == 42).select(
        "doc_id", "source", "lang", F.sha2("text", 256).alias("text_sha256")
    )


def q_cube_metrics(spark, sf_dir):
    """E10: cube over orders (metrics reporting beyond rollup)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_map_collect_funcs(spark, sf_dir):
    """E16: map_from_entries + element_at + size (per-user event-type counts as a
    map) AND collect_list + sort_array (lineage-list shape) in one surface;
    scalars/CSV extracted so the oracle comparison stays engine-neutral."""
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m"),
        F.concat_ws(",", F.sort_array(F.collect_list("event_type"))).alias("types_csv"),
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("m", "click"), F.lit(0)).alias("n_click"),
        F.coalesce(F.element_at("m", "purchase"), F.lit(0)).alias("n_purchase"),
        F.size("m").alias("n_types"),
        "types_csv",
    )


def q_union_evolution(spark, sf_dir):
    """E12/E20: unionByName(allowMissingColumns=True) — the additive schema
    evolution primitive; the missing side reads NULL."""
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source")
    b = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang")
    return a.unionByName(b, allowMissingColumns=True)


def q_grouped_map_normalize(spark, sf_dir):
    """E22 grouped-map: applyInPandas per-event_type z-score of value."""
    from change_data_capturer_ms_spark.operators.grouped import zscore_normalize

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = zscore_normalize(e, ["event_type"], "value", id_cols=["event_id"])
    return out.select("event_id", "event_type", F.round("zscore", 4).alias("zscore"))


def q_grouped_agg_weighted(spark, sf_dir):
    """E22 grouped-agg: pandas UDF weighted mean (weight = event_id % 10 + 1)."""
    from change_data_capturer_ms_spark.operators.grouped import weighted_mean_agg

    e = _t(spark, sf_dir, "events").withColumn(
        "w", (F.pmod(F.col("event_id"), F.lit(10)) + 1).cast("double")
    )
    # pandas grouped-agg UDFs cannot mix with builtin aggregates in one agg()
    return e.groupBy("event_type").agg(
        F.round(weighted_mean_agg("value", "w"), 4).alias("wmean_value")
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped headline: selective join + agg + global top-10."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_streaming_window_counts(spark, sf_dir):
    """E19 streaming: real readStream → tumbling 1h window agg → memory sink
    (complete mode, availableNow) — final state equals the batch GROUP BY, so it
    gets a full oracle. At scale this runs append-mode with a watermark to a
    file sink; complete+memory is the deterministic sandbox shape."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    name = f"stream_win_{_VER}_{tag}"
    # the file stream source requires a directory; stage the (read-only) events
    # parquet into a temp dir via symlink
    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    stage = f"/tmp/cdc_stream_src_{_VER}_{tag}"
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_timestamp(F.col("w.start")).alias("hour_epoch"), "n", "sum_value"
    )


def q_asof_join(spark, sf_dir):
    """E8+: as-of join (latest purchase at or before each click, per user) —
    union + ordered-window composition, one key shuffle, no nested-loop join.
    DuckDB's native ASOF JOIN is the oracle.

    r4 fold (same join grain, driver cap pinned at 50): src='interval' rows
    come from streaming/joins.py stream_interval_join run in its batch twin
    (watermark=None) — every purchase within [click.ts, click.ts + 15 min]
    per user. Batch ≡ stream for the operator is proven in
    tests/test_stream_join.py; this surface hash-checks the range+key join
    semantics against a plain interval-join oracle."""
    from change_data_capturer_ms_spark.operators.joins import asof_join
    from change_data_capturer_ms_spark.streaming.joins import stream_interval_join

    e = _t(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")  # dedupe equal timestamps deterministically
        .agg(F.max("event_id").alias("last_purchase_id"))
        .withColumn(
            "p_epoch",
            F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long"),
        )
    )
    c = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(c, p, on=["user_id"], left_ts="ts", right_ts="ts",
                    right_cols=["last_purchase_id", "p_epoch"],
                    tiebreaker="last_purchase_id")
    asof_rows = out.select(
        F.lit("asof").alias("src"),
        "event_id", "user_id", "last_purchase_id", "p_epoch",
    )
    iv = stream_interval_join(
        c, p.select("user_id", "ts", "last_purchase_id", "p_epoch"),
        keys=["user_id"], left_ts="ts", right_ts="ts",
        watermark=None, lower="0 seconds", upper="15 minutes",
    )
    iv_rows = iv.select(
        F.lit("interval").alias("src"),
        "event_id", "user_id",
        F.col("r_last_purchase_id").alias("last_purchase_id"),
        F.col("r_p_epoch").alias("p_epoch"),
    )
    return asof_rows.unionByName(iv_rows)


def q_range_join(spark, sf_dir):
    """E8+: bucketed range join — clicks in the 30 minutes before each purchase
    (per user), bounded by coarse time-bucket equi-join instead of an
    inequality nested loop."""
    from change_data_capturer_ms_spark.operators.joins import range_join_bucketed

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    c = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    pairs = range_join_bucketed(p, c, on=["user_id"], probe_ts="ts",
                                build_ts="ts", window_sec=1800)
    counts = pairs.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        p.select("purchase_id").join(counts, "purchase_id", "left")
        .select("purchase_id", F.coalesce("n", F.lit(0)).alias("n_recent_clicks"))
    )


def q_stateful_running_stats(spark, sf_dir):
    """E18/E22: applyInPandasWithState — per-user cumulative stats across two
    real micro-batches; the final state per key equals the batch aggregate
    (the oracle's GROUP BY)."""
    from change_data_capturer_ms_spark.streaming import running_key_stats

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    stage = f"/tmp/cdc_state_src_{_VER}_{tag}"
    if not os.path.exists(stage):
        (_t(spark, sf_dir, "events").repartition(2)
         .write.mode("overwrite").parquet(stage))
    schema = _t(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
    )
    name = f"state_stats_{_VER}_{tag}"
    q = (
        running_key_stats(stream, keys=["user_id"], seq_col="event_id",
                          value_col="value")
        .writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    # cumulative outputs are monotone per key; the final state is the max
    upd = spark.table(name)
    final = F.max_by(F.struct("n_events", "max_seq", "sum_value"), "n_events")
    return (
        upd.groupBy("user_id").agg(final.alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.max_seq").alias("max_event_id"),
            F.round("s.sum_value", 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    # df_cap bounds hot-shingle pair fan-out (quadratic at scale); mirrored in
    # the oracle SQL so the correctness gate checks the capped semantics
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5,
                               df_cap=1000)


def q_minhash_signatures(spark, sf_dir):
    return minhash_signatures_q(_t(spark, sf_dir, "documents"))


def minhash_signatures_q(df):
    from change_data_capturer_ms_spark.operators import minhash_signatures
    return minhash_signatures(df)


def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), bands=4, min_est=0.5)


def q_dedup_pair_mining(spark, sf_dir):
    """r2 fold of dedup_ngram_jaccard + dedup_minhash_lsh — both pair-grain
    (id_a < id_b) near-dup miners over documents, src-tagged: the exact
    capped-DF shingle-join baseline next to the banded-LSH sublinear path.
    `shared` (shingle overlap count) only exists for the exact method; NULL
    for minhash on both engines.

    src='component' rows fold in connected components over the union of both
    miners' pairs (operators/graph.py large-star/small-star): id_a = member,
    id_b = component root (min reachable id), shared = component size — the
    transitive-closure step pair mining alone can't express. The DuckDB
    oracle rederives it exactly with a recursive CTE (min reachable id)."""
    docs = _t(spark, sf_dir, "documents")
    # both miners read the same word-shingle explode (jaccard 4x: sizes, hot-DF,
    # both self-join sides; minhash 1x) — materialize it ONCE and share it
    from change_data_capturer_ms_spark.operators.dedup_docs import word_shingles
    sh = word_shingles(docs).localCheckpoint(eager=True)
    jac = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=1000,
                              shingles=sh).select(
        F.lit("jaccard").alias("src"), "id_a", "id_b",
        F.col("shared").cast("long").alias("shared"),
        F.col("jaccard").alias("sim"),
    )
    mh = minhash_lsh_pairs(docs, bands=4, min_est=0.5, shingles=sh).select(
        F.lit("minhash").alias("src"), "id_a", "id_b",
        F.lit(None).cast("long").alias("shared"),
        F.col("est_jaccard").alias("sim"),
    )
    # materialize the pair list ONCE: both the component iteration and the
    # final union read it, and the iterative CC would otherwise re-derive the
    # full mining lineage for its first checkpoint (standard practice before
    # iterative graph rounds; bounded = thresholded near-dup pairs)
    pairs = jac.unionByName(mh).localCheckpoint(eager=True)
    from change_data_capturer_ms_spark.operators import (
        component_stats, connected_components)
    cc = connected_components(pairs.select("id_a", "id_b"))
    comp = cc.join(component_stats(cc), "component").select(
        F.lit("component").alias("src"),
        F.col("id").alias("id_a"),
        F.col("component").alias("id_b"),
        F.col("n_members").alias("shared"),
        F.lit(None).cast("double").alias("sim"),
    )
    return pairs.unionByName(comp)


def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py): per-doc n-gram
    overlap vs an eval set synthesized deterministically from the corpus
    itself (doc_id % 97 — no external data in the sandbox). n=3 because the
    synthetic word-soup vocabulary is ~31 words; real decontamination uses
    8–13-grams (GPT-3 appendix C) — identical plan shape, the eval side is
    broadcast either way.

    r4 fold: `kept` = membership in the actual `decontaminate()` output at
    max_frac=0.0 (the GPT-3 any-overlap-disqualifies rule) — the broadcast
    LEFT ANTI survivor set LEFT-joined back onto the per-doc check rows, so
    the surface exercises the real subtraction operator, not a recomputed
    flag.
    """
    from change_data_capturer_ms_spark.operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    chk = contamination_check(docs, ev, n=3)
    kept = decontaminate(docs, ev, n=3, max_frac=0.0).select(
        F.col("doc_id").alias("id"), F.lit(True).alias("kept")
    )
    return chk.join(kept, "id", "left").withColumn(
        "kept", F.coalesce("kept", F.lit(False))
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """Banded hamming-≤3 SimHash near-dup pairs (pigeonhole-complete for 4
    bands). 32-bit signatures: 8-bit bands collide for ~4/256 of random pairs,
    so candidate fan-out stays near-linear in true near-dups (16-bit/4-bit
    bands would make ~25% of ALL pairs candidates — quadratic again).
    with_sigs exposes both 32-bit signatures, so this one surface hash-checks
    the SimHash signature computation too (the per-doc `simhash()` operator is
    additionally unit-tested in tests/test_text_embed_ops.py)."""
    from change_data_capturer_ms_spark.operators import simhash_pairs_banded
    return simhash_pairs_banded(_t(spark, sf_dir, "documents"), bits=32, bands=4,
                                max_hamming=3, with_sigs=True)


def q_train_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (operators/sampling.py)
    + concat-and-chunk sequence packing (operators/packing.py) in one per-doc
    surface — the training-data layout pipeline. Split membership and packing
    position are both pure functions of the key (cross-engine md5-56 hash),
    so every engine rederives the exact layout: shard, gapless start_offset,
    chunk id and straddle count from ONE per-shard window cumsum."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count_ws("text"))
    s = hash_split(d, "doc_id")  # 80/10/10 train/val/test
    return pack_concat_chunks(
        s, id_col="doc_id", tokens_col="n_tokens", budget=512, n_shards=8,
        keep_cols=["split", "lang", "n_tokens"],
    )


def q_change_delta_lag(spark, sf_dir):
    """Per-key change-delta audit (operators/delta.py): lag window per user in
    (ts, event_id) order — previous value, numeric delta, create/update/noop
    classification. One window shuffle, no self-join."""
    e = _t(spark, sf_dir, "events")
    d = change_deltas(e, keys=["user_id"],
                      order_cols=[F.col("ts"), F.col("event_id")],
                      value_col="value")
    return d.select(
        "user_id", "event_id",
        F.round("value", 2).alias("value_r"),
        F.round("delta", 2).alias("delta"),
        "change_kind",
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF term ranking (operators/text.py): top-50 terms by the
    deterministic integer sort keys (doc_freq desc, total_tf desc, term)."""
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=50)


def q_pivot_unpivot(spark, sf_dir):
    """Pivot/unpivot round-trip (operators/reshape.py): lang × source count
    matrix via groupBy().pivot(explicit values — no hidden distinct scan),
    melted back to long form; missing combinations drop as NULLs."""
    d = _t(spark, sf_dir, "documents")
    vals = [f"src{i}" for i in range(20)]
    wide = pivot_counts(d, "lang", "source", vals)
    return melt(wide, ["lang"], vals, var_name="source", value_name="n_docs")


def q_embed_knn_methods(spark, sf_dir):
    """Exact brute-force kNN (broadcast-NLJ baseline) UNION multi-probe
    sign-bit LSH ANN (the query's bucket plus hamming-1 neighbors — the
    sublinear scale path) UNION product-quantization ANN (hash-seeded
    codebooks, ADC lookup-table scoring, exact re-rank — the billion-vector
    compression path), tagged by method. r2 fold of embed_knn_brute +
    embed_lsh_ann; r3 folds pq_topk into the same grain (50-row budget)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    common = ["query_id", "neighbor_id", "cosine", "rank"]
    brute = brute_force_topk(emb, queries, k=5).select(
        F.lit("brute").alias("method"), *common)
    lsh = lsh_topk(emb, queries, k=5, bits=4, multiprobe=True).select(
        F.lit("lsh").alias("method"), *common)
    pq = pq_topk(emb, queries, k=5, m=4, n_codes=16, rerank=20).select(
        F.lit("pq").alias("method"), *common)
    return brute.unionByName(lsh).unionByName(pq)


def q_embed_ivf_ann(spark, sf_dir):
    """IVF ANN with the DETERMINISTIC coarse quantizer (hash-seeded centroids,
    closed-form assignment) so the DuckDB oracle re-derives the exact result.
    The KMeans-trained variant (`ivf_topk`, same probe-join shape) remains
    recall-tested in tests/test_similarity_ivf.py."""
    from change_data_capturer_ms_spark.operators import ivf_topk_det

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_topk_det(emb, queries, k=5, n_cells=8, nprobe=3)


def q_embed_near_dup(spark, sf_dir):
    """LSH-bucketed cosine near-dup pairs (src='lsh_pair') + r4 fold:
    src='semdedup_survivor' = the ids SemDeDup (operators/similarity.py
    semdedup — per-cell pairwise cosine ≥ tau, min-id representative kept)
    retains at tau=0.8 over the same hash-seeded 8-cell quantizer as
    embed_ivf_ann. The oracle rederives the cells, the per-cell pair graph,
    and min-reachable-id components via a recursive CTE."""
    from change_data_capturer_ms_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3, bits=4).select(
        F.lit("lsh_pair").alias("src"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cosine",
    )
    surv = semdedup(emb, tau=0.8, n_cells=8).select(
        F.lit("semdedup_survivor").alias("src"),
        F.col("vec_id").cast("long").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("cosine"),
    )
    return pairs.unionByName(surv)


def q_text_quality_langid(spark, sf_dir):
    """Quality features + per-language stopword scores + lang guess in ONE
    projection (operators/text.py text_profile — no join of two per-doc
    projections), LEFT-joined with the per-doc min/max fingerprint sketch
    (doc_fingerprint: one shingle explode + agg) and the Gopher repetition
    metrics (repetition_profile: one tagged explode + two aggs). Later r2
    fold of text_quality + text_langid + doc_fingerprint + repetition —
    all per-doc grain, so the joins are key-co-partitioned. Final fold:
    gopher_filter appends the published-threshold keep/drop decision +
    comma-joined failure reasons (pure projection over the profile).

    r5 fold: redact_pii (operators/text.py — chained regexp_replace /
    regexp_count, pure codegen projection) over a deterministically
    PII-seeded copy of each doc (the corpus text itself is word soup with
    no digits, so the fold synthesizes emails/phones/IPs/SSNs from doc_id —
    both engines build the identical string). Exports the per-kind counts
    (measured on the pre-redaction text) plus sha256 of the fully-redacted
    text, which pins the exact chained-replacement semantics cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    fp = doc_fingerprint(docs, n=4).withColumnRenamed("id", "doc_id")
    rep = repetition_profile(docs).withColumnRenamed("id", "doc_id")
    prof = (
        text_profile(docs)
        .join(fp, "doc_id", "left")
        .join(rep, "doc_id", "left")
    )
    from change_data_capturer_ms_spark.operators import gopher_filter, redact_pii
    d = F.col("doc_id")
    pad4 = F.lpad((d % 10000).cast("string"), 4, "0")
    pii_text = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(F.lit(" reach me at user"), d.cast("string"),
                                    F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(F.lit(" or call +1 (555) 010-"), pad4))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" logged from 10.0."),
                                    (d % 256).cast("string"), F.lit("."),
                                    ((d * 7) % 256).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" ssn 123-45-"), pad4))
        .otherwise(F.lit("")),
    )
    red = redact_pii(docs.select("doc_id", pii_text.alias("text"))).select(
        "doc_id",
        F.sha2(F.col("text_redacted"), 256).alias("redacted_sha256"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
    )
    # gopher_filter fold (operators/text.py): published-threshold keep/drop
    # decision over the profile columns; drop_reasons exported comma-joined
    # (driver value-hash convention — scalar columns both sides)
    out = gopher_filter(prof).join(red, "doc_id", "left")
    return out.withColumn("drop_reasons", F.concat_ws(",", "drop_reasons"))


def q_scd2_history(spark, sf_dir):
    """SCD Type-2 history view (operators/delta.py scd2_history): per-key
    version numbers + validity intervals + is_current, one window shuffle.
    Timestamps exported as epoch seconds (driver-gate convention)."""
    e = _t(spark, sf_dir, "events")
    h = scd2_history(e, keys=["user_id"],
                     order_cols=[F.col("ts"), F.col("event_id")])
    def epoch_s(c):  # NTZ → epoch seconds, floor (matches epoch_us // 1e6)
        return F.floor(F.col(c).cast("timestamp").cast("double")).cast("long")

    return h.select(
        "user_id", "event_id", "version_num",
        epoch_s("ts").alias("valid_from_s"),
        epoch_s("valid_to").alias("valid_to_s"),
        "is_current",
    )


def q_snapshot_diff(spark, sf_dir):
    """Version-to-version change feed (operators/delta.py snapshot_diff):
    LWW state at seq 500 vs seq 900 diffed in ONE groupBy via conditional
    max_by — no self-join, no second shuffle."""
    e = _t(spark, sf_dir, "events")
    d = snapshot_diff(e, keys=["user_id"], seq_col="event_id",
                      value_cols=["event_type", "value"],
                      seq_old=500, seq_new=900)
    return d.select(
        "user_id", "change", "old_event_type", "new_event_type",
        F.round("old_value", 2).alias("old_value_r"),
        F.round("new_value", 2).alias("new_value_r"),
    )


def q_snapshot_cdc(spark, sf_dir):
    """Snapshot-based CDC (sources/snapshot_cdc.py): two full snapshot exports
    of the documents table (filtered/mutated projections, no changelog) diffed
    into insert/update/delete events in ONE side-restricted conditional-max_by
    groupBy — the no-WAL ingest path. The oracle rederives it with a FULL
    OUTER JOIN (a deliberately different formulation of the same semantics)."""
    docs = _t(spark, sf_dir, "documents")
    old = (docs.filter(F.col("doc_id") % 5 != 0)
           .select("doc_id", "lang", "text"))
    new = (docs.filter(F.col("doc_id") % 7 != 0)
           .select("doc_id", "lang",
                   F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text")))
                   .otherwise(F.col("text")).alias("text")))
    ev = snapshot_to_changelog(old, new, ["doc_id"], seq=42)
    return ev.select("doc_id", "op", "seq", "lang",
                     F.length("text").alias("n_chars_ev"))


def q_multimodal_pipeline(spark, sf_dir):
    """Binary-column plumbing end-to-end (r2 fold of multimodal_meta +
    frame_sample): synth payloads → mapInPandas feature extraction
    (deterministic fake decode; real decode is the stubbed seam) → Catalyst
    frame-sampling plan for videos, LEFT-joined back so every media row
    appears (videos once per sampled frame). In a real pipeline the feature
    frame would be persisted before the two consumers branch."""
    media = synth_media(_t(spark, sf_dir, "documents"))
    feats = extract_media_features(media)
    frames = frame_sample(feats, every_n=10)
    return feats.join(frames, "media_id", "left").select(
        "media_id", "kind", "n_bytes", "payload_sha256",
        "width", "height", "n_frames", "frame_idx")


def q_drift_psi(spark, sf_dir):
    """Distribution drift (operators/drift.py): PSI of the numeric `value`
    column and the categorical `event_type` mix between the first and second
    half of the event log, in one tagged surface. Each side is ONE pruned
    scan folded to an O(bins) histogram; the PSI join touches only those
    aggregates. Fixed [lo, hi) binning so the two windows are comparable."""
    e = _t(spark, sf_dir, "events")
    w = e.agg(F.floor(F.max("event_id") / 2)).collect()[0][0]
    old, new = e.filter(F.col("event_id") <= w), e.filter(F.col("event_id") > w)
    num = psi_terms(old, new, "value", bins=10, lo=0.0, hi=500.0).select(
        F.lit("num").alias("src"), F.col("bin").cast("string").alias("key"),
        "n_old", "n_new", F.round("psi_term", 6).alias("psi_term_r"))
    cat = psi_terms(old, new, "event_type", categorical=True).select(
        F.lit("cat").alias("src"), F.col("cat").alias("key"),
        "n_old", "n_new", F.round("psi_term", 6).alias("psi_term_r"))
    return num.unionByName(cat)


# ---------------------------------------------------------------------------
# non-SQL-expressible: the full streaming pipeline (rows-only check)
# ---------------------------------------------------------------------------

def q_cdc_streaming_state(spark, sf_dir):
    """E18/E21: full Structured Streaming run (checkpointed foreachBatch MERGE with
    exactly-once ledger) over a deterministic synthetic change log; returns the
    final table state. Not SQL-expressible (stateful streaming) → rows-only."""
    from change_data_capturer_ms_spark.config import EngineConfig
    from change_data_capturer_ms_spark.sources import gen_changelog, write_changelog
    from change_data_capturer_ms_spark.streaming import CDCPipeline

    tag = os.path.basename(os.path.normpath(sf_dir))
    base = f"/tmp/cdc_q_stream_{_VER}_{tag}"
    table = LakeTable(spark, f"{base}/table", key_cols=["repo", "path"], n_buckets=8)
    if not table.exists():
        log = gen_changelog(spark, 10_000, seed=5, n_repos=30, paths_per_repo=10)
        write_changelog(log, f"{base}/log")
        pipe = CDCPipeline(spark, f"{base}/log", table, f"{base}/ckpt",
                           cfg=EngineConfig(n_buckets=8))
        pipe.run_stream()
    return table.read().select("repo", "path", "commit", "content_sha256", "_last_seq")


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the engine's MERGE-upsert state over sf0.001 events."""
    return q_merge_upsert(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # exactly 50 entries (driver records ~50 rows); the one rows-only
        # query is last so every oracle-backed operator gets a recorded row
        "scan_projection": q_scan_projection,
        "filter_predicate": q_filter_predicate,
        "classify_op": q_classify_op,
        "lww_dedupe": q_lww_dedupe,
        "merge_upsert": q_merge_upsert,
        "time_travel": q_time_travel,
        "join_broadcast": q_join_broadcast,
        "join_multiway": q_join_multiway,
        "join_semi_anti": q_join_semi_anti,
        "join_outer": q_join_outer,
        "agg_pricing_summary": q_agg_pricing_summary,
        "incr_agg": q_incr_agg,
        "rollup_cube_metrics": q_rollup_cube_metrics,
        "topk_orders": q_topk_orders,
        "set_ops": q_set_ops,
        "string_hash": q_string_hash,
        "datetime_bucket": q_datetime_bucket,
        "math_funcs": q_math_funcs,
        "array_wordcount": q_array_wordcount,
        "window_tumbling": q_window_tumbling,
        "predicate_like_null": q_predicate_like_null,
        "point_lookup": q_point_lookup,
        "map_collect_funcs": q_map_collect_funcs,
        "union_evolution": q_union_evolution,
        "grouped_map_normalize": q_grouped_map_normalize,
        "grouped_agg_weighted": q_grouped_agg_weighted,
        "shipping_priority": q_shipping_priority,
        "streaming_window_counts": q_streaming_window_counts,
        "stateful_running_stats": q_stateful_running_stats,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "dedup_exact": q_dedup_exact,
        "dedup_pair_mining": q_dedup_pair_mining,
        "minhash_signatures": q_minhash_signatures,
        "contamination_check": q_contamination_check,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "train_split": q_train_split,
        "change_delta_lag": q_change_delta_lag,
        "scd2_history": q_scd2_history,
        "snapshot_diff": q_snapshot_diff,
        "tfidf_top_terms": q_tfidf_top_terms,
        "pivot_unpivot": q_pivot_unpivot,
        "embed_knn_methods": q_embed_knn_methods,
        "embed_ivf_ann": q_embed_ivf_ann,
        "embed_near_dup": q_embed_near_dup,
        "text_quality_langid": q_text_quality_langid,
        "snapshot_cdc": q_snapshot_cdc,
        "multimodal_pipeline": q_multimodal_pipeline,
        "drift_psi": q_drift_psi,
        "cdc_streaming_state": q_cdc_streaming_state,
    }


# -- DuckDB oracles ----------------------------------------------------------

_H = md5_long56_sql  # cross-engine 56-bit md5 hash (see functions/hashing.py)

_SHINGLES_CTE = """
words AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id, array_to_string(w[g : g + {nm1}], ' ') AS shingle
    FROM (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - {nm1})) AS g
        FROM words WHERE len(w) >= {n}
    )
)
"""


def _minhash_sig_sql() -> str:
    h = _H("shingle")
    mins = ",\n        ".join(
        f"MIN({minhash_perm_sql(h, i)})::BIGINT AS mh{i}" for i in range(len(MINHASH_PERMS))
    )
    return (
        "WITH " + _SHINGLES_CTE.format(n=3, nm1=2)
        + f", sig AS (SELECT doc_id AS id,\n        {mins}\n    FROM shingles GROUP BY doc_id)"
    )


def _pq_knn_sql(m: int = 4, dim: int = 64, n_codes: int = 16,
                rerank: int = 20, k: int = 5) -> tuple[str, str]:
    """DuckDB twin of operators/similarity.pq_topk (hash-seeded codebooks,
    ADC lookup-sum, exact cosine re-rank). Returns (cte_chunk, final_select)
    to be spliced into the embed_knn_methods WITH/UNION. dim is fixed by the
    testdata embeddings (64); sub-vector slices are emitted as literal bounds
    exactly like the Spark side's literal struct explode."""
    w = dim // m

    def sqd(a: str, b: str) -> str:
        return (f"list_sum(list_transform(list_zip({a}, {b}), "
                "s -> (s[1]-s[2])*(s[1]-s[2])))")

    corpus_subs = " UNION ALL ".join(
        f"SELECT vec_id AS vec, {s} AS sub, v[{s*w+1}:{(s+1)*w}] AS sv FROM pqn"
        for s in range(m))
    cb_subs = " UNION ALL ".join(
        f"SELECT {s} AS sub, code, v[{s*w+1}:{(s+1)*w}] AS centroid FROM pqseed"
        for s in range(m))
    q_subs = " UNION ALL ".join(
        f"SELECT query_id, {s} AS sub, qv[{s*w+1}:{(s+1)*w}] AS qsv FROM pqq"
        for s in range(m))
    return (
        # normalize (ADC ranks by L2, monotone in cosine only on unit vectors)
        "pqb AS (SELECT vec_id, embedding::DOUBLE[] AS v0, "
        "  sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm "
        "  FROM embeddings), "
        "pqn AS (SELECT vec_id, CASE WHEN nrm = 0 THEN v0 "
        "  ELSE list_transform(v0, x -> x / nrm) END AS v FROM pqb), "
        # deterministic codebook seeds: n_codes smallest md5-id-hash rows
        f"pqh AS (SELECT vec_id, v, {_H('vec_id::VARCHAR')} AS h FROM pqn), "
        "pqseed AS (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 "
        f"  AS code FROM pqh ORDER BY h, vec_id LIMIT {n_codes}), "
        f"pqcb AS ({cb_subs}), "
        f"pqsubs AS ({corpus_subs}), "
        # encode: argmin centroid per (vec, sub), tie on code
        "pqcodes AS (SELECT vec, sub, code FROM ("
        "  SELECT vec, sub, code, ROW_NUMBER() OVER (PARTITION BY vec, sub "
        f"    ORDER BY {sqd('sv', 'centroid')}, code) AS rn "
        "  FROM pqsubs JOIN pqcb USING (sub)) WHERE rn = 1), "
        "pqq AS (SELECT vec_id AS query_id, v AS qv FROM pqn WHERE vec_id < 3), "
        f"pqqsubs AS ({q_subs}), "
        # per-query lookup table: partial sq-distance to every (sub, code)
        "pqlut AS (SELECT query_id, sub, code, "
        f"  {sqd('qsv', 'centroid')} AS pd FROM pqqsubs JOIN pqcb USING (sub)), "
        # ADC: approx dist = sum of m lookups
        "pqapprox AS (SELECT query_id, vec, SUM(pd) AS adist "
        "  FROM pqcodes JOIN pqlut USING (sub, code) "
        "  WHERE query_id <> vec GROUP BY query_id, vec), "
        f"pqcand AS (SELECT query_id, vec AS neighbor_id FROM ("
        "  SELECT query_id, vec, ROW_NUMBER() OVER (PARTITION BY query_id "
        f"    ORDER BY adist, vec) AS rn FROM pqapprox) WHERE rn <= {rerank}), "
        "pqscored AS (SELECT query_id, neighbor_id, "
        "  list_cosine_similarity(qv, n.v) AS cos_raw FROM pqcand "
        "  JOIN pqn n ON n.vec_id = neighbor_id JOIN pqq USING (query_id))"
    ), (
        "SELECT 'pq' AS method, query_id, neighbor_id, "
        "ROUND(cos_raw, 6) AS cosine, rank "
        "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
        f"  ORDER BY cos_raw DESC, neighbor_id) AS rank FROM pqscored) "
        f"WHERE rank <= {k}"
    )


def oracle_sql() -> dict[str, str]:
    pack_h = _H("'pack:' || CAST(doc_id AS VARCHAR)")
    k = len(MINHASH_PERMS)
    band_joins = []
    for bidx in range(4):
        cols = [f"mh{i}" for i in range(bidx * 2, bidx * 2 + 2)]
        cond = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        band_joins.append(
            f"SELECT a.id AS id_a, b.id AS id_b, "
            + ", ".join(f"a.mh{i} AS a_mh{i}" for i in range(k)) + ", "
            + ", ".join(f"b.mh{i} AS b_mh{i}" for i in range(k))
            + f" FROM sig a JOIN sig b ON a.id < b.id AND {cond}"
        )
    lsh_union = " UNION ".join(band_joins)
    agree = " + ".join(
        f"CASE WHEN a_mh{i} = b_mh{i} THEN 1 ELSE 0 END" for i in range(k)
    )

    simhash_votes32 = ",\n            ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(32)
    )
    simhash_val32 = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(32))

    stop_scores = []
    from change_data_capturer_ms_spark.operators.text import LANG_STOPWORDS
    for lang, stops in LANG_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in stops)
        stop_scores.append(
            f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
            f"x -> list_contains([{lst}], x)))::BIGINT AS score_{lang}"
        )
    langs = list(LANG_STOPWORDS)
    lang_case = "CASE "
    # first strictly-greater language in declared order wins (mirrors Spark expr)
    prev = "0"
    # build nested: evaluate in order, track best via GREATEST chain
    # simpler exact mirror: recompute the fold
    fold_lang, fold_score = "'und'", "0"
    for lang in langs:
        c = f"score_{lang}"
        fold_lang = f"CASE WHEN {c} > ({fold_score}) THEN '{lang}' ELSE {fold_lang} END"
        fold_score = f"CASE WHEN {c} > ({fold_score}) THEN {c} ELSE ({fold_score}) END"

    bucket_sql = " + ".join(
        f"(CASE WHEN embedding[{j * 4 + 1}]::DOUBLE > 0 THEN {2**j} ELSE 0 END)"
        for j in range(4)
    )

    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])

    # redact_pii mirror (r5 fold into text_quality_langid): identical
    # PII-seeded text both engines, counts via regexp_extract_all on the
    # pre-redaction text, chained global regexp_replace in declaration
    # order, sha256 of the final redacted text. PII_PATTERNS is the single
    # source of truth for the regexes (RE2 and Java agree on this subset:
    # ASCII classes, \b, greedy quantifiers — verified bit-exact at sf0.01).
    from change_data_capturer_ms_spark.operators.text import PII_PATTERNS

    pii_redacted = "pt"
    for kind, pat in PII_PATTERNS.items():
        pii_redacted = (
            f"regexp_replace({pii_redacted}, '{pat}', '[PII:{kind}]', 'g')")
    pii_counts = ", ".join(
        f"len(regexp_extract_all(pt, '{pat}'))::BIGINT AS n_{kind}"
        for kind, pat in PII_PATTERNS.items())
    pii_join = (
        "LEFT JOIN ("
        "  WITH src AS (SELECT doc_id, text"
        "    || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user'"
        "       || doc_id::VARCHAR || '@example.com' ELSE '' END"
        "    || CASE WHEN doc_id % 4 = 0 THEN ' or call +1 (555) 010-'"
        "       || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END"
        "    || CASE WHEN doc_id % 5 = 0 THEN ' logged from 10.0.'"
        "       || (doc_id % 256)::VARCHAR || '.'"
        "       || ((doc_id * 7) % 256)::VARCHAR ELSE '' END"
        "    || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-'"
        "       || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END"
        "    AS pt FROM documents) "
        f"  SELECT doc_id AS id, sha256({pii_redacted}) AS redacted_sha256, "
        f"  {pii_counts} FROM src"
        ") pii ON documents.doc_id = pii.id"
    )

    pq_ctes, pq_select = _pq_knn_sql(m=4, dim=64, n_codes=16, rerank=20, k=5)

    return {
        "scan_projection": "SELECT event_id, user_id, event_type FROM events",
        "filter_predicate": (
            "SELECT event_id, user_id, event_type, value, "
            "json_extract(props, '$.k')::INT AS k FROM events "
            "WHERE event_type IN ('click','purchase') AND value > 50.0"
        ),
        "classify_op": (
            "SELECT event_id, event_type, CASE "
            "WHEN event_type IN ('purchase','signup') THEN 'conversion' "
            "WHEN event_type IN ('click','view') THEN 'engagement' "
            "ELSE 'error' END AS op_class FROM events"
        ),
        "lww_dedupe": (
            "SELECT user_id, event_id, event_type, value FROM ("
            "  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
            "    ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"
        ),
        "merge_upsert": (
            "SELECT user_id, event_id, event_type, value FROM ("
            "  SELECT user_id, event_id, event_type, value, ROW_NUMBER() OVER ("
            "    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events) "
            "WHERE rn = 1 AND event_type <> 'error'"
        ),
        "time_travel": (
            "SELECT user_id, event_id, event_type, value FROM ("
            "  SELECT user_id, event_id, event_type, value, ROW_NUMBER() OVER ("
            "    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events "
            "  WHERE event_id <= (SELECT MAX(event_id) // 2 FROM events)) "
            "WHERE rn = 1 AND event_type <> 'error'"
        ),
        "join_broadcast": (
            "SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders, "
            "ROUND(SUM(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
        ),
        "join_multiway": (
            "SELECT c_nationkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "COUNT(*)::BIGINT AS n_lines "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey"
        ),
        "join_semi_anti": (
            "SELECT c_custkey, 'semi' AS src FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
            "UNION ALL "
            "SELECT c_custkey, 'anti' AS src FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "join_outer": (
            "SELECT c_custkey, COUNT(o_orderkey)::BIGINT AS n_orders "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey"
        ),
        "agg_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
            "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
            "ROUND(AVG(l_quantity), 4) AS avg_qty, COUNT(*)::BIGINT AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "incr_agg": (
            # full recompute over the final LWW state — the maintained
            # (bootstrap + delta-fold) Spark result must land exactly here
            "WITH ranked AS ("
            "  SELECT *, ROW_NUMBER() OVER ("
            "    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events"
            "), state AS ("
            "  SELECT * FROM ranked WHERE rn = 1 AND event_type <> 'error'"
            ") SELECT event_type, COUNT(*)::BIGINT AS n_rows, "
            "ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) "
            "AS sum_value, COUNT(DISTINCT user_id)::BIGINT AS n_distinct_users "
            "FROM state GROUP BY event_type"
        ),
        "rollup_cube_metrics": (
            "SELECT o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS n_orders, "
            "ROUND(SUM(o_totalprice), 2) AS total_price, 'rollup' AS src "
            "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) "
            "UNION ALL "
            "SELECT o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS n_orders, "
            "ROUND(SUM(o_totalprice), 2) AS total_price, 'cube' AS src "
            "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
        ),
        "topk_orders": (
            "SELECT 'global' AS src, NULL::VARCHAR AS o_orderpriority, "
            "NULL::INT AS rk, o_orderkey, o_totalprice FROM ("
            "  SELECT o_orderkey, o_totalprice FROM orders "
            "  ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) "
            "UNION ALL "
            "SELECT 'group' AS src, o_orderpriority, rk::INT AS rk, o_orderkey, "
            "o_totalprice FROM ("
            "  SELECT o_orderpriority, o_orderkey, o_totalprice, ROW_NUMBER() OVER ("
            "    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey"
            "  ) AS rk FROM orders) WHERE rk <= 3"
        ),
        "set_ops": (
            "SELECT user_id, 'except' AS src FROM ("
            "  SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
            "  EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') "
            "UNION ALL "
            "SELECT user_id, 'intersect' AS src FROM ("
            "  SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
            "  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')"
        ),
        "string_hash": (
            "SELECT doc_id, sha256(text) AS text_sha256, LENGTH(text)::INT AS text_len, "
            "UPPER(SUBSTR(text, 1, 12)) AS head_upper, "
            "CONCAT_WS('::', source, lang) AS src_lang, "
            "REPLACE('cdc data lease ', ' ', '-') || "
            "REPLACE(source, ' ', '-') AS cid FROM documents"
        ),
        "datetime_bucket": (
            "SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, "
            "COUNT(*)::BIGINT AS n, COUNT(DISTINCT user_id)::BIGINT AS n_users, "
            "ROUND(SUM(value), 2) AS sum_value "
            "FROM events GROUP BY 1"
        ),
        "math_funcs": (
            "SELECT l_returnflag, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
            "ROUND(AVG(ABS(l_discount - 0.05)), 4) AS avg_disc_dev, "
            "SUM(CASE WHEN l_orderkey % 7 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_mod7 "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "array_wordcount": (
            "SELECT word, COUNT(*)::BIGINT AS n FROM ("
            "  SELECT unnest(string_split(text, ' ')) AS word FROM documents) "
            "WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20"
        ),
        "window_tumbling": (
            # epoch_us, not epoch(ts)::BIGINT — the latter ROUNDS sub-second parts
            "SELECT 'tumbling' AS src, (-1)::BIGINT AS user_id, "
            "(epoch_us(ts) // 1800000000) * 1800 AS win_epoch, "
            "COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS sum_value "
            "FROM events GROUP BY 3 "
            "UNION ALL "
            # Spark session semantics: gap >= gapDuration starts a new session
            "SELECT 'session' AS src, user_id, win_epoch, n, sum_value FROM ("
            "  WITH x AS (SELECT user_id, ts, value, CASE WHEN ts - LAG(ts) OVER ("
            "    PARTITION BY user_id ORDER BY ts) < INTERVAL '10 minutes' THEN 0 ELSE 1 END "
            "    AS new_sess FROM events), "
            "  y AS (SELECT user_id, ts, value, SUM(new_sess) OVER (PARTITION BY user_id "
            "    ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x) "
            "  SELECT user_id, (epoch_us(MIN(ts)) // 1000000)::BIGINT AS win_epoch, "
            "  COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS sum_value "
            "  FROM y GROUP BY user_id, sid)"
        ),
        "predicate_like_null": (
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE text LIKE '%the %' AND lang IS NOT NULL"
        ),
        "point_lookup": (
            "SELECT doc_id, source, lang, sha256(text) AS text_sha256 "
            "FROM documents WHERE doc_id = 42"
        ),
        "map_collect_funcs": (
            "SELECT user_id, "
            "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click, "
            "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase, "
            "COUNT(DISTINCT event_type)::INT AS n_types, "
            "array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_csv "
            "FROM events GROUP BY user_id"
        ),
        "union_evolution": (
            "SELECT doc_id, source, NULL::VARCHAR AS lang FROM documents WHERE doc_id % 2 = 0 "
            "UNION ALL "
            "SELECT doc_id, NULL::VARCHAR AS source, lang FROM documents WHERE doc_id % 2 = 1"
        ),
        "grouped_map_normalize": (
            "SELECT event_id, event_type, ROUND(CASE WHEN s IS NULL OR s = 0 THEN 0.0 "
            "ELSE (value - m) / s END, 4) AS zscore FROM ("
            "  SELECT event_id, event_type, value, "
            "  AVG(value) OVER (PARTITION BY event_type) AS m, "
            "  STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS s FROM events)"
        ),
        "grouped_agg_weighted": (
            "SELECT event_type, ROUND(SUM(value * w) / SUM(w), 4) AS wmean_value FROM ("
            "  SELECT event_type, value, (event_id % 10 + 1)::DOUBLE AS w FROM events) "
            "GROUP BY event_type"
        ),
        "shipping_priority": (
            "SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderdate < TIMESTAMP '1995-03-15 00:00:00' "
            "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"
        ),
        "streaming_window_counts": (
            "SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_epoch, "
            "COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS sum_value "
            "FROM events GROUP BY 1"
        ),
        "stateful_running_stats": (
            "SELECT user_id, COUNT(*)::BIGINT AS n_events, "
            "MAX(event_id)::BIGINT AS max_event_id, "
            "ROUND(SUM(value), 2) AS sum_value FROM events GROUP BY user_id"
        ),
        "asof_join": (
            # r4 fold: src='asof' = latest purchase at-or-before each click;
            # src='interval' = EVERY purchase in [click.ts, click.ts+15min]
            # (stream_interval_join batch twin, lower=0s upper=15min)
            "WITH p AS (SELECT user_id, ts, MAX(event_id) AS last_purchase_id, "
            "  (epoch_us(ts) // 1000000)::BIGINT AS p_epoch FROM events "
            "  WHERE event_type = 'purchase' GROUP BY user_id, ts), "
            "c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') "
            "SELECT 'asof' AS src, c.event_id, c.user_id, p.last_purchase_id, p.p_epoch "
            "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts "
            "UNION ALL "
            "SELECT 'interval' AS src, c.event_id, c.user_id, "
            "p.last_purchase_id, p.p_epoch "
            "FROM c JOIN p ON c.user_id = p.user_id "
            "AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 15 MINUTE"
        ),
        "range_join": (
            "WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events "
            "  WHERE event_type = 'purchase'), "
            "c AS (SELECT user_id, ts FROM events WHERE event_type = 'click') "
            "SELECT p.purchase_id, COUNT(c.ts)::BIGINT AS n_recent_clicks "
            "FROM p LEFT JOIN c ON c.user_id = p.user_id "
            "AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts "
            "GROUP BY p.purchase_id"
        ),
        "dedup_exact": (
            "SELECT sha256(text) AS text_sha256, MIN(doc_id)::BIGINT AS canonical_id, "
            "COUNT(*)::BIGINT AS n_dups FROM documents GROUP BY 1"
        ),
        "dedup_pair_mining": (
            # r2 fold: exact capped-DF shingle join (src='jaccard') UNION the
            # banded-LSH estimate (src='minhash'); `shared` is NULL for minhash.
            # src='component' = connected components over both miners' pairs:
            # root = MIN reachable id (recursive CTE mirrors the large-star/
            # small-star fixpoint exactly), shared = component size.
            "WITH RECURSIVE pairs AS ("
            "SELECT 'jaccard' AS src, id_a, id_b, shared, jaccard AS sim FROM ("
            "WITH " + _SHINGLES_CTE.format(n=3, nm1=2) + ", "
            # df cap mirror: shingles in > 1000 docs are excluded from the JOIN
            # (sizes stay uncapped) — same semantics as ngram_jaccard_pairs(df_cap=1000)
            "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id), "
            "hot AS (SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > 1000), "
            "capped AS (SELECT * FROM shingles "
            "  WHERE shingle NOT IN (SELECT shingle FROM hot)), "
            "shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared "
            "  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
            "  GROUP BY 1, 2) "
            "SELECT id_a, id_b, shared::BIGINT AS shared, "
            "ROUND(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard "
            "FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
            "WHERE ROUND(shared / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5"
            ") UNION ALL "
            "SELECT 'minhash' AS src, id_a, id_b, NULL::BIGINT AS shared, "
            "est_jaccard AS sim FROM ("
            + _minhash_sig_sql()
            + f", cand AS ({lsh_union}) "
            + f"SELECT id_a, id_b, ROUND(({agree}) / {float(k)}, 6) AS est_jaccard "
            + f"FROM cand WHERE ROUND(({agree}) / {float(k)}, 6) >= 0.5)"
            "), "
            "edges AS (SELECT id_a AS u, id_b AS v FROM pairs "
            "  UNION SELECT id_b, id_a FROM pairs), "
            "reach(id, r) AS ("
            "  SELECT u, u FROM edges"
            "  UNION"
            "  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.id = e.u), "
            "comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id), "
            "csize AS (SELECT root, COUNT(*) AS n FROM comp GROUP BY root) "
            "SELECT * FROM pairs UNION ALL "
            "SELECT 'component' AS src, comp.id AS id_a, comp.root AS id_b, "
            "csize.n::BIGINT AS shared, NULL::DOUBLE AS sim "
            "FROM comp JOIN csize ON comp.root = csize.root"
        ),
        "minhash_signatures": _minhash_sig_sql() + " SELECT * FROM sig",
        "contamination_check": (
            # eval set = doc_id % 97 slice of the corpus itself; 3-gram shingles
            # (distinct per doc, same md5-56 hash both engines)
            "WITH " + _SHINGLES_CTE.format(n=3, nm1=2) + ", "
            f"hsh AS (SELECT doc_id, {_H('shingle')} AS h FROM shingles), "
            "ev AS (SELECT doc_id AS eval_id, h FROM hsh WHERE doc_id % 97 = 0), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM hsh GROUP BY doc_id), "
            "hits AS (SELECT d.doc_id, COUNT(DISTINCT d.h) AS n_cont, "
            "  COUNT(DISTINCT e.eval_id) AS n_eval "
            "  FROM hsh d JOIN ev e ON d.h = e.h GROUP BY d.doc_id) "
            "SELECT s.doc_id AS id, s.n_shingles::BIGINT AS n_shingles, "
            "COALESCE(hits.n_cont, 0)::BIGINT AS n_contaminated, "
            "ROUND(COALESCE(hits.n_cont, 0) / s.n_shingles, 6) AS contamination_frac, "
            "COALESCE(hits.n_eval, 0)::BIGINT AS n_eval_docs, "
            # r4 fold: decontaminate(max_frac=0.0) keeps exactly the zero-
            # overlap docs, so survivor membership == (n_cont = 0)
            "(COALESCE(hits.n_cont, 0) = 0) AS kept "
            "FROM sizes s LEFT JOIN hits ON s.doc_id = hits.doc_id"
        ),
        "dedup_simhash_pairs": (
            # banded hamming-≤3: collide on any of 4 8-bit bands (32-bit
            # signature), then exact popcount(xor) — mirror of simhash_pairs_banded
            "WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents), "
            f"hashed AS (SELECT id, {_H('w')} AS h FROM tok WHERE w <> ''), "
            f"votes AS (SELECT id,\n            {simhash_votes32}\n        FROM hashed GROUP BY id), "
            f"sims AS (SELECT id, ({simhash_val32})::BIGINT AS simhash FROM votes), "
            "banded AS (SELECT id, simhash, t.b, (simhash >> (t.b * 8)) & 255 AS key "
            "  FROM sims CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) t), "
            "cand AS (SELECT DISTINCT a.id AS id_a, bb.id AS id_b, "
            "  a.simhash AS sa, bb.simhash AS sb "
            "  FROM banded a JOIN banded bb "
            "  ON a.b = bb.b AND a.key = bb.key AND a.id < bb.id) "
            "SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming, "
            "sa AS sig_a, sb AS sig_b FROM cand "
            "WHERE bit_count(xor(sa, sb)) <= 3"
        ),
        "train_split": (
            # split membership + concat-and-chunk packing layout, rederived
            # from the same cross-engine md5-56 hashes + one window cumsum
            "WITH t AS (SELECT doc_id, lang, "
            + hash_split_case_sql("doc_id") + " AS split, "
            "  len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens, "
            f"  {pack_h} AS h FROM documents), "
            "s AS (SELECT *, (h % 8)::INT AS shard FROM t WHERE n_tokens > 0), "
            "c AS (SELECT *, SUM(n_tokens) OVER "
            "  (PARTITION BY shard ORDER BY h, doc_id) AS end_excl FROM s) "
            "SELECT doc_id, split, lang, n_tokens::INT AS n_tokens, shard, "
            "(end_excl - n_tokens)::BIGINT AS start_offset, "
            "floor((end_excl - n_tokens) / 512.0)::BIGINT AS chunk, "
            "(floor((end_excl - 1) / 512.0) "
            " - floor((end_excl - n_tokens) / 512.0) + 1)::BIGINT "
            "  AS n_chunks_spanned FROM c"
        ),
        "change_delta_lag": (
            "SELECT user_id, event_id, ROUND(value, 2) AS value_r, "
            "ROUND(value - LAG(value) OVER w, 2) AS delta, "
            "CASE WHEN LAG(value) OVER w IS NULL THEN 'create' "
            "WHEN LAG(value) OVER w <> value THEN 'update' "
            "ELSE 'noop' END AS change_kind "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
        ),
        "tfidf_top_terms": (
            "WITH tok AS (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) "
            "  AS term FROM documents), "
            "tf AS (SELECT id, term, COUNT(*) AS tf FROM tok WHERE term <> '' "
            "  GROUP BY id, term), "
            "stats AS (SELECT term, COUNT(*)::BIGINT AS doc_freq, "
            "  SUM(tf)::BIGINT AS total_tf FROM tf GROUP BY term), "
            "nd AS (SELECT COUNT(*) AS n_docs FROM documents) "
            "SELECT term, doc_freq, total_tf, "
            "ROUND(ln((n_docs + 1) / (doc_freq + 1)) + 1, 5) AS idf, "
            "ROUND(total_tf * (ln((n_docs + 1) / (doc_freq + 1)) + 1), 5) AS tfidf "
            "FROM stats, nd "
            "ORDER BY doc_freq DESC, total_tf DESC, term LIMIT 50"
        ),
        "pivot_unpivot": (
            "SELECT lang, source, COUNT(*)::BIGINT AS n_docs "
            "FROM documents GROUP BY lang, source"
        ),
        "embed_knn_methods": (
            # brute-force exact baseline UNION multi-probe LSH (q-bucket +
            # hamming-1 neighbors), method-tagged — mirrors the Spark fold
            "WITH q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "  FROM embeddings WHERE vec_id < 3), "
            "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings), "
            "bscored AS (SELECT query_id, neighbor_id, "
            "  list_cosine_similarity(qv, cv) AS cos_raw FROM c, q0 "
            "  WHERE neighbor_id <> query_id), "
            f"b AS (SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket_sql})::INT AS bucket "
            "  FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 3), "
            "probes AS (SELECT query_id, qv, "
            "  unnest([qb, xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8)])::INT AS bucket "
            "  FROM q), "
            "lscored AS (SELECT query_id, b.vec_id AS neighbor_id, "
            "  list_cosine_similarity(qv, b.v) AS cos_raw "
            "  FROM b JOIN probes USING (bucket) WHERE b.vec_id <> query_id), "
            f"{pq_ctes} "
            "SELECT 'brute' AS method, query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank "
            "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
            "  ORDER BY cos_raw DESC, neighbor_id) AS rank FROM bscored) WHERE rank <= 5 "
            "UNION ALL "
            "SELECT 'lsh' AS method, query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank "
            "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
            "  ORDER BY cos_raw DESC, neighbor_id) AS rank FROM lscored) WHERE rank <= 5 "
            "UNION ALL "
            f"{pq_select}"
        ),
        "embed_ivf_ann": (
            # deterministic IVF: centroids = the 8 corpus vectors with smallest
            # md5-id hash (cells in hash order); closed-form nearest-cell
            # assignment; nprobe=3 probe join — exact mirror of ivf_topk_det
            "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"h AS (SELECT vec_id, v, {_H('vec_id::VARCHAR')} AS h FROM b), "
            "cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, "
            "  v AS centroid FROM h ORDER BY h, vec_id LIMIT 8), "
            "assigned AS (SELECT vec_id AS neighbor_id, v AS cv, cell FROM ("
            "  SELECT b.vec_id, b.v, cent.cell, ROW_NUMBER() OVER ("
            "    PARTITION BY b.vec_id "
            "    ORDER BY list_distance(b.v, cent.centroid), cent.cell) AS rn "
            "  FROM b CROSS JOIN cent) WHERE rn = 1), "
            "q AS (SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 3), "
            "probes AS (SELECT query_id, qv, cell FROM ("
            "  SELECT q.query_id, q.qv, cent.cell, ROW_NUMBER() OVER ("
            "    PARTITION BY q.query_id "
            "    ORDER BY list_distance(q.qv, cent.centroid), cent.cell) AS pr "
            "  FROM q CROSS JOIN cent) WHERE pr <= 3), "
            "scored AS (SELECT query_id, neighbor_id, assigned.cell, "
            "  list_cosine_similarity(qv, cv) AS cos_raw "
            "  FROM assigned JOIN probes USING (cell) WHERE neighbor_id <> query_id) "
            "SELECT query_id, neighbor_id, cell, ROUND(cos_raw, 6) AS cosine, rank FROM ("
            "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
            "    ORDER BY cos_raw DESC, neighbor_id) AS rank FROM scored) WHERE rank <= 5"
        ),
        "embed_near_dup": (
            # src='lsh_pair' = signbit-bucketed cosine pairs (threshold 0.3);
            # src='semdedup_survivor' = SemDeDup keep-set at tau=0.8: cells
            # from the 8 smallest md5-id hashes (same quantizer as
            # embed_ivf_ann), per-cell pairs with ROUND(cos,6) >= 0.8,
            # min-reachable-id components (recursive CTE), survivor = every
            # vec minus non-root component members
            "WITH RECURSIVE "
            f"b AS (SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket_sql})::INT AS bucket "
            "  FROM embeddings), "
            f"h AS (SELECT vec_id, v, {_H('vec_id::VARCHAR')} AS h FROM b), "
            "cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, "
            "  v AS centroid FROM h ORDER BY h, vec_id LIMIT 8), "
            "assigned AS (SELECT vec_id, v, cell FROM ("
            "  SELECT b.vec_id, b.v, cent.cell, ROW_NUMBER() OVER ("
            "    PARTITION BY b.vec_id "
            "    ORDER BY list_distance(b.v, cent.centroid), cent.cell) AS rn "
            "  FROM b CROSS JOIN cent) WHERE rn = 1), "
            "sp AS (SELECT a.vec_id AS ua, bb.vec_id AS ub "
            "  FROM assigned a JOIN assigned bb "
            "  ON a.cell = bb.cell AND a.vec_id < bb.vec_id "
            "  WHERE ROUND(list_cosine_similarity(a.v, bb.v), 6) >= 0.8), "
            "edges AS (SELECT ua AS u, ub AS w FROM sp UNION SELECT ub, ua FROM sp), "
            "reach(id, r) AS ("
            "  SELECT u, u FROM edges"
            "  UNION"
            "  SELECT e.w, reach.r FROM edges e JOIN reach ON reach.id = e.u), "
            "comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id), "
            "losers AS (SELECT id FROM comp WHERE id <> root) "
            "SELECT 'lsh_pair' AS src, a.vec_id::BIGINT AS id_a, "
            "bb.vec_id::BIGINT AS id_b, "
            "ROUND(list_cosine_similarity(a.v, bb.v), 6) AS cosine "
            "FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id "
            "WHERE ROUND(list_cosine_similarity(a.v, bb.v), 6) >= 0.3 "
            "UNION ALL "
            "SELECT 'semdedup_survivor' AS src, vec_id::BIGINT AS id_a, "
            "NULL::BIGINT AS id_b, NULL::DOUBLE AS cosine FROM embeddings "
            "WHERE vec_id NOT IN (SELECT id FROM losers)"
        ),
        "text_quality_langid": (
            # outer layers = gopher_filter mirror: failed-rule tags (NULL
            # metrics PASS — COALESCE false, same as the Spark operator),
            # comma-joined reasons + keep boolean over the profile columns
            "SELECT q2.* EXCLUDE (reasons_list), "
            # DuckDB: array_to_string(empty list) is NULL, Spark concat_ws is ''
            "COALESCE(array_to_string(reasons_list, ','), '') AS drop_reasons, "
            "len(reasons_list) = 0 AS keep FROM ("
            "SELECT q.*, list_filter(["
            "CASE WHEN COALESCE(q.n_tokens < 50 OR q.n_tokens > 100000, FALSE)"
            "  THEN 'n_tokens' END, "
            "CASE WHEN COALESCE(q.mean_tok_len < 3.0 OR q.mean_tok_len > 10.0, FALSE)"
            "  THEN 'mean_tok_len' END, "
            "CASE WHEN COALESCE(q.distinct_ratio < 0.1, FALSE) THEN 'low_diversity' END, "
            "CASE WHEN COALESCE(q.dup_line_frac > 0.30, FALSE) THEN 'dup_lines' END, "
            "CASE WHEN COALESCE(q.top_g2_frac > 0.20, FALSE) THEN 'top_2gram' END, "
            "CASE WHEN COALESCE(q.dup_g5_frac > 0.30, FALSE) THEN 'dup_5gram' END, "
            "CASE WHEN COALESCE(q.stopword_ratio <= 0, FALSE) THEN 'no_stopwords' END"
            "], x -> x IS NOT NULL) AS reasons_list FROM ("
            "SELECT doc_id, LENGTH(text)::INT AS n_chars_m, "
            "len(regexp_split_to_array(trim(text), '\\s+'))::INT AS n_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_subtokens, "
            "ROUND(LENGTH(text) / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS mean_tok_len, "
            f"ROUND(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
            f"  x -> list_contains([{en}], x))) "
            "  / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS stopword_ratio, "
            "ROUND(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) "
            "  / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS distinct_ratio, "
            + ", ".join(stop_scores) + ", "
            f"({fold_lang}) AS lang_guess, fp.fp_min, fp.fp_max, fp.n_shingles, "
            "rep.n_lines, rep.dup_line_frac, rep.dup_line_char_frac, "
            "rep.top_g2_frac, rep.dup_g5_frac, "
            "pii.redacted_sha256, pii.n_email, pii.n_phone, pii.n_ipv4, pii.n_ssn "
            "FROM documents LEFT JOIN ("
            "  WITH " + _SHINGLES_CTE.format(n=4, nm1=3) + " "
            f"  SELECT doc_id AS id, MIN({_H('shingle')})::BIGINT AS fp_min, "
            f"  MAX({_H('shingle')})::BIGINT AS fp_max, "
            "  COUNT(*)::BIGINT AS n_shingles FROM shingles GROUP BY doc_id"
            ") fp ON documents.doc_id = fp.id "
            # repetition_profile mirror: lines + 2-grams + 5-grams exploded
            # once (UNION ALL), per-(doc,kind,token) counts, conditional sums;
            # empty gram families COALESCE to 0 (Spark's otherwise(0) sums)
            # and the frac NULLIFs to NULL on a 0 denominator — both engines
            "LEFT JOIN ("
            "  WITH tk AS ("
            "    SELECT doc_id, 'line' AS kind, unnest(list_filter("
            "      string_split(text, chr(10)), x -> x <> '')) AS tok FROM documents"
            "    UNION ALL"
            "    SELECT doc_id, 'gt' AS kind, array_to_string(w[g : g + 1], ' ') AS tok"
            "    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS g"
            "          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
            "          WHERE len(w) >= 2)"
            "    UNION ALL"
            "    SELECT doc_id, 'gd' AS kind, array_to_string(w[g : g + 4], ' ') AS tok"
            "    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS g"
            "          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"
            "          WHERE len(w) >= 5)"
            "  ), per AS ("
            "    SELECT doc_id, kind, tok, COUNT(*) AS cnt FROM tk"
            "    GROUP BY doc_id, kind, tok"
            "  ) SELECT doc_id AS id,"
            "    COALESCE(SUM(cnt) FILTER (kind = 'line'), 0)::INT AS n_lines,"
            "    ROUND(COALESCE(SUM(cnt) FILTER (kind = 'line' AND cnt > 1), 0)"
            "      / NULLIF(COALESCE(SUM(cnt) FILTER (kind = 'line'), 0), 0), 6)"
            "      AS dup_line_frac,"
            "    ROUND(COALESCE(SUM(cnt * LENGTH(tok)) FILTER (kind = 'line' AND cnt > 1), 0)"
            "      / NULLIF(COALESCE(SUM(cnt * LENGTH(tok)) FILTER (kind = 'line'), 0), 0), 6)"
            "      AS dup_line_char_frac,"
            "    ROUND(MAX(cnt) FILTER (kind = 'gt')"
            "      / NULLIF(COALESCE(SUM(cnt) FILTER (kind = 'gt'), 0), 0), 6)"
            "      AS top_g2_frac,"
            "    ROUND(COALESCE(SUM(cnt) FILTER (kind = 'gd' AND cnt > 1), 0)"
            "      / NULLIF(COALESCE(SUM(cnt) FILTER (kind = 'gd'), 0), 0), 6)"
            "      AS dup_g5_frac"
            "  FROM per GROUP BY doc_id"
            ") rep ON documents.doc_id = rep.id "
            + pii_join +
            ") q ) q2"
        ),
        "scd2_history": (
            "SELECT user_id, event_id, "
            "ROW_NUMBER() OVER w AS version_num, "
            "epoch_us(ts) // 1000000 AS valid_from_s, "
            "epoch_us(LEAD(ts) OVER w) // 1000000 AS valid_to_s, "
            "(LEAD(ts) OVER w IS NULL) AS is_current "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
        ),
        "snapshot_diff": (
            # LWW state at seq<=500 vs seq<=900, single-pass conditional arg_max
            "WITH agg AS (SELECT user_id, "
            "  arg_max(struct_pack(et := event_type, v := value), event_id) "
            "    FILTER (WHERE event_id <= 500) AS img_old, "
            "  arg_max(struct_pack(et := event_type, v := value), event_id) AS img_new "
            "  FROM events WHERE event_id <= 900 GROUP BY user_id) "
            "SELECT user_id, "
            "CASE WHEN img_old IS NULL THEN 'added' "
            "  WHEN img_old <> img_new THEN 'changed' END AS change, "
            "img_old.et AS old_event_type, img_new.et AS new_event_type, "
            "ROUND(img_old.v, 2) AS old_value_r, ROUND(img_new.v, 2) AS new_value_r "
            "FROM agg WHERE img_old IS NULL OR img_old <> img_new"
        ),
        "snapshot_cdc": (
            # deliberately a DIFFERENT formulation (FULL OUTER JOIN) of the
            # engine's single-groupBy side-restricted max_by diff
            "WITH old AS (SELECT doc_id, lang, text FROM documents "
            "  WHERE doc_id % 5 <> 0), "
            "new AS (SELECT doc_id, lang, CASE WHEN doc_id % 3 = 0 "
            "  THEN upper(text) ELSE text END AS text FROM documents "
            "  WHERE doc_id % 7 <> 0) "
            "SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, "
            "CASE WHEN o.doc_id IS NULL THEN 'insert' "
            "  WHEN n.doc_id IS NULL THEN 'delete' ELSE 'update' END AS op, "
            "42::BIGINT AS seq, "
            "CASE WHEN n.doc_id IS NULL THEN o.lang ELSE n.lang END AS lang, "
            "LENGTH(CASE WHEN n.doc_id IS NULL THEN o.text ELSE n.text END)"
            "::INT AS n_chars_ev "
            "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id "
            "WHERE o.doc_id IS NULL OR n.doc_id IS NULL "
            "  OR (o.lang IS DISTINCT FROM n.lang) "
            "  OR (o.text IS DISTINCT FROM n.text)"
        ),
        "multimodal_pipeline": (
            "WITH feats AS (SELECT doc_id AS media_id, "
            "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, "
            "octet_length(encode(text))::BIGINT AS n_bytes, sha256(text) AS payload_sha256, "
            "CASE WHEN doc_id % 3 IN (0, 2) THEN "
            "  (16 + ('0x' || substr(sha256(text), 1, 2))::INT % 240)::INT END AS width, "
            "CASE WHEN doc_id % 3 IN (0, 2) THEN "
            "  (16 + ('0x' || substr(sha256(text), 3, 2))::INT % 240)::INT END AS height, "
            "CASE WHEN doc_id % 3 = 0 THEN 1 "
            "  ELSE (1 + ('0x' || substr(sha256(text), 5, 2))::INT % 300)::INT END AS n_frames "
            "FROM documents), "
            "frames AS (SELECT media_id, g::INT AS frame_idx FROM ("
            "  SELECT media_id, unnest(generate_series(0, n_frames - 1, 10)) AS g "
            "  FROM feats WHERE kind = 'video')) "
            "SELECT f.media_id, kind, n_bytes, payload_sha256, width, height, "
            "n_frames, frame_idx FROM feats f LEFT JOIN frames USING (media_id)"
        ),
        "drift_psi": (
            # identical IEEE arithmetic to operators/drift.py: bin =
            # floor(bins*(v-lo)/(hi-lo))+1 clamped, eps-floored ratios, ln.
            # DuckDB's log() is log10 — ln() below is deliberate.
            "WITH old_h AS (SELECT CASE WHEN value < 0.0 THEN 0 "
            "    WHEN value >= 500.0 THEN 11 "
            "    ELSE (floor(10.0 * (CAST(value AS DOUBLE) - 0.0) / 500.0) + 1)::INT END AS key, "
            "    COUNT(*)::BIGINT AS n_old FROM events "
            "  WHERE event_id <= (SELECT floor(max(event_id) / 2) FROM events) GROUP BY 1), "
            "new_h AS (SELECT CASE WHEN value < 0.0 THEN 0 "
            "    WHEN value >= 500.0 THEN 11 "
            "    ELSE (floor(10.0 * (CAST(value AS DOUBLE) - 0.0) / 500.0) + 1)::INT END AS key, "
            "    COUNT(*)::BIGINT AS n_new FROM events "
            "  WHERE event_id > (SELECT floor(max(event_id) / 2) FROM events) GROUP BY 1), "
            "old_c AS (SELECT event_type AS key, COUNT(*)::BIGINT AS n_old FROM events "
            "  WHERE event_id <= (SELECT floor(max(event_id) / 2) FROM events) GROUP BY 1), "
            "new_c AS (SELECT event_type AS key, COUNT(*)::BIGINT AS n_new FROM events "
            "  WHERE event_id > (SELECT floor(max(event_id) / 2) FROM events) GROUP BY 1), "
            "num_j AS (SELECT 'num' AS src, COALESCE(o.key, n.key)::VARCHAR AS key, "
            "  COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new "
            "  FROM old_h o FULL OUTER JOIN new_h n ON o.key = n.key), "
            "cat_j AS (SELECT 'cat' AS src, COALESCE(o.key, n.key) AS key, "
            "  COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new "
            "  FROM old_c o FULL OUTER JOIN new_c n ON o.key = n.key), "
            "terms AS ("
            "  SELECT src, key, n_old, n_new, "
            "    greatest(n_old / greatest(SUM(n_old) OVER (PARTITION BY src), 1), 1e-6) AS p, "
            "    greatest(n_new / greatest(SUM(n_new) OVER (PARTITION BY src), 1), 1e-6) AS q "
            "  FROM (SELECT * FROM num_j UNION ALL SELECT * FROM cat_j)) "
            "SELECT src, key, n_old, n_new, "
            "ROUND((q - p) * ln(q / p), 6) AS psi_term_r FROM terms"
        ),
        # cdc_streaming_state: intentionally omitted — stateful Structured Streaming
        # with checkpoint + exactly-once ledger is not expressible as a single
        # DuckDB query; driver records the rows-only check.
    }
