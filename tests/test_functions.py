"""UDF-vs-builtin parity + operator unit tests for the functions/operators layer."""

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.functions.classify import (
    classify_op_builtin,
    classify_op_pandas,
)
from change_data_capturer_ms_spark.functions.flatten import flatten_json_col
from change_data_capturer_ms_spark.functions.hashing import (
    content_sha256_builtin,
    content_sha256_pandas,
    custom_id,
)
from change_data_capturer_ms_spark.operators.multimodal import (
    extract_media_features,
    frame_sample,
    synth_media,
)
from change_data_capturer_ms_spark.operators.text import lang_id_builtin, lang_id_pandas


def test_sha256_pandas_equals_builtin(spark):
    df = spark.createDataFrame(
        [("hello",), ("",), (None,), ("unicode ✓ Ω",)], "content string"
    )
    out = df.select(
        content_sha256_builtin("content").alias("a"),
        content_sha256_pandas("content").alias("b"),
    ).collect()
    for r in out:
        assert r["a"] == r["b"]


def test_classify_pandas_equals_builtin(spark):
    df = spark.createDataFrame(
        [("insert",), ("update",), ("replace",), ("delete",), ("weird",)], "op string"
    )
    out = df.select(
        classify_op_builtin("op").alias("a"), classify_op_pandas("op").alias("b")
    ).collect()
    for r in out:
        assert r["a"] == r["b"]
    mapping = {r["op"]: r["a"] for r in df.select("op", classify_op_builtin("op").alias("a")).collect()}
    assert mapping == {"insert": "upsert", "update": "upsert", "replace": "upsert",
                       "delete": "delete", "weird": "unknown"}


def test_custom_id_reference_parity(spark):
    """generateCustomId: `${prefix.replace(' ','-')}${id.replace(' ','-')}`
    (/root/reference/src/capturer/cosmos/cosmos.ts:40-45)."""
    df = spark.createDataFrame([("my collection",)], "id string")
    r = df.select(custom_id("id", prefix="cdc data lease ").alias("cid")).first()
    assert r["cid"] == "cdc-data-lease-my-collection"


def test_flatten_json(spark):
    df = spark.createDataFrame(
        [('{"size_bytes": 10, "origin": "ci", "is_pr": true}',), (None,)],
        "props string",
    )
    out = flatten_json_col(df).collect()
    assert out[0]["size_bytes"] == 10 and out[0]["origin"] == "ci" and out[0]["is_pr"]
    assert out[1]["size_bytes"] is None


def test_langid_pandas_equals_builtin(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of war"), (2, "el que la de y"),
         (3, "xyzzy plugh"), (4, "der und das ein die")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r["lang_guess"] for r in lang_id_builtin(df).collect()}
    b = {r["doc_id"]: r["g"] for r in df.select("doc_id", lang_id_pandas("text").alias("g")).collect()}
    assert a == b
    assert a[1] == "en" and a[2] == "es" and a[3] == "und" and a[4] == "de"


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(0, "image payload"), (1, "audio payload"), (2, "video payload")],
        "doc_id long, text string",
    )
    media = synth_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_media_features(media).orderBy("media_id").collect()
    assert [f["kind"] for f in feats] == ["image", "audio", "video"]
    assert feats[0]["n_frames"] == 1 and feats[0]["width"] is not None
    assert feats[1]["width"] is None  # audio has no dims
    assert feats[2]["n_frames"] >= 1
    import hashlib
    assert feats[0]["payload_sha256"] == hashlib.sha256(b"image payload").hexdigest()

    frames = frame_sample(spark.createDataFrame(feats), every_n=10)
    n = frames.count()
    assert n == sum(1 + (f["n_frames"] - 1) // 10 for f in feats if f["kind"] == "video")


def test_real_decode_is_explicitly_stubbed(spark):
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_media_features(synth_media(docs), use_real_decode=True).collect()


def test_validate_batch_quarantine_split(spark):
    from change_data_capturer_ms_spark.functions.validate import validate_batch
    import datetime

    rows = [
        (0, "t0", "insert", "r1", "p1", "c", "py", "body", datetime.datetime(2024, 1, 1), "{}", 0),
        (1, "t1", "delete", "r1", "p2", "c", "py", None, datetime.datetime(2024, 1, 1), "{}", 0),
        (2, "t2", "upsert-typo", "r1", "p3", "c", "py", "body", datetime.datetime(2024, 1, 1), "{}", 0),
        (3, "t3", "insert", None, "p4", "c", "py", "body", datetime.datetime(2024, 1, 1), "{}", 0),
        (4, "t4", "insert", "r1", "p5", "c", "py", None, datetime.datetime(2024, 1, 1), "{}", 0),
        # NULL op must land in the DLQ (three-valued-logic trap: plain ~isin
        # evaluates NULL and silently passes the row)
        (5, "t5", None, "r1", "p6", "c", "py", "body", datetime.datetime(2024, 1, 1), "{}", 0),
        (6, "t6", None, "r1", "p7", "c", "py", None, datetime.datetime(2024, 1, 1), "{}", 0),
    ]
    schema = ("seq long, token string, op string, repo string, path string, commit string, "
              "lang string, content string, ts timestamp, props string, seq_bucket long")
    df = spark.createDataFrame(rows, schema)
    valid, quar = validate_batch(df)
    assert {r["seq"] for r in valid.collect()} == {0, 1}
    reasons = {r["seq"]: list(r["_reasons"]) for r in quar.collect()}
    assert reasons[2] == ["bad_op:upsert-typo"]
    assert reasons[3] == ["null:repo"]
    assert reasons[4] == ["null_content_for_upsert"]
    assert reasons[5] == ["bad_op:<null>"]
    # NULL op + NULL content: both reasons fire (op unknown ⇒ not a delete)
    assert reasons[6] == ["bad_op:<null>", "null_content_for_upsert"]


def test_pipeline_quarantine_dir(spark, tmpdir_path):
    """Opt-in DLQ: invalid rows land in the quarantine dir; valid rows merge."""
    from change_data_capturer_ms_spark.config import EngineConfig
    from change_data_capturer_ms_spark.lake.table import LakeTable
    from change_data_capturer_ms_spark.sources import gen_changelog
    from change_data_capturer_ms_spark.streaming import CDCPipeline
    from pyspark.sql import functions as F

    good = gen_changelog(spark, 500, seed=18, n_repos=5, paths_per_repo=3)
    bad = good.limit(10).withColumn("repo", F.lit(None).cast("string"))
    table = LakeTable(spark, f"{tmpdir_path}/t", key_cols=["repo", "path"], n_buckets=4)
    pipe = CDCPipeline(spark, f"{tmpdir_path}/l", table, f"{tmpdir_path}/c",
                       cfg=EngineConfig(n_buckets=4), use_pandas_udfs=False,
                       quarantine_dir=f"{tmpdir_path}/dlq")
    pipe.apply_batch(good.unionByName(bad), batch_id=0)
    dlq = spark.read.parquet(f"{tmpdir_path}/dlq")
    assert dlq.count() == 10
    assert dlq.filter(F.array_contains("_reasons", "null:repo")).count() == 10
    assert table.read().filter(F.col("repo").isNull()).count() == 0


def test_replay_quarantine_merges_fixed_rows_exactly_once(spark, tmpdir_path):
    """DLQ replay: a repair transform rescues fixable rows into the table,
    unfixable rows stay quarantined, a re-run is a ledger no-op, and the
    resume cursor never regresses to the replayed (older) seqs."""
    from change_data_capturer_ms_spark.config import EngineConfig
    from change_data_capturer_ms_spark.lake.table import LakeTable
    from change_data_capturer_ms_spark.sources import gen_changelog
    from change_data_capturer_ms_spark.streaming import CDCPipeline
    from pyspark.sql import functions as F

    good = gen_changelog(spark, 500, seed=19, n_repos=5, paths_per_repo=3)
    # two failure kinds: null repo (repairable) and a bogus op (not repairable)
    fixable = (good.filter(F.col("seq") < 8)
               .withColumn("repo", F.lit(None).cast("string")))
    hopeless = (good.filter((F.col("seq") >= 8) & (F.col("seq") < 12))
                .withColumn("op", F.lit("upsert-typo")))
    table = LakeTable(spark, f"{tmpdir_path}/t", key_cols=["repo", "path"], n_buckets=4)
    pipe = CDCPipeline(spark, f"{tmpdir_path}/l", table, f"{tmpdir_path}/c",
                       cfg=EngineConfig(n_buckets=4), use_pandas_udfs=False,
                       quarantine_dir=f"{tmpdir_path}/dlq")
    pipe.apply_batch(
        good.filter(F.col("seq") >= 12).unionByName(fixable).unionByName(hopeless),
        batch_id=0)
    lease_before = pipe.current_lease()["lease"]
    assert spark.read.parquet(f"{tmpdir_path}/dlq").count() == 12

    def fix(df):  # backfill the dropped repo from a sibling column
        return df.withColumn("repo", F.coalesce(F.col("repo"), F.lit("repo_0")))

    r = pipe.replay_quarantine(fix=fix, replay_id=1)
    assert r["replayed"] == 8 and r["still_quarantined"] == 4
    # repaired rows are live under the backfilled key; cursor did not regress
    assert table.read().filter(F.col("repo").isNull()).count() == 0
    assert pipe.current_lease()["lease"] == lease_before
    dlq = spark.read.parquet(f"{tmpdir_path}/dlq")
    assert dlq.count() == 4
    assert dlq.filter(F.array_contains("_reasons", "bad_op:upsert-typo")).count() == 4

    # same replay_id again: ledger no-op, nothing double-applies
    state = table.read().count()
    r2 = pipe.replay_quarantine(fix=fix, replay_id=1)
    assert r2["replayed"] == 0 and r2["merge"]["skipped"]
    assert table.read().count() == state


def test_xxh64_driver_side_parity(spark):
    """Driver-side xxhash64 port must agree with the JVM expression for every
    supported type, chaining, nulls and unicode — lookup() buckets depend on it."""
    from change_data_capturer_ms_spark.functions.xxh64 import xxhash64_cols

    rows = [(0, 0, ""), (1, 7, "a"), (-5, -3, "hello world"),
            (2**62, 2**31 - 1, "x" * 100), (-2**63, -2**31, "répo/päth-ü"),
            (None, None, None)]
    df = spark.createDataFrame(rows, "l long, i int, s string")
    got = df.select(F.xxhash64("l"), F.xxhash64("i"), F.xxhash64("s"),
                    F.xxhash64("l", "i", "s"), F.xxhash64("s", "s")).collect()
    for r, row in zip(rows, got):
        l, i, s = r
        assert list(row) == [
            xxhash64_cols([l], ["bigint"]),
            xxhash64_cols([i], ["int"]),
            xxhash64_cols([s], ["string"]),
            xxhash64_cols([l, i, s], ["bigint", "int", "string"]),
            xxhash64_cols([s, s], ["string", "string"]),
        ]
    with pytest.raises(TypeError, match="unsupported"):
        xxhash64_cols([1.5], ["double"])


def test_arrow_batch_sizing(spark):
    """suggest_arrow_batch_rows math + the conf plumb-through on
    extract_media_features; results must not depend on batch size."""
    from change_data_capturer_ms_spark.operators.multimodal import (
        suggest_arrow_batch_rows,
        synth_media,
    )

    assert suggest_arrow_batch_rows(100 << 20) == 1          # 100 MB videos
    assert suggest_arrow_batch_rows(1 << 20) == 64           # 1 MB images
    assert suggest_arrow_batch_rows(64 << 10) == 1024        # 64 KB thumbs
    assert suggest_arrow_batch_rows(10) == 10_000            # clamp at default
    assert suggest_arrow_batch_rows(0) == 10_000

    docs = spark.createDataFrame(
        [(i, f"payload body {i} " * 5) for i in range(40)], "doc_id long, text string"
    )
    media = synth_media(docs)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    try:
        base = sorted(map(tuple, extract_media_features(media).collect()))
        tiny = sorted(map(tuple, extract_media_features(
            media, arrow_batch_rows=3).collect()))
        assert spark.conf.get(key) == "3"
        assert tiny == base
    finally:
        spark.conf.set(key, prior)


def test_replayed_rows_reach_the_queue_sink(spark, tmpdir_path):
    """DLQ replay commits through the same core as a stream batch: the
    repaired rows are produced to the queue sink (marker
    `dlq-replay-<id>`), so queue consumers see what the lake sees."""
    from change_data_capturer_ms_spark.config import EngineConfig
    from change_data_capturer_ms_spark.lake.table import LakeTable
    from change_data_capturer_ms_spark.queue import JsonQueueSink
    from change_data_capturer_ms_spark.sources import gen_changelog
    from change_data_capturer_ms_spark.streaming import CDCPipeline

    good = gen_changelog(spark, 500, seed=19, n_repos=5, paths_per_repo=3)
    fixable = (good.filter(F.col("seq") < 8)
               .withColumn("repo", F.lit(None).cast("string")))
    table = LakeTable(spark, f"{tmpdir_path}/t", key_cols=["repo", "path"], n_buckets=4)
    sink = JsonQueueSink(spark, f"{tmpdir_path}/queue")
    pipe = CDCPipeline(spark, f"{tmpdir_path}/l", table, f"{tmpdir_path}/c",
                       cfg=EngineConfig(n_buckets=4), use_pandas_udfs=False,
                       quarantine_dir=f"{tmpdir_path}/dlq", queue_sink=sink)
    pipe.apply_batch(good.filter(F.col("seq") >= 8).unionByName(fixable),
                     batch_id=0)
    assert sink.consume().count() == 492

    def fix(df):
        return df.withColumn("repo", F.coalesce(F.col("repo"), F.lit("repo_0")))

    r = pipe.replay_quarantine(fix=fix, replay_id=1)
    assert r["replayed"] == 8
    replayed = sink.consume().filter(F.col("batch_id") == "dlq-replay-1")
    assert sorted(row["seq"] for row in replayed.collect()) == list(range(8))
