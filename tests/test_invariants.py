"""CDC invariant tests mirroring the reference's integration spec (SURVEY.md §5.2):
lease lifecycle, resume, exactly-once, schema evolution, skew, crash safety."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.errors import ConfigError, MissingResourceError
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.operators.dedupe import (
    lww_dedupe,
    lww_dedupe_window,
    salted_repartition,
)
from change_data_capturer_ms_spark.sources.changelog import gen_changelog, write_changelog
from change_data_capturer_ms_spark.streaming.pipeline import CDCPipeline, prepare_batch

CFG = EngineConfig(n_buckets=8)


def _pipe(spark, tmpdir_path, sub="", write_mode="cow"):
    base = os.path.join(tmpdir_path, sub) if sub else tmpdir_path
    table = LakeTable(spark, f"{base}/table", key_cols=["repo", "path"], n_buckets=8,
                      write_mode=write_mode)
    return CDCPipeline(spark, f"{base}/log", table, f"{base}/ckpt", cfg=CFG,
                       use_pandas_udfs=False), f"{base}/log"


def _state(table):
    return (
        table.read()
        .select("repo", "path", "content_sha256", "_last_seq")
        .orderBy("repo", "path")
        .toPandas()
    )


class TestLeaseLifecycle:
    """The reference's three behavioral invariants
    (__integrations__/__tests__/system/mongo/mongocdcservice.test.ts:136-346)."""

    def test_fresh_run_stores_lease_then_resume_semantics(self, spark, tmpdir_path):
        pipe, log_dir = _pipe(spark, tmpdir_path)
        write_changelog(gen_changelog(spark, 2000, seed=1, n_repos=10, paths_per_repo=5), log_dir)

        # (a) fresh run creates the lease with a token after events are processed
        pipe.run_stream()
        lease = pipe.current_lease()
        assert lease is not None and lease["id"] == "changelog"
        assert int(lease["lease"]) == 1999
        assert lease["metrics"]["rows"] > 0
        assert lease["lineage"], "per-partition lineage must be recorded"

        # (b) re-run with no new events → token unchanged
        pipe.run_stream()
        assert pipe.current_lease()["lease"] == lease["lease"]

        # (c) new events → token advances
        write_changelog(
            gen_changelog(spark, 500, seed=1, n_repos=10, paths_per_repo=5, start_seq=2000),
            log_dir,
        )
        pipe.run_stream()
        assert int(pipe.current_lease()["lease"]) == 2499

    def test_split_run_converges_to_single_run(self, spark, tmpdir_path):
        """Resume invariant (iv): checkpoint split at any point reconverges."""
        full = gen_changelog(spark, 3000, seed=2, n_repos=12, paths_per_repo=6)

        pipe1, log1 = _pipe(spark, tmpdir_path, "a")
        write_changelog(full, log1)
        pipe1.run_stream()

        pipe2, log2 = _pipe(spark, tmpdir_path, "b")
        write_changelog(full.filter(F.col("seq") < 1200), log2)
        pipe2.run_stream()
        write_changelog(full.filter(F.col("seq") >= 1200), log2)
        pipe2.run_stream()  # resumes from checkpoint, sees only new files

        s1, s2 = _state(pipe1.table), _state(pipe2.table)
        assert list(s1["content_sha256"]) == list(s2["content_sha256"])
        assert list(s1["_last_seq"]) == list(s2["_last_seq"])


class TestExactlyOnce:
    def test_double_apply_is_noop(self, spark, tmpdir_path):
        pipe, log_dir = _pipe(spark, tmpdir_path)
        write_changelog(gen_changelog(spark, 1500, seed=3), log_dir)
        batch = pipe.reader.read_batch()
        pipe.apply_batch(batch, batch_id=7)
        v = pipe.table.manifest().version
        s1 = _state(pipe.table)
        res = pipe.apply_batch(batch, batch_id=7)  # re-delivery
        assert res["skipped"]
        assert pipe.table.manifest().version == v
        assert _state(pipe.table).equals(s1)

    def test_crash_between_data_write_and_pointer_swap(self, spark, tmpdir_path):
        """Orphan data files (crash before pointer swap) must not corrupt reads —
        the manifest is the truth (SURVEY.md §7.3)."""
        pipe, log_dir = _pipe(spark, tmpdir_path)
        write_changelog(gen_changelog(spark, 1000, seed=4), log_dir)
        pipe.apply_batch(pipe.reader.read_batch(), batch_id=0)
        s1 = _state(pipe.table)

        # simulate a crashed writer: stray data files + stray manifest, no pointer swap
        stray = os.path.join(pipe.table.path, "data", "vORPHAN")
        os.makedirs(stray)
        with open(os.path.join(stray, "junk.parquet"), "w") as f:
            f.write("not parquet")
        m = pipe.table.manifest()
        with open(os.path.join(pipe.table.path, "_meta", "v99.json"), "w") as f:
            f.write(m.to_json())

        assert _state(pipe.table).equals(s1)  # reads still snapshot-consistent

    def test_concurrent_commit_detected(self, spark, tmpdir_path):
        pipe, log_dir = _pipe(spark, tmpdir_path)
        write_changelog(gen_changelog(spark, 500, seed=5), log_dir)
        pipe.apply_batch(pipe.reader.read_batch(), batch_id=0)
        m = pipe.table.store.load()
        m.version += 1
        with pytest.raises(RuntimeError, match="concurrent commit"):
            pipe.table.store.commit(m, expected_parent=m.version + 5)


class TestSchemaEvolution:
    def test_additive_column_mid_stream(self, spark, tmpdir_path):
        """E20: batch 2 carries a new `stars` column; old rows read NULL; MERGE
        aligns schemas; manifest schema version bumps."""
        pipe, log_dir = _pipe(spark, tmpdir_path)
        old = gen_changelog(spark, 2000, seed=6, n_repos=40, paths_per_repo=10)
        pipe.apply_batch(old, batch_id=0)
        sv0 = pipe.table.manifest().schema_version

        new = gen_changelog(spark, 100, seed=6, n_repos=40, paths_per_repo=10,
                            start_seq=2000, evolution_point=0)
        pipe.apply_batch(new, batch_id=1)
        m = pipe.table.manifest()
        assert m.schema_version == sv0 + 1
        assert "stars" in m.schema.fieldNames()

        final = pipe.table.read()
        updated = final.filter(F.col("_last_seq") >= 2000)
        untouched = final.filter(F.col("_last_seq") < 2000)
        assert untouched.count() > 0
        # pre-evolution rows read NULL in the new column; post-evolution rows carry it
        assert untouched.filter(F.col("stars").isNotNull()).count() == 0
        assert updated.count() > 0
        assert updated.filter(F.col("stars").isNull()).count() == 0

    def test_reader_projects_old_snapshots_with_new_schema(self, spark, tmpdir_path):
        pipe, log_dir = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 500, seed=7), batch_id=0)
        pipe.apply_batch(
            gen_changelog(spark, 200, seed=7, start_seq=500, evolution_point=0), batch_id=1
        )
        # time travel to v1 uses the v1 schema (no stars)
        assert "stars" not in pipe.table.read(version=1).columns
        assert "stars" in pipe.table.read().columns

    def test_type_widening_mid_stream(self, spark, tmpdir_path):
        """E20 widening: int→long and float→double batches widen the manifest
        schema in place; old narrow files read back upcast (no rewrite); a
        narrower later batch needs no bump; an incompatible change raises."""
        t = LakeTable(spark, f"{tmpdir_path}/wtable", key_cols=["k"], n_buckets=4)
        t.create(T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("d", T.FloatType()),
        ]))

        def batch(vals, v_type, d_type, seq0):
            return spark.createDataFrame(
                [(k, v, float(v), seq0 + i, "insert")
                 for i, (k, v) in enumerate(vals)],
                "k long, v long, d double, seq long, op string",
            ).select("k", F.col("v").cast(v_type), F.col("d").cast(d_type),
                     "seq", "op")

        t.merge(batch([(1, 10), (2, 20)], "int", "float", 0), batch_id=0)
        sv0 = t.manifest().schema_version

        # wider batch (v: int->long, d: float->double) — one version bump
        t.merge(batch([(2, 1 << 40), (3, 30)], "long", "double", 10), batch_id=1)
        m = t.manifest()
        assert m.schema_version == sv0 + 1
        assert m.schema["v"].dataType == T.LongType()
        assert m.schema["d"].dataType == T.DoubleType()
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == {1: 10, 2: 1 << 40, 3: 30}  # old narrow file upcast

        # narrower batch after widening: no bump, values land in the wide column
        t.merge(batch([(4, 40)], "int", "float", 20), batch_id=2)
        assert t.manifest().schema_version == sv0 + 1
        assert {r["k"]: r["v"] for r in t.read().collect()}[4] == 40

        # incompatible change raises before any union coercion can corrupt
        bad = batch([(5, 50)], "long", "double", 30) \
            .withColumn("v", F.col("v").cast("string"))
        with pytest.raises(ValueError, match="incompatible type change"):
            t.merge(bad, batch_id=3)


class TestRebucket:
    def test_rebucket_preserves_state_and_future_merges_converge(
            self, spark, tmpdir_path):
        """Bucket-count evolution: state/tombstones/lease identical across the
        rewrite, time travel keeps the OLD count, lookups and further MERGEs
        use the new one, and a rebucketed table converges with an
        un-rebucketed twin fed the same stream."""
        full = gen_changelog(spark, 3000, seed=21, n_repos=15, paths_per_repo=6)
        b1, b2, b3 = (full.filter(F.col("seq") < 1500),
                      full.filter((F.col("seq") >= 1500) & (F.col("seq") < 2400)),
                      full.filter(F.col("seq") >= 2400))

        pipe, _ = _pipe(spark, tmpdir_path, "re")
        twin, _ = _pipe(spark, tmpdir_path, "twin")
        for p in (pipe, twin):
            p.apply_batch(b1, batch_id=0)
            p.apply_batch(b2, batch_id=1)

        t = pipe.table
        before = _state(t)
        tomb = lambda tab: tab.read(include_deleted=True) \
            .filter(F.col("_last_op") == "delete").count()
        tomb_before, lease_before = tomb(t), dict(t.manifest().lease)
        v_before = t.manifest().version

        r = t.rebucket(32)
        assert r["rebucketed"] and t.manifest().n_buckets == 32
        assert _state(t).equals(before), "live state must survive rebucket"
        assert tomb(t) == tomb_before, "tombstones must survive rebucket"
        assert t.manifest().lease == lease_before, "rebucket must not move the cursor"
        # time travel: the old snapshot keeps its old bucket count and state
        assert t.manifest(v_before).n_buckets == 8
        assert (t.read(version=v_before).select("repo", "path", "content_sha256",
                                                "_last_seq")
                .orderBy("repo", "path").toPandas().equals(before))
        # point lookup resolves the bucket from the NEW manifest
        row = t.read().orderBy("repo", "path").first()
        hit = t.lookup({"repo": row["repo"], "path": row["path"]}).collect()
        assert len(hit) == 1 and hit[0]["content_sha256"] == row["content_sha256"]

        # further merges use the new count and converge with the twin
        pipe.apply_batch(b3, batch_id=2)
        assert t.manifest().lease["metrics"]["buckets_total"] == 32
        twin.apply_batch(b3, batch_id=2)
        s1, s2 = _state(t), _state(twin.table)
        assert list(s1["content_sha256"]) == list(s2["content_sha256"])
        assert list(s1["_last_seq"]) == list(s2["_last_seq"])

    def test_rebucket_noop_and_validation(self, spark, tmpdir_path):
        pipe, _ = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 300, seed=22), batch_id=0)
        t = pipe.table
        v = t.manifest().version
        assert t.rebucket(8) == {"rebucketed": False, "version": v, "n_buckets": 8}
        with pytest.raises(ValueError, match="new_n_buckets > 0"):
            t.rebucket(0)


class TestSkew:
    def test_salted_equals_unsalted(self, spark, tmpdir_path):
        """E17: hot repo (50% of events) — salted pipeline must equal unsalted."""
        hot = gen_changelog(spark, 4000, seed=8, n_repos=20, paths_per_repo=10,
                            hot_repo_fraction=0.5)
        # sanity: repo_0 really is hot
        top = hot.groupBy("repo").count().orderBy(F.desc("count")).first()
        assert top["repo"] == "repo_0" and top["count"] > 1500

        plain = lww_dedupe(hot, ["repo", "path"], "seq", ["token"])
        salted = lww_dedupe(
            salted_repartition(hot, hot_cols=["repo"], salt_cols=["path"], salt_buckets=8),
            ["repo", "path"], "seq", ["token"],
        )
        assert plain.exceptAll(salted).count() == 0
        assert salted.exceptAll(plain).count() == 0

    def test_window_and_agg_dedupe_agree(self, spark):
        log = gen_changelog(spark, 3000, seed=9, n_repos=8, paths_per_repo=4)
        a = lww_dedupe(log, ["repo", "path"], "seq", ["token"])
        b = lww_dedupe_window(log, ["repo", "path"], "seq", ["token"])
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_two_phase_dedupe_exact_on_single_hot_key(self, spark):
        """E17 residual skew: ONE key carries most of the batch; the two-phase
        (key, pmod(seq, S)) reduction must equal the single-phase result."""
        from change_data_capturer_ms_spark.operators.dedupe import lww_dedupe_two_phase

        log = gen_changelog(spark, 4000, seed=10, n_repos=3, paths_per_repo=1,
                            hot_repo_fraction=0.8)
        top = log.groupBy("repo", "path").count().orderBy(F.desc("count")).first()
        assert top["count"] > 2500  # genuinely one hot key
        a = lww_dedupe(log, ["repo", "path"], "seq", ["token"])
        b = lww_dedupe_two_phase(log, ["repo", "path"], "seq", ["token"], salt_buckets=8)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestTombstones:
    def test_out_of_order_batch_cannot_resurrect_deleted_key(self, spark, tmpdir_path):
        """Regression: micro-batches are not seq-contiguous (file batching /
        replay), so a delete-winner must persist as a tombstone — an older
        insert arriving later must NOT bring the key back."""
        pipe, log_dir = _pipe(spark, tmpdir_path)
        full = gen_changelog(spark, 3000, seed=11, n_repos=12, paths_per_repo=6)
        # apply the LATER half first (contains final deletes), then the earlier half
        pipe.apply_batch(full.filter(F.col("seq") >= 1000), batch_id=0)
        pipe.apply_batch(full.filter(F.col("seq") < 1000), batch_id=1)
        got = _state(pipe.table)

        # reference: single-pass application of the whole log
        pipe2, _ = _pipe(spark, tmpdir_path, "ref")
        pipe2.apply_batch(full, batch_id=0)
        want = _state(pipe2.table)
        assert list(got["content_sha256"]) == list(want["content_sha256"])
        assert list(got["_last_seq"]) == list(want["_last_seq"])

        # tombstones match the log-derived expectation and are hidden by default
        exp_tomb = (
            full.groupBy("repo", "path")
            .agg(F.max_by("op", F.struct("seq", "token")).alias("op"))
            .filter(F.col("op") == "delete")
            .count()
        )
        assert exp_tomb > 0, "fixture must end at least one key on a delete"
        tomb = pipe.table.read(include_deleted=True).filter(F.col("_last_op") == "delete")
        assert tomb.count() == exp_tomb
        assert pipe.table.read().filter(F.col("_last_op") == "delete").count() == 0

    def test_expire_tombstones(self, spark, tmpdir_path):
        pipe, log_dir = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 2000, seed=12, n_repos=6, paths_per_repo=4),
                         batch_id=0)
        before = _state(pipe.table)
        n_tomb = pipe.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count()
        assert n_tomb > 0
        res = pipe.table.expire_tombstones(min_seq=2000)  # low-watermark passed all
        assert res["version"] > 0
        assert pipe.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count() == 0
        assert _state(pipe.table).equals(before)  # live rows untouched
        # lease survives maintenance
        assert pipe.table.lease()["id"] == "changelog"


class TestLakeReads:
    def test_point_lookup_prunes_to_one_bucket(self, spark, tmpdir_path):
        pipe, _ = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 1500, seed=15, n_repos=10, paths_per_repo=5),
                         batch_id=0)
        any_row = pipe.table.read().select("repo", "path", "content_sha256").first()
        got = pipe.table.lookup({"repo": any_row["repo"], "path": any_row["path"]})
        rows = got.collect()
        assert len(rows) == 1
        assert rows[0]["content_sha256"] == any_row["content_sha256"]
        # the physical scan covers at most one bucket's files
        m = pipe.table.manifest()
        per_bucket = {}
        for f in m.files:
            per_bucket.setdefault(f.bucket, []).append(f)
        n_scanned = got._jdf.queryExecution().executedPlan().toString().count(".parquet")
        assert n_scanned <= max(len(v) for v in per_bucket.values())
        with pytest.raises(ValueError, match="missing"):
            pipe.table.lookup({"repo": "r"})

    def test_read_incremental_returns_only_later_changes(self, spark, tmpdir_path):
        pipe, _ = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 1000, seed=16, n_repos=10, paths_per_repo=5),
                         batch_id=0)
        v1 = pipe.table.manifest().version
        pipe.apply_batch(
            gen_changelog(spark, 400, seed=16, n_repos=10, paths_per_repo=5,
                          start_seq=1000),
            batch_id=1,
        )
        inc = pipe.table.read_incremental(since_version=v1)
        assert inc.count() > 0
        assert inc.filter(F.col("_last_seq") < 1000).count() == 0
        # live-only variant drops tombstones
        live = pipe.table.read_incremental(since_version=v1, include_deleted=False)
        assert live.filter(F.col("_last_op") == "delete").count() == 0
        # changed keys match a direct LWW diff of the log
        expect = (
            gen_changelog(spark, 400, seed=16, n_repos=10, paths_per_repo=5,
                          start_seq=1000)
            .groupBy("repo", "path").agg(F.max("seq").alias("m"))
        )
        got_keys = inc.select("repo", "path").distinct()
        assert got_keys.exceptAll(expect.select("repo", "path")).count() == 0


    def test_snapshot_diff_matches_log_level_diff(self, spark, tmpdir_path):
        """Lake version-to-version diff converges with the operator-level diff
        of the raw log at the same seq boundary (two independent paths to the
        same change feed)."""
        from change_data_capturer_ms_spark.operators.delta import snapshot_diff

        pipe, _ = _pipe(spark, tmpdir_path)
        kw = dict(seed=16, n_repos=10, paths_per_repo=5)
        pipe.apply_batch(gen_changelog(spark, 1000, **kw), batch_id=0)
        v1 = pipe.table.manifest().version
        pipe.apply_batch(gen_changelog(spark, 400, start_seq=1000, **kw), batch_id=1)

        lake = {(r["repo"], r["path"]): r["change"]
                for r in pipe.table.snapshot_diff(v1).collect()}
        full_log = gen_changelog(spark, 1400, **kw)
        log = {(r["repo"], r["path"]): r["change"]
               for r in snapshot_diff(
                   full_log, ["repo", "path"], "seq",
                   ["commit", "lang", "content"], seq_old=999, seq_new=1399,
                   op_col="op").collect()}
        assert lake == log and len(lake) > 0

    def test_snapshot_diff_prunes_untouched_buckets(self, spark, tmpdir_path):
        """A bucket whose file list is identical in both manifests is never
        scanned: a one-key second batch ⇒ the diff reads only that key's
        bucket (old + new files), not the whole table."""
        pipe, _ = _pipe(spark, tmpdir_path)
        base = gen_changelog(spark, 1000, seed=17, n_repos=10, paths_per_repo=5)
        pipe.apply_batch(base, batch_id=0)
        v1 = pipe.table.manifest().version
        one = gen_changelog(spark, 1200, seed=17, n_repos=10, paths_per_repo=5)
        target = one.filter(F.col("seq") >= 1000) \
                    .filter(F.col("op") != "delete").limit(1).collect()[0]
        pipe.apply_batch(
            one.filter((F.col("repo") == target["repo"])
                       & (F.col("path") == target["path"])
                       & (F.col("seq") >= 1000)),
            batch_id=1,
        )
        diff = pipe.table.snapshot_diff(v1)
        rows = diff.collect()
        assert {(r["repo"], r["path"]) for r in rows} <= \
            {(target["repo"], target["path"])}
        # physical scan covers at most the touched bucket in both versions
        m1, m2 = pipe.table.manifest(v1), pipe.table.manifest()
        from change_data_capturer_ms_spark.lake.table import bucket_expr
        b = pipe.table.read().withColumn(
            "_b", bucket_expr(["repo", "path"], m2.n_buckets)) \
            .filter((F.col("repo") == target["repo"])
                    & (F.col("path") == target["path"])) \
            .select("_b").first()["_b"]
        allowed = {f.path for f in m1.files + m2.files if f.bucket == b}
        scanned = {p.split(pipe.table.path + "/", 1)[1]
                   for p in diff.inputFiles()}
        assert scanned <= allowed and len(scanned) > 0

    def test_read_where_zone_map_pruning_is_exact(self, spark, tmpdir_path):
        """Manifest-level file skipping: a seq-range read after a second batch
        skips every file whose max_seq predates the range, and the pruned
        result is exactly the plain filtered read."""
        pipe, _ = _pipe(spark, tmpdir_path)
        kw = dict(seed=31, n_repos=20, paths_per_repo=5)
        pipe.apply_batch(gen_changelog(spark, 2000, **kw), batch_id=0)
        second = gen_changelog(spark, 100, start_seq=2000, **kw)
        one_repo = second.select("repo").first()["repo"]
        pipe.apply_batch(second.filter(F.col("repo") == one_repo), batch_id=1)
        m = pipe.table.manifest()
        got = pipe.table.read_where([("_last_seq", ">=", 2000)])
        want = pipe.table.read().filter(F.col("_last_seq") >= 2000)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        # files from batch 0's untouched buckets (max_seq < 2000) never open
        scanned = {p.split(pipe.table.path + "/", 1)[1]
                   for p in got.inputFiles()}
        assert scanned == {f.path for f in m.files if f.max_seq >= 2000}
        assert len(scanned) < len(m.files)
        # equality on a key column: exact + stats recorded for every file
        row = pipe.table.read().select("repo").first()
        a = pipe.table.read_where([("repo", "=", row["repo"])]).count()
        b = pipe.table.read().filter(F.col("repo") == row["repo"]).count()
        assert a == b > 0
        assert all((f.col_stats or {}).get("repo") for f in m.files)

    @staticmethod
    def _mor_key_moved_out_of_python(spark, tmpdir_path):
        """A mor table over 2 buckets ('a' hashes to 0, 'b' to 1) where a
        delta file in bucket 0 moves key 'a' from python to go."""
        from pyspark.sql import Row, types as T

        table = LakeTable(spark, f"{tmpdir_path}/mor_zone/table",
                          key_cols=["k"], n_buckets=2, write_mode="mor")
        table.create(T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]))
        table.merge(spark.createDataFrame(
            [Row(k="a", lang="python", seq=1, op="insert"),
             Row(k="b", lang="python", seq=2, op="insert")]), batch_id=0)
        table.merge(spark.createDataFrame(
            [Row(k="a", lang="go", seq=10, op="update")]), batch_id=1)
        return table

    def test_read_where_mor_never_prunes_mutable_columns(self, spark, tmpdir_path):
        """Under merge-on-read, zone-pruning a NON-key column could drop the
        delta file that moved a key out of the predicate range and resurface
        its stale base row — the engine must only prune on key columns."""
        table = self._mor_key_moved_out_of_python(spark, tmpdir_path)
        got = {r["k"]: r["lang"]
               for r in table.read_where([("lang", "=", "python")]).collect()}
        assert got == {"b": "python"}  # 'a' moved to go: stale row must not leak
        # key-column pruning still applies under mor
        assert {r["k"] for r in
                table.read_where([("k", "=", "a")]).collect()} == {"a"}

    def test_read_where_mor_prunes_mutable_columns_once_compacted(
            self, spark, tmpdir_path):
        """compact() folds bucket 0 back to one resolved file, so non-key
        zone maps prune it again: its only row moved to 'go', and a
        lang = 'python' read skips it."""
        table = self._mor_key_moved_out_of_python(spark, tmpdir_path)
        assert table.compact()["compacted_buckets"] == 1
        assert sorted(f.bucket for f in table.manifest().files) == [0, 1]
        assert [f.bucket for f in
                table.candidate_files([("lang", "=", "python")])] == [1]
        got = {r["k"]: r["lang"]
               for r in table.read_where([("lang", "=", "python")]).collect()}
        assert got == {"b": "python"}

class TestMaintenance:
    @pytest.mark.parametrize("write_mode", ["cow", "mor"])
    def test_compact_preserves_state_and_lease(self, spark, tmpdir_path,
                                               write_mode):
        pipe, log_dir = _pipe(spark, tmpdir_path, write_mode=write_mode)
        # mor: two batches leave two files per touched bucket, which compact
        # folds back to one; cow keeps one file per bucket, so it compacts
        # single-file buckets (min_files_per_bucket=1)
        pipe.apply_batch(gen_changelog(spark, 600, seed=13), batch_id=0)
        pipe.apply_batch(
            gen_changelog(spark, 300, seed=13, start_seq=600, evolution_point=0),
            batch_id=1,
        )
        before = _state(pipe.table)
        lease = pipe.table.lease()
        tomb_before = pipe.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count()
        assert tomb_before > 0, "fixture must leave tombstones to protect"
        res = pipe.table.compact(
            min_files_per_bucket=1 if write_mode == "cow" else 2)
        assert res["compacted_buckets"] > 0
        after = _state(pipe.table)
        assert after.equals(before)
        assert pipe.table.lease() == lease
        # tombstones survive compaction — dropping them would reintroduce the
        # out-of-order resurrection bug (ADVICE r1, high)
        tomb_after = pipe.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count()
        assert tomb_after == tomb_before
        assert res["files_after"] <= res["files_before"]

    def test_compact_sorted_clusters_files(self, spark, tmpdir_path):
        """compact(sort_cols=...) = Iceberg's SORT rewrite: same state, but each
        rewritten bucket file is key-clustered so parquet row-group stats are
        tight enough for native pushdown skipping. Runs on a merge-on-read
        table — the mode that actually accumulates multiple files per bucket
        (steady-state cow MERGE leaves one file per bucket by construction)."""
        import os as _os

        import pyarrow.parquet as pq

        pipe, _ = _pipe(spark, tmpdir_path, write_mode="mor")
        pipe.apply_batch(gen_changelog(spark, 600, seed=13), batch_id=0)
        pipe.apply_batch(
            gen_changelog(spark, 300, seed=13, start_seq=600, evolution_point=0),
            batch_id=1,
        )
        before = _state(pipe.table)
        res = pipe.table.compact(sort_cols=["repo", "path"])
        assert res["compacted_buckets"] > 0
        assert _state(pipe.table).equals(before)
        # every rewritten file holds rows sorted by (repo, path)
        ver = res["version"]
        rewritten = [
            f for f in pipe.table.manifest().files
            if f.path.startswith(f"data/v{ver}-")
        ]
        assert rewritten, "sorted compaction must have rewritten files"
        for fe in rewritten:
            t = pq.read_table(_os.path.join(pipe.table.path, fe.path),
                              columns=["repo", "path"])
            pairs = list(zip(t.column("repo").to_pylist(),
                             t.column("path").to_pylist()))
            assert pairs == sorted(pairs)

    def test_stats_and_optimize_one_call_maintenance(self, spark, tmpdir_path):
        """stats() is manifest-only layout health (bounded output, no scan);
        optimize() chains compact → tombstone expiry → snapshot expiry with
        state preserved (mor deltas fold, so expiry becomes eligible)."""
        pipe, _ = _pipe(spark, tmpdir_path, write_mode="mor")
        full = gen_changelog(spark, 2000, seed=24, n_repos=10, paths_per_repo=5)
        pipe.apply_batch(full.filter(F.col("seq") < 1000), batch_id=0)
        pipe.apply_batch(full.filter(F.col("seq") >= 1000), batch_id=1)
        t = pipe.table

        s = t.stats(top_n=5)
        assert s["rows"] > 0 and s["files"] >= s["buckets_used"]
        assert s["multi_file_buckets"] > 0  # mor delta files present
        assert len(s["top_buckets"]) <= 5 and s["bucket_skew"] >= 1.0
        assert s["write_mode"] == "mor" and s["n_buckets"] == 8

        before = _state(t)
        tomb_before = t.read(include_deleted=True) \
            .filter(F.col("_last_op") == "delete").count()
        assert tomb_before > 0, "fixture must leave tombstones"
        rep = t.optimize(expire_below_seq=2000, keep_snapshots=2)
        assert rep["compact"]["compacted_buckets"] > 0
        assert rep["stats"]["multi_file_buckets"] == 0
        assert rep["expire_tombstones"].get("expired_buckets", 0) > 0
        assert _state(t).equals(before), "live state must survive optimize"
        assert t.read(include_deleted=True) \
            .filter(F.col("_last_op") == "delete").count() == 0
        assert t.read().count() == len(before)  # current snapshot readable

    def test_expire_snapshots_keeps_current_readable(self, spark, tmpdir_path):
        pipe, log_dir = _pipe(spark, tmpdir_path)
        for i in range(3):
            pipe.apply_batch(
                gen_changelog(spark, 400, seed=14, start_seq=400 * i), batch_id=i
            )
        before = _state(pipe.table)
        res = pipe.table.expire_snapshots(keep_last=1)
        assert res["removed_manifests"] > 0
        assert _state(pipe.table).equals(before)

    def test_expire_snapshots_spares_inflight_orphans(self, spark, tmpdir_path):
        """A data file in NO manifest may belong to an in-flight (uncommitted)
        merge — the sweep must leave it alone until the grace age passes
        (ADVICE r1, low)."""
        pipe, _ = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 400, seed=14), batch_id=0)
        # simulate an in-flight writer: fresh parquet not referenced anywhere
        orphan_dir = os.path.join(pipe.table.path, "data", "v99-deadbeef", "_bucket=0")
        os.makedirs(orphan_dir)
        orphan = os.path.join(orphan_dir, "part-inflight.parquet")
        with open(orphan, "wb") as f:
            f.write(b"PAR1 not really parquet")
        pipe.table.expire_snapshots(keep_last=1)
        assert os.path.exists(orphan), "fresh orphan must survive the sweep"
        pipe.table.expire_snapshots(keep_last=1, orphan_grace_sec=0.0)
        assert not os.path.exists(orphan), "aged orphan is swept"

    def test_expire_tombstones_keeps_legacy_null_op_rows(self, spark, tmpdir_path):
        """Rows with NULL _last_op (pre-upgrade files) are live; the expirable
        predicate must be null-safe or ~NULL drops them (ADVICE r1, low)."""
        from change_data_capturer_ms_spark.lake.manifest import Manifest

        t = LakeTable(spark, f"{tmpdir_path}/legacy", key_cols=["k"], n_buckets=4)
        t.create(T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("v", T.StringType())]))
        legacy = spark.range(5).select(
            F.col("id").alias("k"), F.lit("x").alias("v"),
            F.col("id").alias("_last_seq"),
            F.lit(None).cast("string").alias("_last_op"),
        )
        m = t.manifest()
        files = t._write_buckets(legacy, ["k"], 4, 1, 4)
        t.store.commit(Manifest(
            version=1, parent=0, schema_json=m.schema_json,
            schema_version=m.schema_version, n_buckets=4, key_cols=["k"],
            files=files, committed_batches=["legacy:0"], lease={},
        ), expected_parent=0)
        assert t.read().count() == 5
        t.expire_tombstones(min_seq=1_000_000)  # watermark far past every seq
        assert t.read().count() == 5, "legacy NULL-op rows must survive"

    def test_ledger_stays_bounded_and_watermark_skips_replays(self, spark, tmpdir_path):
        """Numeric batch ids fold into a per-source watermark; the manifest ledger
        must not grow O(batches) (VERDICT r1 item 10)."""
        from change_data_capturer_ms_spark.lake.manifest import prune_ledger

        # pure ledger logic over a 1000-batch history
        committed, wm = [], {}
        for i in range(1000):
            committed, wm = prune_ledger(committed + [f"s:{i}"], wm)
        assert wm == {"s": 999}
        assert committed == []
        # out-of-order id above the watermark is retained until the gap closes
        committed, wm = prune_ledger(committed + ["s:1005"], wm)
        assert committed == ["s:1005"] and wm["s"] == 999
        for i in range(1000, 1005):
            committed, wm = prune_ledger(committed + [f"s:{i}"], wm)
        assert committed == [] and wm["s"] == 1005
        # non-numeric ids are kept verbatim; maintenance entries keep a tail
        committed, wm = prune_ledger(committed + ["s:manual-0"], wm)
        assert committed == ["s:manual-0"]
        # negative ids never fold into the watermark (hw=-1 default would
        # swallow them without coverage) — they stay verbatim
        committed, wm = prune_ledger(committed + ["s:-1"], wm)
        assert "s:-1" in committed
        # a user source merely NAMED like maintenance keeps full ledger folding
        c2, w2 = [], {}
        for i in range(30):
            c2, w2 = prune_ledger(c2 + [f"maintenance_log:{i}"], w2)
        assert w2 == {"maintenance_log": 29} and c2 == []

        from change_data_capturer_ms_spark.lake.manifest import Manifest
        fresh = Manifest(version=0, parent=None, schema_json="{}",
                         schema_version=0, n_buckets=1, key_cols=[], files=[],
                         committed_batches=[], lease={})
        # fresh table: NO batch id may read as already-committed
        assert not fresh.is_committed("s", 0)
        assert not fresh.is_committed("s", -1)
        assert not fresh.is_committed("s", "manual-0")

        # integration: replay of a watermark-covered batch is still a no-op
        pipe, _ = _pipe(spark, tmpdir_path)
        for i in range(3):
            pipe.apply_batch(gen_changelog(spark, 200, seed=21, start_seq=200 * i),
                             batch_id=i)
        m = pipe.table.manifest()
        assert m.batch_watermarks.get("changelog") == 2
        assert not any(b.startswith("changelog:") for b in m.committed_batches)
        before = _state(pipe.table)
        res = pipe.table.merge(gen_changelog(spark, 200, seed=21), batch_id=0,
                               source_id="changelog")
        assert res["skipped"] is True
        assert _state(pipe.table).equals(before)

    def test_empty_batch_preserves_incremental_watermark(self, spark, tmpdir_path):
        """An empty commit must carry max_seq forward, or read_incremental on that
        snapshot re-emits the whole table (ADVICE r1, medium)."""
        pipe, _ = _pipe(spark, tmpdir_path)
        pipe.apply_batch(gen_changelog(spark, 500, seed=22), batch_id=0)
        empty = gen_changelog(spark, 500, seed=22).filter(F.col("seq") < 0)
        pipe.apply_batch(empty, batch_id=1)
        v_empty = pipe.table.manifest().version
        assert pipe.table.lease()["metrics"]["max_seq"] == 499
        assert pipe.table.read_incremental(since_version=v_empty).count() == 0

    def test_empty_batch_preserves_max_seq_zero(self, spark, tmpdir_path):
        """max_seq == 0 is a VALID watermark (one event, seq 0) — a falsy-zero
        `or -1` fallback would reset it and re-emit the table."""
        pipe, _ = _pipe(spark, tmpdir_path)
        one = gen_changelog(spark, 1, seed=24)  # single event, seq=0
        pipe.apply_batch(one, batch_id=0)
        assert pipe.table.lease()["metrics"]["max_seq"] == 0
        pipe.apply_batch(one.filter(F.col("seq") < 0), batch_id=1)  # empty
        v_empty = pipe.table.manifest().version
        assert pipe.table.lease()["metrics"]["max_seq"] == 0
        assert pipe.table.read_incremental(since_version=v_empty).count() == 0


class TestMergeOnRead:
    """write_mode='mor' (Iceberg v2 semantics): MERGE appends per-bucket delta
    files, reads resolve per-key LWW, compact() folds deltas. The invariant
    that matters: a mor table and a cow table fed the same batches are
    indistinguishable through every read API."""

    def test_mor_converges_to_cow_state(self, spark, tmpdir_path):
        full = gen_changelog(spark, 3000, seed=11, n_repos=12, paths_per_repo=6)
        halves = [full.filter(F.col("seq") >= 1000), full.filter(F.col("seq") < 1000)]

        cow, _ = _pipe(spark, tmpdir_path, "cow")
        mor, _ = _pipe(spark, tmpdir_path, "mor", write_mode="mor")
        for i, h in enumerate(halves):  # out-of-order halves: tombstone stress
            cow.apply_batch(h, batch_id=i)
            mor.apply_batch(h, batch_id=i)

        assert _state(mor.table).equals(_state(cow.table))
        # mor really appended: some bucket holds >1 file
        per_bucket = {}
        for f in mor.table.manifest().files:
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
        assert max(per_bucket.values()) > 1
        # tombstones visible identically (delete suppression across files)
        n_tomb = mor.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count()
        assert n_tomb == cow.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count()
        assert n_tomb > 0

        # compaction folds every bucket to one file; state is unchanged
        before = _state(mor.table)
        res = mor.table.compact()
        assert res["compacted_buckets"] > 0
        after_files = {}
        for f in mor.table.manifest().files:
            after_files[f.bucket] = after_files.get(f.bucket, 0) + 1
        assert max(after_files.values()) == 1
        assert _state(mor.table).equals(before)

    def test_mor_expire_tombstones_waits_for_compaction(self, spark, tmpdir_path):
        """A delta tombstone suppresses an older base-file row; expiring it
        before the bucket is compacted would resurrect that row. The guard:
        expire only touches single-file buckets on a mor table."""
        pipe, _ = _pipe(spark, tmpdir_path, write_mode="mor")
        full = gen_changelog(spark, 2000, seed=12, n_repos=6, paths_per_repo=4)
        pipe.apply_batch(full.filter(F.col("seq") < 1000), batch_id=0)
        pipe.apply_batch(full.filter(F.col("seq") >= 1000), batch_id=1)
        live_before = _state(pipe.table)
        n_tomb = pipe.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count()
        assert n_tomb > 0

        pipe.table.expire_tombstones(min_seq=10_000)
        # multi-file buckets were skipped: nothing resurrected, live state intact
        assert _state(pipe.table).equals(live_before)

        pipe.table.compact()
        pipe.table.expire_tombstones(min_seq=10_000)
        assert pipe.table.read(include_deleted=True).filter(
            F.col("_last_op") == "delete").count() == 0
        assert _state(pipe.table).equals(live_before)

    def test_mor_double_apply_is_noop(self, spark, tmpdir_path):
        pipe, _ = _pipe(spark, tmpdir_path, write_mode="mor")
        batch = gen_changelog(spark, 500, seed=9)
        pipe.apply_batch(batch, batch_id=0)
        files1 = [f.path for f in pipe.table.manifest().files]
        state1 = _state(pipe.table)
        res = pipe.table.merge(batch, batch_id=0)  # re-delivery
        assert res["skipped"] is True
        assert [f.path for f in pipe.table.manifest().files] == files1
        assert _state(pipe.table).equals(state1)


class TestErrors:
    def test_missing_table(self, spark, tmpdir_path):
        t = LakeTable(spark, f"{tmpdir_path}/nope")
        with pytest.raises(MissingResourceError, match="Collection not found"):
            t.manifest()

    def test_config_validation(self):
        with pytest.raises(ConfigError, match="n_buckets"):
            EngineConfig(n_buckets=-1)
        with pytest.raises(ConfigError, match="captured_ops"):
            EngineConfig(captured_ops=("insert", "upsert-typo"))

    def test_config_from_env(self, monkeypatch):
        monkeypatch.setenv("CDC_N_BUCKETS", "64")
        monkeypatch.setenv("CDC_CAPTURED_OPS", "insert,update")
        cfg = EngineConfig.from_env()
        assert cfg.n_buckets == 64 and cfg.captured_ops == ("insert", "update")

    def test_registry_error_message_parity(self, spark):
        """Exact message parity with the reference factories
        (/root/reference/src/factory/factory.ts:20, src/queue/factory.ts:55)."""
        from change_data_capturer_ms_spark.errors import (
            NotSupportedError, QueueNotSupportedError)
        from change_data_capturer_ms_spark.sources.registry import (
            create_sink, create_source)

        with pytest.raises(NotSupportedError) as ei:
            create_source("postgres", spark, "/nope")
        assert str(ei.value) == "Service still not supported"
        with pytest.raises(QueueNotSupportedError) as ei:
            create_sink("kafka", spark, "/nope")
        assert str(ei.value) == "Queue type still not supported"

    def test_lease_decode_or_none(self, spark, tmpdir_path):
        """Corrupt lease JSON decodes to None and the pipeline restarts from the
        beginning (reference io-ts decode-or-None, cosmos/utils.ts:76-91 and its
        decode-failure test)."""
        pipe, log_dir = _pipe(spark, tmpdir_path)
        write_changelog(gen_changelog(spark, 300, seed=23, n_repos=5,
                                      paths_per_repo=3), log_dir)
        pipe.run_stream()
        good = pipe.current_lease()
        assert good is not None
        lease_file = os.path.join(pipe.lease_dir, f"{CFG.lease_prefix}.json")
        with open(lease_file, "w") as f:
            f.write("{not valid json!!")
        assert pipe.current_lease() is None
        with open(lease_file, "w") as f:
            json.dump(["wrong", "shape"], f)
        assert pipe.current_lease() is None

        # an undecodable manifest lease token ⇒ run_batch starts from the
        # beginning instead of raising; idempotence keeps the state unchanged
        before = _state(pipe.table)
        real_lease, calls = pipe.table.lease, []
        pipe.table.lease = lambda: (
            {"lease": "garbage-token"} if not calls.append(None) and len(calls) == 1
            else real_lease()
        )
        res = pipe.run_batch(batch_id="manual-replay")
        assert res["skipped"] is False
        assert _state(pipe.table).equals(before)


class TestZoneMapPredicate:
    """Pure-python zone-map containment tests (no Spark)."""

    def _f(self, **kw):
        from change_data_capturer_ms_spark.lake.manifest import FileEntry
        return FileEntry(path="p", bucket=0, rows=1, bytes=1, **kw)

    def test_ops(self):
        from change_data_capturer_ms_spark.lake.table import _file_may_match as m
        f = self._f(col_stats={"r": ["b", "d"]}, min_seq=10, max_seq=20)
        assert m(f, "r", "=", "c") and not m(f, "r", "=", "a")
        assert m(f, "r", "<=", "b") and not m(f, "r", "<", "b")
        assert m(f, "r", ">=", "d") and not m(f, "r", ">", "d")
        assert m(f, "r", "between", ("a", "b")) and not m(f, "r", "between", ("e", "f"))
        assert m(f, "_last_seq", "=", 15) and not m(f, "_last_seq", "=", 9)

    def test_conservative_on_missing_or_mismatched_stats(self):
        import pytest
        from change_data_capturer_ms_spark.lake.table import _file_may_match as m
        f = self._f()  # no stats at all
        assert m(f, "r", "=", "x") and m(f, "_last_seq", "=", 0)
        f2 = self._f(col_stats={"r": ["a", "b"]})
        assert m(f2, "other_col", "=", 1)       # un-stat'd column
        assert m(f2, "r", "=", 5)               # type mismatch: never prune
        with pytest.raises(ValueError, match="unsupported"):
            m(f2, "r", "~", "a")
