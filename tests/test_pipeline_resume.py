"""Pipeline resume cursor, per-batch manifest traffic and redelivery after
a crash that followed the commit."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.lake.manifest import ManifestStore
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.queue import JsonQueueSink
from change_data_capturer_ms_spark.sources import gen_changelog, write_changelog
from change_data_capturer_ms_spark.streaming import CDCPipeline


def _pipe(spark, d, **kw):
    table = LakeTable(spark, f"{d}/t", key_cols=["repo", "path"], n_buckets=4)
    return CDCPipeline(spark, f"{d}/log", table, f"{d}/ckpt",
                       cfg=EngineConfig(n_buckets=4), use_pandas_udfs=False,
                       **kw)


def test_invalid_event_ending_a_batch_is_quarantined_once(spark, tmpdir_path):
    """The resume cursor covers every event the batch READ, quarantined ones
    included: an invalid event at the end of a batch must not be read again
    (and appended to the DLQ again) by the next run_batch."""
    pipe = _pipe(spark, tmpdir_path, quarantine_dir=f"{tmpdir_path}/dlq")
    first = gen_changelog(spark, 200, seed=31, n_repos=5, paths_per_repo=3)
    bad_seqs = [50, 199]  # one mid-batch, one ending the batch
    first = first.withColumn(
        "op", F.when(F.col("seq").isin(*bad_seqs), F.lit("upsert-typo"))
        .otherwise(F.col("op")))
    write_changelog(first, f"{tmpdir_path}/log", files_per_bucket=1)
    pipe.run_batch()

    write_changelog(gen_changelog(spark, 100, seed=31, n_repos=5,
                                  paths_per_repo=3, start_seq=200),
                    f"{tmpdir_path}/log", files_per_bucket=1)
    res = pipe.run_batch()
    assert res["skipped"] is False and res["metrics"]["rows"] == 100
    dlq = spark.read.parquet(f"{tmpdir_path}/dlq")
    assert sorted(r["seq"] for r in dlq.collect()) == bad_seqs
    assert pipe.current_lease()["lease"] == "299"


def test_apply_batch_loads_the_manifest_at_most_twice(spark, tmpdir_path,
                                                      monkeypatch):
    """One manifest read by the pipeline (ledger check, bucket layout) plus
    merge's optimistic-concurrency read; the committed lease comes back in
    merge's result instead of a re-read."""
    pipe = _pipe(spark, tmpdir_path, quarantine_dir=f"{tmpdir_path}/dlq")
    log = gen_changelog(spark, 400, seed=32, n_repos=5, paths_per_repo=3)
    pipe.apply_batch(log.filter(F.col("seq") < 200), batch_id=0)

    loads = []
    real = ManifestStore.load

    def counting(self, version=None):
        loads.append(version)
        return real(self, version)

    monkeypatch.setattr(ManifestStore, "load", counting)
    res = pipe.apply_batch(log.filter(F.col("seq") >= 200), batch_id=1)
    monkeypatch.undo()
    assert res["skipped"] is False
    assert len(loads) <= 2, loads
    assert pipe.current_lease()["lease"] == "399"
    assert pipe.current_lease() == pipe.table.lease()


def test_lease_ring_keeps_newest_commits_for_string_batch_ids(spark,
                                                              tmpdir_path):
    """run_batch ids (`manual-<cursor>`) are not numbers: the lease-history
    ring must still keep the newest commits and monitor_drift must pair
    them in commit order."""
    table = LakeTable(spark, f"{tmpdir_path}/t", key_cols=["repo", "path"],
                      n_buckets=4)
    pipe = CDCPipeline(spark, f"{tmpdir_path}/log", table, f"{tmpdir_path}/ckpt",
                       cfg=EngineConfig(n_buckets=4, lease_history_keep=3),
                       use_pandas_udfs=False, monitor_cols=["op"])
    ids = []
    for w in range(6):
        write_changelog(gen_changelog(spark, 100, seed=40 + w, n_repos=5,
                                      paths_per_repo=3, start_seq=100 * w),
                        f"{tmpdir_path}/log", files_per_bucket=1)
        ids.append(pipe.run_batch()["batch_id"])
    assert ids == ["manual--1", "manual-99", "manual-199", "manual-299",
                   "manual-399", "manual-499"]

    kept = set()
    for p in glob.glob(os.path.join(table.path, "_lease", "batch_*.json")):
        with open(p) as f:
            kept.add(json.load(f)["batch_id"])
    assert kept == set(ids[-3:])
    assert [d["batch_id"] for d in pipe.monitor_drift("op")] == ids[-2:]


def _crash_once(monkeypatch, cls, name):
    real = getattr(cls, name)
    calls = []

    def once(self, *a, **kw):
        calls.append(name)
        if len(calls) == 1:
            raise RuntimeError(f"crash in {name}")
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, name, once)


def _redelivery_heals_head(spark, d, monkeypatch, cls, name):
    """Crash once in `cls.name` after batch 1's manifest commit, redeliver
    batch 1: the ledger skips the merge, and the lease sidecar, its ring
    entry and the queue end up as a clean run leaves them."""
    sink = JsonQueueSink(spark, f"{d}/queue")
    pipe = _pipe(spark, d, quarantine_dir=f"{d}/dlq", queue_sink=sink,
                 monitor_cols=["op"])
    log = gen_changelog(spark, 200, seed=34, n_repos=5, paths_per_repo=3)
    pipe.apply_batch(log.filter(F.col("seq") < 100), batch_id=0)
    batch = log.filter(F.col("seq") >= 100).withColumn(
        "op", F.when(F.col("seq") == 150, F.lit("upsert-typo"))
        .otherwise(F.col("op")))

    _crash_once(monkeypatch, cls, name)
    with pytest.raises(RuntimeError, match="crash in"):
        pipe.apply_batch(batch, batch_id=1)
    assert pipe.table.is_batch_committed("changelog", 1)
    assert pipe.apply_batch(batch, batch_id=1)["skipped"] is True

    lease = pipe.current_lease()
    assert set(lease.pop("monitor")) == {"op"}
    assert lease == pipe.table.lease()
    version = pipe.table.manifest().version
    assert os.path.exists(os.path.join(pipe.lease_dir,
                                       f"batch_{version}_1.json"))
    captured = EngineConfig().captured_ops
    expect = sorted(r["seq"] for r in batch.collect()
                    if r["op"] in captured)
    queued = sink.consume().filter(F.col("batch_id") == "1")
    assert sorted(r["seq"] for r in queued.collect()) == expect
    dlq = spark.read.parquet(f"{d}/dlq")
    assert [r["seq"] for r in dlq.collect()] == [150]


def test_redelivery_heals_a_crashed_queue_produce(spark, tmpdir_path,
                                                  monkeypatch):
    _redelivery_heals_head(spark, tmpdir_path, monkeypatch,
                           JsonQueueSink, "produce")


def test_redelivery_heals_a_crashed_lease_write(spark, tmpdir_path,
                                                monkeypatch):
    _redelivery_heals_head(spark, tmpdir_path, monkeypatch,
                           CDCPipeline, "_write_lease")


def _run_batch_retry_heals_head(spark, d, monkeypatch, cls, name):
    """Crash once in `cls.name` after run_batch()'s manifest commit, then
    call run_batch() again: the retry reads from the advanced cursor under
    a new id, so it must heal the crashed head from its lease first — the
    queue holds that batch's rows exactly once and the lease sidecar
    matches the table."""
    sink = JsonQueueSink(spark, f"{d}/queue")
    pipe = _pipe(spark, d, quarantine_dir=f"{d}/dlq", queue_sink=sink)
    log = gen_changelog(spark, 200, seed=35, n_repos=5, paths_per_repo=3)
    write_changelog(log.filter(F.col("seq") < 100), f"{d}/log",
                    files_per_bucket=1)
    pipe.run_batch()
    write_changelog(log.filter(F.col("seq") >= 100), f"{d}/log",
                    files_per_bucket=1)

    _crash_once(monkeypatch, cls, name)
    with pytest.raises(RuntimeError, match="crash in"):
        pipe.run_batch()
    assert pipe.table.lease()["lease"] == "199"
    pipe.run_batch()

    assert pipe.current_lease() == pipe.table.lease()
    captured = EngineConfig().captured_ops
    expect = sorted(r["seq"] for r in log.collect() if r["op"] in captured)
    assert sorted(r["seq"] for r in sink.consume().collect()) == expect
    assert sorted(r["batch_id"] for r in sink.committed_batches()) == [
        "manual--1", "manual-199", "manual-99"]


def test_run_batch_retry_heals_a_crashed_queue_produce(spark, tmpdir_path,
                                                       monkeypatch):
    _run_batch_retry_heals_head(spark, tmpdir_path, monkeypatch,
                                JsonQueueSink, "produce")


def test_run_batch_retry_heals_a_crashed_lease_write(spark, tmpdir_path,
                                                     monkeypatch):
    _run_batch_retry_heals_head(spark, tmpdir_path, monkeypatch,
                                CDCPipeline, "_write_lease")
