"""Long-run soak: 200+ micro-batches through the full pipeline (queue sink +
LSH index maintenance attached), with a mid-loop kill/resume, asserting the
engine's bookkeeping stays BOUNDED — ledger length, current-manifest bytes,
lease size, live file count, on-disk store size after expiry — and the final
state still equals the single-pass LWW oracle. A 10^10-event deployment runs
millions of micro-batches; anything that grows per-batch here is a leak there.

VERDICT r2 item 6. Run explicitly with `-m slow` (deselected by default grind:
`python -m pytest tests/ -x -q` still runs it; use `-m "not slow"` to skip).
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.operators.dedup_index import (
    MinHashLSHIndex,
    band_rows,
)
from change_data_capturer_ms_spark.queue import JsonQueueSink, QueueConsumer
from change_data_capturer_ms_spark.sources.changelog import (
    gen_changelog,
    write_changelog,
)
from change_data_capturer_ms_spark.streaming import CDCPipeline

WAVES = 25          # log written in waves; each wave yields ~FILES_PER_WAVE files
PER_WAVE = 400      # events per wave
FILES_PER_WAVE = 12
# max_files_per_trigger=1 => one micro-batch per file => >= 200 micro-batches


def _to_text(col):
    return F.regexp_replace(col, "[\\n/=#.]+", " ")


def _mk_pipe(spark, base, queue):
    table = LakeTable(spark, f"{base}/table", key_cols=["repo", "path"],
                      n_buckets=8)
    return CDCPipeline(spark, f"{base}/log", table, f"{base}/ckpt",
                       cfg=EngineConfig(n_buckets=8), use_pandas_udfs=False,
                       queue_sink=queue)


def _index_from_diff(idx, table, v_old, v_new):
    diff = table.snapshot_diff(v_old, v_new)
    changes = diff.select(
        F.concat_ws("/", "repo", "path").alias("doc_id"),
        _to_text(F.col("old_content")).alias("old_text"),
        _to_text(F.col("new_content")).alias("new_text"),
        F.lit(v_new).cast("long").alias("seq"),
    )
    return idx.update(changes, batch_id=v_new, source_id="doc-index")


def _write_waves(spark, log, lo, hi):
    for w in range(lo, hi):
        # pre-spread the wave: write_changelog salts its layout with
        # spark_partition_id, so a 4-partition source caps the file count at 4
        wave = gen_changelog(spark, PER_WAVE, seed=w, n_repos=6,
                             paths_per_repo=4, start_seq=w * PER_WAVE
                             ).repartition(FILES_PER_WAVE)
        write_changelog(wave, log, files_per_bucket=FILES_PER_WAVE)


def _bookkeeping(table):
    m = table.manifest()
    store = os.path.join(table.path, "_meta")
    cur = os.path.join(store, f"v{m.version}.json")
    lease = glob.glob(os.path.join(table.path, "_lease", "*.json"))
    return {
        "version": m.version,
        "ledger_len": len(m.committed_batches),
        "manifest_bytes": os.path.getsize(cur),
        "live_files": len(m.files),
        "lease_bytes": max(os.path.getsize(p) for p in lease),
        "disk_data_files": len(glob.glob(
            os.path.join(table.path, "data", "**", "*.parquet"),
            recursive=True)),
        "manifest_count": len(glob.glob(os.path.join(store, "v*.json"))),
    }


@pytest.mark.slow
def test_soak_200_microbatches_bounded_and_resumable(spark, tmpdir_path):
    base = tmpdir_path
    log = f"{base}/log"
    queue = JsonQueueSink(spark, f"{base}/queue")
    idx = MinHashLSHIndex(spark, f"{base}/idx", n_buckets=16)
    consumer = QueueConsumer(queue, consumer_id="soak")

    # ---- phase A: first 10 waves (~100 micro-batches) ------------------------
    pipe = _mk_pipe(spark, base, queue)
    _write_waves(spark, log, 0, 10)
    pipe.run_stream(max_files_per_trigger=1)
    lease_a = pipe.current_lease()
    batches_a = int(lease_a["batch_id"]) + 1
    assert batches_a >= 80  # ~10 files/wave -> ~one micro-batch per file
    v_a = pipe.table.manifest().version
    _index_from_diff(idx, pipe.table, 0, v_a)
    # queue consumer drains everything produced so far, advancing its lease
    _, markers_a = consumer.poll()
    assert len(markers_a) == batches_a
    consumer.commit(markers_a)
    mid = _bookkeeping(pipe.table)
    pipe.table.expire_snapshots(keep_last=2, orphan_grace_sec=0.0)

    # ---- mid-loop kill: a brand-new pipeline resumes from the checkpoint ----
    pipe2 = _mk_pipe(spark, base, queue)
    _write_waves(spark, log, 10, WAVES)
    pipe2.run_stream(max_files_per_trigger=1)
    lease_b = pipe2.current_lease()
    batches_b = int(lease_b["batch_id"]) + 1
    assert batches_b >= 200, f"only {batches_b} micro-batches"
    assert batches_b > batches_a  # resumed, not restarted
    v_b = pipe2.table.manifest().version
    _index_from_diff(idx, pipe2.table, v_a, v_b)
    _, markers_b = consumer.poll()
    assert len(markers_b) == batches_b - batches_a  # only NEW batches redeliver
    consumer.commit(markers_b)
    assert consumer.current_lease()["lease"] == str(batches_b - 1)
    pipe2.table.expire_snapshots(keep_last=2, orphan_grace_sec=0.0)
    end = _bookkeeping(pipe2.table)

    # ---- boundedness: 2.5x the batches must NOT mean 2.5x the bookkeeping ----
    # ledger: pruned to per-source high watermarks + maintenance tail
    assert end["ledger_len"] <= 40, end
    assert end["ledger_len"] <= mid["ledger_len"] + 20, (mid, end)
    # current manifest: proportional to live files, not to batch count
    assert end["manifest_bytes"] < 262_144, end
    assert end["live_files"] <= 8 * 4, end  # ~n_buckets, CoW rewrites in place
    # lease doc: constant-size resume state (token + lineage + metrics)
    assert end["lease_bytes"] < 32_768, end
    # store after expiry: history pruned, not accumulating one file per batch
    assert end["manifest_count"] <= 2 + 4, end       # keep_last + tags slack
    assert end["disk_data_files"] <= end["live_files"] * 3, end

    # ---- correctness after 200 batches + kill/resume + expiry ---------------
    raw = spark.read.parquet(log)
    lww = (raw.filter(F.col("op").isin("insert", "update", "replace", "delete"))
              .groupBy("repo", "path")
              .agg(F.max_by(F.struct("op", "content"), F.struct("seq")).alias("x"))
              .filter(F.col("x.op") != "delete")
              .select("repo", "path", F.col("x.content").alias("content")))
    got = pipe2.table.read().select("repo", "path", "content")
    assert got.exceptAll(lww).count() == 0
    assert lww.exceptAll(got).count() == 0

    # maintained index == index recomputed from the live table
    docs = pipe2.table.read().select(
        F.concat_ws("/", "repo", "path").alias("doc_id"),
        _to_text(F.col("content")).alias("text"),
    ).filter(F.col("text").isNotNull())
    expected = band_rows(docs).select("band", "band_hash", "id")
    actual = idx.table.read().select("band", "band_hash", "id")
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0

    # queue markers hold one entry per micro-batch; every envelope is committed
    assert len(queue.committed_batches()) == batches_b
    # consumer-side bookkeeping is bounded too: lease doc + audit RING only
    assert len(os.listdir(consumer.lease_dir)) <= consumer.history_keep + 1


# ---------------------------------------------------------------------------
# WAP-branch soak (VERDICT r3 item 6): the branch-per-batch write-audit-publish
# path under ~100 micro-batches with a mid-loop kill/resume, an audit rejection
# AFTER the resume, and a bounded-metadata sweep — branch refs must not leak
# (one cut+drop per batch), the lease-history audit ring must stay a RING
# (cfg.lease_history_keep), and the drift monitor must score from that ring.
# ---------------------------------------------------------------------------

WAP_WAVES = 12
WAP_FILES_PER_WAVE = 8
BAD_WAVE = 8  # every file of this wave fails the audit (post-resume)


def _wap_audit(staged, result):
    """Metadata-only audit: reject any batch whose per-partition lineage sits
    entirely inside the known-bad seq window (an 'upstream incident' wave).
    Reads the BRANCH lease only — zero Spark jobs, the WAP design point."""
    lin = (staged.lease() or {}).get("lineage") or []
    lo, hi = BAD_WAVE * PER_WAVE, (BAD_WAVE + 1) * PER_WAVE
    for part in lin:
        if lo <= part["first_seq"] and part["last_seq"] < hi:
            return f"incident-wave [{lo},{hi}) partition {part['partition']}"
    return True


def _mk_wap_pipe(spark, base):
    table = LakeTable(spark, f"{base}/table", key_cols=["repo", "path"],
                      n_buckets=8)
    return CDCPipeline(
        spark, f"{base}/log", table, f"{base}/ckpt",
        cfg=EngineConfig(n_buckets=8, lease_history_keep=40),
        use_pandas_udfs=False,
        quarantine_dir=f"{base}/dlq",
        audit_fn=_wap_audit,
        monitor_cols=["op"],
    )


def _write_wap_waves(spark, log, lo, hi):
    for w in range(lo, hi):
        wave = gen_changelog(spark, PER_WAVE, seed=100 + w, n_repos=6,
                             paths_per_repo=4, start_seq=w * PER_WAVE
                             ).repartition(WAP_FILES_PER_WAVE)
        write_changelog(wave, log, files_per_bucket=WAP_FILES_PER_WAVE)


@pytest.mark.slow
def test_soak_wap_branch_bounded_and_resumable(spark, tmpdir_path):
    base = tmpdir_path
    log = f"{base}/log"

    # ---- phase A: first 6 waves through the WAP path ------------------------
    pipe = _mk_wap_pipe(spark, base)
    _write_wap_waves(spark, log, 0, 6)
    pipe.run_stream(max_files_per_trigger=1)
    lease_a = pipe.current_lease()
    batches_a = int(lease_a["batch_id"]) + 1
    # repartition(N, seq_bucket, pid) hash-merges some pids: ~5-6 files/wave
    assert batches_a >= 24
    assert pipe.table.branches() == {}, "WAP branch ref leaked"

    # ---- mid-loop kill: fresh pipeline resumes; bad wave arrives after -----
    pipe2 = _mk_wap_pipe(spark, base)
    _write_wap_waves(spark, log, 6, WAP_WAVES)
    pipe2.run_stream(max_files_per_trigger=1)
    batches_b = int(pipe2.current_lease()["batch_id"]) + 1
    assert batches_b > batches_a  # resumed, not restarted
    assert pipe2.table.branches() == {}, "WAP branch ref leaked"

    # audit rejected exactly the bad wave: its rows are in the DLQ, none of
    # its seqs are in the table, and the stream kept going past it
    dlq = spark.read.parquet(f"{base}/dlq")
    bad_lo, bad_hi = BAD_WAVE * PER_WAVE, (BAD_WAVE + 1) * PER_WAVE
    dlq_seqs = {r[0] for r in dlq.select("seq").distinct().collect()}
    assert dlq_seqs == set(range(bad_lo, bad_hi))
    reasons = {r[0] for r in dlq.select(F.explode("_reasons")).distinct().collect()}
    assert any(x.startswith("audit:incident-wave") for x in reasons)
    assert batches_b >= 55  # ~60 files total: rejects don't stop the stream

    # ---- bounded metadata: audit ring + manifest/ledger ---------------------
    ring = glob.glob(os.path.join(pipe2.table.path, "_lease", "batch_*.json"))
    assert len(ring) <= 40, f"lease-history ring overflow: {len(ring)}"
    pipe2.table.expire_snapshots(keep_last=2, orphan_grace_sec=0.0)
    end = _bookkeeping(pipe2.table)
    assert end["ledger_len"] <= 40, end
    assert end["manifest_bytes"] < 262_144, end
    assert end["lease_bytes"] < 32_768, end

    # drift monitor scores from the ring alone (counts folded at commit time)
    drift = pipe2.monitor_drift("op")
    assert len(drift) >= 10
    assert all(d["psi"] >= 0.0 and d["psi"] == d["psi"] for d in drift)

    # ---- exactly-once: no new files => lease token unchanged ----------------
    lease_before = pipe2.current_lease()["lease"]
    pipe2.run_stream(max_files_per_trigger=1)
    assert pipe2.current_lease()["lease"] == lease_before

    # ---- correctness: final state == LWW over the NON-rejected events -------
    raw = spark.read.parquet(log)
    kept = raw.filter(~((F.col("seq") >= bad_lo) & (F.col("seq") < bad_hi)))
    lww = (kept.filter(F.col("op").isin("insert", "update", "replace", "delete"))
               .groupBy("repo", "path")
               .agg(F.max_by(F.struct("op", "content"), F.struct("seq")).alias("x"))
               .filter(F.col("x.op") != "delete")
               .select("repo", "path", F.col("x.content").alias("content")))
    got = pipe2.table.read().select("repo", "path", "content")
    assert got.exceptAll(lww).count() == 0
    assert lww.exceptAll(got).count() == 0
