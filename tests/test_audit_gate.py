"""Write-audit-publish gate (CDCPipeline audit_fn): each batch's merge stages
on the branch `wap-<source_id>`, the audit runs on the branch, a pass
publishes by fast-forward and a failure drops the branch and captures the
batch in the DLQ — Iceberg's branch WAP layout composed from the engine's own
branch/ledger/quarantine primitives."""

import pytest
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.sources.changelog import gen_changelog
from change_data_capturer_ms_spark.streaming.pipeline import CDCPipeline
from tests.test_invariants import _state


def _pipe_audit(spark, tmpdir_path, audit_fn, quarantine=True):
    table = LakeTable(spark, f"{tmpdir_path}/table", key_cols=["repo", "path"],
                      n_buckets=8)
    return CDCPipeline(
        spark, f"{tmpdir_path}/log", table, f"{tmpdir_path}/ckpt",
        cfg=EngineConfig(n_buckets=8), use_pandas_udfs=False,
        quarantine_dir=f"{tmpdir_path}/dlq" if quarantine else None,
        audit_fn=audit_fn,
    )


def _bad_window_audit(table, result):
    """Deterministic stand-in for a data-quality audit: the seq window
    [1000, 2000) is known-bad (e.g. an upstream incident)."""
    ms = result["metrics"]["max_seq"]
    if 1000 <= ms < 2000:
        return f"incident-window max_seq={ms}"
    return True


def test_failed_audit_rolls_back_quarantines_and_stream_continues(
        spark, tmpdir_path):
    full = gen_changelog(spark, 3000, seed=51, n_repos=10, paths_per_repo=5)
    b0 = full.filter(F.col("seq") < 1000)
    b1 = full.filter((F.col("seq") >= 1000) & (F.col("seq") < 2000))  # bad window
    b2 = full.filter(F.col("seq") >= 2000)

    pipe = _pipe_audit(spark, tmpdir_path, _bad_window_audit)
    r0 = pipe.apply_batch(b0, batch_id=0)
    assert not r0.get("audit_failed")
    s_after_b0 = _state(pipe.table)
    lease_after_b0 = pipe.table.lease()["lease"]

    r1 = pipe.apply_batch(b1, batch_id=1)
    assert r1.get("audit_failed") and "incident-window" in r1["reason"]
    # table state and lease stay at post-batch-0
    assert _state(pipe.table).equals(s_after_b0)
    assert pipe.table.lease()["lease"] == lease_after_b0
    # ledger unchanged: batch 1 is NOT recorded committed
    assert not pipe.table.is_batch_committed("changelog", 1)
    # batch rows are in the DLQ with the audit reason
    dlq = spark.read.parquet(f"{tmpdir_path}/dlq")
    assert dlq.count() > 0
    reasons = {r[0] for r in dlq.select(F.explode("_reasons")).distinct().collect()}
    assert any(x.startswith("audit:incident-window") for x in reasons)

    # the stream continues: batch 2 passes and applies on top of batch 0
    r2 = pipe.apply_batch(b2, batch_id=2)
    assert not r2.get("audit_failed")
    assert int(pipe.table.lease()["metrics"]["max_seq"]) == 2999


def test_audit_failure_without_dlq_raises(spark, tmpdir_path):
    full = gen_changelog(spark, 1000, seed=52, n_repos=8, paths_per_repo=4)
    pipe = _pipe_audit(spark, tmpdir_path, lambda t, r: False, quarantine=False)
    with pytest.raises(RuntimeError, match="audit failed"):
        pipe.apply_batch(full, batch_id=0)
    # the merge never published: the table reads empty
    assert pipe.table.read().count() == 0


def test_quarantined_batch_replays_after_fix(spark, tmpdir_path):
    """DLQ replay re-applies the audit-rejected batch (operator's explicit
    decision — replay does NOT re-run the audit), reconverging with the
    no-audit reference."""
    full = gen_changelog(spark, 2000, seed=53, n_repos=10, paths_per_repo=5)
    b0 = full.filter(F.col("seq") < 1000)
    b1 = full.filter(F.col("seq") >= 1000)  # max_seq 1999: bad window

    pipe = _pipe_audit(spark, tmpdir_path, _bad_window_audit)
    pipe.apply_batch(b0, batch_id=0)
    r1 = pipe.apply_batch(b1, batch_id=1)
    assert r1.get("audit_failed")
    rep = pipe.replay_quarantine(replay_id="after-audit-fix")
    assert rep["replayed"] > 0 and rep["still_quarantined"] == 0

    ref = _pipe_audit(spark, f"{tmpdir_path}/ref", audit_fn=None)
    ref.apply_batch(b0, batch_id=0)
    ref.apply_batch(b1, batch_id=1)
    s1, s2 = _state(pipe.table), _state(ref.table)
    assert list(s1["content_sha256"]) == list(s2["content_sha256"])
    assert list(s1["_last_seq"]) == list(s2["_last_seq"])


def test_passing_audit_is_transparent(spark, tmpdir_path):
    full = gen_changelog(spark, 800, seed=54, n_repos=8, paths_per_repo=4)
    audited = _pipe_audit(spark, tmpdir_path, lambda t, r: True)
    plain = _pipe_audit(spark, f"{tmpdir_path}/plain", audit_fn=None)
    ra = audited.apply_batch(full, batch_id=0)
    rp = plain.apply_batch(full, batch_id=0)
    assert not ra.get("audit_failed")
    assert ra["metrics"] == rp["metrics"]
    assert _state(audited.table).equals(_state(plain.table))


# -- branch staging: main never holds the rejected snapshot --------------------

def test_rejected_batch_never_reaches_main_history(spark, tmpdir_path):
    """Same batches, same audit, with and without a failing middle batch in
    between: the audited pipeline ends in the state of a plain pipeline fed
    only the passing batches, main's snapshot history never contains the
    rejected merge (no transient unaudited snapshot) and no staging ref is
    left behind."""
    full = gen_changelog(spark, 3000, seed=55, n_repos=10, paths_per_repo=5)
    b0 = full.filter(F.col("seq") < 1000)
    b1 = full.filter((F.col("seq") >= 1000) & (F.col("seq") < 2000))  # bad
    b2 = full.filter(F.col("seq") >= 2000)

    wap = _pipe_audit(spark, tmpdir_path, _bad_window_audit)
    r0 = wap.apply_batch(b0, batch_id=0)
    assert not r0.get("audit_failed")
    r1 = wap.apply_batch(b1, batch_id=1)
    assert r1.get("audit_failed") and "incident-window" in r1["reason"]
    assert not wap.table.is_batch_committed("changelog", 1)
    r2 = wap.apply_batch(b2, batch_id=2)
    assert not r2.get("audit_failed")

    ref = _pipe_audit(spark, f"{tmpdir_path}/ref", audit_fn=None)
    ref.apply_batch(b0, batch_id=0)
    ref.apply_batch(b2, batch_id=2)
    s_w, s_r = _state(wap.table), _state(ref.table)
    assert list(s_w["content_sha256"]) == list(s_r["content_sha256"])
    assert wap.table.lease()["lease"] == ref.table.lease()["lease"]
    # the DLQ captured the rejected batch
    assert spark.read.parquet(f"{tmpdir_path}/dlq").count() > 0
    # no stale staging ref left behind
    assert wap.table.branches() == {}
    # main history never saw the rejected snapshot: every retained main
    # ancestor passes the audit window check
    v = wap.table.manifest().version
    while v is not None:
        m = wap.table.manifest(v)
        ms = m.lease.get("metrics", {}).get("max_seq")
        assert ms is None or not (1000 <= int(ms) < 2000)
        v = m.parent


# -- ready-made audit helpers (streaming/audits.py) — metadata-only, no Spark --

class _File:
    def __init__(self, rows):
        self.rows = rows


class _FakeTable:
    """manifest(v).files stub: version → physical row counts."""
    def __init__(self, rows_by_version):
        self._rows = rows_by_version

    def manifest(self, version=None):
        m = type("M", (), {})()
        m.files = [_File(r) for r in self._rows[version]]
        m.parent = version - 1 if version else None  # linear fake history
        return m


def _res(rows=100, deletes=0, version=1):
    return {"metrics": {"rows": rows, "deletes": deletes}, "version": version}


def test_audit_helpers_metadata_only():
    from change_data_capturer_ms_spark.streaming import audits

    a = audits.max_delete_fraction(0.5)
    assert a(None, _res(rows=100, deletes=10)) is True
    assert "delete fraction" in a(None, _res(rows=100, deletes=80))
    assert a(None, _res(rows=0, deletes=0)) is True  # empty batch never trips

    b = audits.row_bounds(min_rows=10, max_rows=1000)
    assert b(None, _res(rows=10)) is True
    assert "below minimum" in b(None, _res(rows=3))
    assert "above maximum" in b(None, _res(rows=5000))

    t = _FakeTable({0: [1000], 1: [300]})
    c = audits.max_shrink_fraction(0.5)
    assert "shrank" in c(t, _res(version=1))
    t2 = _FakeTable({0: [1000], 1: [900]})
    assert c(t2, _res(version=1)) is True
    assert c(t2, _res(version=0)) is True  # first commit has no parent

    combo = audits.all_of(b, a)
    assert combo(None, _res(rows=50, deletes=5)) is True
    assert "below minimum" in combo(None, _res(rows=3))  # first rejection wins


def test_audit_helper_drives_pipeline_gate(spark, tmpdir_path):
    """row_bounds plugged into the real pipeline gate: an over-sized batch is
    dropped and quarantined, a normal one publishes."""
    from change_data_capturer_ms_spark.streaming import audits

    full = gen_changelog(spark, 1200, seed=52, n_repos=6, paths_per_repo=4)
    pipe = _pipe_audit(spark, tmpdir_path, audits.row_bounds(max_rows=800))
    r0 = pipe.apply_batch(full.filter(F.col("seq") < 500), batch_id=0)
    assert not r0.get("audit_failed")
    r1 = pipe.apply_batch(full.filter(F.col("seq") >= 500), batch_id=1)  # 700>… ok
    assert not r1.get("audit_failed")
    big = gen_changelog(spark, 2000, seed=53, n_repos=6, paths_per_repo=4)
    r2 = pipe.apply_batch(big, batch_id=2)
    assert r2.get("audit_failed") and "above maximum" in r2["reason"]
