"""bench.py's history fold, recorder and campaign runner — no Spark job.

`--consolidate` must rebuild the committed BENCH/BASELINE.md byte for byte
from the committed BENCH/*.jsonl histories, write it next to them whatever
the cwd, and campaign steps must stamp every record while keeping the error
policy (AssertionError kills the campaign, any other failure costs only the
step). The probe subprocess is stubbed.
"""

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

COMMITTED_BASELINE = os.path.join(REPO, "BENCH", "BASELINE.md")


def _copy_histories(dst):
    os.makedirs(dst, exist_ok=True)
    for fn in os.listdir(os.path.join(REPO, "BENCH")):
        if fn.endswith(".jsonl"):
            shutil.copy(os.path.join(REPO, "BENCH", fn), dst)


def test_consolidate_reproduces_committed_baseline(tmp_path, monkeypatch):
    hist = tmp_path / "BENCH"
    _copy_histories(hist)
    monkeypatch.setattr(bench, "BENCH_DIR", str(hist))
    bench.consolidate()
    assert (hist / "BASELINE.md").read_text() == open(COMMITTED_BASELINE).read()


def test_consolidate_from_other_cwd_writes_next_to_histories(tmp_path):
    home = tmp_path / "checkout"
    _copy_histories(home / "BENCH")
    shutil.copy(os.path.join(REPO, "bench.py"), home)
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    env = dict(os.environ, PYTHONPATH=REPO)
    subprocess.run([sys.executable, str(home / "bench.py"), "--consolidate"],
                   cwd=cwd, env=env, check=True, capture_output=True)
    assert not (cwd / "BENCH").exists()
    assert ((home / "BENCH" / "BASELINE.md").read_text()
            == open(COMMITTED_BASELINE).read())


def test_read_history_skips_malformed_and_missing(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    assert list(bench.read_history("absent.jsonl")) == []
    good = {"engine": bench._engine_stamp(), "proto": bench.BENCH_PROTO, "x": 1}
    stale = {"engine": "r0", "proto": bench.BENCH_PROTO, "x": 2}
    (tmp_path / "h.jsonl").write_text(
        json.dumps(good) + "\n{torn line\n42\n" + json.dumps(stale) + "\n")
    assert [h["x"] for h in bench.read_history("h.jsonl")] == [1, 2]
    assert [h["x"] for h in bench.read_history("h.jsonl", stamped=True)] == [1]


def _stub_probes(monkeypatch, make_result):
    """Replace the worker subprocess: make_result(argv) -> printed JSON or
    None (a worker that died without a result line)."""
    calls = []

    def run(cmd, **kw):
        calls.append(cmd)
        res = make_result(cmd[2:])
        out = "log noise\n" + (json.dumps(res) + "\n" if res else "")
        return types.SimpleNamespace(stdout=out, stderr="worker died",
                                     returncode=0)
    monkeypatch.setattr(bench.subprocess, "run", run)
    return calls


def _apply_result(rows):
    return {"events": 16_000_000, "wall_sec": 30.0, "events_per_sec": 5e5,
            "final_rows": rows, "batches": 4, "batch_walls": [8.0, 7.0, 7.5, 7.5],
            "cores": 32, "all_wall_sec": [31.0, 30.0]}


STAMPS = ("engine", "proto", "ts", "steal_pct", "sys_pct", "user_pct")


def test_campaign_records_are_stamped(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    calls = _stub_probes(
        monkeypatch,
        lambda a: {**_apply_result(7), "salt_buckets": int(a[3])}
        if a[0] == "--skew-probe" else _apply_result(7))
    bench.main(["--campaign", "skew"])
    assert [c[2:4] + [c[5]] for c in calls] == [
        ["--skew-probe", "32", "16"], ["--skew-probe", "32", "1"]]
    recs = [json.loads(x) for x in (tmp_path / "skew_probes.jsonl").open()]
    assert [r["salt_buckets"] for r in recs] == [16, 1]
    for r in recs:
        assert all(k in r for k in STAMPS) and bench._stamp_ok(r)
        assert r["n_events"] == 16_000_000
    assert "Hot-key skew" in (tmp_path / "BASELINE.md").read_text()

    bench.main(["--campaign", "big"])
    (rec,) = [json.loads(x) for x in (tmp_path / "probes.jsonl").open()]
    assert {k: rec[k] for k in ("n_events", "cores", "walls", "final_rows",
                                "batch_walls")} == {
        "n_events": 128_000_000, "cores": 32, "walls": [31.0, 30.0],
        "final_rows": 7, "batch_walls": [8.0, 7.0, 7.5, 7.5]}
    assert all(k in rec for k in STAMPS) and bench._stamp_ok(rec)


def test_campaign_assertion_kills_other_errors_skip(tmp_path, monkeypatch,
                                                   capsys):
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    # salted and unsalted disagree: a correctness invariant, not weather
    _stub_probes(monkeypatch, lambda a: {**_apply_result(int(a[3])),
                                         "salt_buckets": int(a[3])})
    with pytest.raises(AssertionError, match="salted != unsalted"):
        bench.campaign("skew")

    # a worker without a result line raises RuntimeError: only that step is
    # lost, the campaign goes on and still consolidates
    _stub_probes(monkeypatch, lambda a: None)
    bench.campaign("big", 2)
    out = capsys.readouterr().out
    assert out.count("FAILED: probe failed") == 2
    assert "campaign piece=big done" in out
    assert not (tmp_path / "probes.jsonl").exists()
    assert (tmp_path / "BASELINE.md").exists()


def test_index_scale_flatness_compares_within_one_batch_size(tmp_path,
                                                             monkeypatch):
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    stamp = {"engine": bench._engine_stamp(), "proto": bench.BENCH_PROTO,
             "probe_ver": 1, "bootstrap_sec": 1.0, "probe_walls": [0.5]}
    # per kind: batch 100 costs 0.2 s, batch 500 costs 1.0 s, and 10x the
    # corpus costs 10% more at either batch size
    recs = [(100, 5_000, 0.2), (500, 50_000, 1.1), (500, 5_000, 1.0),
            (100, 50_000, 0.22)]
    with open(tmp_path / "index_scale_probes.jsonl", "w") as f:
        for kind in ("lsh", "ann"):
            for bs, corpus, wall in recs:
                f.write(json.dumps({**stamp, "kind": kind, "corpus": corpus,
                                    "batch_size": bs,
                                    "batch_walls": [wall] * 3}) + "\n")
    flat = bench._index_scale_section().split("Flatness")[1]
    for kind in ("lsh", "ann"):
        for bs in (100, 500):
            assert f"{kind} (batch {bs}): 1.10x batch wall at 10x corpus" in flat
    assert "5.50x" not in flat
