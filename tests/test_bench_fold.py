"""bench.py's history fold, recorder and campaign runner — no Spark job.

`--consolidate` must rebuild the committed BENCH/BASELINE.md byte for byte
from the committed BENCH/*.jsonl histories, write it next to them whatever
the cwd, and campaign steps must stamp every record while keeping the error
policy (AssertionError kills the campaign, any other failure costs only the
step). An unknown mode exits with the list of modes instead of starting
the Spark headline run. The probe subprocess is stubbed.
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


def _apply_result(rows, cores=32):
    return {"events": 16_000_000, "wall_sec": 30.0, "events_per_sec": 5e5,
            "final_rows": rows, "batches": 2, "cores": cores,
            "all_wall_sec": [31.0, 30.0]}


STAMPS = ("engine", "proto", "ts", "steal_pct", "sys_pct", "user_pct")


def _probe_cores(argv):
    assert argv[0] == "--apply-probe"
    return int(argv[1])


def test_campaign_records_are_stamped(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "SHARED_LOG", str(tmp_path / "no_shared_log"))
    calls = _stub_probes(monkeypatch,
                         lambda a: _apply_result(7, _probe_cores(a)))
    bench.main(["--campaign", "pairs"])
    assert [c[2:4] + [c[-1]] for c in calls] == [
        ["--apply-probe", str(c), "2"] for c in (2, 8, 1, 4)]
    recs = [json.loads(x) for x in (tmp_path / "probes.jsonl").open()]
    assert [r["cores"] for r in recs] == [2, 8, 1, 4]
    for r in recs:
        assert all(k in r for k in STAMPS) and bench._stamp_ok(r)
        assert {k: r[k] for k in ("n_events", "walls", "final_rows")} == {
            "n_events": 16_000_000, "walls": [31.0, 30.0], "final_rows": 7}
    assert "local[1] → local[4]" in (tmp_path / "BASELINE.md").read_text()


def test_campaign_assertion_kills_other_errors_skip(tmp_path, monkeypatch,
                                                   capsys):
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "SHARED_LOG", str(tmp_path / "no_shared_log"))
    # the second round reaches different final rows: the consolidate fold
    # asserts one engine semantics per config, a correctness invariant, not
    # weather
    rounds = []

    def result(a):
        rounds.append(a)
        return _apply_result(7 if len(rounds) <= 4 else 8, _probe_cores(a))

    _stub_probes(monkeypatch, result)
    with pytest.raises(AssertionError, match="mixed engine semantics"):
        bench.campaign("pairs", 3)
    assert len(rounds) == 8  # the third round never ran

    # a worker without a result line raises RuntimeError: only that step is
    # lost, the campaign goes on and still consolidates
    (tmp_path / "probes.jsonl").unlink()
    _stub_probes(monkeypatch, lambda a: None)
    bench.campaign("pairs", 2)
    out = capsys.readouterr().out
    assert out.count("FAILED: probe failed") == 8
    assert "campaign piece=pairs done" in out
    assert not (tmp_path / "probes.jsonl").exists()
    assert (tmp_path / "BASELINE.md").exists()


@pytest.mark.parametrize("argv", [["--skew"], ["--writemode-probe"],
                                  ["--index-scale-probe", "32", "wd"],
                                  ["--campaign-pairs"]])
def test_unknown_mode_exits_listing_the_modes(argv, monkeypatch):
    def no_run():
        raise AssertionError("an unknown mode must not start the headline")

    monkeypatch.setattr(bench, "headline", no_run)
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    msg = str(exc.value)
    assert repr(argv[0]) in msg
    for mode in ("--scaling", "--consolidate", "--campaign", "--apply-probe"):
        assert mode in msg
