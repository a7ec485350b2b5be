"""Self-test of the benchmark at tiny sizes (about 5 minutes on 4 cores).

    python3 perfbench/selftest.py

Runs every workload end to end, untraced and traced, and checks that each
run is correct and prints exactly the metrics BENCHMARK.json names, with
their units. Then it copies the lake a bulk_replay run left behind, drops one
live row from one data file of the copy, and checks that the lake-vs-oracle
comparison accepts the original and rejects the copy. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

import run

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def run_once(workload: str, trace: int) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "3", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    problems = [] if p.returncode == 0 else [f"exit code {p.returncode}: {p.stderr[-800:]}"]
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {}, problems + ["no result line"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: missing "
                        f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"unit mismatches {[k for k in want if k in got and got[k] != want[k]]}")
    if not res.get("correct") or res.get("failed") or res.get("attempted", 0) < 1:
        problems.append(f"run not correct: {lines[-1][:300]}")
    return res, problems


def corrupted_lake_rejected() -> list[str]:
    """Uses the lake and log the last bulk_replay run left in the work root."""
    from change_data_capturer_ms_spark.lake.table import LakeTable

    replays = sorted(d for d in os.listdir(run.WORK) if d.startswith("replay"))
    src = os.path.join(run.WORK, replays[-1], "table")
    bad = os.path.join(run.WORK, "corrupt", "table")
    shutil.rmtree(os.path.dirname(bad), ignore_errors=True)
    shutil.copytree(src, bad)
    spark = run.start_spark(False)
    try:
        table = LakeTable(spark, bad, key_cols=run.KEY_COLS)
        for f in table.manifest().files:
            path = os.path.join(bad, f.path)
            t = pq.read_table(path)
            live = pc.indices_nonzero(pc.not_equal(t["_last_op"], "delete")).to_pylist()
            if live:
                keep = [i for i in range(t.num_rows) if i != live[0]]
                pq.write_table(t.take(keep), path)
                # the stale Hadoop checksum sidecar would fail the read instead
                crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                break
        log_dir = os.path.join(run.WORK, "log")
        ok_src, _ = run.oracle.check_lake(LakeTable(spark, src, key_cols=run.KEY_COLS),
                                          log_dir, validated=False)
        ok_bad, mm = run.oracle.check_lake(table, log_dir, validated=False)
    finally:
        run.stop_spark(spark)
    problems = []
    if not ok_src:
        problems.append("the intact lake failed the oracle check")
    if ok_bad or mm["only_oracle"] != 1:
        problems.append(f"the lake with one row dropped was not rejected: {mm}")
    return problems


def main() -> int:
    failures = {}
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            _, problems = run_once(workload, trace)
            if problems:
                failures[f"{workload} trace={trace}"] = problems
            print(f"{'ok  ' if not problems else 'FAIL'} {workload} trace={trace}", flush=True)
            if workload == "bulk_replay" and trace == 0:
                problems = corrupted_lake_rejected()
                if problems:
                    failures["corrupted lake"] = problems
                print(f"{'ok  ' if not problems else 'FAIL'} corrupted lake rejected",
                      flush=True)
    for name, problems in failures.items():
        print(f"{name}: " + "; ".join(problems))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
