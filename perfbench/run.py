"""The repository benchmark: one command per workload, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for every metric's definition per workload):

- bulk_replay   closed loop, one client: repeated `CDCPipeline.run_stream`
                (availableNow) replays of a pre-generated log from an empty
                checkpoint, each followed by lake reads.
- trickle_serve open loop: a generator thread lands small change files on a
                fixed schedule while one consumer calls `run_batch()` back to
                back and reads the lake after every commit.

The run prints a diagnostics JSON line, then as its last line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 spans are recorded around the engine's
public entry points, the Spark event log is on, and the metrics are per layer.
Spark runs on local[nproc] with driver memory sized from MemTotal; everything
the run writes stays under the checkout's `.perfbench_work/`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HISTORY = os.path.join(ROOT, ".perfbench_history")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer, fold_event_log, median, python_worker_peak_rss_mb  # noqa: E402

WORKLOADS = ("bulk_replay", "trickle_serve")
KEY_COLS = ["repo", "path"]
SETUP_REPEATS = 3
# lake reads (one lookup_many and one read_incremental each) after every
# replay / commit; repeated for more samples per run.
READS = {"bulk_replay": 8, "trickle_serve": 2}

# Input sizes. "tiny" is for perfbench/selftest.py only. bulk_replay warms up
# on its full log: after a smaller one the first measured replay still ran
# ~40% slower than the next.
SIZES = {
    "full": {
        "bulk_events": 60_000, "bulk_files": 8, "bulk_files_per_trigger": 4,
        "bulk_repos": 400,
        "base_events": 20_000, "base_repos": 800, "trickle_interval_s": 0.05,
        "trickle_file_events": 50, "bad_frac": 0.01,
        "lookup_keys": 20, "n_buckets": 16,
    },
    "tiny": {
        "bulk_events": 6_000, "bulk_files": 6, "bulk_files_per_trigger": 2,
        "bulk_repos": 20,
        "base_events": 4_000, "base_repos": 40, "trickle_interval_s": 0.25,
        "trickle_file_events": 20, "bad_frac": 0.02,
        "lookup_keys": 20, "n_buckets": 8,
    },
}

END_TO_END_UNITS = {
    "setup_s": "s", "apply_events_per_s": "events/s", "freshness_s_p50": "s",
    "freshness_s_p90": "s", "lookup_s_p50": "s", "incremental_read_s_p50": "s",
    "lake_bytes_per_event": "bytes/event",
}


# -- host ---------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of the host's memory, clamped to [1 GB, 8 GB]: local mode runs
    driver and executors in one JVM, and the host is shared."""
    return max(1024, min(8192, host_mem_mb() // 4))


def cpu_sample() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def weather(before: tuple[int, int]) -> dict:
    steal, total = cpu_sample()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    dt = max(total - before[1], 1)
    return {"steal_pct": round(100.0 * (steal - before[0]) / dt, 2), "loadavg_1m": load1}


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(d, name))
            except OSError:
                pass
    return total


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- Spark ----------------------------------------------------------------------

def start_spark(trace: bool):
    cores = host_cores()
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import the engine from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{driver_mem_mb()}m",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp "
                                         f"-Dderby.system.home={WORK}/tmp",
        "spark.sql.ui.retainedExecutions": "20",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                     "spark.eventLog.compress": "false"})
    from change_data_capturer_ms_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return  # already stopped
    spark.stop()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


# -- run context ----------------------------------------------------------------

class Run:
    def __init__(self, args, size: dict):
        self.args = args
        self.size = size
        self.seed = args.seed
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.diag: dict = {"workload": args.workload, "seed": args.seed,
                           "cores": host_cores(), "driver_mem_mb": driver_mem_mb()}
        self.tracer = Tracer(False)
        self.unit_walls: list[float] = []

    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:
            self.failed += 1
            log(f"FAILED {what}: {type(e).__name__}: {str(e)[:400]}")
            return None

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED {name}: {detail}")
        if detail is not None:
            self.diag.setdefault("check_detail", {})[name] = detail


def end_measure(run: Run, t_measure: float) -> None:
    """Close the measured window; traced runs stop recording spans here, so
    the correctness checks that follow do not count in any layer."""
    run.measure_window = (t_measure, time.perf_counter())
    run.diag["measure_s"] = round(run.measure_window[1] - t_measure, 3)
    run.diag["measure_end_epoch"] = time.time()
    run.tracer.uninstall()
    run.tracer.enabled = False


def another_fits(t_measure: float, done: int, seconds: float) -> bool:
    """Whether one more unit of work, at this run's mean unit wall so far,
    ends inside the measured window. The first unit always runs."""
    elapsed = time.perf_counter() - t_measure
    return done == 0 or elapsed + elapsed / done <= seconds


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t


def setup_median(run: Run, fn) -> tuple[float, object]:
    """Run an input-generation step SETUP_REPEATS times; median wall and the
    last result (every repeat writes the same bytes)."""
    walls, out = [], None
    for _ in range(SETUP_REPEATS):
        out, w = timed(fn)
        walls.append(w)
    run.diag["gen_walls_s"] = [round(w, 3) for w in walls]
    return statistics.median(walls), out


def sample_keys(log_paths: list[str], n: int, seed: int) -> list[dict]:
    """A fixed pseudo-random sample of (repo, path) keys present in the log."""
    import duckdb
    files = ", ".join(f"'{p}'" for p in log_paths)
    rows = duckdb.sql(
        f"SELECT DISTINCT repo, path FROM read_parquet([{files}], union_by_name=true) "
        f"ORDER BY hash(repo || '/' || path || '{seed}') LIMIT {n}").fetchall()
    return [{"repo": r, "path": p} for r, p in rows]


def make_pipeline(spark, log_dir: str, table_dir: str, ckpt: str, size: dict,
                  service: bool):
    """The engine as a user configures it. `service` adds the full service
    configuration: validation + DLQ, drift monitor and a JSON queue sink."""
    from change_data_capturer_ms_spark.config import EngineConfig
    from change_data_capturer_ms_spark.lake.table import LakeTable
    from change_data_capturer_ms_spark.queue import JsonQueueSink
    from change_data_capturer_ms_spark.streaming import CDCPipeline

    table = LakeTable(spark, table_dir, key_cols=KEY_COLS, n_buckets=size["n_buckets"])
    extra = {}
    if service:
        extra = {"quarantine_dir": os.path.join(WORK, "dlq"),
                 "queue_sink": JsonQueueSink(spark, os.path.join(WORK, "queue")),
                 "monitor_cols": ["lang", "op"]}
    return CDCPipeline(spark, log_dir, table, ckpt,
                       cfg=EngineConfig(n_buckets=size["n_buckets"]),
                       collect_lineage=True, flatten_props=True, **extra)


def read_lake(run: Run, table, keys: list[dict], since_version: int | None,
              lookups: list, incrs: list, repeat: int = 1) -> None:
    """The reads a lake consumer issues after a commit, `repeat` times: a
    batched point lookup and the incremental read since `since_version`,
    both materialised. Their walls are appended to `lookups` and `incrs`."""
    tr = run.tracer

    def lookup():
        with tr.span("bench.lookup"):
            return table.lookup_many(keys).collect()

    def incremental():
        with tr.span("bench.incremental"):
            return table.read_incremental(since_version).toArrow()

    for _ in range(repeat):
        t = run.attempt("lookup_many", timed, lookup)
        if t:
            lookups.append(t[1])
        t = run.attempt("read_incremental", timed, incremental)
        if t:
            incrs.append(t[1])


def read_walls(lookups: list, incrs: list) -> dict:
    return {"lookup": [round(w, 3) for w in lookups],
            "incremental": [round(w, 3) for w in incrs]}


def check_redelivery(run: Run, pipe, batch_df, batch_id) -> None:
    """Redeliver a committed batch under its id: it must be skipped and leave
    the table's snapshot unchanged."""
    before = pipe.table.manifest()
    res = run.attempt("redeliver", pipe.apply_batch, batch_df, batch_id) or {}
    after = pipe.table.manifest()
    same = (after.version == before.version
            and sorted(f.path for f in after.files) == sorted(f.path for f in before.files))
    run.check("redelivery_skipped", bool(res.get("skipped")) and same,
              {"batch_id": str(batch_id), "skipped": res.get("skipped"),
               "version_before": before.version, "version_after": after.version})


# -- workloads ------------------------------------------------------------------

def bulk_replay(run: Run, spark, setup_t: float) -> dict:
    sz = run.size
    log_dir = os.path.join(WORK, "log")
    n_files = sz["bulk_files"]

    def gen_log():
        shutil.rmtree(log_dir, ignore_errors=True)
        return gen.write_log(log_dir, run.seed, sz["bulk_events"], n_files,
                             sz["bulk_repos"], evolve_at_file=n_files // 2)

    gen_s, paths = setup_median(run, gen_log)
    run.diag["input_digest"] = gen.digest(paths)
    counts = oracle.log_counts(log_dir)
    n_events = counts["events"]
    file_max_seq = [(i + 1) * (n_events // n_files) - 1 for i in range(n_files)]
    keys = sample_keys(paths, sz["lookup_keys"], run.seed)

    def replay(name: str):
        """One availableNow replay of the log from an empty checkpoint.
        Returns (pipeline, start, wall, [(return time, apply result)], ok)."""
        rep_dir = os.path.join(WORK, name)
        pipe = make_pipeline(spark, log_dir, os.path.join(rep_dir, "table"),
                             os.path.join(rep_dir, "ckpt"), sz, service=False)
        returns = []
        apply = pipe.apply_batch

        def timed_apply(df, bid):
            out = apply(df, bid)
            returns.append((time.perf_counter(), out))
            return out

        pipe.apply_batch = timed_apply
        failed_before = run.failed
        t0 = time.perf_counter()
        with run.tracer.span("bench.replay"):
            run.attempt("run_stream", pipe.run_stream,
                        max_files_per_trigger=sz["bulk_files_per_trigger"])
        wall = time.perf_counter() - t0
        del pipe.apply_batch
        return pipe, t0, wall, returns, run.failed == failed_before

    # warm-up: one replay of the log, then the reads
    t = time.perf_counter()
    pipe = replay("warmup")[0]
    read_lake(run, pipe.table, keys, pipe.table.manifest().version - 1, [], [])
    warm_s = time.perf_counter() - t
    setup_s = setup_t + gen_s + warm_s
    run.diag["setup_parts_s"] = {"session": round(setup_t, 3), "gen": round(gen_s, 3),
                                 "warmup": round(warm_s, 3)}

    install_spans(run)
    rates, fresh50, fresh90, lookups, incrs, bytes_per_ev = [], [], [], [], [], []
    batch_walls = []  # from the return time of each apply call
    t_measure = time.perf_counter()
    i = 0
    while another_fits(t_measure, i, run.args.seconds):
        shutil.rmtree(os.path.dirname(pipe.table.path), ignore_errors=True)
        pipe, t0, wall, returns, ok = replay(f"replay{i}")
        if ok:
            rates.append(n_events / wall)
            run.unit_walls.append(wall)
            prev = t0
            for ret, out in returns:
                batch_walls.append(round(ret - prev, 3))
                prev = ret
            fresh = []
            for hi in file_max_seq:
                done = [ret for ret, out in returns
                        if (out.get("metrics") or {}).get("max_seq", -1) >= hi]
                if done:
                    fresh.append(done[0] - t0)
            fresh50.append(median(fresh))
            fresh90.append(p90(fresh))
            bytes_per_ev.append(du(pipe.table.path) / n_events)
        read_lake(run, pipe.table, keys, pipe.table.manifest().version - 1,
                  lookups, incrs, repeat=READS["bulk_replay"])
        i += 1
    end_measure(run, t_measure)
    run.diag["replays"] = i
    run.diag["replay_walls_s"] = [round(w, 3) for w in run.unit_walls]
    run.diag["batch_walls_s"] = batch_walls
    run.diag["events_per_replay"] = n_events
    run.diag["read_walls_s"] = read_walls(lookups, incrs)

    # correctness (untimed)
    ok, mm = oracle.check_lake(pipe.table, log_dir, validated=False)
    run.check("final_state_matches_oracle", ok, mm)
    lease = pipe.current_lease() or {}
    lo = min((p["first_seq"] for p in lease.get("lineage") or []), default=0)
    check_redelivery(run, pipe, pipe.reader.read_batch(after_seq=lo - 1),
                     lease.get("batch_id"))
    return {
        "setup_s": setup_s,
        "apply_events_per_s": median(rates),
        "freshness_s_p50": median(fresh50),
        "freshness_s_p90": median(fresh90),
        "lookup_s_p50": median(lookups),
        "incremental_read_s_p50": median(incrs),
        "lake_bytes_per_event": median(bytes_per_ev),
    }


def trickle_serve(run: Run, spark, setup_t: float) -> dict:
    sz = run.size
    log_dir = os.path.join(WORK, "log")
    stage_dir = os.path.join(WORK, "staging")
    interval = sz["trickle_interval_s"]
    n_trickle = int(math.ceil(run.args.seconds / interval))
    n_warm = 2  # files in the one warm-up commit
    per = sz["trickle_file_events"]
    base_n = sz["base_events"]

    def gen_inputs():
        for d in (log_dir, stage_dir):
            shutil.rmtree(d, ignore_errors=True)
        base = gen.write_log(log_dir, run.seed, base_n, 4, sz["base_repos"],
                             bad_frac=sz["bad_frac"])
        staged = gen.write_log(stage_dir, run.seed, (n_warm + n_trickle) * per,
                               n_warm + n_trickle, sz["base_repos"], start_seq=base_n,
                               prefix="trickle", bad_frac=sz["bad_frac"])
        return base, staged

    gen_s, (base_paths, staged) = setup_median(run, gen_inputs)
    run.diag["input_digest"] = gen.digest(base_paths + staged)
    keys = sample_keys(base_paths, sz["lookup_keys"], run.seed)
    landing = [os.path.join(log_dir, os.path.relpath(p, stage_dir)) for p in staged]
    file_max_seq = [base_n + (i + 1) * per - 1 for i in range(len(staged))]

    def land(i):
        os.makedirs(os.path.dirname(landing[i]), exist_ok=True)
        os.rename(staged[i], landing[i])  # atomic: readers see all of it or none

    # base table and warm-up (untimed by the measure, counted in setup_s)
    t = time.perf_counter()
    pipe = make_pipeline(spark, log_dir, os.path.join(WORK, "table"),
                         os.path.join(WORK, "ckpt"), sz, service=True)
    applied = []  # the result of every apply call
    applied.append(pipe.run_batch())
    base_s = time.perf_counter() - t
    t = time.perf_counter()
    for i in range(n_warm):
        land(i)
    v = pipe.table.manifest().version
    before = du(pipe.table.path)
    applied.append(pipe.run_batch())
    warm_growth = du(pipe.table.path) - before
    read_lake(run, pipe.table, keys, v, [], [])
    warm_s = time.perf_counter() - t
    setup_s = setup_t + gen_s + base_s + warm_s
    run.diag["setup_parts_s"] = {"session": round(setup_t, 3), "gen": round(gen_s, 3),
                                 "base_build": round(base_s, 3), "warmup": round(warm_s, 3)}

    install_spans(run)
    lake_start = du(pipe.table.path)
    sched = [None] * len(staged)
    landed_at = [None] * len(staged)
    covered_at = [None] * len(staged)
    lock = threading.Lock()
    t_measure = time.perf_counter()

    def generator():
        for k, i in enumerate(range(n_warm, len(staged))):
            due = t_measure + k * interval
            time.sleep(max(0.0, due - time.perf_counter()))
            land(i)
            with lock:
                sched[i], landed_at[i] = due, time.perf_counter()

    gen_thread = threading.Thread(target=generator, name="perfbench-generator")
    gen_thread.start()
    applies, lookups, incrs, events_applied = [], [], [], 0
    files_per_batch = []
    backlog_at_end = None
    last_call = None
    drain_calls = 0
    while True:
        with lock:
            pending = [i for i in range(n_warm, len(staged))
                       if landed_at[i] is not None and covered_at[i] is None]
        alive = gen_thread.is_alive()
        if not alive and backlog_at_end is None:
            backlog_at_end = len(pending)
        if not pending:
            if not alive:
                break
            time.sleep(0.005)  # nothing new yet: a run_batch now would commit nothing
            continue
        if not alive:
            drain_calls += 1
            if drain_calls > 5:
                break
        v = pipe.table.manifest().version
        lease = pipe.table.lease()
        t0 = time.perf_counter()
        with run.tracer.span("bench.apply"):
            res = run.attempt("run_batch", pipe.run_batch)
        t_ret = time.perf_counter()
        if res is None:
            continue
        applies.append(t_ret - t0)
        applied.append(res)
        last_call = (lease.get("lease"), res.get("batch_id"))
        hi = (res.get("metrics") or {}).get("max_seq", -1)
        n_cov = 0
        with lock:  # files that landed after `pending` was taken may be in it too
            for i in range(n_warm, len(staged)):
                if (landed_at[i] is not None and covered_at[i] is None
                        and file_max_seq[i] <= hi):
                    covered_at[i] = t_ret
                    n_cov += 1
        files_per_batch.append(n_cov)
        events_applied += (res.get("metrics") or {}).get("rows", 0)
        read_lake(run, pipe.table, keys, v, lookups, incrs, repeat=READS["trickle_serve"])
    gen_thread.join()
    end_measure(run, t_measure)
    run.unit_walls = applies
    fresh = [covered_at[i] - sched[i] for i in range(n_warm, len(staged))
             if covered_at[i] is not None and sched[i] is not None]
    late = [landed_at[i] - sched[i] for i in range(n_warm, len(staged))
            if sched[i] is not None]
    lateness_p90, lateness_max = p90(late), max(late, default=0.0)
    flags = []
    if lateness_p90 > interval:
        flags.append("generator_late")
    if backlog_at_end is not None and backlog_at_end > 2 * max(median(files_per_batch), 1):
        flags.append("backlog")
    if len(fresh) < n_trickle:
        flags.append("uncovered_files")
    for f in flags:
        log(f"FLAG {f}: this run's open-loop schedule was not met")
    run.diag.update({
        "files_landed": n_trickle, "files_covered": len(fresh),
        "batches": len(applies), "batch_walls_s": [round(w, 3) for w in applies],
        "files_per_batch_p50": median(files_per_batch),
        "generator_lateness_s": {"p90": round(lateness_p90, 4),
                                 "max": round(lateness_max, 4)},
        "backlog_files_at_end": backlog_at_end, "flags": flags,
        "offered_events_per_s": per / interval,
        "read_walls_s": read_walls(lookups, incrs),
        "timed_lake_bytes_per_event": (du(pipe.table.path) - lake_start)
        / max(events_applied, 1),
    })

    # correctness (untimed)
    ok, mm = oracle.check_lake(pipe.table, log_dir, validated=True)
    run.check("final_state_matches_oracle", ok, mm)
    counts = oracle.log_counts(log_dir)
    if last_call is not None:
        after, bid = last_call
        after = int(after) if after not in (None, "") else None
        check_redelivery(run, pipe, pipe.reader.read_batch(after_seq=after), bid)
    committed = [str(r["batch_id"]) for r in applied if r and not r.get("skipped")]
    markers = pipe.queue_sink.committed_batches()
    run.check("queue_one_envelope_set_per_batch",
              sorted(str(m["batch_id"]) for m in markers) == sorted(committed)
              and sum(m["rows"] for m in markers) == counts["events"] - counts["invalid"],
              {"markers": len(markers), "committed_batches": len(committed),
               "queued_rows": sum(m["rows"] for m in markers),
               "valid_events": counts["events"] - counts["invalid"]})
    dlq_rows = spark.read.parquet(pipe.quarantine_dir).count()
    run.check("dlq_holds_invalid_events", dlq_rows == counts["invalid"],
              {"dlq_rows": dlq_rows, "invalid_events": counts["invalid"]})
    return {
        "setup_s": setup_s,
        "apply_events_per_s": events_applied / max(sum(applies), 1e-9),
        "freshness_s_p50": median(fresh),
        "freshness_s_p90": p90(fresh),
        "lookup_s_p50": median(lookups),
        "incremental_read_s_p50": median(incrs),
        # over the warm-up commit of n_warm files: in the timed window the
        # batch sizes follow the host's speed, and under copy-on-write (every
        # commit rewrites the touched buckets) so does the growth per event
        "lake_bytes_per_event": warm_growth / (n_warm * per),
    }


# -- tracing ----------------------------------------------------------------------

def install_spans(run: Run) -> None:
    """Traced runs: wrap the engine's public entry points in spans."""
    if not run.args.trace:
        return
    tr = run.tracer
    tr.enabled = True  # spans from here to end_measure() only
    import change_data_capturer_ms_spark.functions.validate as validate
    from change_data_capturer_ms_spark.lake.manifest import ManifestStore
    from change_data_capturer_ms_spark.lake.table import LakeTable
    from change_data_capturer_ms_spark.queue.queue_json import JsonQueueSink
    from change_data_capturer_ms_spark.sources.changelog import ChangeLogReader
    from change_data_capturer_ms_spark.streaming.pipeline import CDCPipeline

    load = ManifestStore.load  # unwrapped: the hooks below must not add spans

    def merge_counts(attrs, args, kwargs, out):
        if not out or out.get("skipped"):
            return
        store = args[0].store
        new = load(store, out["version"])
        old = load(store, new.parent) if new.parent is not None else None
        old_paths = {f.path for f in old.files} if old else set()
        written = [f for f in new.files if f.path not in old_paths]
        affected = {f.bucket for f in written}
        attrs.update({
            "files_written": len(written),
            "bytes_written": sum(f.bytes for f in written),
            "existing_read_bytes": sum(f.bytes for f in (old.files if old else [])
                                       if f.bucket in affected
                                       and new.write_mode != "mor"),
            "buckets_rewritten": out["metrics"].get("buckets_rewritten", 0),
        })

    def files_frac(attrs, args, kwargs, out):
        live = len(load(args[0].store).files)
        attrs["files_frac"] = len(out.inputFiles()) / live if live else 0.0

    def produce_bytes(attrs, args, kwargs, out):
        sink = args[0]
        bid = kwargs.get("batch_id", args[2] if len(args) > 2 else None)
        src = kwargs.get("source_id", args[3] if len(args) > 3 else "cdc")
        if not out.get("skipped"):
            attrs["bytes"] = du(os.path.join(sink.path, "data", f"{src}__{bid}"))

    tr.wrap(CDCPipeline, "run_stream", "pipeline.run_stream")
    tr.wrap(CDCPipeline, "run_batch", "pipeline.run_batch")
    tr.wrap(CDCPipeline, "apply_batch", "pipeline.apply_batch")
    tr.wrap(ChangeLogReader, "read_batch", "sources.read_batch")
    tr.wrap(LakeTable, "merge", "lake.merge", after=merge_counts)
    tr.wrap(LakeTable, "read", "lake.read")
    tr.wrap(LakeTable, "lookup_many", "lake.lookup_many", after=files_frac)
    tr.wrap(LakeTable, "read_incremental", "lake.read_incremental", after=files_frac)
    tr.wrap(ManifestStore, "load", "lake.manifest_load")
    tr.wrap(ManifestStore, "commit", "lake.commit")
    tr.wrap(JsonQueueSink, "produce", "queue.produce", after=produce_bytes)
    tr.wrap(validate, "validate_batch", "functions.validate_batch")
    run.diag["trace_installed_at"] = time.time()


def layer_metrics(run: Run, spark) -> dict:
    tr = run.tracer
    window = (run.diag["trace_installed_at"], run.diag["measure_end_epoch"])
    rss = python_worker_peak_rss_mb()
    stop_spark(spark)  # flushes and closes the event log
    log_path = os.path.join(WORK, "log")
    fold = fold_event_log(os.path.join(WORK, "eventlog"), tr, window, log_path, KEY_COLS)
    jobs = fold["jobs"]
    lay = fold["layers"]

    def durs(name):
        return [tr.duration(s) for s in tr.named(name)]

    def attr(name, key):
        return [s["attrs"][key] for s in tr.named(name) if key in s["attrs"]]

    applies = tr.named("pipeline.apply_batch")
    per_apply = {}
    for s in applies:
        ids = tr.descendants(s["id"]) | {s["id"]}
        mine = [j for j in jobs.values() if j["span"] in ids]
        per_apply[s["id"]] = mine

    def apply_jobs(kind):
        return [sum(j["wall_s"] for j in js if j["kind"] == kind) for js in per_apply.values()]

    n_units = max(len(applies), 1)
    out = {
        "sources.read_batch_s": median(durs("sources.read_batch")),
        "sources.scan_bytes": fold["scan_bytes"],
        "sources.scan_task_s": fold["scan_task_s"],
        "functions.udf_rows": lay.get("udf:number of output rows", 0.0),
        "functions.udf_bytes_sent": lay.get("udf:data sent to Python workers", 0.0),
        "functions.udf_task_s": fold["udf_task_s"],
        "functions.udf_worker_rss_mb": rss,
        "functions.validate_s": median(durs("functions.validate_batch")),
        "operators.salt_shuffle_bytes": lay.get("salt_exchange:shuffle bytes written", 0.0),
        "operators.lww_shuffle_bytes": lay.get("lww_exchange:shuffle bytes written", 0.0),
        "operators.spill_bytes": fold["spill_bytes"],
        "operators.shuffle_skew": fold["shuffle_skew"],
    }
    out.update({
        "lake.merge_s": median(durs("lake.merge")),
        "lake.existing_read_bytes": median(attr("lake.merge", "existing_read_bytes")),
        "lake.bytes_written": median(attr("lake.merge", "bytes_written")),
        "lake.files_written": median(attr("lake.merge", "files_written")),
        "lake.buckets_rewritten": median(attr("lake.merge", "buckets_rewritten")),
        "lake.manifest_load_n": len(tr.named("lake.manifest_load")) / n_units,
        "lake.manifest_load_s": sum(durs("lake.manifest_load")) / n_units,
        "lake.commit_s": median(durs("lake.commit")),
        "lake.lookup_files_opened_frac": median(attr("lake.lookup_many", "files_frac")),
        "lake.incremental_files_opened_frac": median(
            attr("lake.read_incremental", "files_frac")),
        "pipeline.apply_batch_s": median(tr.duration(s) for s in applies),
        "pipeline.self_s": median(tr.self_time(s) for s in applies),
        "pipeline.planning_s": median(apply_jobs("planning")),
        "pipeline.dlq_append_s": median(apply_jobs("dlq_append")),
        "pipeline.monitor_s": median(apply_jobs("monitor")),
        "pipeline.jobs_per_batch": median(len(js) for js in per_apply.values()),
        "queue.produce_s": median(durs("queue.produce")),
        "queue.bytes_written": median(attr("queue.produce", "bytes")),
        "spark.gc_s": fold["gc_s"],
        "spark.tasks": float(fold["tasks"]),
    })
    wall = run.measure_window[1] - run.measure_window[0]
    top = [s for s in tr.spans if s["parent"] is None and s["end"] is not None
           and s["name"].startswith("bench.")]
    out["trace.span_coverage"] = sum(tr.duration(s) for s in top) / wall if wall else 0.0
    unit = median(run.unit_walls)
    base = untraced_unit_wall(run.args)
    out["trace.unit_wall_s"] = unit
    out["trace.overhead_frac"] = (unit / base - 1.0) if base else 0.0
    run.diag["trace_baseline_unit_wall_s"] = base
    tr.dump(os.path.join(WORK, "trace", "spans.json"),
            {str(k): {kk: vv for kk, vv in v.items() if kk != "stages"}
             for k, v in jobs.items()})
    return out


def _history_path(args) -> str:
    return os.path.join(HISTORY, f"{args.workload}-{args.size}-{args.seconds:g}s.json")


def untraced_unit_wall(args) -> float | None:
    """Median unit-of-work wall (replay / apply call) of the
    recent untraced runs of this workload, size and length in this checkout."""
    path = _history_path(args)
    try:
        with open(path) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        return None
    return statistics.median(hist) if hist else None


def record_untraced_unit_wall(args, unit: float) -> None:
    os.makedirs(HISTORY, exist_ok=True)
    path = _history_path(args)
    try:
        with open(path) as f:
            hist = json.load(f)
    except (OSError, ValueError):
        hist = []
    with open(path, "w") as f:
        json.dump((hist + [unit])[-10:], f)


# -- main ---------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    try:
        import change_data_capturer_ms_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine is not importable from {ROOT}: {e}")
        return 2

    shutil.rmtree(WORK, ignore_errors=True)  # one work root, wiped in setup
    run = Run(args, SIZES[args.size])
    cpu0 = cpu_sample()
    t = time.perf_counter()
    spark = start_spark(bool(args.trace))
    session_s = time.perf_counter() - t
    run.tracer = Tracer(False, spark.sparkContext)
    try:
        metrics = {"bulk_replay": bulk_replay,
                   "trickle_serve": trickle_serve}[args.workload](run, spark, session_s)
        run.diag["weather"] = weather(cpu0)
        run.diag["failed_frac"] = run.failed / max(run.attempted, 1)
        run.diag["checks"] = run.checks
        if args.trace:
            out = layer_metrics(run, spark)
            units = {k: layer_unit(k) for k in out}
        else:
            run.diag["unit_wall_s"] = median(run.unit_walls)
            record_untraced_unit_wall(args, median(run.unit_walls))
            out, units = metrics, END_TO_END_UNITS
        run.diag["end_to_end"] = {k: round(v, 6) for k, v in metrics.items()}
    finally:
        stop_spark(spark)
    run.diag["process_s"] = round(time.perf_counter() - t, 3)
    print(json.dumps({"diagnostics": run.diag}, default=str))
    correct = run.failed == 0 and all(run.checks.values())
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items()},
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_sent") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("frac") or name.endswith("coverage") or name.endswith("skew"):
        return "ratio"
    if name.endswith("udf_rows"):
        return "rows"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
