"""Tracing for the traced run: spans around the engine's public entry points,
recorded from the benchmark's own code, plus a fold of the Spark event log.

A span is {id, name, parent, start, end, attrs}. Spans live in memory and are
written out once at the end. Each span sets the Spark job group to its id, so
the jobs it launches are attributed to it; a job with no group is attributed
to the innermost span open at its submission time. Task metrics from the event
log are folded into those spans, and into layers by physical-plan node:
ArrowEvalPython (the Arrow UDFs), the salted and LWW exchanges, and scans of
the change log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time

PYTHON_WORKER_MARKERS = ("pyspark.daemon", "pyspark.worker", "pyspark/daemon",
                         "pyspark/worker")


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Tracer:
    """Span recorder; with enabled=False every method is a cheap no-op."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"], name)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._set_group(parent["id"], parent["name"])
            elif self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _set_group(self, sid: int, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace `owner.attr` with a span-recording wrapper; `after(attrs,
        args, kwargs, result)` runs once the span has closed, to add counts."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                out = orig(*args, **kwargs)
            if after is not None:
                after(attrs, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived views ---------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children(s["id"]), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return self.duration(s) - covered

    def descendants(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            for c in self.children(todo.pop()):
                out.add(c["id"])
                todo.append(c["id"])
        return out

    def dump(self, path: str, jobs: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": jobs or {}}, f, default=str)


# -- Spark event log ------------------------------------------------------------

_HASHPART = re.compile(r"hashpartitioning\(([^)]*)\)")


def _exchange_kind(simple: str, key_cols: list[str]) -> str | None:
    m = _HASHPART.search(simple)
    if not m:
        return None
    names = [re.sub(r"#\d+L?$", "", a.strip()) for a in m.group(1).split(",")][:-1]
    if "_salt" in names:
        return "salt_exchange"
    if names == key_cols:
        return "lww_exchange"
    return None


LOG_COLS = {"seq", "token", "op", "commit", "content"}


def _is_log_scan(name: str, node: dict, log_path: str) -> bool:
    """A file scan of the change log, or the RDD scan that stands for it in a
    streaming micro-batch (`foreachBatch` hands the engine an RDD-backed frame
    whose tasks read the log files)."""
    simple = node.get("simpleString", "")
    if name == "Scan ExistingRDD":
        return LOG_COLS <= set(re.findall(r"(\w+)#\d+", simple))
    return log_path in simple + json.dumps(node.get("metadata", {}))


def _walk(info: dict, out: list) -> None:
    out.append(info)
    for c in info.get("children", []):
        _walk(c, out)


def fold_event_log(log_dir: str, spans: Tracer, window: tuple[float, float],
                   log_path: str, key_cols: list[str]) -> dict:
    """Parse the Spark event log and fold task metrics into jobs, stages,
    spans and plan-node layers. Only jobs submitted inside `window` (epoch
    seconds) count."""
    # Spark 4 writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted((p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                    if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")),
                   key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)])
    acc_kind: dict[int, tuple[str, str]] = {}   # accumulator id -> (kind, metric)
    exec_text: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    eid = int(ev["executionId"])
                    exec_text[eid] = exec_text.get(eid, "") + ev.get("physicalPlanDescription", "")
                    nodes: list = []
                    _walk(ev["sparkPlanInfo"], nodes)
                    for n in nodes:
                        name, simple = n.get("nodeName", ""), n.get("simpleString", "")
                        k = None
                        if "ArrowEvalPython" in name:
                            k = "udf"
                        elif name == "Exchange":
                            k = _exchange_kind(simple, key_cols)
                        elif name.startswith("Scan") and _is_log_scan(name, n, log_path):
                            k = "log_scan"
                        if k:
                            for mt in n.get("metrics", []):
                                acc_kind[int(mt["accumulatorId"])] = (k, mt["name"])
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = int(ev["Job ID"])
                    group = props.get("spark.jobGroup.id") or ""
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0, "end": None,
                        "exec": int(props["spark.sql.execution.id"])
                        if props.get("spark.sql.execution.id") else None,
                        "span": int(group[5:]) if group.startswith("span-") else None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[int(sid)] = jid
                elif kind == "SparkListenerJobEnd":
                    jid = int(ev["Job ID"])
                    if jid in jobs:
                        jobs[jid]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    tasks.append({
                        "stage": int(ev["Stage ID"]),
                        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                        "spill": tm.get("Disk Bytes Spilled", 0),
                        "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "acc": [(int(a["ID"]), a.get("Update")) for a in ti.get("Accumulables", [])
                                if "Update" in a],
                    })
    jobs = {j: v for j, v in jobs.items() if window[0] <= v["submit"] <= window[1]}
    # jobs without a span group: innermost span open at submission
    for v in jobs.values():
        if v["span"] is None or v["span"] >= len(spans.spans):
            best = None
            for s in spans.spans:
                if s["end"] is not None and s["start"] <= v["submit"] <= s["end"]:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            v["span"] = best["id"] if best else None
        v["kind"] = _job_kind(exec_text.get(v["exec"], ""))
        v["wall_s"] = (v["end"] or v["submit"]) - v["submit"]

    layers: dict[str, float] = {}
    stage_kinds: dict[int, set] = {}
    stage_tasks: dict[int, list] = {}
    for t in tasks:
        if stage_job.get(t["stage"]) not in jobs:
            continue
        stage_tasks.setdefault(t["stage"], []).append(t)
        for aid, upd in t["acc"]:
            if aid in acc_kind:
                k, metric = acc_kind[aid]
                stage_kinds.setdefault(t["stage"], set()).add(k)
                try:
                    layers[f"{k}:{metric}"] = layers.get(f"{k}:{metric}", 0.0) + float(upd)
                except (TypeError, ValueError):
                    pass
    for jid, v in jobs.items():
        ts = [t for s in v["stages"] for t in stage_tasks.get(s, [])]
        v["tasks"] = len(ts)
        v["task_s"] = sum(t["run_s"] for t in ts)
        v["shuffle_write"] = sum(t["shuffle_write"] for t in ts)
        v["stage_n"] = sum(1 for s in v["stages"] if s in stage_tasks)
    all_tasks = [t for ts in stage_tasks.values() for t in ts]

    def stages_with(kind):
        return [s for s, ks in stage_kinds.items() if kind in ks]

    skew = []
    for s in stages_with("udf"):
        runs = [t["run_s"] for t in stage_tasks[s]]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skew.append(max(runs) / statistics.median(runs))
    return {
        "jobs": jobs,
        "layers": layers,
        "tasks": len(all_tasks),
        "gc_s": sum(t["gc_s"] for t in all_tasks),
        "spill_bytes": sum(t["spill"] for t in all_tasks),
        "udf_task_s": sum(t["run_s"] for s in stages_with("udf") for t in stage_tasks[s]),
        "scan_task_s": sum(t["run_s"] for s in stages_with("log_scan") for t in stage_tasks[s]),
        "scan_bytes": sum(t["input"] for s in stages_with("log_scan") for t in stage_tasks[s]),
        "shuffle_skew": median(skew),
    }


def _job_kind(plan: str) -> str:
    if "InsertIntoHadoopFsRelationCommand" in plan and "dlq" in plan:
        return "dlq_append"
    if "Expand" in plan and "Window" in plan:
        return "monitor"
    if "Expand" in plan and "spark_partition_id" in plan.lower():
        return "planning"
    return "other"


def python_worker_peak_rss_mb() -> float:
    """Highest VmHWM over this process tree's Python worker processes."""
    me = os.getpid()
    parent: dict[int, int] = {}
    cmd: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd[int(d)] = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError, ValueError):
            continue

    def mine(pid):
        seen = 0
        while pid in parent and seen < 64:
            if pid == me:
                return True
            pid, seen = parent[pid], seen + 1
        return False

    peak = 0.0
    for pid, c in cmd.items():
        if pid != me and mine(pid) and any(m in c for m in PYTHON_WORKER_MARKERS):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]) / 1024.0)
            except OSError:
                continue
    return peak
