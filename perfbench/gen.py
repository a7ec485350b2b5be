"""Seeded inputs for the benchmark, written with pyarrow.

The generators here are the benchmark's own: they do not call the engine's
`sources.gen_changelog`, so a change to the program's generator can not change
what the benchmark feeds it. Every table is a pure function of its seed and
size; `digest()` fingerprints the written files so a run records exactly
which input it measured.
"""

from __future__ import annotations

import base64
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["python", "scala", "java", "ts", "go", "rust", "sql", "md"]
OPS = ["insert", "update", "replace", "delete"]
OP_WEIGHTS = [0.35, 0.40, 0.15, 0.10]
ORIGINS = ["ci", "web", "api"]
SEQ_BUCKET = 1_000_000  # the engine reader's default seq_bucket_size


def _s(arr) -> pa.Array:
    return pc.cast(pa.array(arr), pa.string())


def change_events(seed: int, start_seq: int, n: int, n_repos: int,
                  paths_per_repo: int = 50, hot_frac: float = 0.5,
                  body_reps: tuple[int, int] = (60, 160), bad_frac: float = 0.0,
                  with_stars: bool = False) -> pa.Table:
    """`n` change events (FIXTURES.md section 1 schema) starting at `start_seq`.

    One hot repo (`repo_0`) takes `hot_frac` of the events. Content is about
    10 bytes per body rep, so the default (60, 160) gives ~1 KB per event.
    `bad_frac` of the events but the last are non-delete ops with NULL
    content, which the engine's validation sends to the dead-letter queue. `with_stars` adds the
    additive `stars` column (schema evolution)."""
    rng = np.random.default_rng([seed, start_seq, n])
    seq = np.arange(start_seq, start_seq + n, dtype=np.int64)
    hot = rng.random(n) < hot_frac
    repo_id = np.where(hot, 0, rng.integers(1, max(n_repos, 2), n))
    path_id = rng.integers(0, paths_per_repo, n)
    op_idx = rng.choice(len(OPS), n, p=OP_WEIGHTS)
    bad = (op_idx != 3) & (rng.random(n) < bad_frac)
    # the last event stays valid: the engine's lease is the max seq it merged,
    # so an invalid event ending a batch is read (and quarantined) again by
    # the next one, and the benchmark's files would not count as covered
    bad[-1:] = False
    repo = pc.binary_join_element_wise("repo_", _s(repo_id), "")
    path = pc.binary_join_element_wise(
        "src/dir_", _s(path_id % 10), "/file_", _s(path_id), ".py", "")
    line = pc.binary_join_element_wise("line-", _s(rng.integers(0, 997, n)), ";", "")
    body = pc.binary_repeat(line, pa.array(rng.integers(*body_reps, n)))
    content = pc.binary_join_element_wise(
        pc.binary_join_element_wise("# ", repo, "/", path, ""),
        pc.binary_join_element_wise("rev=", _s(seq), ""), body, "\n")
    content = pc.if_else(pa.array((op_idx == 3) | bad), pa.scalar(None, pa.string()),
                         content)
    raw = rng.bytes(20 * n)
    ts_us = (1_700_000_000 + seq * 2 + rng.integers(-3, 4, n)) * 1_000_000
    props = pc.binary_join_element_wise(
        '{"size_bytes":', _s(rng.integers(0, 100_000, n)), ',"origin":"',
        pa.array(np.array(ORIGINS)[rng.integers(0, 3, n)]), '","is_pr":',
        pa.array(np.where(rng.random(n) < 0.5, "true", "false")), "}", "")
    cols = {
        "seq": pa.array(seq),
        "token": pa.array([base64.b64encode(str(s).encode()).decode() for s in seq]),
        "op": pa.array(np.array(OPS)[op_idx]),
        "repo": repo,
        "path": path,
        "commit": pa.array([raw[i * 20:i * 20 + 20].hex() for i in range(n)]),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "content": content,
        "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "props": props,
    }
    if with_stars:
        cols["stars"] = pa.array(rng.integers(0, 5000, n), pa.int32())
    return pa.table(cols)


def log_file(log_dir: str, start_seq: int, name: str) -> str:
    """Path of a log file in the seq-bucketed layout the engine reader prunes."""
    return os.path.join(log_dir, f"seq_bucket={start_seq // SEQ_BUCKET}", name)


def write_log(log_dir: str, seed: int, n_events: int, n_files: int, n_repos: int,
              start_seq: int = 0, evolve_at_file: int | None = None,
              prefix: str = "part", **kw) -> list[str]:
    """Write `n_events` as `n_files` equal parquet files; files from index
    `evolve_at_file` on carry the `stars` column. Returns the paths in seq order."""
    paths = []
    per = n_events // n_files
    for i in range(n_files):
        s0 = start_seq + i * per
        t = change_events(seed, s0, per, n_repos,
                          with_stars=evolve_at_file is not None and i >= evolve_at_file,
                          **kw)
        p = log_file(log_dir, s0, f"{prefix}-{i:05d}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(t, p)
        paths.append(p)
    return paths


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of the given files, in order (first 16 hex)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
