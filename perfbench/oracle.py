"""Correctness checks the benchmark runs after each measured run (untimed).

The change-log oracle is DuckDB over the generated log files: per (repo, path)
the max-seq winner among rows that pass the engine's validation, delete
winners dropped, content hashed with sha256. It is compared with the lake
with EXCEPT in both directions.
"""

from __future__ import annotations

import duckdb

# rows the engine's validate_batch quarantines: a non-delete op without content
INVALID = "(op <> 'delete' AND content IS NULL)"


def _log_scan(log_dir: str) -> str:
    return (f"read_parquet('{log_dir}/*/*.parquet', union_by_name=true, "
            "hive_partitioning=false)")


def final_state_sql(log_dir: str, validated: bool) -> str:
    where = f"WHERE NOT {INVALID}" if validated else ""
    return f"""
        SELECT repo, path, sha256(content) AS content_sha256, seq AS _last_seq
        FROM (SELECT * FROM {_log_scan(log_dir)} {where}
              QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) = 1)
        WHERE op <> 'delete'"""


def log_counts(log_dir: str) -> dict:
    """Events, invalid events and max seq of the log."""
    n, bad, hi = duckdb.sql(
        f"SELECT count(*), count(*) FILTER (WHERE {INVALID}), max(seq) "
        f"FROM {_log_scan(log_dir)}").fetchone()
    return {"events": int(n), "invalid": int(bad), "max_seq": int(hi)}


def lake_mismatches(lake_rows, log_dir: str, validated: bool) -> dict:
    """`lake_rows`: Arrow table of the lake's (repo, path, content_sha256,
    _last_seq). Returns rows only in the lake, rows only in the oracle, and
    the row counts of both sides."""
    con = duckdb.connect()
    con.register("lake", lake_rows)
    con.execute(f"CREATE TABLE oracle AS {final_state_sql(log_dir, validated)}")
    cols = "repo, path, content_sha256, _last_seq"
    only_lake = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM lake EXCEPT SELECT {cols} FROM oracle)"
    ).fetchone()[0]
    only_oracle = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM oracle EXCEPT SELECT {cols} FROM lake)"
    ).fetchone()[0]
    n_oracle = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
    con.close()
    return {"only_lake": int(only_lake), "only_oracle": int(only_oracle),
            "lake_rows": lake_rows.num_rows, "oracle_rows": int(n_oracle)}


def check_lake(table, log_dir: str, validated: bool) -> tuple[bool, dict]:
    rows = table.read().select("repo", "path", "content_sha256", "_last_seq").toArrow()
    mm = lake_mismatches(rows, log_dir, validated)
    ok = mm["only_lake"] == 0 and mm["only_oracle"] == 0 and mm["lake_rows"] == mm["oracle_rows"]
    return ok, mm
