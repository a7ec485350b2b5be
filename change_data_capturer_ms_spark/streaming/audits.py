"""Ready-made write-audit-publish checks for `CDCPipeline(audit_fn=...)`.

Each factory returns an audit callable `(table, merge_result) -> True | str`;
a string is the rejection reason (the pipeline drops the staging branch the
merge was written to, so main never sees the batch, and quarantines its rows
— see pipeline.py). `table` is that branch-bound handle. All checks here are
METADATA-ONLY: they read the merge metrics and manifest file statistics,
never scheduling a Spark job — an audit that rescans the table would double
the cost of every commit at 100 TB. Data-content audits (checksums, nulls)
belong in `functions/validate.py` BEFORE the merge; these gates catch
batch-shape anomalies that validation can't see (a technically-valid batch
that deletes half the table).
"""

from __future__ import annotations


def max_delete_fraction(limit: float):
    """Reject a batch whose delete-winners exceed `limit` of its rows —
    the classic upstream-truncation / bad-backfill tripwire."""
    def audit(table, result):
        m = result.get("metrics", {})
        rows = m.get("rows") or 0
        deletes = m.get("deletes") or 0
        if rows and deletes / rows > limit:
            return (f"delete fraction {deletes}/{rows} exceeds "
                    f"limit {limit}")
        return True
    return audit


def row_bounds(min_rows: int = 0, max_rows: int | None = None):
    """Reject a batch outside [min_rows, max_rows] captured rows — catches a
    dried-up feed (monitoring misconfig) and a fat-finger replay of history."""
    def audit(table, result):
        rows = result.get("metrics", {}).get("rows") or 0
        if rows < min_rows:
            return f"batch rows {rows} below minimum {min_rows}"
        if max_rows is not None and rows > max_rows:
            return f"batch rows {rows} above maximum {max_rows}"
        return True
    return audit


def max_shrink_fraction(limit: float):
    """Reject a commit that shrank the table's PHYSICAL row count (live +
    tombstones, from manifest file stats — zero Spark jobs) by more than
    `limit` vs its parent snapshot. Complements max_delete_fraction: catches
    shrink however it is expressed."""
    def audit(table, result):
        version = result.get("version")
        if version is None or version <= 0:
            return True
        m = table.manifest(version)
        if m.parent is None:
            return True
        now = sum(f.rows for f in m.files)
        # ancestry parent, not version-1: versions allocate from a global
        # counter once branches exist
        before = sum(f.rows for f in table.manifest(m.parent).files)
        if before and (before - now) / before > limit:
            return (f"table shrank {before}→{now} rows "
                    f"(> {limit:.0%} of parent)")
        return True
    return audit


def all_of(*audits):
    """Combine audits; the first rejection wins."""
    def audit(table, result):
        for a in audits:
            verdict = a(table, result)
            if verdict is not None and verdict is not True:
                return verdict
        return True
    return audit
