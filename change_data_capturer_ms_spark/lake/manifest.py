"""Snapshot manifest + atomic commit protocol for the Parquet lake table.

This is the engine's from-scratch Iceberg-semantics layer (SURVEY.md §7.0: no
Iceberg/Delta jars offline): a JSON manifest per snapshot version records the exact
file set, schema, committed batch ids and the resume lease; `_meta/_current` is an
atomically-replaced pointer file, so readers always see a complete snapshot
(snapshot isolation) and a crash between data-file write and pointer swap leaves only
harmless orphan files — the manifest is the truth (SURVEY.md §7.3).

Exactly-once: the reference gets it from an idempotent transactional Kafka producer
(/root/reference/src/queue/eventhub/utils.ts:28-39). Here the commit *is* the
transaction: a manifest lists the `(source_id, batch_id)` pairs ever applied; a
re-delivered batch whose id is in the ledger is a no-op (SURVEY.md §2.2 E21).

The lease embedded per commit mirrors the reference's ContinuationTokenItem
`{id, lease}` (/root/reference/src/factory/types.ts:7-12) extended with batch_id,
per-partition lineage and row/byte metrics (north_star).

Scale note: at 10^10 events a JSON file list would be replaced by Avro manifest files
with a manifest-list indirection (the Iceberg layout); the commit protocol —
write-new-files → write-manifest → atomic pointer swap — is unchanged.

Ledger bound: numeric batch ids (the streaming engine's monotone epoch ids) fold
into a per-source high watermark (`batch_watermarks[source] = hw` ⇔ every numeric
id ≤ hw committed); only out-of-order numeric ids above the watermark plus
non-numeric ids stay in `committed_batches` verbatim. Maintenance entries keep a
short tail for audit. The manifest therefore stays O(1) per source over an
unbounded batch history instead of O(all batches forever).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import types as T


@dataclass
class FileEntry:
    path: str  # relative to table root
    bucket: int
    rows: int
    bytes: int
    min_seq: int | None = None
    max_seq: int | None = None
    # zone map: {col: [min, max]} over the file's non-null values, recorded at
    # write time from the parquet footer (no data read). Powers manifest-level
    # file skipping (read_where/lookup) — at 100 TB the win is not opening
    # files at all, before any scan task is scheduled. Absent (None) for
    # pre-upgrade manifests or columns without usable stats ⇒ never pruned.
    col_stats: dict | None = None
    # equality bloom filters: {col: {"m", "k", "b64"}} (lake/bloom.py). Built
    # only for tables created with bloom_cols; absent ⇒ no bloom pruning.
    bloom: dict | None = None

    @classmethod
    def from_dict(cls, d: dict) -> "FileEntry":
        return cls(**d)


MAINTENANCE_TAIL = 16  # audit tail of maintenance ledger entries kept per manifest


def _split_ledger_key(key: str) -> tuple[str, str]:
    src, _, bid = key.rpartition(":")
    return src, bid


def prune_ledger(
    committed: list[str], watermarks: dict[str, int]
) -> tuple[list[str], dict[str, int]]:
    """Fold contiguous numeric batch ids into per-source high watermarks.

    Returns (pruned committed list, updated watermarks). A numeric id ≤ the
    source's watermark is dropped from the list (the watermark proves it);
    non-numeric ids are kept verbatim, except `maintenance:*` entries which keep
    only the most recent MAINTENANCE_TAIL (they are version-unique audit marks,
    never re-checked for idempotence).
    """
    wm = dict(watermarks)
    numeric: dict[str, set[int]] = {}
    for key in committed:
        src, bid = _split_ledger_key(key)
        # ONLY non-negative plain integers fold (bid.isdigit(): negative or
        # sentinel ids stay verbatim in the list — a -1 folded against the
        # default hw=-1 would vanish without coverage); the maintenance
        # namespace is the exact source 'maintenance', not a prefix (a user
        # source named 'maintenance_log' must keep its full ledger)
        if src != "maintenance" and bid.isdigit():
            numeric.setdefault(src, set()).add(int(bid))
    for src, ids in numeric.items():
        hw = wm.get(src, -1)
        while hw + 1 in ids:
            hw += 1
        wm[src] = hw
    out: list[str] = []
    maint: list[str] = []
    for key in committed:
        src, bid = _split_ledger_key(key)
        if src == "maintenance":
            maint.append(key)
        elif bid.isdigit() and int(bid) <= wm.get(src, -1):
            continue  # covered by the watermark
        else:
            out.append(key)
    return out + maint[-MAINTENANCE_TAIL:], wm


@dataclass
class Manifest:
    version: int
    parent: int | None
    schema_json: str  # Spark StructType json
    schema_version: int
    n_buckets: int
    key_cols: list[str]
    files: list[FileEntry]
    committed_batches: list[str]  # "source_id:batch_id" idempotence ledger
    lease: dict  # {id, lease, batch_id, lineage, metrics}
    committed_at: float = 0.0
    # per-source high watermark: every numeric batch id ≤ hw is committed
    batch_watermarks: dict = field(default_factory=dict)
    # "cow" (copy-on-write: a data commit replaces the buckets it touches) or
    # "mor" (merge-on-read: it appends delta files to them). Readers and
    # maintenance go by each bucket's file count (`by_bucket`), never by
    # this field. Default keeps old manifests valid.
    write_mode: str = "cow"
    # columns carrying per-file equality bloom filters (lake/bloom.py); a
    # table property fixed at create, like write_mode. [] ⇒ feature off.
    bloom_cols: list = field(default_factory=list)
    # physical bucketing columns — a subset of key_cols (Iceberg: the partition
    # spec need not equal the identifier fields). [] ⇒ bucket by the full key
    # (the default, and what every pre-upgrade manifest means). A coarser
    # bucket function lets readers prune by a key PREFIX (e.g. a secondary
    # index keyed (band, band_hash, id) but bucketed by (band, band_hash), so
    # probes that know only the prefix still touch one bucket).
    bucket_cols: list = field(default_factory=list)

    @property
    def bucket_key(self) -> list[str]:
        """The columns the bucket function actually hashes."""
        return self.bucket_cols or self.key_cols

    @property
    def by_bucket(self) -> dict[int, list[FileEntry]]:
        """bucket → its files, in manifest order. Built once per file list
        (rebuilt only when `files` is reassigned), so per-key callers such
        as lookup_many pay one pass over the manifest, not one per key. A
        bucket's file count is the table's only layout rule: one file ⇒
        resolved (at most one row per key), more ⇒ per-key LWW pending."""
        cached = self.__dict__.get("_by_bucket")
        if cached is None or cached[0] is not self.files:
            idx: dict[int, list[FileEntry]] = {}
            for f in self.files:
                idx.setdefault(f.bucket, []).append(f)
            cached = self.__dict__["_by_bucket"] = (self.files, idx)
        return cached[1]

    def files_in(self, buckets: set[int]) -> list[FileEntry]:
        """The files of `buckets`, grouped by bucket."""
        return [f for b, fs in self.by_bucket.items() if b in buckets for f in fs]

    def is_committed(self, source_id: str, batch_id) -> bool:
        """Exactly-once check: ledger entry OR covered by the source watermark.

        Only non-negative integer ids consult the watermark (mirrors
        prune_ledger): with the default hw = -1, a negative sentinel id would
        otherwise read as 'already committed' on a FRESH table and the batch
        would be silently dropped."""
        if f"{source_id}:{batch_id}" in self.committed_batches:
            return True
        s = str(batch_id)
        if s.isdigit():
            return int(s) <= self.batch_watermarks.get(source_id, -1)
        return False

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=1)

    @classmethod
    def from_json(cls, s: str) -> "Manifest":
        d = json.loads(s)
        d["files"] = [FileEntry.from_dict(f) for f in d["files"]]
        return cls(**d)


class ManifestStore:
    """Reads/writes manifests under `<table>/_meta/` with an atomic current-pointer."""

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, "_meta")

    def _version_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.json")

    @property
    def current_pointer(self) -> str:
        return os.path.join(self.meta_dir, "_current")

    def exists(self) -> bool:
        return os.path.exists(self.current_pointer)

    def current_version(self) -> int:
        with open(self.current_pointer) as f:
            return json.load(f)["version"]

    def load(self, version: int | None = None) -> Manifest:
        if version is None:
            version = self.current_version()
        with open(self._version_path(version)) as f:
            return Manifest.from_json(f.read())

    # -- named refs (Iceberg tag parity) ----------------------------------

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, f"tag-{name}.json")

    def set_tag(self, name: str, version: int) -> None:
        """Pin `name` to a snapshot version (atomic replace, like the pointer)."""
        tmp = self._tag_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._tag_path(name))

    def get_tag(self, name: str) -> int:
        try:
            with open(self._tag_path(name)) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            raise KeyError(f"unknown tag: {name}")

    def tags(self) -> dict[str, int]:
        out: dict[str, int] = {}
        import glob as _glob

        for p in _glob.glob(os.path.join(self.meta_dir, "tag-*.json")):
            try:
                with open(p) as f:
                    d = json.load(f)
                out[d["name"]] = int(d["version"])
            except (OSError, ValueError, KeyError):
                continue  # decode-or-skip, same posture as lease reads
        return out

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            pass

    # -- branches (Iceberg branch-ref parity) ------------------------------
    # A branch is a MOVABLE named ref: commits made through a branch-bound
    # table advance the branch file, not `_current`, so main readers never
    # see them until fast_forward publishes the head (the native
    # write-audit-publish layout; the tag files above are the immutable kind).

    def _branch_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, f"branch-{name}.json")

    def set_branch(self, name: str, version: int) -> None:
        tmp = self._branch_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._branch_path(name))

    def get_branch(self, name: str) -> int:
        try:
            with open(self._branch_path(name)) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            raise KeyError(f"unknown branch: {name}")

    def branches(self) -> dict[str, int]:
        out: dict[str, int] = {}
        import glob as _glob

        for p in _glob.glob(os.path.join(self.meta_dir, "branch-*.json")):
            try:
                with open(p) as f:
                    d = json.load(f)
                out[d["name"]] = int(d["version"])
            except (OSError, ValueError, KeyError):
                continue
        return out

    def drop_branch(self, name: str) -> None:
        try:
            os.remove(self._branch_path(name))
        except FileNotFoundError:
            pass

    def next_version(self) -> int:
        """Next unused snapshot version: 1 + max over ALL manifest files.

        With branches, version numbers are allocation order, not main-line
        ancestry (the `parent` field is the ancestry) — main and branch
        commits interleave in one global sequence so no two snapshots ever
        share a vN.json (Iceberg's random snapshot-ids solve the same
        collision; a monotone counter keeps time travel ergonomic)."""
        import glob as _glob

        versions = [
            int(os.path.basename(p)[1:-5])
            for p in _glob.glob(os.path.join(self.meta_dir, "v*.json"))
        ]
        return max(versions) + 1 if versions else 0

    def set_current(self, version: int) -> None:
        """Atomically move the main pointer (the publish step)."""
        tmp_ptr = self.current_pointer + f".tmp{version}"
        with open(tmp_ptr, "w") as f:
            json.dump({"version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_ptr, self.current_pointer)

    def commit(self, manifest: Manifest, expected_parent: int | None,
               branch: str | None = None) -> None:
        """Write v{N}.json then atomically swap the pointer.

        Optimistic concurrency: refuse if someone committed since we planned (the
        single-driver sandbox never hits this; a multi-writer deployment retries).
        Crash-safety: the pointer is replaced via os.replace (atomic on POSIX);
        a crash before the swap leaves v{N}.json + data files orphaned but the table
        still points at the parent snapshot — replay re-applies the batch and the
        ledger check keeps it exactly-once.
        """
        os.makedirs(self.meta_dir, exist_ok=True)
        if branch is not None:
            head = self.get_branch(branch)  # KeyError if the branch is unknown
            if head != expected_parent:
                raise RuntimeError(
                    f"concurrent commit on branch {branch!r}: "
                    f"head={head}, expected parent={expected_parent}"
                )
        elif self.exists():
            cur = self.current_version()
            if cur != expected_parent:
                raise RuntimeError(
                    f"concurrent commit: current={cur}, expected parent={expected_parent}"
                )
        manifest.committed_at = time.time()
        vpath = self._version_path(manifest.version)
        if os.path.exists(vpath):
            raise RuntimeError(
                f"snapshot version {manifest.version} already exists — "
                "allocate versions with next_version() when branches are in play"
            )
        with open(vpath + ".tmp", "w") as f:
            f.write(manifest.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(vpath + ".tmp", vpath)
        if branch is not None:
            self.set_branch(branch, manifest.version)
        else:
            self.set_current(manifest.version)
