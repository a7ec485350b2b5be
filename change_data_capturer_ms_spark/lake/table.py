"""LakeTable — key-bucketed, snapshot-isolated Parquet table with MERGE upsert.

The apply side the reference lacks (it stops at producing to Event Hub,
/root/reference/src/queue/eventhub/utils.ts:91-98): an Iceberg-*semantics* table
(north_rule) built from scratch over Parquet + the JSON manifest protocol in
`lake.manifest`.

Physical layout and why it scales (SURVEY.md §4):

- Rows live in files assigned by `bucket = pmod(xxhash64(key_cols), n_buckets)` —
  a pure function of the key. MERGE therefore touches *only the buckets present in
  the micro-batch* (copy-on-write at bucket granularity); unaffected buckets' files
  carry over into the new snapshot untouched. At 100 TB with O(10^4) buckets a
  typical batch rewrites a small fraction of the table.
- One layout rule: a bucket's FILE COUNT. A bucket holding one file is resolved
  (at most one row per key); a bucket holding more carries delta files whose
  per-key LWW on `_last_seq` is still pending. Reads resolve LWW exactly when a
  scanned bucket holds several files; non-key zone maps prune only single-file
  buckets (a delta may have moved a key out of a range); `compact()` folds every
  multi-file bucket back to one file; `expire_tombstones` touches only
  single-file buckets (a delta tombstone may be suppressing an older row).
- The create-time `write_mode` (Iceberg v1/v2 parity) makes one decision: which
  touched buckets a data commit replaces. **cow** replaces them all (so every
  bucket keeps one file and reads stay plain scans); **mor** replaces none and
  appends the batch's per-key winners as delta files — write cost O(batch).
- Because existing rows and batch rows hash-agree on bucket, MERGE needs **no join at
  all**: union(existing-in-affected-buckets, deduped-batch) → per-key LWW max_by →
  drop delete-winners → rewrite those buckets. The only shuffle is the max_by
  aggregation, with map-side partial combine. (Iceberg's MERGE plans the same thing
  as a join + file overwrite; union+max_by is the equivalent with one less shuffle.)
- Per-file min/max `_last_seq` stats are recorded in the manifest for audit/pruning;
  file listing is O(manifest), never a directory walk.

Exactly-once: `merge(batch_id=...)` consults the manifest's committed-batch ledger and
turns re-delivered batches into no-ops (reference's idempotent transactional producer
contract, /root/reference/src/queue/eventhub/utils.ts:28-39 → SURVEY.md §2.2 E21).

One commit path: every snapshot — create, merge, merge_into, compact, rebucket,
expire_tombstones, rollback — is produced by `_commit`, which allocates the version,
derives the new manifest from its base, writes the data files through the one rewrite
step (`_rewrite`: new bucket files under data/v{N}-<uuid>/ plus the carried untouched
files), appends and prunes the ledger entry, strips blooms on widened columns and
swaps the ref with the expected parent. The lease rule lives there too: a data commit
(merge, merge_into) writes a NEW lease {id, lease, batch_id, lineage, metrics}; a
maintenance commit (compact, rebucket, expire_tombstones) carries the parent's lease
unchanged, so maintenance never moves the CDC cursor; rollback restores the target
snapshot's full state — files, schema, lease and ledger alike.

Schema evolution (E20): additive — a batch with new payload columns extends the
manifest schema; old files are *not* rewritten, readers project them with NULLs via
the explicit manifest schema (Spark parquet reader fills absent columns) — and
widening: a batch whose existing column carries a wider compatible type
(int→long, float→double, decimal precision growth at the same scale — Iceberg's
legal promotions) widens the manifest schema in place; old narrow files are not
rewritten either, Spark 4's vectorized parquet reader upcasts them on read. An
incompatible type change raises instead of letting UNION's implicit coercion
(e.g. int+string→string) silently corrupt the column.

Time travel: `read(version=N)` reads any retained snapshot (replay verification).
"""

from __future__ import annotations

import dataclasses
import glob
import itertools
import os
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from change_data_capturer_ms_spark.errors import MissingResourceError
from change_data_capturer_ms_spark.lake.manifest import (
    FileEntry, Manifest, ManifestStore, prune_ledger)
from change_data_capturer_ms_spark.operators.dedupe import lww_dedupe

SEQ_META_COL = "_last_seq"
OP_META_COL = "_last_op"


def _file_may_match(f: FileEntry, col: str, op: str, val,
                    eq_hash: int | None = None) -> bool:
    """Zone-map + bloom test: can `f` contain a row matching `col op val`?
    Missing/incomparable stats ⇒ True (never prune blind). String bounds may
    be truncated (lower bound = prefix, upper bound = incremented prefix) —
    both remain valid bounds, so containment tests stay conservative.

    `eq_hash` (op "=" only): the value's Spark-parity xxhash64 — probes the
    file's bloom bitmap, catching the absent-but-in-range values min/max
    can't exclude on high-cardinality unsorted columns."""
    if op == "=" and eq_hash is not None and f.bloom and col in f.bloom:
        from change_data_capturer_ms_spark.lake.bloom import might_contain

        if not might_contain(f.bloom[col], eq_hash):
            return False  # bloom has no false negatives: definitely absent
    if col == SEQ_META_COL:
        stats = None if f.min_seq is None else [f.min_seq, f.max_seq]
    else:
        stats = (f.col_stats or {}).get(col)
    if not stats:
        return True
    lo, hi = stats
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "between":
            vlo, vhi = val
            return not (vhi < lo or vlo > hi)
    except TypeError:
        return True  # type mismatch between stat and literal: no pruning
    raise ValueError(f"unsupported zone-map op: {op!r}")


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_RANK = {"float": 0, "double": 1}


def widen_type(old: T.DataType, new: T.DataType) -> T.DataType | None:
    """The wider of two types under Iceberg's legal promotions, or None when
    the change is incompatible: integer widths, float→double, and decimal
    precision growth at the SAME scale. Deliberately no int→float/double or
    scale changes — those lose information or shift values."""
    if old == new:
        return old
    os_, ns = old.simpleString(), new.simpleString()
    if os_ in _INT_RANK and ns in _INT_RANK:
        return old if _INT_RANK[os_] >= _INT_RANK[ns] else new
    if os_ in _FLOAT_RANK and ns in _FLOAT_RANK:
        return old if _FLOAT_RANK[os_] >= _FLOAT_RANK[ns] else new
    if (isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType)
            and old.scale == new.scale):
        return old if old.precision >= new.precision else new
    return None


def _normalize_key_types(df: DataFrame, keys, schema: T.StructType,
                         ctx: str) -> DataFrame:
    """Cast a batch/source's KEY columns to the manifest's exact types before
    any bucket hashing. xxhash64 is type-sensitive (hash of int 5 != hash of
    long 5): a batch sending int keys into a long-keyed table would plan
    affected buckets under the int hash while the written union (coerced to
    the manifest type) lands under the long hash — rows stranded in buckets
    reads never probe. Narrow→wide casts are value-preserving and silent;
    a WIDER-than-manifest key raises (that is the stranded-bucket case
    _evolved_schema refuses for bucket keys)."""
    for k in keys:
        if k not in df.columns:
            continue
        want, have = schema[k].dataType, df.schema[k].dataType
        if have == want:
            continue
        if widen_type(have, want) == want:
            df = df.withColumn(k, F.col(k).cast(want))
        else:
            raise ValueError(
                f"{ctx}: key column {k!r} arrives as {have.simpleString()} "
                f"but the table key is {want.simpleString()} — cast the "
                "batch to the table's key type (bucket hashes are "
                "type-sensitive), or rebucket() to re-key the table.")
    return df


def _evolved_schema(
    old_schema: T.StructType, schema_version: int,
    batch_schema: T.StructType, payload_cols: list[str],
    bucket_key: list[str] | tuple[str, ...] = (),
) -> tuple[T.StructType, int]:
    """Schema evolution shared by merge()/merge_into(): additive — new payload
    columns extend the manifest schema (old files read back NULL-filled) — and
    widening — an existing column arriving with a wider compatible type widens
    the schema in place (old narrow files upcast on read, no rewrite). An
    incompatible type change raises HERE, before UNION/CASE coercion can
    silently rewrite the column. Meta columns always stay last.

    Widening a BUCKET-KEY column is refused even when the promotion is
    otherwise legal: xxhash64 is type-sensitive (hash of int 5 != hash of
    long 5), so existing rows sit in buckets computed under the old type
    while planning/lookup would hash under the new one — the old row becomes
    unreachable (a duplicate live key that deletes can't remove). Iceberg has
    the same constraint (bucket partition transforms pin the source type);
    re-key via rebucket() instead."""
    new_fields = [
        f for f in batch_schema.fields
        if f.name in payload_cols and f.name not in old_schema.fieldNames()
    ]
    widened: dict[str, T.DataType] = {}
    for f in batch_schema.fields:
        if f.name not in payload_cols or f.name not in old_schema.fieldNames():
            continue
        old_t = old_schema[f.name].dataType
        if f.dataType == old_t:
            continue
        w = widen_type(old_t, f.dataType)
        if w is None:
            raise ValueError(
                f"schema evolution: column {f.name!r} incompatible type "
                f"change {old_t.simpleString()} -> {f.dataType.simpleString()}"
                " (legal: int widths, float->double, decimal precision"
                " growth at the same scale)")
        if w != old_t:
            if f.name in bucket_key:
                raise ValueError(
                    f"schema evolution: column {f.name!r} is a bucket-key "
                    f"column; widening {old_t.simpleString()} -> "
                    f"{w.simpleString()} would change its xxhash64 and strand "
                    "existing rows in buckets reads no longer probe. Cast the "
                    "batch to the table's key type, or rebucket().")
            widened[f.name] = w
    if not new_fields and not widened:
        return old_schema, schema_version
    meta_names = (SEQ_META_COL, OP_META_COL)
    fields = [
        T.StructField(f.name, widened.get(f.name, f.dataType), True)
        for f in old_schema.fields if f.name not in meta_names
    ]
    fields += [T.StructField(f.name, f.dataType, True) for f in new_fields]
    fields.append(T.StructField(SEQ_META_COL, T.LongType(), True))
    fields.append(T.StructField(OP_META_COL, T.StringType(), True))
    return T.StructType(fields), schema_version + 1


def _data_lease(source_id: str, batch_id, token: str, metrics: dict,
                lineage: list[dict] | None = None) -> dict:
    """A data commit's NEW lease: the reference's ContinuationTokenItem
    {id, lease} (reference src/factory/types.ts:7-12; id = the
    collection/container id, cosmos.ts:92-104) plus batch id, lineage and
    metrics. The caller fills `metrics` in its write step, once the write job
    has observed the winner counts."""
    return {"id": source_id, "lease": token, "batch_id": batch_id,
            "lineage": lineage or [], "metrics": metrics}


def _replaced_buckets(m: Manifest, touched: set[int]) -> set[int]:
    """The one decision `write_mode` makes: which buckets a data commit
    touches it REPLACES — all of them under copy-on-write, none under
    merge-on-read (the commit appends delta files to them instead)."""
    return touched if m.write_mode == "cow" else set()


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id — pure function of the key (never random), so dedupe
    and co-location survive any repartitioning (SURVEY.md §7.3 salting note)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        write_mode: str = "cow",
        bloom_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ):
        """`write_mode` picks which touched buckets a data commit (merge,
        merge_into) replaces — the write-vs-read amplification tradeoff:

        - "cow" (default): all of them — every bucket keeps one file, reads
          are a plain scan, writes cost O(bucket size). Right when batches
          are large relative to buckets or reads dominate.
        - "mor": none — the batch's per-key winners append as delta files,
          writes cost O(batch) (Iceberg v2 merge-on-read re-expressed). Right
          for high-frequency small batches over huge buckets at 100 TB.

        Everything else follows from each bucket's file count, not the mode:
        a read of a multi-file bucket adds one per-key LWW aggregation, and
        `compact()` folds it back to one file. The mode is recorded in the
        manifest at create() and is a property of the table, not the writer
        session.

        `bloom_cols`: columns that get a per-file equality bloom filter in
        every manifest entry (lake/bloom.py) — point lookups and `=` filters
        skip files the zone map can't (high-cardinality unsorted columns).
        Costs one extra bounded aggregation per write. Also a create-time
        table property.

        `bucket_cols`: bucket by a SUBSET of key_cols instead of the full key
        (Iceberg: partition spec ≠ identifier fields). Readers that know only
        that prefix can still prune to one bucket — the shape a secondary
        index needs (keyed (band, band_hash, id), bucketed (band, band_hash)).
        Default None ⇒ bucket by the full key. Create-time property.
        """
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        self.spark = spark
        self.path = path
        self.store = ManifestStore(path)
        self._key_cols = key_cols or ["repo", "path"]
        self._n_buckets = n_buckets
        self._write_mode = write_mode
        self._bloom_cols = list(bloom_cols or [])
        self._bucket_cols = list(bucket_cols or [])
        # None = bound to main (`_current`); a branch name = commits advance
        # that ref and default reads resolve its head (see branch())
        self._branch: str | None = None

    # -- lifecycle -----------------------------------------------------------

    def exists(self) -> bool:
        return self.store.exists()

    def create(self, schema: T.StructType) -> Manifest:
        """CREATE TABLE: empty snapshot v0 (reference getOrCreate collection,
        /root/reference/src/capturer/mongo/utils.ts:51-70)."""
        if self.exists():
            raise ValueError(f"table already exists at {self.path}")
        bad = [c for c in self._bucket_cols if c not in self._key_cols]
        if bad:
            raise ValueError(
                f"bucket_cols must be a subset of key_cols; not keys: {bad}")
        if self._bloom_cols:
            from change_data_capturer_ms_spark.lake.bloom import SUPPORTED_TYPES

            types = {f.name: f.dataType.simpleString() for f in schema.fields}
            for c in self._bloom_cols:
                if c not in types:
                    raise ValueError(f"bloom_cols: unknown column {c!r}")
                if types[c] not in SUPPORTED_TYPES:
                    raise ValueError(
                        f"bloom_cols: column {c!r} type {types[c]!r} has no "
                        f"driver-side xxhash64 (supported: {SUPPORTED_TYPES})")
        extra = [
            T.StructField(SEQ_META_COL, T.LongType(), True),
            T.StructField(OP_META_COL, T.StringType(), True),
        ]
        schema = T.StructType(
            list(schema.fields)
            + [f for f in extra if f.name not in schema.fieldNames()]
        )
        return self._commit(None, base=Manifest(
            version=0,  # version and parent are assigned by _commit
            parent=None,
            schema_json=schema.json(),
            schema_version=0,
            n_buckets=self._n_buckets,
            key_cols=list(self._key_cols),
            files=[],
            committed_batches=[],
            lease={},
            write_mode=self._write_mode,
            bloom_cols=self._bloom_cols,
            bucket_cols=self._bucket_cols,
        ))

    def get_or_create(self, schema: T.StructType) -> Manifest:
        return self.manifest() if self.exists() else self.create(schema)

    def manifest(self, version: int | None = None) -> Manifest:
        if not self.exists():
            # message parity with the reference's missing-collection Left
            # (/root/reference/src/capturer/mongo/utils.ts:43-46)
            raise MissingResourceError(f"Collection not found: {self.path}")
        if version is None and self._branch is not None:
            version = self.store.get_branch(self._branch)
        return self.store.load(version)

    # -- read ----------------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        include_deleted: bool = False,
        tag: str | None = None,
    ) -> DataFrame:
        """Snapshot read. `buckets` prunes to a file subset (the MERGE fast path).
        `tag` reads a named pinned snapshot (see `tag()`); mutually exclusive
        with `version`.

        Delete-winners persist as TOMBSTONE rows (`_last_op = 'delete'`) so that a
        later micro-batch carrying *older* seqs for the key cannot resurrect it —
        change-log micro-batches are not guaranteed seq-contiguous (a replayed or
        reordered file batch must converge to the same state). Default reads hide
        tombstones; `include_deleted=True` is the MERGE-internal view.
        """
        if tag is not None:
            if version is not None:
                raise ValueError("read: pass version or tag, not both")
            version = self.store.get_tag(tag)
        m = self.manifest(version)
        files = m.files if buckets is None else m.files_in(buckets)
        return self._frame(m, files, include_deleted)

    # -- named refs + rollback (Iceberg tag/rollback parity) ------------------

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin `name` to a snapshot (default: current). A tagged version is
        RETAINED by expire_snapshots regardless of keep_last — the audit /
        reproducibility anchor ("the snapshot training run X read") Iceberg
        refs provide; drop_tag releases it."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
            raise ValueError(f"invalid tag name: {name!r}")
        v = self.manifest(version).version  # validates the version exists
        self.store.set_tag(name, v)
        return v

    def tags(self) -> dict[str, int]:
        return self.store.tags()

    def drop_tag(self, name: str) -> None:
        self.store.drop_tag(name)

    # -- branches (Iceberg branch / write-audit-publish parity) ---------------

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Create a MOVABLE ref at `version` (default: current snapshot).

        Unlike a tag, a branch advances when commits are made through a
        branch-bound handle (`branch()`): merge/merge_into/compact/rollback on
        that handle move the branch ref, never `_current`, so main readers see
        nothing until `fast_forward` publishes the head. This is Iceberg's
        branch WAP layout (write to branch `audit` → validate → fast-forward
        main), the shape of the pipeline's audit_fn gate (CDCPipeline stages
        each audited batch on the branch `wap-<source_id>`).
        """
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
            raise ValueError(f"invalid branch name: {name!r}")
        if name in self.store.branches():
            raise ValueError(f"branch already exists: {name}")
        v = self.manifest(version).version
        self.store.set_branch(name, v)
        return v

    def branch(self, name: str) -> "LakeTable":
        """A handle bound to branch `name`: reads resolve the branch head,
        writes advance the branch ref. The underlying table object/state is
        shared — only the ref binding differs."""
        self.store.get_branch(name)  # KeyError if unknown
        import copy

        t = copy.copy(self)
        t._branch = name
        return t

    def branches(self) -> dict[str, int]:
        return self.store.branches()

    def drop_branch(self, name: str) -> None:
        self.store.drop_branch(name)

    def fast_forward(self, name: str) -> dict:
        """Publish a branch: move the MAIN pointer to the branch head,
        fast-forward only (the current main snapshot must be an ancestor of
        the head — if main advanced independently the branch is stale and
        must be rebuilt; Iceberg's fast_forward imposes the same rule).

        Metadata-only: one atomic pointer swap, no data movement. The head's
        manifest carries the branch's ledger/lease, so batches committed on
        the branch stay exactly-once after publish and the stream resumes
        from the branch's watermark."""
        head = self.store.get_branch(name)
        cur = self.store.current_version()
        if not any(a.version == cur for a in self._ancestry(head)):
            raise RuntimeError(
                f"fast_forward: main v{cur} is not an ancestor of branch "
                f"{name!r} head v{head} — main advanced since the branch was "
                "cut; rebuild the branch from current instead"
            )
        if head == cur:
            return {"skipped": True, "version": cur}
        # same expected-parent protocol as ManifestStore.commit: a main commit
        # landing between the ancestry check and the pointer swap would be
        # silently dropped from main's history otherwise (lost update)
        now = self.store.current_version()
        if now != cur:
            raise RuntimeError(
                f"fast_forward: concurrent main commit (v{cur} -> v{now}) "
                f"while publishing branch {name!r}; retry"
            )
        self.store.set_current(head)
        return {"skipped": False, "version": head, "from": cur}

    def rollback(self, version: int | None = None, tag: str | None = None) -> dict:
        """Restore a previous snapshot as a NEW commit (Iceberg rollback):
        history is preserved (rolling forward again is another rollback) and
        no data file is touched — the new manifest simply references the old
        version's file set.

        The ENTIRE logical state restores — files, schema, n_buckets, lease,
        exactly-once ledger and batch watermarks. Restoring the ledger is the
        part Iceberg doesn't have to think about: keeping the current ledger
        would record the rolled-back batches as committed, so their redelivery
        would no-op and the data would be silently lost; with the old ledger
        restored, replaying the log from the restored lease reconverges.
        """
        if (version is None) == (tag is None):
            raise ValueError("rollback: pass exactly one of version or tag")
        if tag is not None:
            version = self.store.get_tag(tag)
        cur = self.manifest()
        if version == cur.version:
            return {"skipped": True, "version": cur.version}
        new = self._commit(cur, base=self.manifest(version))
        return {"skipped": False, "version": new.version, "restored": version}

    def _frame(self, m: Manifest, files: list[FileEntry],
               include_deleted: bool) -> DataFrame:
        """Build the snapshot frame for an already-pruned file subset."""
        schema = m.schema
        if not files:
            # JVM-side empty relation: createDataFrame([], schema) builds a
            # Python-RDD-backed frame whose ExistingRDD node breaks codegen for
            # every plan unioned with it (measured 6x slowdown on the MERGE job)
            df = self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        else:
            paths = [os.path.join(self.path, f.path) for f in files]
            # explicit manifest schema (not mergeSchema): O(1) planning instead of a
            # footer scan over every file, and NULL-fill for pre-evolution files
            df = self.spark.read.schema(schema).parquet(*paths)
        # merge-on-read resolution: a delta file may carry a newer version (or a
        # tombstone) of a key whose older row sits in the same bucket's base
        # file — per-key LWW on _last_seq BEFORE any tombstone filtering, so a
        # delta delete suppresses its base row. Skipped entirely when every
        # scanned bucket holds one file (resolved ⇒ no duplicates).
        if any(len(m.by_bucket[f.bucket]) > 1 for f in files):
            df = lww_dedupe(df, m.key_cols, seq_col=SEQ_META_COL)
        if not include_deleted and OP_META_COL in schema.fieldNames():
            df = df.filter(
                F.col(OP_META_COL).isNull() | (F.col(OP_META_COL) != "delete")
            )
        return df

    def lookup(self, key_values: dict[str, object],
               version: int | None = None) -> DataFrame:
        """Point lookup by full key (reference findDocumentByID,
        /root/reference/src/capturer/mongo/utils.ts:80-96).

        The key hashes to exactly one bucket, so only that bucket's files are
        read — O(table/n_buckets) scan regardless of table size, with the
        equality predicates pushed into the parquet scan on top.
        """
        m = self.manifest(version)
        missing = [k for k in m.key_cols if k not in key_values]
        if missing:
            raise ValueError(f"lookup requires all key columns; missing {missing}")
        # bucket computed DRIVER-SIDE (Spark-parity xxhash64 port) — a point
        # lookup must not pay a Spark job submission just to evaluate a hash
        from change_data_capturer_ms_spark.functions.xxh64 import xxhash64_cols

        types = {f.name: f.dataType.simpleString() for f in m.schema.fields}
        try:
            h = xxhash64_cols([key_values[k] for k in m.bucket_key],
                              [types[k] for k in m.bucket_key])
            bucket = h % m.n_buckets  # Python % == Spark pmod for positive mod
        except TypeError:
            # unsupported key type: fall back to the JVM expression (one tiny
            # job). Each literal is CAST to the manifest column type before
            # hashing — xxhash64 is type-sensitive, and e.g. F.lit(Decimal)
            # infers decimal(38,18) while rows were bucketed at the declared
            # precision/scale, which would probe the wrong bucket.
            row = self.spark.range(1).select(
                *[F.lit(key_values[k]).cast(m.schema[k].dataType).alias(k)
                  for k in m.bucket_key]
            ).select(bucket_expr(m.bucket_key, m.n_buckets).alias("b")).first()
            bucket = int(row["b"])
        # bucket pruning + per-file zone maps: within the key's bucket, a file
        # (CoW rewrite or MOR delta) whose key-col [min,max] excludes the value
        # is skipped without being opened
        return self.read_where(
            [(k, "=", key_values[k]) for k in m.key_cols],
            version=version, buckets={bucket},
        )

    def candidate_files(
        self,
        filters: list[tuple],
        version: int | None = None,
        buckets: set[int] | None = None,
        file_pool: list | None = None,
        manifest: "Manifest | None" = None,
    ) -> list[FileEntry]:
        """The manifest entries that can contain a match for `filters` —
        zone-map ([min,max]) plus bloom (equality membership) skipping, all
        driver-side, before any scan task exists. Key columns prune every
        file; other columns prune only a file that is its bucket's one file
        (see read_where).

        `file_pool` restricts the candidate scan to a pre-filtered entry list
        and `manifest` reuses an already-loaded snapshot: callers batching
        many lookups take files from the bucket index and load the manifest
        ONCE instead of re-reading+parsing it per key (lookup_many; measured
        15 s of driver time at 1000 keys x 1024 files before these seams)."""
        m = manifest if manifest is not None else self.manifest(version)
        pool = m.files if file_pool is None else file_pool
        keys, idx = set(m.key_cols), m.by_bucket
        eq_hashes: dict[str, int | None] = {}
        if m.bloom_cols:
            from change_data_capturer_ms_spark.lake.bloom import value_hash

            types = {f.name: f.dataType.simpleString() for f in m.schema.fields}
            eq_hashes = {
                c: value_hash(v, types[c])
                for (c, op, v) in filters
                if op == "=" and c in m.bloom_cols and c in types
            }
        return [
            f for f in pool
            if (buckets is None or f.bucket in buckets)
            and all(
                _file_may_match(f, c, op, v, eq_hash=eq_hashes.get(c))
                for (c, op, v) in filters
                if c in keys or len(idx[f.bucket]) == 1
            )
        ]

    def read_where(
        self,
        filters: list[tuple],
        version: int | None = None,
        buckets: set[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Predicate read with MANIFEST-LEVEL file skipping (zone maps).

        `filters`: [(col, op, value)] with op in {"=", "<", "<=", ">", ">=",
        "between"} ("between" takes a (lo, hi) tuple). Files whose recorded
        [min, max] cannot contain a match are dropped before Spark ever sees
        them — at 100 TB that is the difference between scheduling scan tasks
        over every file and opening only the files that can match; parquet
        row-group pushdown then prunes WITHIN the surviving files (the same
        filters are also applied exactly on the frame).

        Merge-on-read safety: in a bucket holding several files, non-key
        columns are mutable across its delta files, so pruning on them could
        drop the delta row that moved a key OUT of the predicate range and
        resurface its stale base row. There only key columns (immutable row
        identity) participate in pruning; a bucket's one file is resolved and
        prunes on every column. Filters that did not prune still apply
        post-scan.
        """
        m = self.manifest(version)
        files = self.candidate_files(filters, buckets=buckets, manifest=m)
        df = self._frame(m, files, include_deleted)
        for c, op, v in filters:
            col = F.col(c)
            if op == "=":
                df = df.filter(col == F.lit(v))
            elif op == "between":
                df = df.filter((col >= F.lit(v[0])) & (col <= F.lit(v[1])))
            else:
                df = df.filter({"<": col < F.lit(v), "<=": col <= F.lit(v),
                                ">": col > F.lit(v), ">=": col >= F.lit(v)}[op])
        return df

    def read_incremental(self, since_version: int,
                         include_deleted: bool = True) -> DataFrame:
        """Rows changed AFTER snapshot `since_version` (CDC read of the lake —
        downstream consumers tail the table the way this engine tails its own
        source). A row changed iff its `_last_seq` exceeds the max applied seq
        of the older snapshot; deletes surface as tombstone rows so consumers
        can propagate them (`include_deleted=False` to skip).

        The `_last_seq` predicate prunes files via manifest max_seq stats
        before any scan."""
        old = self.store.load(since_version)
        old_ms = old.lease.get("metrics", {}).get("max_seq")
        watermark = -1 if old_ms is None else int(old_ms)  # 0 is a valid seq
        m = self.manifest()
        buckets = {
            f.bucket for f in m.files
            if f.max_seq is None or f.max_seq > watermark
        }
        df = self.read(buckets=buckets, include_deleted=include_deleted)
        return df.filter(F.col(SEQ_META_COL) > watermark)

    def snapshot_diff(self, old_version: int,
                      new_version: int | None = None) -> DataFrame:
        """Version-to-version change feed: one row per key whose LIVE state
        differs between two committed snapshots, classified
        added / changed / removed, with `old_` / `new_` data columns.

        Scale shape, in order of leverage:
        - **Manifest-level bucket pruning**: copy-on-write rewrites a bucket
          under a fresh `data/v{N}-…` dir and merge-on-read appends delta
          files, so a bucket whose file list is IDENTICAL in both manifests is
          byte-identical — skipped without reading a single row. A diff of two
          adjacent versions scans only the buckets the intervening merges
          touched, O(changed), not O(table).
        - **Single shuffle**: both snapshots union with a side tag and diff in
          ONE groupBy via conditional max_by (operators/delta.py
          snapshot_diff) — not two reads + a full outer join (three shuffles).
        - Tombstones carry the delete signal (`_last_op`): a live row never
          vanishes without one (expire_tombstones only drops rows already
          dead), so carry-forward semantics over the side tag are exact even
          across tombstone expiry.

        Additive schema evolution: columns added after `old_version` read as
        NULL on the old side (`unionByName(allowMissingColumns=True)`), so a
        backfill of a new column surfaces as `changed`.
        """
        from change_data_capturer_ms_spark.operators.delta import snapshot_diff

        m_old = self.manifest(old_version)
        m_new = self.manifest(new_version)

        def paths(m: Manifest) -> dict[int, set[str]]:
            return {b: {f.path for f in fs} for b, fs in m.by_bucket.items()}

        ob, nb = paths(m_old), paths(m_new)
        changed = {b for b in set(ob) | set(nb) if ob.get(b) != nb.get(b)}
        old = self.read(version=old_version, buckets=changed, include_deleted=True)
        new = self.read(version=new_version, buckets=changed, include_deleted=True)
        keys = m_new.key_cols
        meta = {SEQ_META_COL, OP_META_COL, *keys}
        value_cols = [f.name for f in m_new.schema.fields if f.name not in meta]
        both = (
            old.withColumn("_side", F.lit(0))
            .unionByName(new.withColumn("_side", F.lit(1)),
                         allowMissingColumns=True)
        )
        return snapshot_diff(both, keys, "_side", value_cols,
                             seq_old=0, seq_new=1, op_col=OP_META_COL)

    def committed_batches(self) -> set[str]:
        """EXPLICIT ledger entries only — after watermark pruning this no longer
        lists every batch ever applied. Use `is_batch_committed` for the
        exactly-once membership check."""
        return set(self.manifest().committed_batches)

    def is_batch_committed(self, source_id: str, batch_id) -> bool:
        """Exactly-once inspection: ledger entry OR watermark-covered (the same
        check merge() performs)."""
        return self.manifest().is_committed(source_id, batch_id)

    def lease(self) -> dict:
        """The inspectable resume lease, mirroring ContinuationTokenItem {id, lease}
        (/root/reference/src/factory/types.ts:7-12)."""
        return dict(self.manifest().lease)

    # -- MERGE ---------------------------------------------------------------

    def merge(
        self,
        batch: DataFrame,
        seq_col: str = "seq",
        op_col: str = "op",
        batch_id: int | str = 0,
        source_id: str = "changelog",
        lease_token: str | None = None,
        delete_op: str = "delete",
        tiebreakers: list[str] | None = None,
        lineage: list[dict] | None = None,
        planning_stats: list[tuple[int, int, int]] | None = None,
    ) -> dict:
        """MERGE the micro-batch into the table; returns commit metrics and
        the committed lease.

        WHEN MATCHED AND op='delete' THEN DELETE / WHEN MATCHED UPDATE /
        WHEN NOT MATCHED INSERT — resolved as union + per-key LWW (see module doc).

        Idempotent on (source_id, batch_id): a re-delivered batch is a no-op and
        returns {"skipped": True} (E21 exactly-once).

        The lease's resume cursor covers every event read and never
        regresses: the max of the parent's cursor, the merged max_seq and
        `lease_token` — the max seq of events the caller read but did not
        pass in (e.g. quarantined ones).
        """
        m = self.manifest()
        if m.is_committed(source_id, batch_id):
            return {"skipped": True, "version": m.version, "batch_id": batch_id}

        keys = m.key_cols
        n_buckets = m.n_buckets
        payload_cols = [c for c in batch.columns if c not in (seq_col, op_col)]
        schema, schema_version = _evolved_schema(m.schema, m.schema_version,
                                                 batch.schema, payload_cols,
                                                 bucket_key=m.bucket_key)
        batch = _normalize_key_types(batch, keys, schema, "merge")

        # 1) cheap planning job: affected buckets + input metrics from the RAW
        #    key/op/seq columns only — Catalyst prunes every derived column (incl.
        #    pandas-UDF projections), so the expensive transform pipeline does NOT
        #    execute here. Distinct buckets of the raw batch equal distinct buckets
        #    of the deduped batch (dedupe keeps ≥1 row per key), so pruning is exact.
        #    `planning_stats` = precomputed [(bucket, n, max_seq)] skips the job
        #    entirely (the pipeline folds it into its lineage aggregation — one
        #    job, not two).
        if planning_stats is not None:
            agg = [{"_bucket": b, "n": n, "max_seq": s} for b, n, s in planning_stats]
        else:
            agg = (
                batch.select(*keys, op_col, seq_col)
                .withColumn("_bucket", bucket_expr(m.bucket_key, n_buckets))
                .groupBy("_bucket")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max(seq_col).alias("max_seq"),
                )
                .collect()
            )  # bounded by n_buckets rows — never data-proportional
        # monotone high watermark: micro-batches are not seq-contiguous (file
        # batching / DLQ replay), and a batch of older seqs must not regress
        # the resume cursor — re-reading from a regressed token is safe
        # (idempotent MERGE) but wasteful. Incremental consumers that must see
        # out-of-order changes use snapshot_diff (version-based), not the
        # seq-watermark feed. An empty commit carries the parent's max_seq
        # forward, or read_incremental(since_version=V) on it falls back to -1
        # and re-emits the whole table (explicit None checks: max_seq=0 is legal).
        parent_ms = m.lease.get("metrics", {}).get("max_seq")
        seqs = [int(r["max_seq"]) for r in agg]
        if parent_ms is not None:
            seqs.append(int(parent_ms))
        max_seq = max(seqs, default=-1)
        metrics: dict = {}
        cursor = max(max_seq, int(m.lease.get("lease", -1)),
                     -1 if lease_token is None else int(lease_token))
        lease = _data_lease(source_id, batch_id, str(cursor), metrics, lineage)
        commit = dict(lease=lease, ledger_key=f"{source_id}:{batch_id}",
                      schema_json=schema.json(), schema_version=schema_version)
        if not agg:
            metrics.update(rows=0, upserts=0, deletes=0, max_seq=max_seq)
            new = self._commit(m, **commit)
            return {"skipped": False, "version": new.version,
                    "batch_id": batch_id, "metrics": metrics, "lease": lease}
        affected = {int(r["_bucket"]) for r in agg}
        replaced = _replaced_buckets(m, affected)

        # 2) existing rows of the REPLACED buckets only (bucket-pruned snapshot
        #    scan), INCLUDING tombstones — a stored delete must keep outranking
        #    older seqs. Buckets the commit appends to are not read at all: the
        #    batch's own winners land as delta files and readers/compaction
        #    resolve LWW later, so the write job is O(batch) for them
        incoming = batch.withColumn("_prio", F.lit(1))
        existing_files = m.files_in(replaced)
        if existing_files:
            existing = (
                self._frame(m, existing_files, True)
                .withColumn(seq_col, F.col(SEQ_META_COL))
                .withColumn(op_col, F.col(OP_META_COL))
                .withColumn("_prio", F.lit(0))
                .drop(SEQ_META_COL, OP_META_COL)
            )
            merged = existing.unionByName(incoming, allowMissingColumns=True)
        else:
            merged = incoming  # first batch / untouched buckets: nothing to merge

        # 3) union (schema-aligned) → ONE per-key LWW → drop delete-winners.
        #    max_by is associative, so deduping the raw batch together with the
        #    existing rows in a single aggregation is exactly equivalent to
        #    dedupe-batch-then-merge — but one whole shuffle stage cheaper. The
        #    map-side partial max_by keeps shuffle volume at one row per key per
        #    map partition regardless of raw duplication, and _prio=1 makes the
        #    batch win seq ties against existing rows. The Arrow-UDF transform
        #    upstream of `batch` executes exactly once, inside the write job.
        #    Winner metrics ride the same job via observe() — no extra pass.
        winners = lww_dedupe(
            merged, keys, seq_col=seq_col,
            tiebreakers=["_prio"] + (tiebreakers or []),
        )
        obs = Observation()
        winners = winners.observe(
            obs,
            F.sum(
                F.when((F.col(op_col) == delete_op) & (F.col("_prio") == 1), 1)
                .otherwise(0)
            ).alias("delete_winners"),
            F.sum(F.when(F.col("_prio") == 1, 1).otherwise(0)).alias("batch_winners"),
            F.count(F.lit(1)).alias("rows_written"),
        )
        # delete-winners are KEPT as tombstones (see read() docstring); they leave
        # the table only via expire_tombstones() once the low-watermark passes.
        # Null-fill columns the batch does not carry (an appended delta is the
        # batch alone, which may lack pre-evolution payload columns).
        aligned = (
            winners.withColumn(SEQ_META_COL, F.col(seq_col))
            .withColumn(OP_META_COL, F.col(op_col))
        )
        def _out(c: str):
            if c not in aligned.columns:
                return F.lit(None).cast(schema[c].dataType).alias(c)
            if aligned.schema[c].dataType != schema[c].dataType:
                # widened column where the union resolved narrow (e.g. a delta
                # append of an int batch into a bigint column): files written
                # now must carry the manifest's physical type
                return F.col(c).cast(schema[c].dataType).alias(c)
            return F.col(c)

        final = aligned.select(*[_out(c) for c in schema.fieldNames()])

        # 4) write the affected buckets' new files, replacing the replaced
        #    ones. The lease's metrics fill in once the write job has run.
        def write(snap: Manifest) -> list[FileEntry]:
            files = self._rewrite(m, snap, final, affected, replaced)
            seen = obs.get
            deletes = int(seen.get("delete_winners") or 0)
            metrics.update(
                rows=sum(int(r["n"]) for r in agg),
                upserts=int(seen.get("batch_winners") or 0) - deletes,
                deletes=deletes,
                rows_written=int(seen.get("rows_written") or 0),
                buckets_rewritten=len(affected),
                buckets_total=n_buckets,
                max_seq=max_seq,
            )
            return files

        new = self._commit(m, write=write, **commit)
        return {"skipped": False, "version": new.version, "batch_id": batch_id,
                "metrics": metrics, "lease": lease}

    def merge_into(
        self,
        source: DataFrame,
        when_matched_update: str | dict | None = "all",
        matched_update_condition=None,
        when_matched_delete=None,
        when_not_matched_insert: dict | bool | None = True,
        not_matched_insert_condition=None,
        batch_id: int | str = 0,
        source_id: str = "merge-into",
        seq: int | None = None,
        validate_source_unique: bool = True,
    ) -> dict:
        """Generic clause-based MERGE INTO (Delta/Iceberg `MERGE INTO t USING s`
        parity) — arbitrary update expressions over both sides, conditional
        deletes, conditional inserts — on top of the same bucket layout,
        exactly-once ledger and atomic snapshot commit as the CDC `merge`.

        The join is ALWAYS on the table's key columns: source rows hash to the
        same buckets as their targets (`bucket_expr` is a pure key function),
        so the merge touches only the source's buckets and the join shuffles
        both sides on the partitioning the table already uses. A general ON
        clause would force a full-table join — deliberately unsupported.

        Clauses (fixed evaluation order per row, like Delta's clause list):
          1. matched + `when_matched_delete` condition  -> tombstone the row
          2. matched + `matched_update_condition`       -> apply the update
          3. not matched + insert condition             -> insert
          4. otherwise                                  -> carry unchanged
        "Matched" means a LIVE target row exists; a tombstoned key counts as
        not-matched, so an insert resurrects it explicitly (and wins, because
        this commit's seq exceeds the tombstone's).

        - `when_matched_update`: "all" (set every source payload column),
          a {target_col: Column} dict of expressions, or None (no update
          clause). Expressions may reference both sides via the `t.`/`s.`
          aliases (key columns are unqualified — the join coalesces them).
        - `when_matched_delete`: a Column condition, True (always), or None.
        - `when_not_matched_insert`: True (insert the source row), a
          {target_col: Column} dict (unlisted columns NULL), or None.
        - `seq`: the `_last_seq` stamped on every changed row — defaults to
          parent max_seq + 1 and MUST exceed the parent watermark so
          `read_incremental` consumers see exactly this commit's changes.
        - `validate_source_unique`: one bounded extra aggregation proving no
          key occurs twice in the source (two source rows matching one target
          make the merge ambiguous — same error Delta raises). Disable only
          when the source is already key-unique by construction.

        Scale shape: one planning aggregation (O(n_buckets) rows collected),
        one key-partitioned join over ONLY the affected buckets, zero UDFs;
        under write_mode='mor' only the rows an action touched are appended
        as delta files (write cost O(changed)), under 'cow' the affected
        buckets rewrite. Reference anchor: the reference's apply side stops at
        queue produce (src/queue/eventhub/utils.ts:91-98); this is lake-side
        API surface the north_rule's "lake upsert" requires beyond CDC LWW.
        """
        if (when_matched_update is None and when_matched_delete is None
                and not when_not_matched_insert):
            raise ValueError("merge_into: at least one clause is required")
        if isinstance(when_matched_update, str) and when_matched_update != "all":
            raise ValueError("when_matched_update: expected 'all', a dict, or None")
        m = self.manifest()
        if m.is_committed(source_id, batch_id):
            return {"skipped": True, "version": m.version, "batch_id": batch_id}
        keys = m.key_cols
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"merge_into: source lacks key columns {missing}")
        src_payload = [c for c in source.columns if c not in keys]
        schema, schema_version = _evolved_schema(
            m.schema, m.schema_version, source.schema, src_payload,
            bucket_key=m.bucket_key)
        # keys are excluded from src_payload, so _evolved_schema never sees a
        # key-type drift here — normalize (or refuse) it explicitly
        source = _normalize_key_types(source, keys, schema, "merge_into")
        parent_ms = m.lease.get("metrics", {}).get("max_seq")
        parent_ms = -1 if parent_ms is None else int(parent_ms)
        seq_val = parent_ms + 1 if seq is None else int(seq)
        if seq_val <= parent_ms:
            raise ValueError(
                f"merge_into: seq {seq_val} must exceed the table watermark "
                f"{parent_ms} (monotone incremental feed)")

        # planning job: affected buckets (+ key-uniqueness proof in the same
        # pass when requested) — output bounded by n_buckets rows
        if validate_source_unique:
            per_key = source.groupBy(*keys).agg(F.count(F.lit(1)).alias("_cnt"))
            agg = (
                per_key.withColumn("_bucket", bucket_expr(m.bucket_key, m.n_buckets))
                .groupBy("_bucket")
                .agg(F.sum("_cnt").alias("n"), F.max("_cnt").alias("max_dup"))
                .collect()
            )
            if any(r["max_dup"] > 1 for r in agg):
                raise ValueError(
                    "merge_into: source has multiple rows per key — the merge "
                    "is ambiguous; pre-aggregate (e.g. lww_dedupe) first")
        else:
            agg = (
                source.select(*keys)
                .withColumn("_bucket", bucket_expr(m.bucket_key, m.n_buckets))
                .groupBy("_bucket").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
        metrics: dict = {}
        lease = _data_lease(source_id, batch_id,
                            str(seq_val if agg else parent_ms), metrics)
        commit = dict(lease=lease, ledger_key=f"{source_id}:{batch_id}",
                      schema_json=schema.json(), schema_version=schema_version)
        if not agg:
            metrics.update(rows=0, upserts=0, deletes=0, max_seq=parent_ms)
            new = self._commit(m, **commit)
            return {"skipped": False, "version": new.version,
                    "batch_id": batch_id, "metrics": metrics}
        affected = {int(r["_bucket"]) for r in agg}

        replaced = _replaced_buckets(m, affected)
        existing = self._frame(m, m.files_in(affected), include_deleted=True)
        t = existing.withColumn("_t", F.lit(1)).alias("t")
        s = source.withColumn("_s", F.lit(1)).alias("s")
        joined = t.join(s, keys, "full_outer")
        t_here = F.col("_t").isNotNull()
        t_live = t_here & ~F.col(f"t.{OP_META_COL}").eqNullSafe("delete")
        matched = t_live & F.col("_s").isNotNull()
        unmatched_src = F.col("_s").isNotNull() & ~t_live

        action = None

        def _clause(cond, name):
            nonlocal action
            action = F.when(cond, name) if action is None else action.when(cond, name)

        if when_matched_delete is not None:
            dc = F.lit(True) if when_matched_delete is True else when_matched_delete
            _clause(matched & dc, "delete")
        if when_matched_update is not None:
            uc = (F.lit(True) if matched_update_condition is None
                  else matched_update_condition)
            _clause(matched & uc, "update")
        if when_not_matched_insert:
            ic = (F.lit(True) if not_matched_insert_condition is None
                  else not_matched_insert_condition)
            _clause(unmatched_src & ic, "insert")
        action = action.when(t_here, "carry")  # else NULL: source-only, no insert
        joined = joined.withColumn("_action", action).filter(
            F.col("_action").isNotNull())

        upd = dict(when_matched_update) if isinstance(when_matched_update, dict) else {}
        ins = (dict(when_not_matched_insert)
               if isinstance(when_not_matched_insert, dict) else {})
        bad = [c for c in (*upd, *ins) if c in keys]
        if bad:
            raise ValueError(
                f"merge_into: key columns {bad} cannot be set — a key change "
                "is a delete + insert (row identity is the bucket function)")
        meta = {SEQ_META_COL, OP_META_COL}
        act = F.col("_action")

        def _value(c: str):
            old = (F.col(f"t.{c}") if c in existing.columns
                   else F.lit(None))  # brand-new evolved column
            if when_matched_update == "all":
                upd_e = F.col(f"s.{c}") if c in src_payload else old
            else:
                upd_e = upd.get(c, old)
            if when_not_matched_insert is True:
                ins_e = F.col(f"s.{c}") if c in src_payload else F.lit(None)
            else:
                ins_e = ins.get(c, F.lit(None))
            return (
                F.when(act == "update", upd_e)
                .when(act == "insert", ins_e)
                .otherwise(old)  # delete/carry keep the old payload
                .cast(schema[c].dataType).alias(c)
            )

        out = joined.select(
            *keys,  # coalesced join keys
            *[_value(f.name) for f in schema.fields
              if f.name not in meta and f.name not in keys],
            F.when(act == "carry", F.col(f"t.{SEQ_META_COL}"))
             .otherwise(F.lit(seq_val)).cast("long").alias(SEQ_META_COL),
            F.when(act == "carry", F.col(f"t.{OP_META_COL}"))
             .otherwise(act).alias(OP_META_COL),
            act.alias("_action"),
        )
        if replaced != affected:
            # carried rows stay in the files of the buckets not replaced: the
            # appended deltas hold only changed rows, O(changed)
            out = out.filter((F.col("_action") != "carry") | bucket_expr(
                m.bucket_key, m.n_buckets).isin(*replaced))
        obs = Observation()
        out = out.observe(
            obs,
            *[F.sum((F.col("_action") == a).cast("long")).alias(a + "s")
              for a in ("insert", "update", "delete")],
        )
        final = out.drop("_action").select(*[f.name for f in schema.fields])

        def write(snap: Manifest) -> list[FileEntry]:
            files = self._rewrite(m, snap, final, affected, replaced)
            got = obs.get
            inserts = int(got.get("inserts") or 0)
            updates = int(got.get("updates") or 0)
            metrics.update(
                rows=int(sum(r["n"] for r in agg)),
                upserts=inserts + updates,
                inserts=inserts,
                updates=updates,
                deletes=int(got.get("deletes") or 0),
                buckets_rewritten=len(affected),
                buckets_total=m.n_buckets,
                max_seq=seq_val,
            )
            return files

        new = self._commit(m, write=write, **commit)
        return {"skipped": False, "version": new.version, "batch_id": batch_id,
                "metrics": metrics}

    # -- maintenance ----------------------------------------------------------

    @staticmethod
    def _mutation_batch_id(kind: str, filters, predicate, set_exprs=None) -> str:
        """Deterministic default batch_id for predicate mutations.

        delete_where/update_where used to default batch_id=0 with a fixed
        source_id, so two DIFFERENT predicate mutations run with defaults
        collided in the exactly-once ledger — the second silently no-opped
        (a quiet failure for what the docstrings frame as GDPR erasure).
        Deriving the default from the mutation spec keeps retries of the SAME
        mutation idempotent while distinct mutations get distinct ledger keys.
        Callers that intentionally re-run the same predicate (e.g. a nightly
        retention sweep that must delete NEWLY matching rows) pass an explicit
        batch_id per run."""
        import hashlib

        spec = [kind, repr(filters), str(predicate)]
        if set_exprs is not None:
            spec.append(repr(sorted((k, str(v)) for k, v in set_exprs.items())))
        return "auto-" + hashlib.md5("|".join(spec).encode()).hexdigest()[:16]

    def delete_where(
        self,
        filters: list[tuple] | None = None,
        predicate=None,
        batch_id: int | str | None = None,
        source_id: str = "delete-where",
    ) -> dict:
        """Predicate delete (GDPR erasure / retention sweeps): tombstone every
        LIVE row matching the condition, through the same `merge_into` path as
        any other mutation — deletes are CDC events (`read_incremental`
        consumers see them propagate; `expire_tombstones` reclaims them once
        the low-watermark passes), never in-place file surgery that downstream
        replicas would silently miss.

        `filters` takes the zone-map form `[(col, op, value)]` so candidate
        files prune MANIFEST-side before any scan (`read_where`); `predicate`
        takes an arbitrary Column for conditions zone maps can't serve (full
        scan of live rows). At least one is required; both compose (AND).

        Scale shape: the merge source is KEYS-ONLY (payload dropped before the
        shuffle — the delete clause never reads source payload), and the merge
        touches only buckets holding matches. Exactly-once: (source_id,
        batch_id) goes through the ledger, so a retried erasure job is a no-op.
        """
        if filters is None and predicate is None:
            raise ValueError("delete_where: need filters and/or predicate")
        if batch_id is None:
            batch_id = self._mutation_batch_id("delete", filters, predicate)
        matches = (self.read_where(filters) if filters is not None
                   else self.read())
        if predicate is not None:
            matches = matches.filter(predicate)
        keys = self.manifest().key_cols
        src = matches.select(*keys)
        # live LWW state is key-unique by construction — skip the extra
        # uniqueness-proof aggregation
        return self.merge_into(
            src,
            when_matched_update=None,
            when_matched_delete=True,
            when_not_matched_insert=None,
            batch_id=batch_id,
            source_id=source_id,
            validate_source_unique=False,
        )

    def update_where(
        self,
        set_exprs: dict,
        filters: list[tuple] | None = None,
        predicate=None,
        batch_id: int | str | None = None,
        source_id: str = "update-where",
    ) -> dict:
        """Predicate update (`UPDATE t SET ... WHERE ...`): rewrite matching
        LIVE rows through `merge_into`'s update clause — GDPR rectification
        and column backfills, with the same CDC visibility (`_last_seq` above
        the watermark, so incremental consumers see exactly the changed rows)
        and exactly-once ledger as every other mutation.

        `set_exprs` maps target column → expression; expressions may reference
        current row values via the `t.` alias (e.g. `{"n": F.col("t.n") + 1}`).
        `filters` (zone-map form) and/or `predicate` (arbitrary Column) select
        the rows, composing with AND — same contract as `delete_where`.
        """
        if filters is None and predicate is None:
            raise ValueError("update_where: need filters and/or predicate")
        if not set_exprs:
            raise ValueError("update_where: set_exprs must be non-empty")
        if batch_id is None:
            batch_id = self._mutation_batch_id(
                "update", filters, predicate, set_exprs)
        matches = (self.read_where(filters) if filters is not None
                   else self.read())
        if predicate is not None:
            matches = matches.filter(predicate)
        keys = self.manifest().key_cols
        return self.merge_into(
            matches.select(*keys),
            when_matched_update=dict(set_exprs),
            when_matched_delete=None,
            when_not_matched_insert=None,
            batch_id=batch_id,
            source_id=source_id,
            validate_source_unique=False,
        )

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024,
                min_files_per_bucket: int = 2,
                sort_cols: list[str] | None = None,
                zorder_cols: list[str] | None = None) -> dict:
        """Fold buckets back to one file: rewrite every bucket holding ≥
        min_files_per_bucket files that either holds several files (delta
        files with per-key LWW pending, whatever their size) or is one file
        under target_file_bytes.

        Copy-on-write commits leave one file per bucket; merge-on-read commits
        append a delta file per touched bucket per batch, and at 100 TB unmanaged
        small files dominate scan planning cost (this is Iceberg's rewrite_data_files
        maintenance action re-expressed). Data content is row-identical after
        compaction — only the file layout changes; commit goes through the same
        atomic-manifest protocol so concurrent readers keep their snapshot.

        `sort_cols` = Iceberg's SORT rewrite strategy: cluster each rewritten
        bucket file on the given columns (typically the key). Hash bucketing
        spreads any single key range across buckets, so FILE-level column
        stats cannot prune key predicates — but a within-file sort tightens
        parquet ROW-GROUP statistics, which Spark's native parquet pushdown
        then skips without any engine code on the read path. One extra local
        sort per rewritten bucket (no extra shuffle: sortWithinPartitions
        rides the same repartition the rewrite already does).

        `zorder_cols` = Iceberg's ZORDER rewrite strategy: cluster on the
        Morton interleave of several columns so row-group stats stay tight
        for EVERY listed column, not just the first (functions/zorder.py).
        Mutually exclusive with `sort_cols`; costs one extra bounded min/max
        aggregation over the victim rows.
        """
        if sort_cols and zorder_cols:
            raise ValueError("compact: sort_cols and zorder_cols are mutually exclusive")
        m = self.manifest()
        # a multi-file bucket is a victim regardless of size — the point is
        # folding delta files back into one resolved file (bounding read-side
        # LWW work), not just bin-packing small files
        victims = {
            b: fs for b, fs in m.by_bucket.items()
            if len(fs) >= min_files_per_bucket
            and (len(fs) > 1 or fs[0].bytes <= target_file_bytes)
        }
        if not victims:
            return {"compacted_buckets": 0, "version": m.version}
        # include_deleted=True: tombstones MUST survive compaction — dropping them
        # reintroduces the resurrection bug they exist to prevent (a later batch
        # with older seqs would bring the key back) and silently breaks delete
        # propagation in read_incremental
        df = self.read(buckets=set(victims), include_deleted=True)
        drop_after_sort = None
        if zorder_cols:
            from change_data_capturer_ms_spark.functions.zorder import zorder_key

            df = df.withColumn("_zkey", zorder_key(df, zorder_cols))
            sort_cols, drop_after_sort = ["_zkey"], ["_zkey"]
        # maintenance commit: the resume lease is carried over untouched —
        # compaction must never move the CDC cursor
        new = self._commit(m, maintenance="compact",
                           write=lambda snap: self._rewrite(
                               m, snap, df, set(victims), sort_cols=sort_cols,
                               drop_after_sort=drop_after_sort))
        return {"compacted_buckets": len(victims), "version": new.version,
                "files_before": sum(len(v) for v in victims.values()),
                "files_after": sum(f.bucket in victims for f in new.files)}

    def stats(self, version: int | None = None, top_n: int = 10) -> dict:
        """Layout health from the manifest alone — ZERO Spark jobs (at 100 TB
        a stats call must not schedule a scan). Drives the maintenance
        decisions: `multi_file_buckets`→compact, `bucket_skew`→key salting or
        rebucket, `avg_bucket_bytes` vs executor memory→rebucket count.

        Returns bounded output regardless of table size: aggregates plus the
        `top_n` heaviest buckets (never the full per-bucket map — at the
        100 TB config that is O(10^4-10^5) entries).
        """
        m = self.manifest(version)
        idx = m.by_bucket
        rows_b = {b: sum(f.rows for f in fs) for b, fs in idx.items()}
        bytes_b = {b: sum(f.bytes for f in fs) for b, fs in idx.items()}
        n_used = len(idx)
        total_rows = sum(rows_b.values())
        total_bytes = sum(bytes_b.values())
        avg_rows = total_rows / n_used if n_used else 0.0
        max_rows = max(rows_b.values(), default=0)
        heaviest = sorted(rows_b, key=lambda b: (-rows_b[b], b))[:top_n]
        return {
            "version": m.version,
            "write_mode": m.write_mode,
            "n_buckets": m.n_buckets,
            "buckets_used": n_used,
            "files": len(m.files),
            "rows": total_rows,
            "bytes": total_bytes,
            "avg_bucket_rows": avg_rows,
            "avg_bucket_bytes": total_bytes / n_used if n_used else 0.0,
            "max_bucket_rows": max_rows,
            # >1 under hash bucketing means a hot KEY (hash spreads hot
            # repos; only one key hashing huge can skew a bucket) — the
            # signal for salting or a finer bucket count
            "bucket_skew": (max_rows / avg_rows) if avg_rows else 0.0,
            "multi_file_buckets": sum(1 for fs in idx.values() if len(fs) > 1),
            "top_buckets": [
                {"bucket": b, "rows": rows_b[b], "bytes": bytes_b[b],
                 "files": len(idx[b])} for b in heaviest
            ],
        }

    def files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg `table.files` metadata-table parity: one row per data file
        in the snapshot, as a DataFrame (joinable, filterable). Built from
        manifest entries — no data files are opened. At the 100 TB config the
        manifest itself would be Avro-file-backed and this would read it
        distributed; the row shape is the contract."""
        m = self.manifest(version)
        rows = [(f.path, int(f.bucket), int(f.rows), int(f.bytes),
                 None if f.min_seq is None else int(f.min_seq),
                 None if f.max_seq is None else int(f.max_seq))
                for f in m.files]
        schema = ("path string, bucket int, rows bigint, bytes bigint, "
                  "min_seq bigint, max_seq bigint")
        if not rows:
            return self.spark.range(0).selectExpr(
                "cast(null as string) path", "cast(null as int) bucket",
                "cast(null as bigint) rows", "cast(null as bigint) bytes",
                "cast(null as bigint) min_seq", "cast(null as bigint) max_seq")
        return self.spark.createDataFrame(rows, schema)

    def history_df(self) -> DataFrame:
        """Iceberg `table.history`/`snapshots` parity: one row per retained
        snapshot, newest first — version, parent, commit time, the batch that
        produced it and its merge metrics. Walks the parent chain from the
        current pointer; versions dropped by expire_snapshots end the walk
        (exactly the retained history, like Iceberg)."""
        rows = []
        try:
            head = self.manifest().version
        except Exception:
            head = None
        for m in self._ancestry(head):
            lease = m.lease or {}
            met = lease.get("metrics") or {}
            rows.append((
                int(m.version),
                None if m.parent is None else int(m.parent),
                float(m.committed_at or 0.0),
                None if lease.get("batch_id") is None else str(lease["batch_id"]),
                None if met.get("rows") is None else int(met["rows"]),
                None if met.get("upserts") is None else int(met["upserts"]),
                None if met.get("deletes") is None else int(met["deletes"]),
                None if met.get("max_seq") is None else int(met["max_seq"]),
                int(m.schema_version),
                m.write_mode,
            ))
        schema = ("version int, parent int, committed_at double, "
                  "batch_id string, rows bigint, upserts bigint, "
                  "deletes bigint, max_seq bigint, schema_version int, "
                  "write_mode string")
        if not rows:
            return self.spark.range(0).selectExpr(
                "cast(null as int) version", "cast(null as int) parent",
                "cast(null as double) committed_at",
                "cast(null as string) batch_id", "cast(null as bigint) rows",
                "cast(null as bigint) upserts", "cast(null as bigint) deletes",
                "cast(null as bigint) max_seq",
                "cast(null as int) schema_version",
                "cast(null as string) write_mode")
        return self.spark.createDataFrame(rows, schema)

    def lookup_many(self, keys: list[dict], version: int | None = None
                    ) -> DataFrame:
        """Batched point lookups: ONE job for N keys instead of N `lookup()`
        calls. Buckets are computed driver-side per key (xxhash64 port), the
        per-key candidate files are unioned (zone-map + bloom skipping apply
        per key), and the pruned frame is inner-joined with a broadcast frame
        of the requested keys — O(matching files + N), never a table scan."""
        m = self.manifest(version)
        for kv in keys:
            missing = [k for k in m.key_cols if k not in kv]
            if missing:
                raise ValueError(
                    f"lookup_many requires all key columns; missing {missing}")
        key_fields = [m.schema[k] for k in m.key_cols]
        key_schema = T.StructType(key_fields)
        if not keys:
            return self._frame(m, [], False).limit(0)
        from change_data_capturer_ms_spark.functions.xxh64 import xxhash64_cols

        types = {f.name: f.dataType.simpleString() for f in m.schema.fields}
        # the manifest's bucket index: the per-key candidate scan touches
        # only the key's bucket (O(files/bucket)), not the whole manifest
        # (O(files) x N keys was seconds of driver time at 1024 files x 1000
        # keys in the pruning probe behind BENCH/FINDINGS.md)
        entries: dict[str, FileEntry] = {}
        for kv in keys:
            try:
                h = xxhash64_cols([kv[k] for k in m.bucket_key],
                                  [types[k] for k in m.bucket_key])
                pool = m.by_bucket.get(h % m.n_buckets, [])
            except TypeError:
                pool = None  # unsupported key type: zone/bloom pruning only
            for f in self.candidate_files(
                    [(k, "=", kv[k]) for k in m.key_cols],
                    file_pool=pool, manifest=m):
                entries[f.path] = f
        base = self._frame(m, list(entries.values()), False)
        key_df = self.spark.createDataFrame(
            [tuple(kv[k] for k in m.key_cols) for kv in keys], key_schema
        ).dropDuplicates(m.key_cols)
        return base.join(F.broadcast(key_df), m.key_cols, "inner")

    def optimize(self, target_file_bytes: int = 128 * 1024 * 1024,
                 expire_below_seq: int | None = None,
                 keep_snapshots: int | None = None,
                 sort_cols: list[str] | None = None,
                 zorder_cols: list[str] | None = None) -> dict:
        """One-call maintenance pass (Iceberg's rewrite_data_files +
        expire_snapshots housekeeping as a single policy step): compact
        multi-file buckets, then optionally expire tombstones below the
        source low-watermark, then optionally expire old snapshots.

        Ordering matters and is fixed: compaction FIRST so multi-file
        buckets become single-file and thus eligible for tombstone expiry
        (expire_tombstones skips multi-file buckets by design); snapshot
        expiry LAST so the versions the earlier steps replaced age out in
        the same pass. Each step is its own atomic commit — a crash between
        steps leaves a consistent table, and the next optimize() resumes the
        remainder.
        """
        report: dict = {"compact": self.compact(
            target_file_bytes=target_file_bytes,
            sort_cols=sort_cols, zorder_cols=zorder_cols)}
        if expire_below_seq is not None:
            report["expire_tombstones"] = self.expire_tombstones(expire_below_seq)
        if keep_snapshots is not None:
            report["expire_snapshots"] = self.expire_snapshots(keep_snapshots)
        report["stats"] = self.stats()
        return report

    def rebucket(self, new_n_buckets: int) -> dict:
        """Bucket-count evolution: rewrite the table once under a new hash-bucket
        count (Iceberg partition-spec evolution for the bucket transform,
        re-expressed; spec is per-snapshot there, per-manifest here).

        Why it exists: the bucket count is THE scale knob of this layout — a
        table that grew 100x needs proportionally more buckets or each MERGE
        rewrite and point-lookup scan balloons with it. The bucket id is
        pmod(xxhash64(keys), n) with n recorded in the manifest, so every
        reader resolves the count from the version it reads: time travel to
        pre-rebucket versions keeps pruning with the OLD count, new commits
        use the new one — no reader-side ambiguity, no dual-hash window.

        Cost is one full-table shuffle + rewrite — the honest floor for a
        modulus change (virtually every row moves bucket). Runs through the
        same atomic manifest protocol: schema, lease, and exactly-once ledger
        are carried; tombstones ride along (include_deleted) so delete
        suppression survives; MOR delta files fold into resolved base files
        as a side effect (a rebucket subsumes compaction).
        """
        m = self.manifest()
        if not new_n_buckets > 0:
            raise ValueError(f"rebucket: need new_n_buckets > 0, got {new_n_buckets}")
        if new_n_buckets == m.n_buckets:
            return {"rebucketed": False, "version": m.version,
                    "n_buckets": m.n_buckets}
        df = self.read(include_deleted=True)
        new = self._commit(m, maintenance="rebucket", n_buckets=new_n_buckets,
                           write=lambda snap: self._rewrite(
                               m, snap, df, set(range(new_n_buckets))))
        return {"rebucketed": True, "version": new.version,
                "n_buckets": new_n_buckets,
                "files": len(new.files)}

    def expire_tombstones(self, min_seq: int) -> dict:
        """Drop delete tombstones with `_last_seq < min_seq`.

        Safe once the source low-watermark guarantees no event with seq < min_seq
        can still arrive (the streaming checkpoint's committed offset). Rewrites
        only single-file buckets that actually hold expirable tombstones; same
        atomic commit, lease untouched. A multi-file bucket waits for compact():
        a delta tombstone may be suppressing an older live row in the same
        bucket's other file, and dropping it first would resurrect that row.
        """
        m = self.manifest()
        if OP_META_COL not in m.schema.fieldNames():
            return {"expired": 0, "version": m.version}
        # null-safe: legacy rows with NULL _last_op are live; under three-valued
        # logic a plain `== 'delete'` predicate would make ~expirable NULL and
        # silently drop them in the keep-filter below
        expirable = F.coalesce(
            F.col(OP_META_COL).eqNullSafe("delete") & (F.col(SEQ_META_COL) < min_seq),
            F.lit(False),
        )
        # candidate single-file buckets by min_seq stats, then the exact
        # bucket set in one small agg
        cand = {
            b for b, fs in m.by_bucket.items()
            if len(fs) == 1 and (fs[0].min_seq is None or fs[0].min_seq < min_seq)
        }
        if not cand:
            return {"expired": 0, "version": m.version}
        victims = {
            int(r["_bucket"])
            for r in self.read(buckets=cand, include_deleted=True)
            .filter(expirable)
            .withColumn("_bucket", bucket_expr(m.bucket_key, m.n_buckets))
            .select("_bucket").distinct().collect()
        }
        if not victims:
            return {"expired": 0, "version": m.version}
        keep = self.read(buckets=victims, include_deleted=True).filter(~expirable)
        new = self._commit(m, maintenance="expire-tombstones",
                           write=lambda snap: self._rewrite(m, snap, keep, victims))
        return {"expired_buckets": len(victims), "version": new.version}

    def expire_snapshots(self, keep_last: int = 2,
                         orphan_grace_sec: float = 3600.0) -> dict:
        """Drop manifests older than the newest `keep_last` and delete data files
        referenced only by them (Iceberg expire_snapshots semantics).

        The current snapshot is never touched; time travel remains available for
        retained versions, and TAGGED versions are pinned regardless of age
        (Iceberg ref-retention semantics — a tag marks a snapshot someone must
        be able to reproduce; drop_tag releases it). Orphan files from crashed
        writers are also swept (they appear in no retained manifest) — but only
        once older than `orphan_grace_sec`: a merge/compact in flight has
        written data files whose manifest is not yet committed, and sweeping
        those would corrupt that commit (Iceberg's remove_orphan_files applies
        the same mtime guard).
        """
        import time as _time

        cur = self.manifest()
        # walk the ancestry (parent pointers), not a contiguous version range:
        # versions allocate from a global counter once branches exist, so the
        # last keep_last ANCESTORS are not the last keep_last numbers.
        # ALWAYS retain keep_last ancestors of the MAIN pointer, even when
        # this handle is branch-bound: expiry walking only the branch head
        # would delete main's recently retained history (time travel /
        # read_incremental(since_version=...) on main would start raising).
        main_v = self.store.current_version()
        pinned = {a.version for head in {cur.version, main_v}
                  for a in itertools.islice(self._ancestry(head), keep_last)}
        # tagged versions AND branch heads are pinned (Iceberg ref retention).
        # A branch's UNPUBLISHED intermediate ancestry is pinned too: with 2+
        # unpublished commits on a branch, expiring the intermediate manifest
        # would break fast_forward's parent walk ("not an ancestor") and make
        # a genuinely-publishable branch permanently unpublishable. Walk each
        # head down to its FORK POINT on main's ancestry — stopping only at
        # RETAINED main would walk a stale branch straight past its fork and
        # pin main's entire pre-fork history (nothing below keep_last would
        # ever be reclaimed); stopping at a tag could leave a gap below it.
        main_ancestry = {a.version for a in self._ancestry(main_v)}
        pinned |= ({main_v}
                   | set(self.store.tags().values())
                   | set(self.store.branches().values()))
        for head in self.store.branches().values():
            pinned.update(itertools.takewhile(
                lambda v: v not in main_ancestry,
                (a.version for a in self._ancestry(head))))
        keep_versions = sorted(pinned)
        live: set[str] = set()
        referenced: set[str] = set()  # referenced by ANY manifest, retained or not
        for mpath in glob.glob(os.path.join(self.path, "_meta", "v*.json")):
            v = int(os.path.basename(mpath)[1:-5])
            try:
                paths = {f.path for f in self.store.load(v).files}
            except FileNotFoundError:
                continue
            referenced.update(paths)
            if v in keep_versions:
                live.update(paths)
        removed_files = 0
        now = _time.time()
        data_root = os.path.join(self.path, "data")
        for fpath in glob.glob(os.path.join(data_root, "*", "*", "*.parquet")) + glob.glob(
            os.path.join(data_root, "*", "*.parquet")
        ):
            rel = os.path.relpath(fpath, self.path)
            if rel in live:
                continue
            try:
                # a file in NO manifest may belong to an in-flight commit whose
                # manifest is not yet written — only sweep it past the grace age;
                # files referenced by an expired (non-retained) manifest were
                # committed and are removed regardless of age
                if rel not in referenced and \
                        now - os.path.getmtime(fpath) < orphan_grace_sec:
                    continue
                os.remove(fpath)
            except FileNotFoundError:
                continue  # concurrent sweeper already removed it
            removed_files += 1
        removed_manifests = 0
        for mpath in glob.glob(os.path.join(self.path, "_meta", "v*.json")):
            v = int(os.path.basename(mpath)[1:-5])
            if v not in keep_versions:
                os.remove(mpath)
                removed_manifests += 1
        return {"removed_files": removed_files,
                "removed_manifests": removed_manifests,
                "retained_versions": keep_versions}

    # -- internals -----------------------------------------------------------

    def _write_buckets(
        self, df: DataFrame, keys: list[str], n_buckets: int,
        version: int, n_affected: int, sort_cols: list[str] | None = None,
        drop_after_sort: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> list[FileEntry]:
        """Write df partitioned by bucket under data/v{N}/; return stats entries.

        repartition on _bucket co-locates each bucket in one task → one file per
        bucket (plus the partitionBy dir layout for cheap bucket-set reads).
        `sort_cols` clusters rows within each bucket file (tight row-group
        stats for parquet-pushdown skipping) — a task-local sort, no shuffle.
        """
        rel_dir = os.path.join("data", f"v{version}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, rel_dir)
        bucketed = (
            df.withColumn("_bucket", bucket_expr(keys, n_buckets))
            .repartition(max(n_affected, 1), "_bucket")
        )
        if sort_cols:
            bucketed = bucketed.sortWithinPartitions("_bucket", *sort_cols)
        if drop_after_sort:
            # a projection never reorders rows within a partition, so the
            # clustering established above survives dropping the sort key
            bucketed = bucketed.drop(*drop_after_sort)
        writer = bucketed.write.mode("overwrite").partitionBy("_bucket")
        for c in bloom_cols or []:
            # two-level skipping: manifest blooms (below) skip whole FILES
            # driver-side; parquet column blooms let the reader skip ROW
            # GROUPS inside the files that survive
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer.parquet(out_dir)
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def _trunc_bounds(lo: str, hi: str, width: int = 64):
            """Iceberg-style string-stat truncation so wide columns (content)
            don't bloat the JSON manifest: the lower bound truncates (a prefix
            is ≤ the full value), the upper bound truncates-and-increments the
            last incrementable codepoint so it stays a valid upper bound."""
            if len(lo) > width:
                lo = lo[:width]
            if len(hi) > width:
                hi = hi[:width]
                for i in range(len(hi) - 1, -1, -1):
                    if ord(hi[i]) < 0x10FFFF:
                        hi = hi[:i] + chr(ord(hi[i]) + 1)
                        break
                else:
                    return None  # cannot form an upper bound — drop the stat
            return [lo, hi]

        def _col_minmax(md, idx: int):
            """Footer-only [min, max] across row groups; None when any group
            lacks stats (conservative: un-stat'd file is never pruned)."""
            lo = hi = None
            for g in range(md.num_row_groups):
                s = md.row_group(g).column(idx).statistics
                if s is None or not s.has_min_max:
                    return None
                mn, mx = s.min, s.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        return None
                if not isinstance(mn, (int, float, str, bool)):
                    return None  # timestamps etc.: not JSON-portable, skip
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if lo is None:
                return None
            if isinstance(lo, str):
                return _trunc_bounds(lo, hi)
            return [lo, hi]

        def _stat(fpath: str) -> FileEntry | None:
            bucket = int(os.path.basename(os.path.dirname(fpath)).split("=", 1)[1])
            md = pq.ParquetFile(fpath).metadata
            if md.num_rows == 0:
                return None
            min_seq = max_seq = None
            col_stats: dict[str, list] = {}
            for i in range(md.num_columns):
                name = md.row_group(0).column(i).path_in_schema if md.num_row_groups else None
                if name is None or "." in name:  # nested: no zone map
                    continue
                mm = _col_minmax(md, i)
                if mm is None:
                    continue
                if name == SEQ_META_COL:
                    min_seq, max_seq = mm
                else:
                    col_stats[name] = mm
            return FileEntry(
                path=os.path.relpath(fpath, self.path),
                bucket=bucket,
                rows=md.num_rows,
                bytes=os.path.getsize(fpath),
                min_seq=min_seq,
                max_seq=max_seq,
                col_stats=col_stats or None,
            )

        paths = glob.glob(os.path.join(out_dir, "_bucket=*", "*.parquet"))
        with ThreadPoolExecutor(max_workers=min(16, max(len(paths), 1))) as ex:
            entries = [e for e in ex.map(_stat, paths) if e is not None]
        if bloom_cols and entries:
            self._attach_blooms(entries, out_dir, bloom_cols)
        return entries

    def _attach_blooms(self, entries: list[FileEntry], out_dir: str,
                       bloom_cols: list[str]) -> None:
        """One aggregation over the just-written files → per-(bucket, col)
        bloom bitmaps on the manifest entries (lake/bloom.py).

        Bitmap width adapts to each file's row count. The driver collect is
        bounded: per (file, col) at most min(k·rows, m) distinct positions.
        Hash-partitioning guarantees one file per bucket per write, so keying
        by bucket is keying by file.
        """
        from change_data_capturer_ms_spark.lake.bloom import (
            K_HASHES, bloom_m, pack_bits, position_exprs)

        m_by_bucket = {e.bucket: bloom_m(e.rows) for e in entries}
        src = self.spark.read.parquet(out_dir)  # partition col _bucket intact
        cols = [c for c in bloom_cols if c in src.columns]
        if not cols:
            return
        m_map = F.create_map(*[F.lit(x) for b, m_ in m_by_bucket.items()
                               for x in (b, m_)])
        m_expr = F.element_at(m_map, F.col("_bucket").cast("int"))
        probes = F.array(*[
            F.struct(F.lit(c).alias("c"), p.alias("p"))
            for c in cols
            for p in position_exprs(c, m_expr, K_HASHES)
        ])
        rows = (
            src.select(F.col("_bucket").cast("int").alias("_bucket"),
                       F.explode(probes).alias("e"))
            .where(F.col("e.p").isNotNull())
            .groupBy("_bucket", F.col("e.c").alias("c"))
            .agg(F.collect_set("e.p").alias("ps"))
            .collect()
        )
        blooms: dict[int, dict] = {}
        for r in rows:
            m_ = m_by_bucket[r["_bucket"]]
            blooms.setdefault(r["_bucket"], {})[r["c"]] = {
                "m": m_, "k": K_HASHES, "b64": pack_bits(r["ps"], m_)}
        for e in entries:
            if e.bucket in blooms:
                e.bloom = blooms[e.bucket]

    def _rewrite(self, base: Manifest, new: Manifest, df: DataFrame,
                 buckets: set[int], replaced: set[int] | None = None,
                 **write_kw) -> list[FileEntry]:
        """The rewrite step of every data-writing commit: write `df` — the
        rows of `buckets` under `new`'s bucket layout — as fresh files under
        data/v{new.version}-<uuid>/, and carry every base file outside
        `replaced` (default: `buckets`; merge-on-read deltas replace none),
        or none when the bucket count changes (rebucket)."""
        written = self._write_buckets(df, new.bucket_key, new.n_buckets,
                                      new.version, len(buckets),
                                      bloom_cols=new.bloom_cols, **write_kw)
        if new.n_buckets != base.n_buckets:
            return written
        replaced = buckets if replaced is None else replaced
        return [f for f in base.files if f.bucket not in replaced] + written

    def _ancestry(self, version: int | None) -> Iterator[Manifest]:
        """`version`'s manifest, then its parent's, down the chain — ending
        at the root or at the first expired manifest, so the walk covers
        exactly the retained history."""
        while version is not None:
            try:
                m = self.store.load(version)
            except FileNotFoundError:
                return
            yield m
            version = m.parent

    def _commit(self, parent: Manifest | None, base: Manifest | None = None,
                lease: dict | None = None, ledger_key: str | None = None,
                maintenance: str | None = None,
                write: Callable[[Manifest], list[FileEntry]] | None = None,
                **changes) -> Manifest:
        """The one snapshot-commit path (module doc): the new manifest is
        `base` (default `parent`) with `changes` applied, a freshly allocated
        version, and `parent` — the head this handle's ref must still point
        at when the pointer swaps (None only for create) — as its parent.

        - files: `write(new)` is the rewrite step (`_rewrite`) returning the
          new snapshot's complete file list; it runs once the version is
          allocated, so data files land under data/v{N}-<uuid>/. Without it
          the base's files carry over.
        - lease: `lease` for a data commit; None carries the base's lease —
          the parent's for maintenance, the target's for rollback.
        - ledger: `ledger_key` (a data commit's `source:batch`) or
          `maintenance` (recorded as `maintenance:<kind>-v<N>`) is appended
          and the ledger pruned; with neither, the base's ledger is kept.
        """
        base = base or parent
        new = dataclasses.replace(
            base, **changes, version=self.store.next_version(),
            parent=None if parent is None else parent.version)
        if lease is not None:
            new.lease = lease
        entry = ledger_key
        if maintenance is not None:
            entry = f"maintenance:{maintenance}-v{new.version}"
        if entry is not None:
            new.committed_batches, new.batch_watermarks = prune_ledger(
                base.committed_batches + [entry], base.batch_watermarks)
        if write is not None:
            new.files = write(new)
        if new.schema_json != base.schema_json:
            # a type-widening commit invalidates existing bloom bitmaps for the
            # widened columns: xxhash64 is type-sensitive, so probing an
            # int-built bitmap with the new bigint hash yields false
            # "definitely absent" — files wrongly pruned, rows silently
            # unreadable. Strip those columns' blooms from this commit's
            # entries (pruning degrades to zone maps for them; later rewrites
            # rebuild blooms under the new type).
            old_types = {f.name: f.dataType for f in base.schema.fields}
            changed = {f.name for f in new.schema.fields
                       if f.name in old_types and f.dataType != old_types[f.name]}
            new.files = [
                dataclasses.replace(f, bloom={c: b for c, b in f.bloom.items()
                                              if c not in changed} or None)
                if f.bloom and (changed & f.bloom.keys()) else f
                for f in new.files
            ]
        self.store.commit(new, expected_parent=new.parent, branch=self._branch)
        return new
