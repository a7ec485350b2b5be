"""The CDC pipeline: change-log tail → transform → MERGE apply → lease.

Re-expression of the reference's two service loops under one Structured Streaming
shape (SURVEY.md §3.2/§3.3 — push vs pull collapse into the micro-batch trigger):

reference (Cosmos pull loop, /root/reference/src/capturer/cosmos/cosmos.ts:51-112):
    for await page:  skip NotModified → processResults(page) → upsert lease
engine:
    readStream(log) → foreachBatch: prepare (filter/classify/flatten/hash, Arrow UDFs
    over salted partitions) → LakeTable.merge (idempotent, exactly-once) → lease JSON

Ordering note: the reference commits the lease *after* processing (at-least-once
delivery); we keep commit-after-apply but the apply itself is idempotent on batch_id,
upgrading the loop to exactly-once (SURVEY.md §2.2 E21). The Structured Streaming
checkpoint is the machine-readable resume state (reference resumeAfter token,
mongo.ts:65-88); the `_lease/*.json` files keep the reference's *inspectable* lease
contract {id, lease} (/root/reference/src/factory/types.ts:7-12) extended with
batch_id, per-partition lineage and metrics (north_star).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from change_data_capturer_ms_spark.config import EngineConfig
from change_data_capturer_ms_spark.functions.classify import classify_op_pandas, classify_op_builtin
from change_data_capturer_ms_spark.functions.flatten import flatten_json_col, PROPS_SCHEMA
from change_data_capturer_ms_spark.functions.hashing import (
    content_sha256_builtin,
    content_sha256_pandas,
)
from change_data_capturer_ms_spark.lake.table import LakeTable
from change_data_capturer_ms_spark.operators.dedupe import salted_repartition
from change_data_capturer_ms_spark.sources.changelog import ChangeLogReader

# Semantic version of the APPLY pipeline's WORK (what a timed run measures).
# Bump whenever prepare/merge semantics change the amount or kind of work per
# event — bench probe records carry this stamp and throughput folds ONLY
# within a matching stamp (BENCH/probes.jsonl history spanning a semantics
# change would otherwise report the lighter pipeline's best as the current
# engine's capability). r3c: op_class persists as a payload column, so the
# classify UDF is real per-event work (pre-r3c history measured a pipeline
# where Catalyst pruned it as dead code).
APPLY_SEMVER = "r3c"


def _hist_version(p: str) -> int:
    """Commit order of a lease-history ring file (batch_<version>_<id>.json):
    the manifest version of the commit that wrote it, monotone on main — the
    single ordering key shared by the ring pruner and monitor_drift, so
    retention and PSI pairing can never disagree. Batch ids cannot order the
    ring: run_batch (`manual-<cursor>`) and DLQ replay (`dlq-replay-<id>`)
    ids are not numbers. Malformed names sort first (pruned first, skipped
    as non-monitor payloads by readers)."""
    try:
        return int(os.path.basename(p)[len("batch_"):].split("_", 1)[0])
    except ValueError:
        return -1


def _cursor(lease: dict) -> int | None:
    """A lease's resume cursor: the max seq read, None before the first
    batch. Decode-or-None (reference cosmos/utils.ts:76-91): an undecodable
    token restarts from the beginning, and the idempotent MERGE ledger makes
    the replay exactly-once."""
    try:
        return int(lease["lease"]) if lease.get("lease") else None
    except (TypeError, ValueError):
        return None


def prepare_batch(
    df: DataFrame,
    cfg: EngineConfig | None = None,
    use_pandas_udfs: bool = True,
    flatten_props: bool = False,
) -> DataFrame:
    """Capture-side transform: op filter → salted repartition → classify + hash
    (Arrow UDFs) → optional flatten. Returns a merge-ready frame.

    - op filter: server-side $match parity (mongo.ts:21-25), pushed into the scan.
    - salted repartition: spreads a hot repo over salt_buckets partitions before the
      Python-worker stage; salt is a pure function of (repo, path) so per-key
      semantics downstream are unchanged (E17).
    - classify/hash: pandas/Arrow UDFs per north_star; builtin twins available for
      max-throughput deployments (use_pandas_udfs=False).
    """
    cfg = cfg or EngineConfig()
    out = df.filter(F.col("op").isin(*cfg.captured_ops))
    out = salted_repartition(out, hot_cols=["repo"], salt_cols=["path"],
                             salt_buckets=cfg.salt_buckets)
    classify = classify_op_pandas if use_pandas_udfs else classify_op_builtin
    sha = content_sha256_pandas if use_pandas_udfs else content_sha256_builtin
    out = out.withColumn("op_class", classify("op"))
    out = out.withColumn(
        "content_sha256",
        F.when(F.col("content").isNull(), F.lit(None).cast("string"))
         .otherwise(sha("content")),
    )
    if flatten_props:
        out = flatten_json_col(out, "props", PROPS_SCHEMA, prefix="p_", drop_source=True)
    # op_class PERSISTS as a payload column (the merge-action class consumers
    # filter on) — dropping it here would let Catalyst prune the classify UDF
    # entirely, making the advertised classify stage dead work. seq_bucket is
    # the LOG's partition column; it must not leak into the table payload.
    drop = [c for c in ("seq_bucket",) if c in out.columns]
    return out.drop(*drop)


class CDCPipeline:
    """End-to-end engine loop over one source table (reference ICDCService,
    /root/reference/src/factory/service.ts:32-41)."""

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        table: LakeTable,
        checkpoint_dir: str,
        source_id: str = "changelog",
        cfg: EngineConfig | None = None,
        use_pandas_udfs: bool = True,
        collect_lineage: bool = True,
        flatten_props: bool = False,
        quarantine_dir: str | None = None,
        queue_sink=None,
        monitor_cols: list[str] | None = None,
        monitor_top_k: int = 20,
        audit_fn=None,
        event_dedup_watermark: str | None = None,
    ):
        self.spark = spark
        self.reader = ChangeLogReader(spark, log_path)
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.source_id = source_id
        self.cfg = cfg or EngineConfig()
        self.use_pandas_udfs = use_pandas_udfs
        self.collect_lineage = collect_lineage
        self.flatten_props = flatten_props
        self.quarantine_dir = quarantine_dir
        # optional downstream queue (reference topology: capture → queue produce,
        # src/factory/service.ts + src/queue/*): each applied micro-batch is also
        # produced as JSON envelopes, idempotent on (source_id, batch_id)
        self.queue_sink = queue_sink
        # per-batch distribution monitor: top-K category counts of each listed
        # column ride the inspectable lease, so drift scoring over batches
        # (operators/drift.py psi_from_counts) costs zero further Spark jobs.
        # One extra column-pruned scan + map-side-combined groupBy + top-K per
        # column per batch — opt in for low-cardinality columns (lang, op).
        self.monitor_cols = list(monitor_cols or [])
        self.monitor_top_k = monitor_top_k
        # write-audit-publish gate (Iceberg's branch WAP layout): each
        # micro-batch's MERGE stages on the branch `wap-<source_id>` cut at the
        # main head; audit_fn(staged_table, merge_result) runs on the branch
        # BEFORE main, the lease or the queue move. A pass publishes by
        # metadata-only fast_forward; False / a reason string drops the branch
        # and quarantines the batch rows for replay_quarantine. Main never
        # exposes an unaudited snapshot, and the ref is derived from the
        # source id so fan-in pipelines sharing one table never clash.
        self.audit_fn = audit_fn
        # at-least-once transport guard (operators/dedupe.py
        # streaming_dedupe_within_watermark): drop events whose identity
        # (`seq`) was already observed within the window, BEFORE the batch
        # pipeline — redelivered events are harmless to LWW state but inflate
        # metrics/audit/drift inputs and burn merge work
        self.event_dedup_watermark = event_dedup_watermark
        self.lease_dir = os.path.join(table.path, "_lease")

    # -- lease (inspectable resume state) ------------------------------------

    def _write_lease(self, lease: dict, version: int,
                     captured: DataFrame) -> None:
        """Mirror of the reference lease upsert: one doc per source id, LWW
        (cosmos.ts:91-105), plus a bounded per-batch history RING for audit
        and drift scoring (cfg.lease_history_keep): millions of micro-batches
        must not mean millions of sidecar files — boundedness is a soak
        invariant (tests/test_soak.py). Ring entries are named by the
        commit's manifest `version`, the ring's order (_hist_version). The
        committed `lease` gains the monitor counts of the `captured` rows."""
        if self.monitor_cols:
            lease = {**lease, "monitor": self._monitor_summary(captured)}
        os.makedirs(self.lease_dir, exist_ok=True)
        hist = os.path.join(self.lease_dir,
                            f"batch_{version}_{lease['batch_id']}.json")
        cur_tmp = os.path.join(self.lease_dir, "_current.tmp")
        cur = os.path.join(self.lease_dir, f"{self.cfg.lease_prefix}.json")
        payload = json.dumps(lease, default=str, indent=1)
        with open(hist, "w") as f:
            f.write(payload)
        with open(cur_tmp, "w") as f:
            f.write(payload)
        os.replace(cur_tmp, cur)  # atomic LWW upsert on id
        self._prune_lease_history()

    def _lease_ring(self) -> list[str]:
        """The lease-history ring's files in commit order (_hist_version)."""
        return sorted(glob.glob(os.path.join(self.lease_dir, "batch_*.json")),
                      key=_hist_version)

    def _prune_lease_history(self) -> None:
        """Drop history entries beyond the newest cfg.lease_history_keep
        commits (by commit version — resume-safe: versions are monotone on
        main across restarts, whatever shape the batch ids have)."""
        for p in self._lease_ring()[:-self.cfg.lease_history_keep]:
            try:
                os.remove(p)
            except OSError:
                pass  # concurrent prune/inspection; the ring stays bounded

    def current_lease(self) -> dict | None:
        """Decode-or-None: a corrupt or schema-drifted lease file reads as None
        (⇒ the caller starts from the beginning), never an exception — the
        reference's io-ts decode of the lease item behaves exactly this way
        (/root/reference/src/capturer/cosmos/utils.ts:76-91)."""
        cur = os.path.join(self.lease_dir, f"{self.cfg.lease_prefix}.json")
        if not os.path.exists(cur):
            return None
        try:
            with open(cur) as f:
                payload = json.load(f)
        except (json.JSONDecodeError, OSError, UnicodeDecodeError):
            return None
        return payload if isinstance(payload, dict) else None

    def monitor_drift(self, col: str) -> list[dict]:
        """PSI of `col`'s captured-batch mix between consecutive committed
        batches, computed from the lease history files alone — zero Spark
        jobs (the counts were folded during each batch's own commit; enable
        with `monitor_cols=[col]`). Returns `[{batch_id, psi}]` in commit
        order; alert on the conventional psi > 0.2 threshold."""
        from change_data_capturer_ms_spark.operators.drift import psi_from_counts

        # order by commit version — the same key the ring pruner uses —
        # never file mtime: after a prune + restore/copy (or coarse mtime
        # granularity) mtime order can diverge from commit order and pair
        # non-consecutive batches in the PSI
        out: list[dict] = []
        prev = None
        for p in self._lease_ring():
            try:
                with open(p) as f:
                    payload = json.load(f)
            except (json.JSONDecodeError, OSError):
                continue  # decode-or-skip, same posture as current_lease
            cur = (payload.get("monitor") or {}).get(col)
            if cur is None:
                continue
            if prev is not None:
                out.append({"batch_id": payload.get("batch_id"),
                            "psi": psi_from_counts(prev, cur)})
            prev = cur
        return out

    # -- apply ----------------------------------------------------------------

    def _quarantine_audit_reject(self, captured: DataFrame, batch_id,
                                 reason: str) -> None:
        """Audit-rejected batch rows go to the DLQ for replay_quarantine; with
        no DLQ configured, refuse loudly rather than drop the batch silently."""
        if self.quarantine_dir:
            (captured
             .withColumn("_reasons", F.array(F.lit(f"audit:{reason}")))
             .withColumn("_batch_id", F.lit(batch_id))
             .write.mode("append").parquet(self.quarantine_dir))
        else:
            raise RuntimeError(
                f"audit failed for batch {batch_id} ({reason}) and no "
                "quarantine_dir is configured — refusing to drop the "
                "batch silently")

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """foreachBatch body: [validate →] prepare → merge (idempotent) → lease."""
        # exactly-once short-circuit FIRST: a batch redelivered after a crash
        # between the merge commit and the streaming checkpoint would otherwise
        # (a) append its invalid rows to the DLQ a second time — every
        # still-quarantined row counted and replayed twice forever — and
        # (b) burn the full validate + planning scan before merge() no-ops.
        # The manifest is read ONCE here (ledger check, bucket layout); merge
        # re-reads it for its optimistic-concurrency check and returns the
        # lease it committed. The lease and queue writes a crash after the
        # commit lost are redone on the way out (_heal_head).
        m = self.table.manifest() if self.table.exists() else None
        if m is not None and m.is_committed(self.source_id, batch_id):
            if str((m.lease or {}).get("batch_id")) == str(batch_id):
                self._heal_head(m, lambda: batch_df)
            return {"skipped": True, "version": m.version, "batch_id": batch_id}
        quarantined = None
        if self.quarantine_dir:
            # schema-on-read enforcement (reference io-ts decode-or-Left,
            # cosmos/utils.ts:76-91): invalid rows go to the DLQ, valid rows on.
            # The DLQ write also observes the max quarantined seq: the resume
            # cursor must cover it, or an invalid event ending this batch is
            # read — and quarantined — again by the next run_batch.
            from change_data_capturer_ms_spark.functions.validate import validate_batch

            batch_df, quarantine = validate_batch(batch_df)
            quarantined = Observation()
            (quarantine.observe(quarantined, F.max(F.col("seq").cast("long")).alias("hi"))
             .withColumn("_batch_id", F.lit(batch_id))
             .write.mode("append").parquet(self.quarantine_dir))
        return self._apply(batch_df, batch_id, m, quarantined, self.audit_fn)

    def _heal_head(self, m, rows: Callable[[], DataFrame | None]) -> None:
        """Redo the post-commit side effects of the head commit `m` that a
        crash between its manifest commit and the end of _apply may have
        lost. The reference acknowledges its lease only after processing
        (cosmos.ts:91-105), so a retry must leave the lease and the queue as
        a clean run would. The lease sidecar and its ring entry are
        rewritten from the committed lease when one is missing or stale, and
        the queue produce reruns when its marker is missing; only then is
        `rows()` — the head batch's events, None when the head committed no
        batch of this source — called. With nothing missing this costs
        file-existence checks, no Spark job."""
        lease = m.lease or {}
        if lease.get("id") != self.source_id:
            return
        batch_id = lease.get("batch_id")
        ring = os.path.join(self.lease_dir, f"batch_{m.version}_{batch_id}.json")
        stale = (not os.path.exists(ring) or str(
            (self.current_lease() or {}).get("batch_id")) != str(batch_id))
        unqueued = (self.queue_sink is not None and not
                    self.queue_sink.has_batch(batch_id, self.source_id))
        batch_df = rows() if stale or unqueued else None
        if batch_df is None:
            return
        if self.quarantine_dir:
            # the DLQ append already ran before the crash: keep only the
            # valid rows, as the first delivery did, without appending again
            from change_data_capturer_ms_spark.functions.validate import validate_batch

            batch_df = validate_batch(batch_df)[0]
        captured = batch_df.filter(F.col("op").isin(*self.cfg.captured_ops))
        if stale:
            self._write_lease(lease, m.version, captured)
        if unqueued:
            self.queue_sink.produce(captured, batch_id=batch_id,
                                    source_id=self.source_id)

    def _apply(self, batch_df: DataFrame, batch_id, m, quarantined=None,
               audit_fn=None) -> dict:
        """The commit core every batch goes through — stream and run_batch
        micro-batches via apply_batch, DLQ replays via replay_quarantine:
        prepare [→ create] → planning job → merge [→ audit on the staging
        branch → fast-forward] → lease (+ monitor) → queue sink. `m` is the
        main manifest the caller read (None ⇒ the table does not exist yet);
        `quarantined` observes the max seq the DLQ append diverted."""
        captured = batch_df.filter(F.col("op").isin(*self.cfg.captured_ops))
        prepared = prepare_batch(batch_df, self.cfg, self.use_pandas_udfs,
                                 flatten_props=self.flatten_props)
        if m is None:
            # CREATE TABLE IF NOT EXISTS semantics (reference getOrCreateMongoCollection,
            # /root/reference/src/capturer/mongo/utils.ts:51-70): payload schema =
            # prepared minus the seq/op control columns
            from pyspark.sql import types as T
            payload = [f for f in prepared.schema.fields if f.name not in ("seq", "op")]
            m = self.table.create(T.StructType(payload))

        # ONE cheap planning job over pruned raw columns yields BOTH the
        # per-input-partition lineage (north_star) and the per-bucket stats the
        # MERGE needs — via GROUPING SETS ((p), (_bucket)), so the collect is
        # bounded by partitions + buckets rows (NOT their cross product: at the
        # 100 TB config — O(10^4-10^5) buckets × thousands of input partitions —
        # the old (p, bucket) grouping would be a multi-GB driver collect).
        # Still a single shuffle/job; the Arrow-UDF transform is untouched here
        # (columns pruned) and runs only in the MERGE write job.
        from change_data_capturer_ms_spark.lake.table import bucket_expr

        keys = m.key_cols  # bucket layout is the manifest's, not cfg's
        pre = (
            captured.select(*keys, "seq")
            .withColumn("_bucket", bucket_expr(m.bucket_key, m.n_buckets))
            .withColumn("p", F.spark_partition_id())
        )
        rows = (
            pre.groupingSets([["p"], ["_bucket"]], "p", "_bucket")
            .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"),
                 F.count(F.lit(1)).alias("n"),
                 F.grouping_id().alias("gid"))  # 1 ⇒ per-partition, 2 ⇒ per-bucket
            .collect()
        )
        lineage = None
        if self.collect_lineage:
            lineage = [
                {"partition": int(r["p"]), "first_seq": int(r["lo"]),
                 "last_seq": int(r["hi"]), "rows": int(r["n"])}
                for r in sorted((r for r in rows if r["gid"] == 1),
                                key=lambda r: int(r["p"]))
            ]
        planning_stats = [
            (int(r["_bucket"]), int(r["n"]), int(r["hi"]))
            for r in rows if r["gid"] == 2
        ]
        # observed metrics arrive asynchronously: read them after the
        # planning job, by when they have landed, so get() does not block
        hi = None if quarantined is None else quarantined.get["hi"]

        # audited: stage the merge on a branch cut at the main head (dropping
        # any stale ref a previously rejected batch left), audit the BRANCH,
        # publish metadata-only via fast_forward. A failed audit costs one
        # dropped ref. A crash after fast_forward redelivers the batch, which
        # no-ops on the published ledger.
        target, staging = self.table, f"wap-{self.source_id}"
        if audit_fn is not None:
            self.table.drop_branch(staging)
            self.table.create_branch(staging)
            target = self.table.branch(staging)
        result = target.merge(
            prepared,
            seq_col="seq",
            op_col="op",
            batch_id=batch_id,
            source_id=self.source_id,
            lease_token=None if hi is None else str(hi),
            tiebreakers=["token"],
            lineage=lineage,
            planning_stats=planning_stats,
        )
        if audit_fn is not None:
            verdict = None if result.get("skipped") else audit_fn(target, result)
            if verdict is not None and verdict is not True:
                reason = "audit rejected batch" if verdict is False else str(verdict)
                self.table.drop_branch(staging)
                self._quarantine_audit_reject(captured, batch_id, reason)
                return {"skipped": False, "audit_failed": True, "reason": reason,
                        "version": self.table.manifest().version,
                        "batch_id": batch_id,
                        "metrics": {"rows": 0, "upserts": 0, "deletes": 0}}
            self.table.fast_forward(staging)
            self.table.drop_branch(staging)
        if not result.get("skipped"):
            self._write_lease(result["lease"], result["version"], captured)
        if self.queue_sink is not None:
            # produce the RAW captured rows (the reference queues the change
            # documents themselves) — no UDF columns, so this extra pass stays
            # a cheap scan; the sink's marker makes replays no-ops
            result["queue"] = self.queue_sink.produce(
                captured, batch_id=batch_id, source_id=self.source_id
            )
        return result

    def _monitor_summary(self, captured: DataFrame) -> dict:
        """Per-batch top-K value counts for every monitored column in ONE
        Spark job — GROUPING SETS ((c1), (c2), ...) over the pruned monitored
        columns, mirroring the planning agg above. The old shape ran one
        groupBy job PER column, i.e. N scans of the batch per micro-batch.

        Within a grouping set only that set's column varies (the others are
        null constants), so a single window ordered by (count desc, c1, ...,
        cN) reproduces each column's native-type deterministic tiebreak
        exactly. Collect is bounded by N * top_k rows. Internal aliases are
        double-underscore-prefixed so a user column literally named `gid`,
        `n` or `_rk` (all plausible) cannot AMBIGUOUS_REFERENCE the plan."""
        from pyspark.sql.window import Window

        cols = list(self.monitor_cols)
        w = Window.partitionBy("__cdc_gid").orderBy(
            F.desc("__cdc_n"), *[F.col(c) for c in cols])
        top = (
            captured.select(*cols)
            .groupingSets([[c] for c in cols], *cols)
            .agg(F.count(F.lit(1)).alias("__cdc_n"),
                 F.grouping_id().alias("__cdc_gid"))
            .withColumn("__cdc_rk", F.row_number().over(w))
            .filter(F.col("__cdc_rk") <= self.monitor_top_k)
            .collect()
        )
        # grouping_id bit i (MSB-first in declared column order) set ⇔ column
        # ABSENT from the set, so column i's rows carry gid = full ^ its bit
        full = (1 << len(cols)) - 1
        monitor = {}
        for i, c in enumerate(cols):
            gid = full ^ (1 << (len(cols) - 1 - i))
            monitor[c] = {
                ("<null>" if r[c] is None else str(r[c])): int(r["__cdc_n"])
                for r in sorted(
                    (r for r in top if int(r["__cdc_gid"]) == gid),
                    key=lambda r: int(r["__cdc_rk"]))
            }
        return monitor

    # -- DLQ replay ------------------------------------------------------------

    def replay_quarantine(self, fix=None, replay_id: int | str = 0) -> dict:
        """Replay the DLQ: re-validate quarantined rows — after an optional
        repair transform `fix(df) -> df` over the original batch columns —
        and MERGE the now-valid ones; rows that still fail validation remain
        quarantined. The retry half of the reference's per-message failure
        aggregation (/root/reference/src/queue/eventhub/utils.ts:55-69),
        applied on the ingest side.

        Exactly-once + crash safety, in commit order:
          1. the surviving (still-invalid) rows are STAGED to a sibling tmp
             dir — nothing destructive yet;
          2. the repaired rows go through the stream's commit core (_apply:
             lineage, lease, monitor counts and queue envelopes like any
             batch, no audit) under batch_id `dlq-replay-{replay_id}`
             through the table ledger — a crashed or re-run replay never
             double-applies, and the resume cursor cannot regress (the lake's
             max_seq watermark is monotone);
          3. only after the commit does the staged generation swap in; a
             crash mid-swap is healed on the next call (tmp preferred, else
             the renamed-away old dir is restored).
        """
        if not self.quarantine_dir:
            raise ValueError("replay_quarantine: pipeline has no quarantine_dir")
        import shutil

        qdir = self.quarantine_dir
        tmp, old = qdir + ".replay.tmp", qdir + ".replay.old"
        if not os.path.exists(qdir):
            # heal an interrupted swap: the staged generation wins if it was
            # fully written (step 3 got past the rename-away), else restore
            if os.path.exists(tmp):
                os.rename(tmp, qdir)
            elif os.path.exists(old):
                os.rename(old, qdir)
            else:
                return {"replayed": 0, "still_quarantined": 0}
        from change_data_capturer_ms_spark.functions.validate import validate_batch

        q = self.spark.read.parquet(qdir).drop("_reasons", "_batch_id")
        cand = fix(q) if fix is not None else q
        valid, still_bad = validate_batch(cand)

        shutil.rmtree(tmp, ignore_errors=True)
        (still_bad.withColumn("_batch_id", F.lit(f"dlq-replay-{replay_id}"))
         .write.mode("overwrite").parquet(tmp))
        n_bad = self.spark.read.parquet(tmp).count()

        # the operator's explicit decision: a replay is not audited
        m = self.table.manifest() if self.table.exists() else None
        result = self._apply(valid, f"dlq-replay-{replay_id}", m)
        if result.get("skipped"):
            # the ledger already holds this replay_id (an earlier replay used
            # it): NOTHING was applied, so swapping the DLQ now would delete
            # valid rows that never reached the table — silent data loss for
            # any rows quarantined SINCE that earlier replay. Leave the
            # quarantine untouched and surface the collision in the result.
            shutil.rmtree(tmp, ignore_errors=True)
            return {"replayed": 0, "still_quarantined": int(n_bad),
                    "merge": result, "skipped_swap": True,
                    "reason": f"replay_id {replay_id!r} already committed — "
                              "pass a fresh replay_id to replay the current "
                              "quarantine"}

        shutil.rmtree(old, ignore_errors=True)
        os.rename(qdir, old)
        os.rename(tmp, qdir)
        shutil.rmtree(old, ignore_errors=True)
        return {"replayed": int(result.get("metrics", {}).get("rows", 0)),
                "still_quarantined": int(n_bad), "merge": result}

    # -- run ------------------------------------------------------------------

    def run_stream(
        self,
        max_files_per_trigger: int | None = None,
        timeout_sec: float | None = None,
    ) -> None:
        """Bounded streaming run: availableNow drains everything new since the
        checkpoint then stops (reference closeStream timeout semantics,
        mongo.ts:43-63, made deterministic)."""
        stream = self.reader.read_stream(max_files_per_trigger)
        if self.event_dedup_watermark is not None:
            from change_data_capturer_ms_spark.operators.dedupe import (
                streaming_dedupe_within_watermark)

            stream = streaming_dedupe_within_watermark(
                stream, keys=["seq"], ts_col="ts",
                watermark=self.event_dedup_watermark)
        query = (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.apply_batch(df, bid) and None
            )
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(timeout_sec) if timeout_sec else query.awaitTermination()

    def run_batch(self, batch_id: int | str | None = None) -> dict:
        """One-shot batch apply resuming after the last committed seq — the pull-loop
        shape (cosmos.ts:51-112) without the streaming engine.

        The default batch_id derives from the RESUME CURSOR (`manual-<after>`),
        not a constant: a fixed default ("manual-0") collides in the
        exactly-once ledger across invocations, so every call after the first
        would silently no-op all newly arrived events (the delete_where
        default-batch_id bug class). Distinct cursor ⇒ distinct id; same
        cursor ⇒ the events read are the same set, and the ledger no-op is
        exactly the dedupe you want.

        A crash after a commit leaves the cursor past that batch, so a retry
        reads new events under a new id and never meets the ledger. Before
        reading, the head commit is therefore healed from its own lease
        whatever its id (_heal_head): its events are those with seq in
        (parent cursor, head cursor]."""
        m = self.table.manifest() if self.table.exists() else None
        after = _cursor(m.lease if m is not None else {})

        def head_rows() -> DataFrame | None:
            try:
                lo = _cursor(self.table.manifest(m.parent).lease)
            except FileNotFoundError:
                return None  # parent expired: the head's range is unknown
            if lo is not None and lo >= after:
                # the head read nothing past its parent's cursor: maintenance
                # (it carries the parent's lease) or a DLQ replay, whose
                # rows are not in the log (replay_quarantine heals its own)
                return None
            return (self.reader.read_batch(after_seq=lo)
                    .filter(F.col("seq") <= after))

        if m is not None:
            self._heal_head(m, head_rows)
        if batch_id is None:
            batch_id = f"manual-{-1 if after is None else after}"
        batch = self.reader.read_batch(after_seq=after)
        return self.apply_batch(batch, batch_id)
