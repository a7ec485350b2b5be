"""JSON message-envelope queue sink — the reference's produce side (K3/K4).

The reference batches events into JSON envelopes and sends them through an
Event-Hub/Kafka producer (/root/reference/src/queue/eventhub/utils.ts:91-98:
`{ body: item }` per message, batched send), aggregating per-message failures
(:55-69) and relying on an idempotent transactional producer for exactly-once
(:28-39). This engine has no broker offline, so the queue is a durable
append-only envelope log with the same contract:

- produce(): one Spark job turns the batch into `(key, body, source_id,
  batch_id, seq)` envelopes — body is `to_json(struct(payload))`, key is the
  document key (the reference keys messages for partition affinity) — and
  appends them as one per-batch directory. A commit marker makes the batch
  visible; a crash between data write and marker leaves an invisible orphan,
  and a re-produce of the same batch id is a no-op (exactly-once).
- consume(): reads ONLY committed batch dirs; `parse_envelopes` decodes bodies
  back to typed rows, splitting undecodable messages into a failure frame
  (the reference's per-message failure aggregation re-expressed as a DLQ split,
  same idiom as functions/validate.py).

Scale: envelopes are written by the same partitions that produced them (no
extra shuffle); per-batch directories keep produce append-only and let
consumers prune to new batches by marker — O(new data), never a rescan. A real
Kafka deployment binds a `kafka` sink with the same produce() signature; the
envelope schema is the contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENVELOPE_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), True),
    T.StructField("body", T.StringType(), True),
    T.StructField("source_id", T.StringType(), True),
    T.StructField("batch_id", T.StringType(), True),
    T.StructField("seq", T.LongType(), True),
])


class JsonQueueSink:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...] | list[str] = ("repo", "path"),
        envelope: str = "plain",
        op_col: str = "op",
    ):
        """`envelope` picks the body format:

        - "plain" (default): body = to_json(struct(all columns)) — the
          reference's `{ body: item }` produce shape.
        - "debezium": body = the Debezium change-event value — {"payload":
          {"before": {...}|null, "after": {...}|null, "op": "c"/"u"/"d",
          "source": {"name": source_id, "seq": ...}}} — so any existing
          Debezium consumer (sink connectors, Flink CDC) can read this
          engine's feed without adaptation. `op_col` maps
          insert/update/delete → c/u/d. Deletes carry the event row as
          `before` (after=null), matching Debezium's contract that a `d`
          event's key fields are recoverable from the before-image; upserts
          carry `after` only (the log has post-images only — Debezium's
          tombstones-on-delete=false posture). `sources/debezium.py
          decode_debezium` is the inverse.
        """
        if envelope not in ("plain", "debezium"):
            raise ValueError(f"envelope must be 'plain' or 'debezium', "
                             f"got {envelope!r}")
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.envelope = envelope
        self.op_col = op_col
        self.marker_dir = os.path.join(path, "_commits")

    # -- produce --------------------------------------------------------------

    def _marker(self, source_id: str, batch_id) -> str:
        return os.path.join(self.marker_dir, f"{source_id}__{batch_id}.json")

    def has_batch(self, batch_id: int | str, source_id: str = "cdc") -> bool:
        """Whether (source_id, batch_id) is committed: one file-existence
        check, no Spark job."""
        return os.path.exists(self._marker(source_id, batch_id))

    def produce(self, df: DataFrame, batch_id: int | str,
                source_id: str = "cdc", seq_col: str | None = "seq") -> dict:
        """Envelope + append the batch; idempotent on (source_id, batch_id)."""
        if self.has_batch(batch_id, source_id):
            return {"skipped": True, "batch_id": batch_id}
        marker = self._marker(source_id, batch_id)
        if self.envelope == "debezium":
            data_cols = [c for c in df.columns if c != self.op_col]
            op = F.col(self.op_col)
            dbz_op = (F.when(op == "insert", "c")
                       .when(op.isin("update", "replace"), "u")
                       .when(op == "delete", "d")
                       .otherwise("r"))  # snapshot/bootstrap reads
            body = F.to_json(F.struct(F.struct(
                F.when(op == "delete",
                       F.struct(*[F.col(c) for c in data_cols])).alias("before"),
                F.when(op != "delete",
                       F.struct(*[F.col(c) for c in data_cols])).alias("after"),
                dbz_op.alias("op"),
                F.struct(
                    F.lit(source_id).alias("name"),
                    (F.col(seq_col).cast("long")
                     if seq_col in df.columns
                     else F.lit(None).cast("long")).alias("seq"),
                ).alias("source"),
                # explicit nulls: Debezium consumers distinguish "after": null
                # (delete) from a missing field; Spark's default drops nulls
            ).alias("payload")), {"ignoreNullFields": "false"})
        else:
            body = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        env = df.select(
            F.concat_ws("/", *self.key_cols).alias("key"),
            body.alias("body"),
            F.lit(source_id).alias("source_id"),
            F.lit(str(batch_id)).alias("batch_id"),
            (F.col(seq_col).cast("long") if seq_col in df.columns
             else F.lit(None).cast("long")).alias("seq"),
        )
        from pyspark.sql import Observation

        obs = Observation()
        env = env.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.max("seq").alias("max_seq"))
        out_dir = os.path.join(self.path, "data", f"{source_id}__{batch_id}")
        env.write.mode("overwrite").parquet(out_dir)
        stats = obs.get
        os.makedirs(self.marker_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"source_id": source_id, "batch_id": str(batch_id),
                       "rows": int(stats["n"] or 0),
                       "max_seq": stats["max_seq"]}, f)
        os.replace(tmp, marker)  # atomic visibility flip
        return {"skipped": False, "batch_id": batch_id,
                "rows": int(stats["n"] or 0)}

    # -- consume --------------------------------------------------------------

    def committed_batches(self) -> list[dict]:
        if not os.path.isdir(self.marker_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.marker_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.marker_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def consume(self) -> DataFrame:
        """All committed envelopes (uncommitted orphan dirs are invisible)."""
        return self._read_batches(self.committed_batches())

    def consume_incremental(self, after_batch: int | None = None,
                            source_id: str | None = None) -> DataFrame:
        """Committed envelopes of numeric batches STRICTLY AFTER `after_batch`
        (optionally one source only) — the consumer-side tail: a downstream
        reader remembers its own high watermark and reads O(new batches), never
        a rescan (markers are the listing; per-batch dirs prune the scan)."""
        ms = self.committed_batches()
        if source_id is not None:
            ms = [m for m in ms if m["source_id"] == source_id]
        if after_batch is not None:
            ms = [m for m in ms
                  if str(m["batch_id"]).isdigit()
                  and int(m["batch_id"]) > after_batch]
        return self._read_batches(ms)

    def _read_batches(self, markers: list[dict]) -> DataFrame:
        dirs = [
            os.path.join(self.path, "data", f"{m['source_id']}__{m['batch_id']}")
            for m in markers
        ]
        if not dirs:
            # JVM-side empty relation (see lake/table.py read() codegen note)
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name)
                  for f in ENVELOPE_SCHEMA.fields]
            )
        return self.spark.read.schema(ENVELOPE_SCHEMA).parquet(*dirs)


class QueueConsumer:
    """Resumable consumer over a `JsonQueueSink` — the missing half of the
    reference's produce→consume loop: the producer side persists its resume
    token in the pipeline lease; this persists the CONSUMER's own high
    watermark in the same `{id, lease}` document shape
    (/root/reference/src/capturer/cosmos/utils.ts lease item), so a killed
    consumer resumes exactly after the last batch it COMMITTED.

    Delivery contract is at-least-once with idempotent replay: `poll()`
    returns committed batches strictly after the watermark; `commit()`
    advances the watermark only after the caller has fully processed them. A
    crash between poll and commit redelivers the same batches on restart —
    the same posture as the producer's exactly-once ledger, but consumer-side
    (downstream effects must be idempotent, e.g. a keyed MERGE).

    The watermark is MONOTONE: commit() folds `max(numeric batch ids)` into
    the running maximum and never regresses (mirrors lake/manifest.py's
    max_seq rule). Non-numeric batch ids (DLQ replays tagged "replay-N") are
    outside the numeric tail by design — consume them explicitly via
    `sink.consume()` / source filters.
    """

    def __init__(self, sink: JsonQueueSink, consumer_id: str = "consumer",
                 lease_dir: str | None = None, source_id: str | None = None,
                 history_keep: int = 20):
        self.sink = sink
        self.consumer_id = consumer_id
        self.source_id = source_id
        self.lease_dir = lease_dir or os.path.join(sink.path, "_consumer_lease")
        # audit history is a RING, not an unbounded append: a long-running
        # consumer commits once per micro-batch, and one small file per commit
        # forever is exactly the small-file leak the soak test polices
        self.history_keep = max(int(history_keep), 0)

    # -- lease ----------------------------------------------------------------

    def _lease_path(self) -> str:
        return os.path.join(self.lease_dir, f"{self.consumer_id}.json")

    def current_lease(self) -> dict | None:
        """Decode-or-None, exactly like the pipeline's current_lease: corrupt
        or missing ⇒ None ⇒ the consumer starts from the beginning."""
        p = self._lease_path()
        if not os.path.exists(p):
            return None
        try:
            with open(p) as f:
                payload = json.load(f)
        except (json.JSONDecodeError, OSError, UnicodeDecodeError):
            return None
        return payload if isinstance(payload, dict) else None

    def _watermark(self) -> int | None:
        lease = self.current_lease()
        if lease is None:
            return None
        try:
            return int(lease["lease"])
        except (KeyError, TypeError, ValueError):
            return None  # schema drift decodes as "no watermark"

    # -- consume loop ----------------------------------------------------------

    def poll(self) -> tuple[DataFrame, list[dict]]:
        """(envelopes, markers) for committed numeric batches strictly after
        the persisted watermark — O(new batches): the marker listing is the
        index, per-batch dirs prune the scan."""
        wm = self._watermark()
        ms = self.sink.committed_batches()
        if self.source_id is not None:
            ms = [m for m in ms if m["source_id"] == self.source_id]
        ms = [m for m in ms if str(m["batch_id"]).isdigit()
              and (wm is None or int(m["batch_id"]) > wm)]
        return self.sink._read_batches(ms), ms

    def commit(self, markers: list[dict]) -> dict:
        """Advance + persist the watermark AFTER the batches are processed.
        Atomic (tmp + rename), monotone, with a BOUNDED per-commit audit ring
        (last `history_keep` commits): filenames carry a monotone commit
        counter, so a no-advance commit (same `high`) gets its own entry
        instead of silently overwriting the previous one."""
        if not markers:
            return {"skipped": True, "lease": self._watermark()}
        new_max = max(int(m["batch_id"]) for m in markers)
        wm = self._watermark()
        high = new_max if wm is None else max(wm, new_max)  # never regress
        lease = {
            "id": self.consumer_id,
            "lease": str(high),
            "batches": [str(m["batch_id"]) for m in markers],
            "rows": sum(int(m.get("rows") or 0) for m in markers),
        }
        os.makedirs(self.lease_dir, exist_ok=True)
        payload = json.dumps(lease, indent=1)
        if self.history_keep:
            ring = self._history_files()
            seq = 0
            if ring:
                try:
                    seq = int(os.path.basename(ring[-1]).split("__c")[1]
                              .split("_")[0]) + 1
                except (IndexError, ValueError):
                    seq = len(ring)
            hist = os.path.join(
                self.lease_dir,
                f"{self.consumer_id}__c{seq:010d}_b{high}.json")
            with open(hist, "w") as f:
                f.write(payload)
            for old in self._history_files()[:-self.history_keep]:
                os.unlink(old)
        tmp = self._lease_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, self._lease_path())  # atomic LWW upsert on id
        return {"skipped": False, "lease": str(high), "batches": len(markers)}

    def _history_files(self) -> list[str]:
        """This consumer's audit-ring files, oldest→newest (name order — the
        zero-padded commit counter makes lexicographic == chronological)."""
        try:
            names = os.listdir(self.lease_dir)
        except FileNotFoundError:
            return []
        pref = f"{self.consumer_id}__c"
        return sorted(os.path.join(self.lease_dir, n) for n in names
                      if n.startswith(pref) and n.endswith(".json"))

    def process(self, fn) -> dict:
        """One poll→process→commit turn: `fn(envelopes_df)` runs to completion
        BEFORE the watermark advances (crash inside fn ⇒ redelivery)."""
        df, markers = self.poll()
        if not markers:
            return {"skipped": True, "batches": 0}
        fn(df)
        out = self.commit(markers)
        out["batches"] = len(markers)
        return out


def parse_envelopes(env: DataFrame, payload_schema: T.StructType
                    ) -> tuple[DataFrame, DataFrame]:
    """Decode envelope bodies back to typed rows: (ok, failed).

    `ok` carries the envelope key/batch metadata plus the flattened payload;
    `failed` keeps the raw envelope for rows whose body does not decode against
    the declared schema (reference per-message failure aggregation,
    eventhub/utils.ts:55-69 — failures are collected, never thrown away).
    """
    # explicit corrupt-record column: distinguishes a malformed body from a
    # legitimately all-null payload ('{}' — to_json drops null fields, so a
    # tombstone row with only key metadata round-trips as '{}'; an all-null
    # heuristic would misroute it to the failure frame)
    corrupt = "_corrupt_body"
    while corrupt in payload_schema.fieldNames():
        corrupt += "_"
    schema_c = T.StructType(
        list(payload_schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    parsed = env.withColumn(
        "payload",
        F.from_json("body", schema_c,
                    {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt}),
    )
    bad_cond = (
        F.col("payload").isNull()
        | F.col("body").isNull()
        | F.col(f"payload.{corrupt}").isNotNull()
    )
    # envelope metadata is prefixed so it can never collide with payload columns;
    # the corrupt-record helper field is excluded from the ok projection
    ok = parsed.filter(~bad_cond).select(
        F.col("key").alias("_msg_key"),
        F.col("source_id").alias("_msg_source_id"),
        F.col("batch_id").alias("_msg_batch_id"),
        F.col("seq").alias("_msg_seq"),
        *[F.col(f"payload.{f.name}").alias(f.name) for f in payload_schema.fields],
    )
    failed = parsed.filter(bad_cond).drop("payload")
    return ok, failed
