"""SparkSession construction with engine-tuned defaults.

The session is the engine's `connect` step (reference `mongoConnect`/`cosmosConnect`,
/root/reference/src/capturer/mongo/utils.ts:15-19). Defaults are chosen for the
large-cluster execution model and only scaled down by callers for local tests:

- AQE on (runtime re-plan: skew-join split, partition coalescing),
- Arrow on (pandas UDF hot path is Arrow-batched, never per-row pickle),
- shuffle partitions explicit (prod: ~2-3x total cores; AQE coalesces down),
- AQE initialPartitionNum >> shuffle_partitions so big micro-batches split
  their shuffles fine-grained instead of spilling (see get_spark body for the
  measured 64M-event evidence), while AQE coalescing keeps small stages cheap.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Named conf profiles layered between the engine defaults and the caller's
# extra_conf. Every knob here has measured A/B evidence; the defaults body
# below documents the knobs that are ALWAYS on (AQE 8x initialPartitionNum,
# Arrow 64k batches, 2-min periodic GC, worker reuse).
PROFILES: dict[str, dict[str, str]] = {
    # Multi-executor cluster where the lake lives on object storage and
    # shuffles cross a real network — the regime where byte COUNT, not
    # compression CPU, is the binding cost. Both knobs measurably LOSE a few
    # percent on the local bench (BENCH/BASELINE.md compression codecs, 64M
    # events: quiet-window walls A 73.4/76.6 s vs zstd variants 77-82 s)
    # because this sandbox's lake is page-cache-resident and local shuffle
    # IO is nearly free, so compression is pure CPU; but parquet-zstd shrank
    # the same lake 41% (5.7 vs 9.6 GB, identical final_rows) — the winning
    # trade once reads and shuffle bytes are network-priced.
    "cluster": {
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.io.compression.codec": "zstd",
    },
}


def build_conf(
    shuffle_partitions: int = 32,
    aqe_initial_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> dict[str, str]:
    """The exact conf get_spark applies, as a pure function (testable without
    a JVM). Precedence: engine defaults < profile < extra_conf."""
    # AQE sizes reducers from ACTUAL map output: start shuffles fine-grained
    # (initialPartitionNum) and let coalescing fold small stages back to
    # ~advisory size. With only the flat shuffle_partitions count, a growing
    # micro-batch silently fattens every shuffle partition until it spills —
    # measured at 64M events x ~1.2 KB (two ~38 GB batch shuffles): 64
    # partitions = ~600 MB each, wall 120.9/136.4 s; initialPartitionNum=512
    # = 93.6/112.9 s, 17-23% faster inside the same host-weather window,
    # identical final_rows (BENCH/BASELINE.md shuffle sizing). A flat
    # shuffle=256 is NOT equivalent (89.2/155.2 s — unstable): splitting
    # must come with AQE coalescing or small stages pay the fan-out.
    if aqe_initial_partitions is None:
        aqe_initial_partitions = max(8 * shuffle_partitions, 256)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(aqe_initial_partitions),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 64k rows per Arrow batch (default 10k): the pandas-UDF stage's cost
        # on this class of host is dominated by IPC round trips (socket
        # write/read + framing per batch, heavy kernel time under nested
        # virt), not pandas compute — 6.4x fewer boundaries measured 8-20%
        # faster on the 16M-event apply in every interleaved round
        # (BENCH/BASELINE.md Arrow batch size, A vs B), identical final_rows.
        # 256k was NOT better: per-worker peak memory spikes (~256 MB Arrow
        # chunks at 1 KB rows x 32 workers) made walls erratic. ~64 MB per
        # batch per worker stays comfortably inside executor memory at
        # cluster scale.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        # parquet scan: vectorized reader + pushdown are defaults; keep explicit so a
        # misconfigured cluster profile can't silently disable them
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": "8g",
        # v2 committer: per-task direct rename instead of a sequential driver-side
        # move of every partition dir — cuts partitioned-write commit latency and
        # at cluster scale removes the O(files) driver bottleneck
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # keep Python workers warm between Arrow UDF stages
        "spark.python.worker.reuse": "true",
        # a CDC driver is LONG-RUNNING: shuffle files of finished micro-batches
        # are only deleted when ContextCleaner GCs their ShuffleDependency,
        # and the JVM may not GC for the default 30 min under steady load —
        # measured here, a 4-micro-batch 128M-event replay accumulated 53 GB
        # of dead shuffle spill and filled the disk. 2 min keeps peak spill
        # proportional to ONE batch (executor-disk bound at cluster scale);
        # the forced GC pause is ~1 s per fire, noise next to any batch
        "spark.cleaner.periodicGC.interval": "2min",
    }
    if profile is not None:
        if profile not in PROFILES:
            raise ValueError(
                f"unknown profile {profile!r}; available: {sorted(PROFILES)}")
        conf.update(PROFILES[profile])
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "change-data-capturer-ms-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    aqe_initial_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in build_conf(shuffle_partitions, aqe_initial_partitions,
                           extra_conf, profile).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
