"""Engine configuration — validated eagerly at startup.

Mirrors the reference's eager decode-or-throw config reader
(/root/reference/src/utils/configReader.ts:10-44): every field validated once, a
readable report on failure, then treated as immutable for the process lifetime.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields


@dataclass(frozen=True)
class EngineConfig:
    """Validated engine configuration.

    Scale notes (100 TB / 1000-executor targets):
      - ``n_buckets`` fixes the key-hash bucket layout of lake tables. Buckets are the
        unit of MERGE copy-on-write and of join co-location; at 100 TB you want
        O(10k-100k) buckets so a bucket (~1-10 GB) fits an executor's working set.
        Sandbox default is small.
      - ``shuffle_partitions`` sizes every shuffle; production sets this near
        total-cores * 2-3 or relies on AQE coalescing (we enable AQE).
      - ``salt_buckets`` bounds hot-key fan-out for the salted repartition (E17).
    """

    # lake layout
    n_buckets: int = 16
    # dedupe / skew
    salt_buckets: int = 8
    # streaming
    lease_prefix: str = "cdc-data-lease"  # reference default lease container name
    # per-batch lease-history ring size: _lease/batch_*.json is the audit /
    # drift-monitor trail; a 10^10-event deployment runs millions of
    # micro-batches, so the trail must be a RING, not append-only (the soak
    # asserts boundedness). 512 batches of history is ample for drift scoring
    # (monitor_drift compares consecutive batches) and incident forensics.
    lease_history_keep: int = 512
    # spark
    shuffle_partitions: int = 32
    # op-type filter: the reference captures only insert|update|replace
    # (/root/reference/src/capturer/mongo/mongo.ts:23); the engine default also applies
    # deletes (north_star classifies all four). Set to the reference triple for parity.
    captured_ops: tuple[str, ...] = ("insert", "update", "replace", "delete")

    def __post_init__(self) -> None:
        from change_data_capturer_ms_spark.errors import ConfigError

        problems = []
        for name in ("n_buckets", "salt_buckets", "shuffle_partitions",
                     "lease_history_keep"):
            v = getattr(self, name)
            if not isinstance(v, int) or v <= 0:
                problems.append(f"{name}: expected positive int, got {v!r}")
        bad_ops = set(self.captured_ops) - {"insert", "update", "replace", "delete"}
        if bad_ops:
            problems.append(f"captured_ops: unknown ops {sorted(bad_ops)}")
        if problems:
            raise ConfigError("invalid EngineConfig: " + "; ".join(problems))

    @classmethod
    def from_env(cls, prefix: str = "CDC_") -> "EngineConfig":
        """Build from environment variables (``CDC_N_BUCKETS`` etc.), like the
        reference's env-decoded IConfig. Unknown/absent vars keep defaults."""
        kwargs: dict = {}
        for f in fields(cls):
            raw = os.environ.get(prefix + f.name.upper())
            if raw is None:
                continue
            if f.name == "captured_ops":
                kwargs[f.name] = tuple(s.strip() for s in raw.split(",") if s.strip())
            elif f.type in ("int", int):
                try:
                    kwargs[f.name] = int(raw)
                except ValueError:
                    from change_data_capturer_ms_spark.errors import ConfigError
                    raise ConfigError(f"{prefix}{f.name.upper()}: not an int: {raw!r}")
            else:
                kwargs[f.name] = raw
        return cls(**kwargs)
