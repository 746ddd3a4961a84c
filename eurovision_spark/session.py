"""SparkSession construction for the engine.

One place to set the configs that matter for both the local test
harness (local[$SPARK_GRAFT_CPUS], all local cores when unset) and a
real multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion) — the scale levers SURVEY §4 calls out.
- shuffle.partitions sized to cores locally; on a cluster this is
  AQE-managed via the coalesce initialPartitionNum.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# serializes every scoped session-conf change (re-entrant: a scoped
# operator may call another)
_CONF_LOCK = threading.RLock()


def host_heap() -> str:
    """Default driver heap: half the host's physical RAM, at least 1g and
    at most 24g. The cap: at 8g a local[32] bench showed GC-pressure
    jitter (one text-heavy query per run randomly 5-10x slower warm),
    and 24g held the whole suite spike-free on a 128 GiB host; a fixed
    24g on a smaller host promises the JVM more than the host has."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
    return f"{min(24, max(1, ram_gb // 2))}g"


def get_spark(app_name: str = "eurovision_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then all local cores; the
    driver heap to $SPARK_GRAFT_DRIVER_MEM, then :func:`host_heap`.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NOTE: no nanosAsLong here — events.ts's physical type is
        # producer-controlled, so timeaxis.ensure_readable probes the
        # parquet footer and sets that legacy conf only when the data
        # actually carries TIMESTAMP(NANOS).
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[dict]:
    """Set session-wide ``confs`` for the body, restore them on exit.

    Session confs are global to every thread sharing ``spark``: an
    operator that flips AQE off or pins the shuffle partitions for its
    own loop would otherwise leak the degraded setting into whatever a
    concurrent caller plans meanwhile. Every such change goes through
    here: the body holds a module lock, so concurrent callers wait for
    each other, and the previous values (unset ones included) come back
    even when the body raises. Yields the previous values (``None`` for
    unset), for a body that must restore one early."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield prev
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
