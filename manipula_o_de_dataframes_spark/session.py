"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark guidance: shuffle partitions
sized to cores (not the 200 default), AQE enabled for runtime coalescing
and skew-join handling, Arrow enabled for the pandas-UDF slow path, and a
UTC session timezone so timestamp rendering matches a UTC-naive oracle
(DuckDB) bit-for-bit.

At cluster scale the same builder applies minus ``master``; AQE +
broadcast thresholds are the knobs that matter at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Heap default: SPARK_GRAFT_DRIVER_MEM, else min(4g, RAM/4).

    4g (not bigger) is a measured choice, not a guess: Spark's
    ContextCleaner frees shuffle/broadcast state only when the JVM
    collects the owning weak refs, so an oversized heap lets a long
    multi-query session accumulate driver state between rare GCs — the
    full 95-query bench sweep measured 80 s on 4g vs 190 s on 16g
    (same machine, same code). 1g (the old local-mode default) OOMs
    the 40× scale probes instead; those set SPARK_GRAFT_DRIVER_MEM.
    The RAM clamp keeps the default safe on small hosts.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
        quarter_gb = max(1, total_kb // (4 * 1024 * 1024))
        return f"{min(4, quarter_gb)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def graft_cpus() -> int:
    """Local parallelism: ``SPARK_GRAFT_CPUS`` (driver contract), else
    the cores this process may use — what ``nproc`` reports, so a run
    is never stamped with, or scheduled on, cores the machine lacks."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "manipula_o_de_dataframes_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    import tempfile  # noqa: PLC0415

    cpus = graft_cpus()
    parts = str(shuffle_partitions or cpus)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Local mode defaults to a 1 GiB JVM heap shared by every worker
        # thread — 32 threads spill and GC-thrash on it long before the
        # machine is loaded (measured: a 24M-row sort-merge join OOMs).
        # Only effective at JVM launch, so it must be set here, not after
        # the first session exists (getOrCreate ignores it then).
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.sql.shuffle.partitions", parts)
        # saveAsTable targets (bucketed tables) land in a temp warehouse,
        # never in the repo working tree.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "manipula_spark_warehouse"),
        )
        # Some fixture generations store events.ts as TIMESTAMP(NANOS),
        # which the parquet reader rejects without this legacy flag;
        # harmless for MICROS fixtures (flag only affects NANOS columns).
        # Declared here (session scope) rather than mutated mid-read;
        # read_table keeps a fallback set for driver-owned sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ContextCleaner is GC-driven: shuffle files, broadcast blocks,
        # and accumulator bookkeeping are only released when the JVM
        # collects the owning weak refs. A big heap (e.g. 16g via the
        # env override) GCs so rarely that a long session accumulates
        # driver state and degrades — measured 2× on a 90-query sweep
        # (late queries up to 8× slower) vs a 1g heap whose frequent
        # GCs kept state tidy. Periodic forced GC (upstream default:
        # 30min) restores the tidy behavior at any heap size.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
