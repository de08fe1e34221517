"""SparkSession factory.

Replaces the reference's engine constructor (Deduplication.scala:14-25 wires
repo + config + logger); here we wire SparkSession + DedupConfig. All perf
knobs live here so tests, bench, and spark-submit jobs share one profile.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DedupConfig, DEFAULT_CONFIG


def _default_driver_mem() -> str:
    """Half the host's physical memory, at most 48g. In local mode the
    driver JVM hosts every executor, and the JVM grows its heap toward the
    cap rather than collecting: a cap above physical memory (48g on a 16 GB
    host) let a long test session reach ~15 GB resident and be killed by
    the host's OOM killer."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2**31))}g"


def build_session(
    app_name: str = "dedup",
    master: str | None = None,
    config: DedupConfig = DEFAULT_CONFIG,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this pipeline.

    - AQE on: runtime shuffle coalescing + skew-join splitting picks up the
      residual LSH bucket skew that our explicit capping doesn't (SURVEY.md 4.2.1).
    - Arrow on, small maxRecordsPerBatch: `content` rows are fat (up to ~8 KB);
      default 10k-row batches would hold ~80 MB per Python worker.
    - shuffle.partitions ~ cores for local mode; a real cluster deployment
      overrides via spark-submit --conf.
    - session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
    """
    # Make the package importable in Python worker processes. Deployment via
    # spark-submit --py-files dist/dedup.zip achieves the same; for in-process
    # sessions (tests, bench) we export PYTHONPATH before the JVM forks workers.
    src_dir = str(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if src_dir not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            src_dir + (os.pathsep + existing if existing else "")
        )

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                _default_driver_mem())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.arrow_max_records_per_batch),
        )
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # text analytics is CPU-bound per byte: smaller scan splits keep all
        # cores busy even on modest single-file inputs (default 128m would
        # give a 50 MB corpus a single scan partition)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
