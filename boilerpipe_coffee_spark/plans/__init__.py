"""Session construction and scale configuration.

The pipeline targets multi-executor clusters reading 10^12-document
Iceberg tables; in this sandbox it runs ``local[$SPARK_GRAFT_CPUS]``.
All scale knobs live here so bench/tests/production share one place:

- AQE on (runtime coalescing + skew handling for the doc_id shuffle).
- Arrow batches sized so one python-worker batch is thousands of small
  docs (the north star) while giant docs (500-5000 blocks) cannot blow
  up worker memory -- maxRecordsPerBatch bounds rows/batch and Spark
  splits batches per partition anyway.
- shuffle partitions default to 4x cores so AQE has room to coalesce
  and skewed per-doc groups spread out.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "boilerpipe-coffee-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    periodic_gc: str | None = "30s",
    driver_memory: str | None = None,
) -> SparkSession:
    """``periodic_gc``: ContextCleaner reclaims shuffle files and
    broadcasts only after a driver GC; the Spark default (30 min)
    lets a long-lived session hosting many queries accumulate state
    (r4 measured: late-suite queries inflated ~2x after ~100
    queries).  The 30s default here keeps that steady state for the
    bench/driver-style sessions this builder mostly serves; pass
    ``None`` for a short single-job run or a large-heap driver where
    periodic full GCs are pure pause-time (ADVICE r4)."""
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or 4 * cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        # local mode = one JVM for driver AND executors; the Spark
        # default heap (1g) OOMs the first real shuffle at rehearsal
        # scale (r6: the 200k-vector verify join died in a 1g heap).
        # Must be set at session creation -- it configures the JVM
        # launch, not a runtime conf -- and therefore ONLY applies to
        # pyspark-launched local sessions: under spark-submit the
        # driver JVM is already up, so pass --driver-memory there.
        # Override order: explicit param > SPARK_GRAFT_DRIVER_MEM env
        # > 12g default (hosts with <12 GB should set the env).
        .config(
            "spark.driver.memory",
            driver_memory
            or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        # Shuffle/broadcast codec stays on the lz4 DEFAULT.  r6
        # measured both ways (BASELINE.md): zstd wins ~9% on the
        # staged path's one big text exchange, but costs the
        # broadcast-heavy queries far more (dedup_embedding_lsh_pairs
        # ~2.2-3 s lz4 vs ~4-5 s zstd, consistent across interleaved
        # process-level A/B -- the 10 MB gather broadcast decompresses
        # per task).  Net loss for the suite; declined.
    )
    if periodic_gc is not None:
        builder = builder.config(
            "spark.cleaner.periodicGC.interval", periodic_gc
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
