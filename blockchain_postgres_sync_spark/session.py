"""SparkSession factory with the engine's required settings.

The reference fixes all timestamps to UTC (TIMESTAMPTZ columns, naive
``candles.time_start``; migrations/2022-04-27-111623_initial/up.sql:16,369).
We pin ``spark.sql.session.timeZone=UTC`` so parquet naive timestamps and
date_trunc behave identically to the Postgres/DuckDB oracle.

Scale posture (100 TB target, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- autoBroadcastJoinThreshold raised: dimension tables (decimals/assets/
  nation/region/part at bench SF) must broadcast, never shuffle.
- shuffle.partitions sized for the local harness; on a real cluster this is
  overridden by AQE coalescing + advisory partition size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: upper bound of the machine-derived driver heap (the former fixed default)
_MAX_DRIVER_MEMORY_MB = 32 * 1024


def default_driver_memory() -> str:
    """Heap for the local-mode JVM: ``SPARK_DRIVER_MEMORY`` when set, else
    60 % of this machine's MemTotal, at most 32 GiB.  Local mode runs
    driver and executors in ONE JVM, so a heap sized for a bigger host lets
    it grow past physical memory and get OOM-killed mid-run; the other
    40 % stays for the JVM's off-heap use, the Python workers and the OS."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    heap_mb = min(_MAX_DRIVER_MEMORY_MB, total_mb * 6 // 10)
                    return f"{max(1024, heap_mb)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{_MAX_DRIVER_MEMORY_MB}m"


def get_spark(
    app_name: str = "blockchain-postgres-sync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # cores: SPARK_GRAFT_CPUS when set, else the CPUs this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # Whole-stage codegen compiles a fresh Java class per plan shape; a
    # ~100-query bench pass fills the JVM's default 240 MB reserved code
    # cache (measured: profiled-nmethods heap at 90/116 MB after two
    # catalog passes), after which HotSpot stops JIT-compiling and every
    # subsequent query runs 2-3x slower ("CodeCache is full" aging).  The
    # flag must reach the JVM BEFORE launch — in local-mode pyspark the
    # gateway forks the JVM at getOrCreate, so spark.driver.extraJavaOptions
    # set via SparkConf is silently ignored; JAVA_TOOL_OPTIONS is read by
    # any JVM at startup.  No-op if a JVM is already up or the caller set
    # their own value.
    jto = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "ReservedCodeCacheSize" not in jto:
        os.environ["JAVA_TOOL_OPTIONS"] = (
            jto + " -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"
        ).strip()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honor the advisory partition size when coalescing instead of
        # defaulting to full parallelism: multi-stage plans over heavily
        # reduced aggregates (the candle cascade's 12 rollups) otherwise
        # launch shuffle.partitions tiny tasks per stage — pure scheduler
        # overhead locally, and stragglers' worth of tiny tasks on a busy
        # cluster (Spark's own guidance for this flag)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # ...but keep the coalesce target small enough that a mostly-reduced
        # intermediate (a candle level is ~1-2 MB of shuffle bytes at bench
        # SF) still fans across cores instead of collapsing to ONE partition
        # — with the 64 MB default the 13-level cascade ran 13 sequential
        # single-threaded stages (measured 6.4s -> 3.0s at sf0.1).  Coalesce
        # can only MERGE map outputs (never exceed shuffle.partitions), so a
        # small advisory size costs nothing on big stages; on a real cluster
        # override via extra_conf to ~64m for multi-GB shuffles
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # ...and floor the coalesce at the session's core count: AQE sizes
        # post-shuffle partitions by BYTES, but this engine's byte-light
        # exchanges regularly feed compute-heavy stages (posting-list
        # n(n-1)/2 pair expansion, collect_list assembly, Arrow kernels) —
        # without a floor those stages collapse to ONE task and serialize
        # a 32-core box (round-10 profiling: a 2.7 s single-task posting
        # aggregation inside tfidf_rerank).  Floor = shuffle_partitions
        # (the core count locally, total cores on a cluster — the same
        # floor Spark's own parallelismFirst default enforces); extra_conf
        # overrides it like any other setting.  Interleaved A/B over 26
        # mixed-shape queries at sf0.1: 45.7 -> 36.4 s, 24/26 queries
        # faster, worst regression +0.24 s
        # (candles_1m); the round-7 tiny-task concern that motivated
        # allowing full collapse is gone since the cascade became the
        # 2-exchange one-pass form (re-measured: cascade 3.9 -> 2.3 s
        # WITH the floor).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local mode = ONE JVM: driver memory is executor memory; size it
        # from the machine it runs on (see default_driver_memory)
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # write-commit overhead: the streaming store versions every table
        # write into a fresh directory and publishes via an atomic manifest
        # swap (streaming/store.py) — torn task output is never referenced —
        # so the v1 committer's double rename per file is pure per-job
        # latency (measured on the stream leg: ~25 small table writes per
        # micro-batch).  v2 commits task files directly to the destination;
        # _SUCCESS markers are dead weight under manifest resolution.
        # The conf is global, so the same contract must hold for BATCH
        # writes too — and it does by construction: every batch write in
        # this engine uses mode("overwrite") to a destination that is
        # re-created wholesale (store versioned dirs, bench/test temp
        # dirs), never appended to, so a failed job's committed task files
        # are wiped by the retry's overwrite before anything reads them.
        # A deployment that appends to long-lived directories without a
        # manifest should flip this back to v1 via extra_conf.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
            "false",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
