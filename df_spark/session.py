"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime join re-planning + skew handling), shuffle partitions
sized to cores (on a cluster: 2-3x total cores), Arrow enabled for the
Pandas-UDF slow path, UTC session timezone so results are comparable
with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "df_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    short_lived: bool = False,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At 100 TB scale the same config applies; only ``master`` and the
    partition count change (shuffle partitions ~ 2-3x total executor
    cores, or left to AQE's coalescing with a high initial value).

    ``short_lived=True`` (bench/oracle/probe tooling, pytest) opts the
    DRIVER JVM into C1-only JIT — right for sessions that generate
    hundreds of fresh codegen classes and run each for seconds. The
    library default keeps the JVM's tiered default: on a long-lived
    cluster the same stages run for hours and C2 amortizes, and
    executors wouldn't inherit a driver-only flag anyway. Override
    either way via ``SPARK_GRAFT_JIT``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen methods above HotSpot's huge-method limit
        # (8000 bytecode) never JIT-compile and run interpreted — for
        # wide fused stages (e.g. the near-dup verify: two broadcast
        # joins + a MinHash estimate + array_intersect in one stage)
        # that is slower than Spark's own non-codegen operator path.
        # Align Spark's fallback threshold with the JVM's: stages whose
        # generated methods would exceed the JIT limit skip codegen
        # instead of running interpreted codegen. (Default is 65535.
        # Measured round 5 at sf0.1, min-of-3 on a noisy shared host:
        # fused verify 5.9-8.4s with 8000 vs 9.4-11.5s with the
        # default. Normal-width stages are unaffected either way.)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Generated-class cache (static; default 100 entries, LRU). One
        # curation pass (prepare_documents + containment, prefix and
        # incremental dedup on perfbench's 120-doc corpus) compiles
        # ~195 distinct classes, so at 100 the LRU thrashes and every
        # warm pass recompiled 182-183 of them (CodegenMetrics). Sized
        # above a pass's working set, warm passes compile 0-2; the
        # retained classes cost ~3% peak RSS on that workload (1250 ->
        # 1287 MB median, 4 vCPUs).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # pyspark wraps every Column / functions.* call to capture the
        # Python call site and push it to the JVM for error messages:
        # F.col costs 13 py4j round trips instead of 3, and a curation
        # pass makes ~23k round trips instead of ~9k. For
        # expressions the engine builds, the captured frame is always
        # a df_spark line, never the caller's code, so the context it
        # adds to an error names nothing the traceback does not.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # short_lived=True → C1-only JIT (no C2): every query generates
        # FRESH codegen classes, each run for seconds — C2's expensive
        # optimizing compiles (measured: 67 s of compilation wall during
        # ONE cold dedup_clusters; a 325 CPU-s C2 recompile storm on a
        # warm prefix_sim_join) never pay for themselves at per-query
        # lifetimes. Measured at sf0.1: CPU down 25-75% and wall flat
        # or better on every heavy query; the one regression is ~20%
        # on already-warm per-char hashing loops.
        # The code cache must be sized explicitly alongside C1-only:
        # that mode defaults to 48 MB, which a 130-query session fills
        # in minutes — once full the JVM DISABLES compilation and
        # everything runs interpreted (measured: a full bench run
        # degraded 1.7x end-to-end when the cache filled mid-run).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JIT",
                # 1g (r13, was 512m): the scan-spread exchanges add
                # whole-stage-codegen units to most queries, and a
                # 200-row x 3-pass C1-only session now churns past
                # 512m into code-cache flush storms — measured on
                # byte-identical code: suite 334.3 -> 312.5 s, the
                # pinned _build_* rows 55.0 -> 36.8 s with per-row
                # spreads collapsing (e.g. _build_pq_inc [3.4, 10.2]
                # -> [3.8, 4.1], doc_compression [1.1, 6.5] ->
                # [1.1, 1.3]).
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=1g"
                if short_lived
                else "-XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # parquet TIMESTAMP(NANOS) (events.ts) loads as long; sources.tables
        # converts to TimestampType at µs precision (Spark's maximum)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are TIMESTAMP_MICROS with isAdjustedToUTC=0;
        # read them as TimestampType instants (session tz is UTC, so the
        # stored micros line up with DuckDB's naive TIMESTAMP) instead of
        # TIMESTAMP_NTZ, keeping ts-predicate pushdown on the scan
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
