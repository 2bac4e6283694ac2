"""barrier_width must track both default parallelism and the input's
partition count — never a constant that would collapse a large scan."""

from __future__ import annotations

import pytest

from df_spark.operators.partitioning import barrier_width


def test_barrier_width_floors_at_default_parallelism(spark):
    sdf = spark.range(10).coalesce(1)
    assert barrier_width(sdf) == spark.sparkContext.defaultParallelism


def test_barrier_width_follows_wide_inputs(spark):
    wide = spark.sparkContext.defaultParallelism * 3
    sdf = spark.range(1000).repartition(wide)
    assert barrier_width(sdf) == wide


def test_zorder_layout_bounds_both_dims(spark, sf_dir, tmp_path):
    """Write events twice — clustered by the Morton z-value vs by x
    alone — and measure each file's (x, y) bounding rectangle via
    input_file_name. The z-layout must bound BOTH dimensions: its mean
    normalized y-width has to be far below the x-sorted layout's
    (which leaves y unclustered ≈ full range per file). This is the
    property that lets parquet min/max stats prune on either column."""
    from pyspark.sql import functions as F

    from df_spark.functions.hashing import zvalue
    from df_spark.sources.tables import load_sdf

    ev = load_sdf(spark, sf_dir, "events").select(
        (F.col("user_id") % 4096).cast("int").alias("x"),
        (F.hour("ts") * 60 + F.minute("ts")).cast("int").alias("y"),
    )
    n = ev.count()
    per_file = max(16, n // 16)  # ~16 files either way
    ev = ev.withColumn("z", zvalue(F.col("x"), F.col("y")))

    def mean_widths(sort_col, path):
        (ev.repartition(1).sortWithinPartitions(sort_col)
         .write.mode("overwrite")
         .option("maxRecordsPerFile", str(per_file)).parquet(path))
        stats = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max("x") - F.min("x")).alias("wx"),
                 (F.max("y") - F.min("y")).alias("wy"))
            .agg(F.avg("wx").alias("mx"), F.avg("wy").alias("my"))
            .collect()[0]
        )
        return stats.mx, stats.my

    zx, zy = mean_widths("z", str(tmp_path / "zorder"))
    lx, ly = mean_widths("x", str(tmp_path / "linear"))

    # linear x-sort clusters x tightly but leaves y at ~full range
    assert lx <= zx  # single-key sort is the best possible on x...
    assert zy < 0.6 * ly  # ...but z-order bounds y too, linear doesn't
    # and z still meaningfully clusters x (not a random shuffle of x)
    ymax = ev.agg(F.max("y")).collect()[0][0]
    assert zy < 0.6 * ymax


def test_observe_metrics_free_with_the_single_pass(spark, sf_dir):
    """with_metrics computes stage metrics during the one real pass:
    the values equal a separate aggregation, and the plan gains only a
    CollectMetrics node — same scans, no extra shuffle."""
    from pyspark.sql import functions as F

    from df_spark.operators.observe import with_metrics
    from df_spark.sources.tables import load_sdf

    li = load_sdf(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    observed, obs = with_metrics(
        li, "stage1",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
    )
    out = observed.groupBy("l_returnflag").count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "CollectMetrics" in plan
    out.collect()

    expected = li.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
    ).collect()[0]
    assert obs.get["rows"] == expected.rows
    assert obs.get["revenue"] == expected.revenue


def test_observed_checkpoint_sizes_cost_no_job(spark, sf_dir):
    """observed_checkpoint's row count and named sums equal count() and
    agg over the same frame; reading them starts no job; a frame that
    carries no observation falls back to count()."""
    from pyspark.sql import functions as F

    from df_spark.operators.observe import observed, observed_checkpoint
    from df_spark.sources.tables import load_sdf

    li = load_sdf(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 10)
    grouped = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q"))
    ck = observed_checkpoint(grouped, q_sum=F.col("q"), keys=F.col("l_orderkey"))

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    got = (observed(ck), observed(ck, "q_sum"), observed(ck, "keys"))
    assert set(tracker.getJobIdsForGroup(None)) == before

    want = grouped.agg(F.count(F.lit(1)), F.sum("q"), F.sum("l_orderkey")).collect()[0]
    assert got == tuple(want)
    assert got[0] == ck.count() > 0

    plain = grouped.localCheckpoint(eager=True)
    before = set(tracker.getJobIdsForGroup(None))
    assert observed(plain) == got[0]
    assert set(tracker.getJobIdsForGroup(None)) != before
    with pytest.raises(KeyError):
        observed(plain, "q_sum")


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime bloom-filter join pruning — the 100 TB knob that filters
    the big probe side at its SCAN with a bloom filter built from the
    small, selectively-filtered build side (rows that can't join are
    dropped before the shuffle). Size thresholds are meant for real
    clusters, so the test lowers them to demonstrate the rewrite."""
    from pyspark.sql import functions as F

    from df_spark.sources.tables import load_sdf

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_sdf(spark, sf_dir, "lineitem")
        orders = load_sdf(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, plan[:2000]
        # correctness unchanged by the rewrite
        n = joined.collect()
        assert n and n[0]["count"] > 0
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
