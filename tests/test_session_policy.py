"""Session-wide driver policy set in ``get_spark``: generated code is
compiled once per session, and building a Column costs no call-site
capture round trips."""

from __future__ import annotations

from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F


def test_codegen_cache_holds_a_large_working_set(spark):
    """More than 100 distinct projections (Spark's default cache size)
    compiled in one session; re-running the first must hit the cache."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def run(i):
        spark.range(1).selectExpr(f"id * {i} + {i}").collect()

    first = 7919  # a constant no other test compiles
    run(first)
    for i in range(1, 102):
        run(first + i)
    compiled = hist.getCount()
    run(first)
    assert hist.getCount() == compiled


def test_column_build_makes_no_call_site_round_trips(spark, monkeypatch):
    """F.col is 3 py4j round trips; call-site capture would make it 13."""
    # pyspark caches the debugging flag for the process the first time
    # any Column call runs; re-read it from this session's conf
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    F.col("x")  # first call per process also resolves JVM helpers
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    F.col("x")
    assert len(calls) <= 3
