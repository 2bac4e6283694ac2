"""Focused tests for the r13 OPTIMIZATION-round internals: the
load-time scan spread (sources.tables._spread_scan), the
pre-checkpoint spread helper (operators.partitioning.checkpoint_spread),
the minhash_est_audit bitmap verify, the data-sized multimodal codec
stages, and the bucket-key-routed bucketed write."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from df_spark.operators.partitioning import checkpoint_spread
from df_spark.sources import tables as T


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- scan spread gates ------------------------------------------------


def test_spread_gates_off_below_raw_floor(spark, sf_dir):
    # sf0.001 tables are all below the 200 KiB raw floor: no exchange
    for name in ("lineitem", "documents", "orders"):
        plan = _plan(T.load_sdf(spark, sf_dir, name))
        assert "Exchange" not in plan, (name, plan)


def test_spread_fires_sized_on_big_fact_table(spark):
    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(f"{sf01}/lineitem.parquet"):
        pytest.skip("sf0.1 testdata not present")
    plan = _plan(T.load_sdf(spark, sf01, "lineitem"))
    # ~10.8 MB raw -> width max(8, 10) capped at defaultParallelism (4
    # in the test session) -> the spread is present AND never wider
    # than the cluster
    assert "hashpartitioning(l_orderkey" in plan
    width = min(spark.sparkContext.defaultParallelism,
                max(T._SPREAD_FLOOR,
                    os.path.getsize(f"{sf01}/lineitem.parquet")
                    // T._SPREAD_PART_BYTES))
    assert f"hashpartitioning(l_orderkey#" in plan
    assert f", {width})" in plan.split("hashpartitioning(l_orderkey", 1)[1][:40]


def test_spread_env_toggle_restores_serial_plan(spark):
    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(f"{sf01}/lineitem.parquet"):
        pytest.skip("sf0.1 testdata not present")
    os.environ["SPARK_GRAFT_SPREAD_SCAN"] = "0"
    try:
        assert "Exchange" not in _plan(T.load_sdf(spark, sf01, "lineitem"))
    finally:
        os.environ["SPARK_GRAFT_SPREAD_SCAN"] = "1"


# --- checkpoint_spread ------------------------------------------------


def test_checkpoint_spread_widens_narrow_scan(spark, sf_dir):
    df = T.load_sdf(spark, sf_dir, "documents")  # 1 partition, no spread
    out = checkpoint_spread(df)
    assert "Repartition" in out._jdf.queryExecution().optimizedPlan().toString()


def test_checkpoint_spread_rewidens_narrow_explicit_spread(spark, sf_dir):
    par = spark.sparkContext.defaultParallelism
    df = T.load_sdf(spark, sf_dir, "documents").repartition(2, F.col("doc_id"))
    out = checkpoint_spread(df)
    got = out.localCheckpoint(eager=True).rdd.getNumPartitions()
    assert got == par


def test_checkpoint_spread_leaves_aggregates_alone(spark, sf_dir):
    agg = (T.load_sdf(spark, sf_dir, "documents")
           .groupBy("source").agg(F.count(F.lit(1)).alias("n")))
    out = checkpoint_spread(agg)
    assert out is agg  # no extra exchange on shuffle-width frames


def test_checkpoint_spread_respects_width_override(spark, sf_dir):
    df = T.load_sdf(spark, sf_dir, "documents")
    out = checkpoint_spread(df, width=2)
    assert out.localCheckpoint(eager=True).rdd.getNumPartitions() == 2


# --- minhash_est_audit bitmap verify ---------------------------------


def test_est_audit_uses_bitmap_popcounts_not_arrays(spark, sf_dir):
    from df_spark.queries import load_registry

    reg = load_registry()
    sdf = reg["minhash_est_audit"].fn(spark, sf_dir)
    plan = _plan(sdf)
    assert "bit_count" in plan
    assert "array_intersect" not in plan


# --- codec stage sizing ----------------------------------------------


def test_codec_input_sized_by_data_not_spread(spark, sf_dir):
    from df_spark.multimodal import _codec_input

    docs = T.load_sdf(spark, sf_dir, "documents").repartition(4)
    out = _codec_input(docs)
    # tiny corpus -> one python task regardless of upstream width
    assert out.rdd.getNumPartitions() == 1


# --- bucketed write routing ------------------------------------------


def test_bucketed_layout_one_file_per_bucket(spark, sf_dir):
    from df_spark.queries import load_registry

    reg = load_registry()
    reg["bucketed_join"].fn(spark, sf_dir).collect()
    import hashlib
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tbl = spark.table(f"lineitem_b_{sfx}")
    files = tbl.inputFiles()
    # 8 buckets, bucket-key-routed write: at most one parquet file per
    # bucket (empty buckets may write none)
    assert 0 < len(files) <= 8, files


# --- r13 continuation: bloom group-by build ---------------------------


def test_bloom_build_matches_position_reference(spark, sf_dir):
    """The GROUP-BY word fold must reproduce the filter the old
    256-parallel-aggregate plan built: set bits computed driver-side
    from the same xxhash positions."""
    from df_spark.operators.bloom import (
        DEFAULT_HASHES, DEFAULT_WORDS, _positions, bloom_build)
    from df_spark.sources.tables import load_sdf

    dim = load_sdf(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000).select("c_custkey")
    words = bloom_build(dim, "c_custkey")
    m_bits = DEFAULT_WORDS * 64
    pos_rows = dim.select(
        *[p.alias(f"p{i}") for i, p in enumerate(
            _positions(F.col("c_custkey"), m_bits, DEFAULT_HASHES))]
    ).collect()
    ref = [0] * DEFAULT_WORDS
    for r in pos_rows:
        for i in range(DEFAULT_HASHES):
            bit = r[f"p{i}"]
            ref[bit // 64] |= 1 << (bit % 64)
    # bloom words are int64 (bit_or of shiftleft) — compare as uint64
    assert [w & (2**64 - 1) for w in words] == ref


# --- r13 continuation: fused incremental == per-generation probe ------


def test_incremental_fused_matches_per_generation(spark, sf_dir):
    import df_spark.operators.dedup as dd
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    fused = sorted(
        tuple(r) for r in dd.incremental_band_dedup(docs).collect())
    orig_cap = dd.BROADCAST_BYTES_CAP
    dd.BROADCAST_BYTES_CAP = 0  # force the per-generation JVM branch
    try:
        pergen = sorted(
            tuple(r) for r in dd.incremental_band_dedup(docs).collect())
    finally:
        dd.BROADCAST_BYTES_CAP = orig_cap
    assert fused and fused == pergen


# --- r13 continuation: semdedup grouped-matrix == distributed join ----


def test_semdedup_grouped_matches_join_path(spark, sf_dir):
    import df_spark.operators.similarity as S
    from df_spark.sources.tables import load_sdf

    emb = load_sdf(spark, sf_dir, "embeddings")
    grouped = sorted(
        tuple(r) for r in S.semdedup(emb, n_cells=8, tau=0.3).collect())
    orig = S.SEMDEDUP_GROUPED_MAX_ROWS
    S.SEMDEDUP_GROUPED_MAX_ROWS = 0  # force the distributed join path
    try:
        joined = sorted(
            tuple(r) for r in S.semdedup(emb, n_cells=8, tau=0.3).collect())
    finally:
        S.SEMDEDUP_GROUPED_MAX_ROWS = orig
    assert grouped and grouped == joined


def test_semdedup_gate_is_on_the_largest_cell(spark, monkeypatch):
    """One skewed cell decides the regime, not the corpus total: with
    the gate at the largest cell's size the grouped matrix runs (the
    corpus total is above it), one row lower the distributed join runs,
    and both sides give the same audit table."""
    import random

    import df_spark.operators.similarity as S

    rng = random.Random(7)
    dims, n_cells = 8, 4

    def near(axis: int, noise: float) -> list[float]:
        return [(1.0 if d == axis else 0.0) + rng.uniform(-noise, noise)
                for d in range(dims)]

    vecs = [near(c, 0.0) for c in range(n_cells)]  # ids 0-3: the centroids
    vecs += [near(0, rng.choice([0.05, 0.6])) for _ in range(40)]  # skewed cell
    vecs += [near(c, 0.3) for c in (1, 2, 3) for _ in range(2)]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>")

    def run(gate: int) -> tuple[list, bool]:
        monkeypatch.setattr(S, "SEMDEDUP_GROUPED_MAX_ROWS", gate)
        out = S.semdedup(emb, n_cells=n_cells, tau=0.9)
        grouped = "FlatMapGroupsInPandas" in _plan(out)
        return sorted(tuple(r) for r in out.collect()), grouped

    largest = max(r[1] for r in S.semdedup(emb, n_cells=n_cells, tau=0.9)
                  .groupBy("cell").count().collect())
    assert largest < emb.count()  # skewed, yet not the whole corpus
    grouped_rows, grouped = run(largest)
    joined_rows, joined_grouped = run(largest - 1)
    assert grouped and not joined_grouped
    assert grouped_rows == joined_rows
    keeps = {r[2] for r in grouped_rows}
    assert keeps == {0, 1}


# --- r13 continuation: modality pair sets are session-memoized --------


def test_modality_pair_memos_hit(spark, sf_dir):
    from df_spark.queries import multimodal as MQ

    a = MQ._phash_pairs(spark, sf_dir)
    b = MQ._phash_pairs(spark, sf_dir)
    assert a is b  # second call returns the memoized checkpoint
    va = MQ._video_pairs(spark, sf_dir)
    vb = MQ._video_pairs(spark, sf_dir)
    assert va is vb
    aa = MQ._audio_pairs(spark, sf_dir)
    ab = MQ._audio_pairs(spark, sf_dir)
    assert aa is ab
