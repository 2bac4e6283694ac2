"""Regime-equivalence guards for the fused (broadcast-minima, numpy)
verify paths added in r8: each operator must return BIT-IDENTICAL rows
whether it runs the gated fused regime or the distributed JVM path the
100 TB case uses. The gate is a size threshold (BROADCAST_BYTES_CAP),
so forcing it to 0 exercises the distributed path on the same data —
any divergence between the two implementations fails here long before
a driver hash check would catch it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from df_spark.operators import dedup as D
from df_spark.sources.tables import load_sdf


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_sdf(spark, sf_dir, "documents").localCheckpoint(eager=True)


def test_minhash_fused_vs_two_phase_identical(docs, monkeypatch):
    fused = _rows(D.minhash_near_dups(docs, min_jaccard=0.6, memo=False))
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    two_phase = _rows(D.minhash_near_dups(docs, min_jaccard=0.6, memo=False))
    assert fused == two_phase
    assert len(fused) > 0


def test_cross_fused_vs_jvm_identical(docs, monkeypatch):
    pred = F.expr("doc_id % 3 = 0")
    fused = _rows(D.cross_near_dups_in_table(docs, pred, memo=False))
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    jvm = _rows(D.cross_near_dups_in_table(docs, pred, memo=False))
    assert fused == jvm
    assert len(fused) > 0


def test_containment_gather_vs_count_join_identical(docs, monkeypatch):
    fused = _rows(
        D.containment_pairs(docs, 0.8, partition_cols=["source"], memo=False))
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    count_join = _rows(
        D.containment_pairs(docs, 0.8, partition_cols=["source"], memo=False))
    assert fused == count_join
    assert len(fused) > 0


def test_incremental_negative_ids_both_regimes_match_oracle(
        spark, sf_dir, monkeypatch):
    """Generations are pmod(id, gens) on both regimes, matching the
    fused kernel's numpy ``%``: with ids shifted below zero, no doc
    falls out of the output and both regimes equal the DuckDB twin."""
    import duckdb

    shift = 250
    docs = load_sdf(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id") - shift)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * REPLACE (doc_id - "
        f"{shift} AS doc_id) FROM read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(con.execute(D.incremental_dedup_sql("documents", 0.6)).fetchall())
    ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    assert len(want) == sum(1 for i in ids if i % 3 != 0)
    assert any(r[0] < 0 and r[2] == 0 for r in want), "no negative-id dup"

    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 1 << 62)
    fused = _rows(D.incremental_band_dedup(docs, 0.6, memo=False))
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    jvm = _rows(D.incremental_band_dedup(docs, 0.6, memo=False))
    assert fused == want
    assert jvm == want
