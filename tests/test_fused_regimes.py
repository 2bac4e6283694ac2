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
    """The in-table cross join gates its fused path on the sizes the
    shared build observed, so it runs no count(); it takes the one
    fused kernel with the new-side predicate as each row's label, and
    returns the rows of the distributed path (cap 0). That path sizes
    its join sides from the same observed sizes, so it counts nothing
    either, in the bitmap and the array regime."""
    pred = F.expr("doc_id % 3 = 0")
    fused_calls = []
    kernel = D._fused_band_verify
    monkeypatch.setattr(D, "_fused_band_verify",
                        lambda *a, **k: fused_calls.append(1) or kernel(*a, **k))

    def no_count(self):
        raise AssertionError("count() in the cross join")

    with monkeypatch.context() as m:
        m.setattr(type(docs), "count", no_count)
        fused = _rows(D.cross_near_dups_in_table(docs, pred, memo=False))
        assert len(fused_calls) == 1
        m.setattr(D, "BROADCAST_BYTES_CAP", 0)
        jvm = _rows(D.cross_near_dups_in_table(docs, pred, memo=False))
        m.setattr(D, "BITMAP_MAX_WORDS", 0)
        jvm_arrays = _rows(D.cross_near_dups_in_table(docs, pred, memo=False))
    assert len(fused_calls) == 1
    assert fused == jvm == jvm_arrays
    assert len(fused) > 0


def test_containment_gather_vs_count_join_identical(docs, monkeypatch):
    fused = _rows(
        D.containment_pairs(docs, 0.8, partition_cols=["source"], memo=False))
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    count_join = _rows(
        D.containment_pairs(docs, 0.8, partition_cols=["source"], memo=False))
    assert fused == count_join
    assert len(fused) > 0


@pytest.mark.parametrize("gens", [3, 4])
def test_incremental_negative_ids_both_regimes_match_oracle(
        spark, sf_dir, monkeypatch, gens):
    """Generations are pmod(id, gens) on both regimes, matching the
    fused kernel's numpy ``%``: with ids shifted below zero, no doc
    falls out of the output and both regimes equal the DuckDB twin,
    the distributed one in both payload regimes. At ``gens=4`` a
    batch's index holds two earlier batches, so a removal in one
    generation changes the next one's index."""
    import duckdb

    shift = 250
    docs = load_sdf(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id") - shift)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * REPLACE (doc_id - "
        f"{shift} AS doc_id) FROM read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(con.execute(
        D.incremental_dedup_sql("documents", 0.6, gens=gens)).fetchall())
    ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    assert len(want) == sum(1 for i in ids if i % gens != 0)
    assert any(r[0] < 0 and r[2] == 0 for r in want), "no negative-id dup"
    assert {r[1] for r in want if r[2] == 0} == set(range(1, gens))

    def run():
        return _rows(D.incremental_band_dedup(docs, 0.6, gens=gens, memo=False))

    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 1 << 62)
    fused = run()
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    jvm = run()
    monkeypatch.setattr(D, "BITMAP_MAX_WORDS", 0)
    jvm_arrays = run()
    assert fused == want
    assert jvm == want
    assert jvm_arrays == want


@pytest.mark.parametrize("shift", [0, 250])
def test_fused_array_regime_matches_jvm_and_bitmap(spark, sf_dir, monkeypatch, shift):
    """With the shared build forced into the array regime
    (BITMAP_MAX_WORDS = 0), the fused kernel still runs, on bitmaps
    built from the hash arrays, and returns exactly the rows of the JVM
    verify (cap 0) and of the bitmap-regime fused path, for all three
    operators. A hash the array-side bitmap build dropped would shrink
    an intersection and change a returned Jaccard. At cap 0 each
    operator runs the one distributed twin, ``_band_verify``, in both
    payload regimes, and counts nothing. ``shift`` moves ids below
    zero, which changes the incremental generations."""
    docs = load_sdf(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id") - shift).localCheckpoint(eager=True)
    fused_calls, jvm_calls = [], []
    kernel, twin = D._fused_band_verify, D._band_verify
    monkeypatch.setattr(D, "_fused_band_verify",
                        lambda *a, **k: fused_calls.append(1) or kernel(*a, **k))
    monkeypatch.setattr(D, "_band_verify",
                        lambda *a, **k: jvm_calls.append(1) or twin(*a, **k))

    def run():
        return (_rows(D.minhash_near_dups(docs, 0.6, memo=False)),
                _rows(D.incremental_band_dedup(docs, 0.6, memo=False)),
                _rows(D.cross_near_dups_in_table(
                    docs, F.expr("doc_id % 3 = 0"), memo=False)))

    bitmap_words = D.BITMAP_MAX_WORDS
    bitmap = run()
    monkeypatch.setattr(D, "BITMAP_MAX_WORDS", 0)
    assert "sh" in D._shared_build(docs, memo=False).columns
    fused_array = run()
    assert len(fused_calls) == 6
    assert not jvm_calls

    def no_count(self):
        raise AssertionError("count() on the distributed verify path")

    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    with monkeypatch.context() as m:
        m.setattr(type(docs), "count", no_count)
        jvm_array = run()
        assert len(jvm_calls) == 3
        m.setattr(D, "BITMAP_MAX_WORDS", bitmap_words)
        jvm_bitmap = run()
        assert len(jvm_calls) == 6
    assert len(fused_calls) == 6
    assert fused_array == jvm_array == jvm_bitmap == bitmap
    assert len(bitmap[0]) > 0
    assert any(r[3] > 0 for r in bitmap[1]), "no incremental dup"
    assert len(bitmap[2]) > 0


def _letters(rng, n):
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))


def _boilerplate_docs(spark, n_docs, seed=7):
    """Docs sharing one random-letter body, each with its own random
    tail: ~15k distinct trigrams (the array regime with ~230 bitmap
    words) and, per LSH band, one bucket of ~70% of the docs."""
    import random

    rng = random.Random(seed)
    body = _letters(rng, 3000)
    return spark.createDataFrame(
        [(i, body + " " + _letters(rng, 300)) for i in range(n_docs)],
        "doc_id long, text string").localCheckpoint(eager=True)


def test_fused_wide_bitmaps_dense_bucket_match_jvm(spark, monkeypatch):
    """Wide array-regime bitmaps and one dense bucket together: the
    fused kernel returns the JVM verify's rows for all three operators.
    (How the kernel slices a bucket is checked on its own below.)"""
    from df_spark.operators.observe import observed

    docs = _boilerplate_docs(spark, 100)
    combined = D._shared_build(docs, memo=False)
    assert "sh" in combined.columns
    assert (observed(combined, "n_bits_max") + 63) // 64 > 3 * D.BITMAP_MAX_WORDS
    fused_calls = []
    kernel = D._fused_band_verify
    monkeypatch.setattr(D, "_fused_band_verify",
                        lambda *a, **k: fused_calls.append(1) or kernel(*a, **k))

    def run():
        return (_rows(D.minhash_near_dups(docs, 0.6, memo=False)),
                _rows(D.incremental_band_dedup(docs, 0.6, memo=False)),
                _rows(D.cross_near_dups_in_table(
                    docs, F.expr("doc_id % 3 = 0"), memo=False)))

    fused = run()
    assert len(fused_calls) == 3
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    assert run() == fused
    assert len(fused[0]) > 4_000
    assert sum(r[3] for r in fused[1]) > 1_000
    assert len(fused[2]) > 1_000


def test_fused_kernel_slices_wide_bitmaps(spark):
    """The kernel sizes its pair slices by the bitmap width. Padding the
    bitmaps with 13k zero words leaves every popcount as it was but
    cuts slices to ~300 pairs, so each dense bucket is split mid-row
    and across buckets; with no side label, the incremental
    generations and a two-valued label, the padded table returns the
    unpadded rows."""
    import numpy as np

    combined = D._shared_build(_boilerplate_docs(spark, 200, seed=3), memo=False)
    ids, wbits, extras = table = D._fused_table(combined, "doc_id", [])
    padded = (ids, np.hstack([wbits, np.zeros((len(ids), 13_000), np.uint64)]),
              extras)
    _, counts = np.unique(extras[:, 1:5], axis=0, return_counts=True)
    assert counts.max() * (counts.max() - 1) // 2 > 3_000
    for side in (None, ids % 3, (ids % 3 == 0).astype(np.int64)):
        whole = _rows(D._fused_band_verify(spark, table, 0.6, 5, side=side))
        sliced = _rows(D._fused_band_verify(spark, padded, 0.6, 5, side=side))
        assert sliced == whole
        assert len(whole) > 1_000


def test_array_regime_bitmap_gate_collects_nothing(spark, monkeypatch):
    """Short docs over a wide vocabulary: the minima and hash payload
    fit a cap that the one-bit-per-hash bitmaps would pass. The gate
    reads the build's observed hash count, so nothing is collected for
    a side table, and all three operators take their JVM path and return
    its rows."""
    import random

    rng = random.Random(5)
    base = [_letters(rng, 200) for _ in range(150)]
    rows = [(i, t) for i, t in enumerate(base)]
    for i, t in enumerate(base):
        chars = list(t)
        for p in rng.sample(range(len(chars)), 4):
            chars[p] = rng.choice("abcdefghijklmnopqrstuvwxyz")
        rows.append((1000 + i, "".join(chars)))
    docs = spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint(eager=True)
    from df_spark.operators.observe import observed

    combined = D._shared_build(docs, memo=False)
    assert "sh" in combined.columns
    n_docs, mins_bytes, pay_bytes = D._verify_payload_bytes(combined, [])
    bitmap_bytes = D._bitmap_bytes(n_docs, observed(combined, "n_bits_max"))
    assert pay_bytes + mins_bytes < bitmap_bytes

    def run():
        return (_rows(D.minhash_near_dups(docs, 0.6, memo=False)),
                _rows(D.incremental_band_dedup(docs, 0.6, memo=False)),
                _rows(D.cross_near_dups_in_table(
                    docs, F.expr("doc_id % 3 = 0"), memo=False)))

    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    jvm = run()
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP",
                        (pay_bytes + mins_bytes + bitmap_bytes) // 2)

    def no_collect(*a, **k):
        raise AssertionError("side table collected past the bitmap cap")

    monkeypatch.setattr(D, "_bitmap_table", no_collect)
    assert run() == jvm
    assert len(jvm[0]) > 100
    assert len(jvm[2]) > 0


def test_rarity_build_observes_gate_sizes_without_count(docs, monkeypatch):
    """The containment gather's bitmap gate reads the doc and distinct-
    hash counts that the arrays build carries; the build takes them
    from its checkpoints' observations and runs no count()."""
    from df_spark.operators.observe import observed

    def no_count(self):
        raise AssertionError("count() in the rarity build")

    with monkeypatch.context() as m:
        m.setattr(type(docs), "count", no_count)
        sh, arrays = D._rarity_build(docs, "doc_id", "text", 7, [], memo=False)
    assert observed(arrays, "n_docs") == arrays.count()
    assert observed(arrays, "n_hashes") == sh.select("h").distinct().count()

