"""The numpy verify kernels (``operators.lsh_kernel``) against brute
force, with no Spark; then the operators that call them, with the
kernel forced onto the driver and into ``mapInArrow`` tasks."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from df_spark.operators import dedup as D
from df_spark.operators import lsh_kernel as K
from df_spark.sources.tables import load_sdf


def _table(seed, n_docs, n_words=3, n_hashes=16, dense=0):
    """Side-table arrays, ids ascending and partly negative. Docs are
    noisy copies of a few templates, so buckets, estimate matches and
    high Jaccards all occur; the first ``dense`` docs share every
    minimum (one bucket per band holding all of them)."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(np.arange(-500, 500), n_docs, replace=False)).astype(np.int64)
    templates = rng.integers(0, 2**63, (4, n_words), dtype=np.uint64)
    pick = rng.integers(0, 4, n_docs)
    noise = rng.integers(0, 2**63, (n_docs, n_words), dtype=np.uint64)
    keep = rng.random((n_docs, n_words)) < 0.85
    bitmaps = np.where(keep, templates[pick], noise).astype(np.uint64)
    sizes = np.array([sum(bin(int(w)).count("1") for w in row) for row in bitmaps], np.int64)
    mins = rng.integers(0, 3, (n_docs, n_hashes)) + 10 * pick[:, None]
    mins[:dense] = 7
    return ids, sizes, bitmaps, mins.astype(np.int64)


def _popcount(x, y):
    return sum(bin(int(a) & int(b)).count("1") for a, b in zip(x, y))


def _brute_band_pairs(ids, sizes, bitmaps, mins, side, t, est):
    rpb = mins.shape[1] // 4
    out = set()
    for i, j in itertools.combinations(range(len(ids)), 2):
        shares = any((mins[i, b * rpb:(b + 1) * rpb] == mins[j, b * rpb:(b + 1) * rpb]).all()
                     for b in range(4))
        if not shares or (mins[i] == mins[j]).sum() < est:
            continue
        if side is not None:
            if side[i] == side[j]:
                continue
            if side[i] < side[j]:
                i, j = j, i
        inter, tot = _popcount(bitmaps[i], bitmaps[j]), int(sizes[i] + sizes[j])
        if inter >= (t - 1e-6) * (tot - inter):
            out.add((int(ids[i]), int(ids[j]), inter, tot))
    return out


def _kernel_pairs(*args, side=None, t=0.6, est=5, **kw):
    rows = [tuple(map(int, r)) for chunk in K.band_pairs(
        *args, side, min_jaccard=t, min_est_matches=est, **kw) for r in zip(*chunk)]
    assert len(rows) == len(set(rows)), "a pair was emitted twice"
    return set(rows)


@pytest.mark.parametrize("labels", [None, "gens", "two"])
def test_band_pairs_match_brute_force(labels):
    ids, sizes, bitmaps, mins = table = _table(1, 120)
    side = {None: None, "gens": np.mod(ids, 3),
            "two": (ids % 3 == 0).astype(np.int64)}[labels]
    want = _brute_band_pairs(*table, side, 0.6, 5)
    assert len(want) > 20
    assert any(a < 0 for a, *_ in want), "no negative id in a pair"
    got = _kernel_pairs(*table, side=side)
    assert got == want
    if side is None:
        assert all(a < b for a, b, *_ in got)
    else:
        lab = dict(zip(ids.tolist(), side.tolist()))
        assert all(lab[a] > lab[b] for a, b, *_ in got)
    # parts split the buckets: every pair exactly once between them
    parts = [_kernel_pairs(*table, side=side, part=p, n_parts=3) for p in range(3)]
    assert set().union(*parts) == want
    assert sum(map(len, parts)) == len(want)


def test_band_pairs_split_a_dense_bucket_across_slices(monkeypatch):
    """One bucket of 60 docs (1,770 candidate pairs) against slices of
    a few dozen pairs: it is split mid-row, and the rows are those of
    the unsliced run and of brute force."""
    table = _table(2, 90, dense=60)
    want = _kernel_pairs(*table)
    monkeypatch.setattr(K, "SLICE_BYTES", 4096)
    assert K._slice_pairs(table[2].shape[1], 8 * (2 * 16 + 8)) < 60
    assert _kernel_pairs(*table) == want == _brute_band_pairs(*table, None, 0.6, 5)
    assert len(want) > 300


def test_band_pairs_fewer_than_two_docs():
    for n in (0, 1):
        ids, sizes, bitmaps, mins = _table(3, 5)
        assert _kernel_pairs(ids[:n], sizes[:n], bitmaps[:n], mins[:n]) == set()


def test_gather_popcounts_match_brute_force():
    ids, sizes, bitmaps, _ = _table(4, 50)
    rng = np.random.default_rng(4)
    ia, ib = rng.choice(ids, 400), rng.choice(ids, 400)
    sa, inter = K.gather_popcounts(ids, sizes, bitmaps, ia, ib)
    row = {int(i): r for r, i in enumerate(ids)}
    assert sa.tolist() == [int(sizes[row[int(a)]]) for a in ia]
    assert inter.tolist() == [_popcount(bitmaps[row[int(a)]], bitmaps[row[int(b)]])
                              for a, b in zip(ia, ib)]
    empty = np.empty(0, np.int64)
    sa, inter = K.gather_popcounts(ids, sizes, bitmaps, empty, empty)
    assert len(sa) == len(inter) == 0


def test_gather_popcounts_missing_id_raises():
    ids, sizes, bitmaps, _ = _table(5, 20)
    absent = np.setdiff1d(np.arange(-600, 600), ids)
    for ia, ib in [(absent[:1], ids[:1]), (ids[:1], absent[-1:]),
                   (np.array([ids.max() + 1]), ids[:1])]:
        with pytest.raises(ValueError, match="missing"):
            K.gather_popcounts(ids, sizes, bitmaps, ia, ib)


def test_table_of_no_chunks_has_the_columns():
    t = K.table(["id_a", "id_b"], [])
    assert t.num_rows == 0
    assert t.column_names == ["id_a", "id_b"]


# ---------------------------------------------------------------------------
# the operators, with the kernel on the driver and in mapInArrow tasks
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_sdf(spark, sf_dir, "documents").withColumn(
        "doc_id", F.col("doc_id") - 250).localCheckpoint(eager=True)


def _run_all(docs):
    return (
        _rows(D.minhash_near_dups(docs, 0.6, memo=False)),
        _rows(D.incremental_band_dedup(docs, 0.6, memo=False)),
        _rows(D.cross_near_dups_in_table(docs, F.expr("doc_id % 3 = 0"), memo=False)),
        _rows(D.containment_pairs(docs, 0.8, partition_cols=["source"], memo=False)),
    )


def test_driver_and_worker_paths_return_identical_rows(docs, monkeypatch):
    """Negative ids included: the verify kernel and the containment
    gather return the same rows whether they run on the driver or in
    ``mapInArrow`` tasks."""
    monkeypatch.setattr(D, "_kernel_width", lambda n, per_task: 1)
    driver = _run_all(docs)
    monkeypatch.setattr(D, "_kernel_width", lambda n, per_task: 2)
    worker = _run_all(docs)
    assert driver == worker
    assert all(len(r) > 0 for r in driver)
    assert any(r[0] < 0 and r[2] == 0 for r in driver[1]), "no negative-id dup"


def test_driver_path_runs_no_map_in_arrow(docs, monkeypatch):
    """The sf0.001 corpus is under both gates: no operator starts a
    Python worker, and the rows equal those of the forced worker
    path."""
    monkeypatch.setattr(D, "_kernel_width", lambda n, per_task: 2)
    worker = _run_all(docs)
    monkeypatch.undo()

    def no_arrow(self, *a, **k):
        raise AssertionError("mapInArrow on the driver path")

    monkeypatch.setattr(type(docs), "mapInArrow", no_arrow)
    assert _run_all(docs) == worker


def test_unlabelled_side_table_is_collected_once_per_build(docs, monkeypatch):
    """A labelled side table masks the build's kept one with labels
    collected alone: its rows are the kept rows whose label is not
    null, the label appended as the last extra."""
    combined = D._shared_build(docs, memo=False)
    words = D._build_words(combined)
    first = D._fused_table(combined, "doc_id", words)

    def no_collect(*a, **k):
        raise AssertionError("side table collected twice")

    monkeypatch.setattr(D, "_bitmap_table", no_collect)
    assert D._fused_table(combined, "doc_id", words) is first
    ids, wbits, extras = first
    label = F.expr("CASE WHEN doc_id % 2 = 0 THEN doc_id % 3 = 0 END")
    l_ids, l_wbits, l_extras = D._fused_table(combined, "doc_id", words, label=label)
    keep = ids % 2 == 0
    assert 0 < keep.sum() < len(ids)
    assert np.array_equal(l_ids, ids[keep])
    assert np.array_equal(l_wbits, wbits[keep])
    assert np.array_equal(l_extras[:, :-1], extras[keep])
    assert np.array_equal(l_extras[:, -1], (ids[keep] % 3 == 0).astype(np.int64))


# ---------------------------------------------------------------------------
# sizing gates outside the curation path read observed sizes
# ---------------------------------------------------------------------------


def _no_count(monkeypatch, frame):
    def no_count(self):
        raise AssertionError("sizing count()")

    monkeypatch.setattr(type(frame), "count", no_count)


@pytest.mark.parametrize("bitmap_words", [D.BITMAP_MAX_WORDS, 0])
def test_banded_ngram_jaccard_sizes_without_count(docs, monkeypatch, bitmap_words):
    monkeypatch.setattr(D, "BITMAP_MAX_WORDS", bitmap_words)
    blocks = {"src": F.col("source")}
    with monkeypatch.context() as m:
        _no_count(m, docs)
        m.setattr(type(docs), "collect", lambda self: (_ for _ in ()).throw(
            AssertionError("sizing collect()")))
        out = D.banded_ngram_jaccard(docs, blocks, memo=False)
    assert len(_rows(out)) > 0


def test_array_regime_nh_is_the_shared_sets_size_sum(docs, monkeypatch):
    """banded_ngram_jaccard sizes the array regime's sets from the
    build's observed Σn_sh: the same sum as the sets it joins."""
    from df_spark.operators.observe import observed

    monkeypatch.setattr(D, "BITMAP_MAX_WORDS", 0)
    combined = D._shared_build(docs, memo=False)
    sets = D.shared_sets(docs, memo=False)
    total = sets.select(F.sum(F.size("sh"))).collect()[0][0]
    assert observed(combined, "nh") == total > 0


def test_contamination_and_winnow_size_without_count(docs, monkeypatch):
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    with monkeypatch.context() as m:
        _no_count(m, docs)
        scores = D.contamination_scores(train, bench)
        selected = D.winnow_selected(docs)
    assert len(_rows(scores)) > 0
    assert len(_rows(selected)) > 0
