"""Connected-components / dedup-grouping tests (known graphs)."""

from __future__ import annotations

import warnings

import pytest

from df_spark.operators import clustering
from df_spark.operators.clustering import (
    _local_components, connected_components, dedup_groups)
from df_spark.operators.partitioning import BROADCAST_BYTES_CAP


def test_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long")
    comps = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 10: 10, 11: 10, 12: 10, 13: 10}


def _both_regimes(monkeypatch):
    """Yield once per connected-components regime: the default cap (the
    driver-local path on these small graphs), then cap 0 (the
    distributed loop); each time check that the expected path ran."""
    calls = []
    monkeypatch.setattr(clustering, "_local_components",
                        lambda *a: calls.append(1) or _local_components(*a))
    for name, cap in (("driver_local", BROADCAST_BYTES_CAP), ("loop", 0)):
        monkeypatch.setattr(clustering, "BROADCAST_BYTES_CAP", cap)
        calls.clear()
        yield name
        assert bool(calls) == (name == "driver_local"), name


def test_components_chain_diameter(spark, monkeypatch):
    # a long chain stresses the iteration count (diameter = n-1)
    n = 12
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    for regime in _both_regimes(monkeypatch):
        comps = {r.node: r.comp for r in connected_components(edges).collect()}
        assert set(comps.values()) == {0}, regime
        assert len(comps) == n + 1, regime


def test_components_releases_intermediate_storage(spark, monkeypatch):
    # each round's checkpoint must be freed: after the run, only the
    # final labels (plus anything the caller already held) may remain
    monkeypatch.setattr(clustering, "BROADCAST_BYTES_CAP", 0)
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    labels = connected_components(edges)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert len(after - before) <= 1  # the returned labels checkpoint
    assert labels.count() == 11


def test_components_warns_without_convergence(spark, monkeypatch):
    # only the distributed loop has an iteration budget: force it
    monkeypatch.setattr(clustering, "BROADCAST_BYTES_CAP", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_components_converged_run_does_not_warn(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        comps = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1}


def test_dedup_groups_with_singletons(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5]], "doc_id long")
    out = {r.doc_id: (r.group_id, r.keep) for r in dedup_groups(pairs, all_ids).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 4: (1, False),  # one component, keep min
        3: (3, True), 5: (5, True),                  # singletons keep themselves
    }


def test_components_match_union_find_on_random_graphs(spark, monkeypatch):
    """Both regimes (driver-local propagation and the star-contraction
    loop) must equal a reference union-find on random graphs of varying
    density — chains, cliques, singleton-heavy mixes all emerge from
    the generator. Deterministic seeds: same graphs every run."""
    import random

    for seed, n_nodes, n_edges in [(1, 30, 15), (2, 40, 80), (3, 25, 5), (4, 60, 60)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        # reference union-find with min-label semantics
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        expect = {x: find(x) for x in touched}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for regime in _both_regimes(monkeypatch):
            got = {r.node: r.comp for r in connected_components(df).collect()}
            assert got == expect, f"{regime}, seed {seed}: {got} != {expect}"


def test_components_driver_local_equals_loop(spark, monkeypatch):
    """The driver-local regime returns exactly the distributed loop's
    rows (and column types) on a graph with a long chain, several
    components, negative ids, and duplicate and reversed edges."""
    edges = (
        [(i, i + 1) for i in range(-6, 9)]            # chain through 0
        + [(-20, -21), (-21, -22), (-30, -31)]       # negative-only
        + [(100, 101), (101, 100), (100, 101)]       # reversed + dup
        + [(7, 200), (300, 301), (302, 301), (303, 302)]
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long").localCheckpoint(eager=True)

    local = connected_components(df)
    monkeypatch.setattr(clustering, "BROADCAST_BYTES_CAP", 0)
    loop = connected_components(df)

    assert local.schema == loop.schema
    assert sorted(local.collect()) == sorted(loop.collect())
    comps = {r.node: r.comp for r in local.collect()}
    assert comps[8] == comps[200] == -6
    assert comps[-22] == -22 and comps[-30] == -31
    assert comps[303] == 300 and comps[101] == 100


def test_components_small_graph_runs_one_job(spark):
    """Small graph: one collect job, no checkpoint rounds. The edge
    count comes from the observation its checkpoint took."""
    from df_spark.operators.observe import observed_checkpoint

    edges = observed_checkpoint(spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(50, 51)], "id_a long, id_b long"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    labels = connected_components(edges)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    assert {r.node: r.comp for r in labels.collect()} == {
        **{i: 0 for i in range(13)}, 50: 50, 51: 50}
