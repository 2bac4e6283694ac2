"""Connected components over a pair graph — the dedup-clustering step
that turns near-dup PAIRS into dedup GROUPS (keep one doc per
component).

Min-label propagation: every node starts labeled with its own id; each
round, a node takes the minimum label among itself and its neighbors;
converged when no label changes. Two regimes, chosen from the edge
count the pair frame's checkpoint observed:

- **driver-local** (edge list × 16 B fits ``BROADCAST_BYTES_CAP``): the
  edges are collected once (one Spark job) and propagated in numpy
  with pointer jumping, which converges in a few vectorized rounds.
  The per-round Spark barriers of the loop below — a checkpoint job
  and a convergence read each — cost far more than the numpy work on
  a graph this size (the 120-doc `curation` pair graph: 12 jobs → 1).
  The labels frame is checkpointed lazily: its first scan stores the
  rows, so later scans do not ship them with every task again.
- **distributed** (past the cap): the DATA stays distributed (each
  round is two hash joins + an aggregate); the driver only reads the
  convergence check, a sum observed by each round's own checkpoint
  job, and the loop count is O(diameter), independent of data size.
  Each round's labels are checkpointed and the PREVIOUS round's
  checkpoint storage is released immediately (tracked through the
  persistent-RDD registry), so peak storage is two label tables + the
  edge list — bounded, not O(rounds).

Large-star/small-star (Kiveris et al.) was considered and measured:
near-dup graphs here converge in ~6 plain rounds (diameter ≈ 5) at
~0.5 s/round, while star rounds double the per-round join count — the
crossover only pays on deep-chain graphs, so plain min-propagation
stays.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .observe import observed, observed_checkpoint, with_observed
from .partitioning import BROADCAST_BYTES_CAP, size_hinted


def checkpoint_rdd_id(df: DataFrame) -> int:
    """RDD id backing a localCheckpoint'd frame, read off its own
    LogicalRDD plan node — NOT by diffing the process-global persistent-
    RDD registry, which under concurrent jobs (the threaded server)
    would capture another job's RDDs and later force-unpersist them."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def _release(sc, rdd_ids: set[int]) -> None:
    """Free checkpointed RDD storage deterministically (Dataset.unpersist
    only talks to the CacheManager and ignores checkpoint storage;
    waiting for the ContextCleaner means storage grows with GC lag)."""
    reg = sc._jsc.getPersistentRDDs()
    for rid in rdd_ids:
        jrdd = reg.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) with component = min node id reachable.
    ``edges`` is undirected (each pair listed once, either order).

    The edge count gates the regime (see the module docstring): it is
    read from the observation the pair frame's own checkpoint took
    (every internal caller passes one, see
    :func:`.observe.observed_checkpoint`); an ad-hoc frame without one
    is counted first, so it should be cheap to evaluate twice.

    Small graphs (edges × 16 B within ``BROADCAST_BYTES_CAP``) run
    :func:`_local_components`: one collect, numpy propagation, and a
    driver-built (node, comp) frame, stored by its first scan.

    Larger graphs STAR-CONTRACT, then iterate on the residual (Kiveris
    et al.'s single-round variant): near-dup graphs are unions of
    near-cliques, so one aggregation pass — label every node with
    min(self, min neighbor) straight off the edge list — collapses
    almost the whole graph; relabeling both edge endpoints through that
    partial labeling and dropping self-loops leaves a residual of
    inter-star edges (measured at sf0.1: 789k symmetric edges → 3.9k
    residual). The O(diameter) min-label-propagation loop then runs on
    the residual only, and a final broadcast join composes node → star
    label → residual component. Bit-identical labels to plain
    propagation (both converge to the component-min id), at a fraction
    of the per-round scan cost (112 → ~15 CPU-s at sf0.1).

    Every frame width is sized to the MEASURED edge count (~1M rows
    per task), never inherited from the upstream pair pipeline's
    compute width — on a small graph the loop runs in a couple of
    tasks; at 100 TB the same formula fans out to thousands. Every
    size the loop reads comes from an observed checkpoint, never a
    separate count job.

    ``max_iter`` bounds the residual loop's PROPAGATION STEPS (rounded
    up to an even count — the loop materializes every two steps; the
    star pass is one extra aggregation, not counted). Warns
    (RuntimeWarning) if the budget passes without convergence — the
    returned labels are then a partial propagation. The driver-local
    regime always converges."""
    n_edges = observed(edges)
    if n_edges * 16 < BROADCAST_BYTES_CAP:
        return _local_components(edges, src, dst)

    sc = edges.sparkSession.sparkContext

    def tracked(out: DataFrame) -> tuple[DataFrame, set[int]]:
        return out, {checkpoint_rdd_id(out)}

    # unconditional repartition: probing the current partition count
    # via .rdd would finalize the physical plan and can trigger
    # premature stage execution under AQE (see
    # operators.partitioning.barrier_width's guard)
    width = max(1, min(2 * n_edges // 1_000_000 + 1, sc.defaultParallelism))

    # symmetric edge list (a->b and b->a) so propagation is undirected.
    # MUST be materialized: the star pass and the contraction both scan
    # it, and without the cut each scan would re-run the entire
    # upstream pair pipeline (e.g. MinHash+LSH) — measured minutes
    # instead of seconds.
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym, sym_ids = tracked(
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(width).localCheckpoint(eager=True)
    )

    # star pass: ONE hash aggregate over the edge list — no join. The
    # per-node partial label is min(self, min neighbor); monotone, so
    # composing it below with the residual components still yields the
    # exact component-min.
    part, part_ids = tracked(observed_checkpoint(
        sym.groupBy("u").agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("node"), F.least("mn", "u").alias("lbl"))
    ))
    part_bytes = observed(part) * 48

    # contraction: relabel both endpoints through the star labels
    # (broadcast while the one-row-per-node table fits; size_hinted
    # degrades to shuffle joins past the cap), drop intra-star edges,
    # canonicalize + dedupe
    lu = size_hinted(
        part.select(F.col("node").alias("u"), F.col("lbl").alias("lu")), part_bytes)
    lv = size_hinted(
        part.select(F.col("node").alias("v"), F.col("lbl").alias("lv")), part_bytes)
    resid, resid_ids = tracked(observed_checkpoint(
        sym.join(lu, "u").join(lv, "v")
        .filter(F.col("lu") != F.col("lv"))
        .select(F.least("lu", "lv").alias("u"), F.greatest("lu", "lv").alias("v"))
        .distinct()
    ))
    n_resid = observed(resid)

    converged = n_resid == 0
    held: set[int] = set()
    if not converged:
        rwidth = max(1, min(2 * n_resid // 1_000_000 + 1, sc.defaultParallelism))
        rsym, rsym_ids = tracked(
            resid.unionByName(resid.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition(rwidth).localCheckpoint(eager=True)
        )
        labels, held = tracked(observed_checkpoint(
            rsym.select(F.col("u").alias("node")).distinct()
            .withColumn("comp", F.col("node"))
        ))
        labels_bytes = observed(labels) * 48

        def propagate(cur: DataFrame) -> DataFrame:
            neighbor_labels = rsym.join(
                size_hinted(cur, labels_bytes), rsym.v == cur["node"]
            ).select(F.col("u").alias("node"), F.col("comp"))
            return (
                neighbor_labels.unionByName(cur)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )

        # TWO propagation steps per materialization round: the driver-
        # side barriers (checkpoint job + convergence read) dominate
        # each round's wall time on shallow graphs, so halving the
        # barrier count beats minimizing per-step join work.
        # Convergence check exploits monotonicity — min-labels only
        # ever decrease — so labels changed iff sum(comp) decreased:
        # observed by the round's own checkpoint job, and a sum
        # unchanged across a 2-step round implies neither step moved.
        prev_sum = None
        for _ in range(max(1, (max_iter + 1) // 2)):
            # localCheckpoint TRUNCATES the lineage — persist alone
            # caches data but Catalyst still re-analyzes the ever-
            # deepening plan each round (measured: per-iteration time
            # grows 2s → 20s by round 3 without this). Eager, so the
            # old round can be freed right away. Decimal sum: node ids
            # are longs, so an int64 sum could overflow under ANSI mode
            # on a billion-node graph.
            new_labels, new_held = tracked(observed_checkpoint(
                propagate(propagate(labels)),
                comp_sum=F.col("comp").cast("decimal(38,0)"),
            ))
            cur_sum = observed(new_labels, "comp_sum")
            _release(sc, held)
            labels, held = new_labels, new_held
            if prev_sum is not None and cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        _release(sc, rsym_ids)

    # compose: node → star label → residual component (stars whose
    # label never reached the residual ARE their component's min)
    if n_resid == 0:
        final = part.select("node", F.col("lbl").alias("comp"))
    else:
        final = part.join(
            size_hinted(labels.select(F.col("node").alias("lbl"), "comp"),
                        labels_bytes),
            "lbl", "left",
        ).select("node", F.coalesce("comp", "lbl").alias("comp"))
    # observed: dedup_groups sizes its broadcast from the row count
    final = observed_checkpoint(final)
    _release(sc, sym_ids | part_ids | resid_ids | held)
    if not converged:
        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; returned labels are a partial propagation",
            RuntimeWarning,
            stacklevel=2,
        )
    # the final labels checkpoint stays alive for the caller; the
    # ContextCleaner reclaims it once the frame goes out of scope
    return final


def _local_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Driver-local regime of :func:`connected_components`: one collect
    of the edge list, then min-label propagation in numpy over dense
    node indices (``np.unique`` order, so a smaller index is a smaller
    id). Each round every edge pulls both endpoints down to the smaller
    of their labels, then pointer jumping (``lab = lab[lab]`` to a fixed
    point) lets a label travel a whole chain of labels at once. Labels
    only decrease and always name a node of the same component; at the
    fixed point every edge's endpoints agree, so each component carries
    one label, and its min node — whose label can only be itself — fixes
    that label to the component-min id.

    Returns a driver-built frame carrying its row count for
    :func:`.observe.observed`, behind a LAZY local checkpoint: building
    it runs no job, the first scan ships the rows with its tasks and
    stores them, and later scans read the stored blocks. Without the
    checkpoint every scan ships the rows again — on 4 vCPUs ~2.5 s per
    ``count()`` at 1M nodes, against ~0.09 s once stored."""
    import numpy as np
    import pyarrow as pa

    id_type = edges.schema[src].dataType
    t = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).toArrow()
    u = t.column("u").to_numpy()
    nodes, idx = np.unique(
        np.concatenate([u, t.column("v").to_numpy()]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    lab = np.arange(len(nodes))
    while True:
        new = lab.copy()
        low = np.minimum(lab[a], lab[b])
        np.minimum.at(new, a, low)
        np.minimum.at(new, b, low)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            break
        lab = new
    local = edges.sparkSession.createDataFrame(
        pa.table({"node": nodes, "comp": nodes[lab]})
    ).select(F.col("node").cast(id_type).alias("node"),
             F.col("comp").cast(id_type).alias("comp"))
    return with_observed(local.localCheckpoint(eager=False), rows=len(nodes))


def dedup_groups(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    memo: bool = True,
) -> DataFrame:
    """Full dedup grouping: every doc gets a group id (= min doc id of
    its near-dup component; singletons are their own group), plus the
    keep/drop decision.

    The label table is one row per near-dup NODE — corpus-bounded and
    usually tiny next to ``all_ids`` — so the final left join broadcasts
    it (its row count is observed with the labels, no count job) and the
    full id table never shuffles. Past the cap the join degrades to shuffle.

    The CC label table is session-memoized on the pairs frame (same
    store as the dedup build — ``operators.dedup.DEDUP_MEMO`` — so one
    clear() resets the whole family): ``dedup_clusters`` and
    ``llm_data_pipeline`` derive labels from the identical memoized
    pair set, and the O(diameter) barrier loop should run once per
    session, not once per caller."""
    if memo:
        from ..plans.memo import frame_key
        from .dedup import DEDUP_MEMO

        # connected_components returns an eagerly checkpointed frame,
        # or a driver-built one behind a lazy checkpoint — stored as-is
        comps = DEDUP_MEMO.get_or_build(
            ("cc_labels", frame_key(pairs)), lambda: connected_components(pairs)
        )
    else:
        comps = connected_components(pairs)
    comps_bytes = observed(comps) * 48
    out = (
        all_ids.select(F.col(id_col))
        .join(size_hinted(comps, comps_bytes), all_ids[id_col] == comps.node, "left")
        .select(
            id_col,
            F.coalesce(F.col("comp"), F.col(id_col)).alias("group_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("group_id"))
    )
    return out
