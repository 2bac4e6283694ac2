"""Similarity search over embedding columns (``array<float>``).

Column builders exist in two bit-identical forms: interpreted JVM
higher-order functions (``cosine`` — used in tests and anywhere a plan
must stay UDF-free) and Arrow-batched pandas UDFs (``cosine_fast``,
bucket/cell quantizers — the hot path, since HOF folds are interpreted
and were the measured bottleneck; each UDF reproduces the fold's exact
summation order, so scores stay bit-identical to the SQL oracle):

- **brute-force cosine top-k**: broadcast the (small) query set, score
  every candidate, keep top-k per query with a window. O(Q·N) work but
  embarrassingly parallel and shuffle-free until the final top-k — the
  correct baseline at any scale when Q is small.
- **LSH-bucketed ANN**: 8 fixed random-hyperplane signs → 256 buckets;
  queries only score candidates in their own bucket (~N/256 of the
  corpus). The bucket join is a hash equi-join on the signature — the
  scale path for large Q. Planes are ±1 vectors derived from md5 so
  the DuckDB oracle reproduces them exactly.

Dot products fold left-to-right in double precision — verified
bit-identical between Spark's ``aggregate``/``zip_with`` and DuckDB's
``list_sum``/``list_transform``/``list_zip``.

Embeddings arrive as float32; elements are cast to double before
multiplication (float32→double is exact; the product of two former
floats fits double's mantissa exactly — only the fold order matters,
and both engines fold sequentially).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8
DIM = 64
N_TABLES = 4  # multi-table LSH: candidate = same bucket in ANY table

# semdedup's grouped-matrix verify scores one CELL's pair matrix in a
# single grouped-map task, holding ~6 n×n float64 arrays at its peak
# (dots, the per-dim outer product, cos and the upper-triangle
# indices); the gate is on the LARGEST cell, so one skewed cell cannot
# pass it on the strength of a small corpus total. At 4,096 rows the
# peak is ~6 × 134 MB ≈ 0.8 GB. Past the gate the distributed per-cell
# join keeps a giant cell's pair space spread across tasks.
SEMDEDUP_GROUPED_MAX_ROWS = 4_096


def _plane_sign(j: int, d: int, table: int = 0) -> int:
    """Deterministic ±1 from md5 — reproducible in any engine/language."""
    tag = f"plane_{j}_{d}" if table == 0 else f"plane_t{table}_{j}_{d}"
    h = hashlib.md5(tag.encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def _planes_for(table: int) -> list[list[int]]:
    return [[_plane_sign(j, d, table) for d in range(DIM)] for j in range(N_PLANES)]


PLANES: list[list[int]] = _planes_for(0)
TABLE_PLANES: list[list[list[int]]] = [_planes_for(t) for t in range(N_TABLES)]


# ---------------------------------------------------------------------------
# column builders (+ SQL twins)
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def l2_norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _cosine_batch_udf():
    """Arrow-batched twin of ``cosine`` — HOF folds are interpreted (not
    codegen'd), so scoring thousands of candidate pairs through three
    64-element folds each dominates the ANN operators. Accumulating
    per-dimension IN ORDER (one vectorized add per dim) reproduces the
    fold's exact left-to-right double sum, and sqrt/divide are IEEE
    deterministic — bit-identical to the HOF and the SQL oracle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    @pandas_udf(T.DoubleType())
    def cos_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack([np.asarray(x, dtype="float64") for x in a])
        mb = np.stack([np.asarray(x, dtype="float64") for x in b])
        dots = np.zeros(ma.shape[0])
        na = np.zeros(ma.shape[0])
        nb = np.zeros(ma.shape[0])
        for d in range(ma.shape[1]):  # sequential over dims = fold order
            dots += ma[:, d] * mb[:, d]
            na += ma[:, d] * ma[:, d]
            nb += mb[:, d] * mb[:, d]
        return pd.Series(dots / (np.sqrt(na) * np.sqrt(nb)))

    return cos_batch


def cosine_fast(a: Column, b: Column) -> Column:
    """Vectorized cosine for DataFrame-side scoring (bit-identical to
    ``cosine``; keep the HOF form only where a plan must stay UDF-free)."""
    return _cosine_batch_udf()(a, b)


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / ({l2_norm_sql(a)} * {l2_norm_sql(b)})"


def lsh_bucket(a: Column, table: int = 0) -> Column:
    """Signature string of N_PLANES sign bits ('10110100') for one
    hash table."""
    planes = TABLE_PLANES[table] if table < N_TABLES else _planes_for(table)
    bits = []
    for j in range(N_PLANES):
        plane = F.array(*[F.lit(s) for s in planes[j]])
        proj = dot(a, plane)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_sql(a: str, table: int = 0) -> str:
    planes = TABLE_PLANES[table] if table < N_TABLES else _planes_for(table)
    parts = []
    for j in range(N_PLANES):
        plane = "[" + ", ".join(str(s) for s in planes[j]) + "]"
        parts.append(f"(CASE WHEN {dot_sql(a, plane)} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(parts)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector (self excluded).
    The query side is broadcast → no shuffle of the corpus."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    cand = emb.select(F.col(id_col), F.col(vec_col))
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            cosine_fast(F.col("__qvec"), F.col(vec_col)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", "rank")
    )


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: score only same-bucket candidates. Recall < 1
    by design; the bucket equi-join replaces the cross join."""
    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col)).alias("bucket")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        q.join(bucketed, "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            cosine_fast(F.col("__qvec"), F.col(vec_col)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", "rank")
    )


def _make_buckets_udf(n_tables: int):
    """Vectorized twin of ``lsh_bucket`` for all tables at once.

    Higher-order-function folds are interpreted (not codegen'd), so 32
    folds/row dominate multi-table bucketing. This pandas UDF does the
    same arithmetic batched over rows — crucially accumulating over
    dimensions IN ORDER (d = 0..63) with one vectorized add per dim, so
    each row's projection is the exact same left-to-right double sum as
    the fold and the SQL oracle: bit-identical buckets, ~10× faster."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    signs = [np.array(TABLE_PLANES[t] if t < N_TABLES else _planes_for(t), dtype="float64")
             for t in range(n_tables)]

    @pandas_udf(T.ArrayType(T.StringType()))
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype="float64") for x in v])  # n × DIM
        out = []
        per_table_bits = []
        for t in range(n_tables):
            s = signs[t]  # N_PLANES × DIM
            acc = np.zeros((mat.shape[0], s.shape[0]))
            for d in range(mat.shape[1]):  # sequential over dims = fold order
                acc += mat[:, d : d + 1] * s[:, d]
            per_table_bits.append(acc >= 0)
        for i in range(mat.shape[0]):
            out.append(
                ["".join("1" if b else "0" for b in per_table_bits[t][i])
                 for t in range(n_tables)]
            )
        return pd.Series(out)

    return buckets


def ann_multi_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table LSH ANN: candidates collide in ANY of ``n_tables``
    independent hash tables (OR-amplification — recall rises from
    p^bits to 1-(1-p^bits)^L for true neighbors at unchanged per-table
    join cost). Candidate pairs are deduped before scoring so each
    cosine is computed once."""
    # all table buckets in ONE vectorized pass over the corpus (a
    # per-table union would rescan once per table; HOF folds would be
    # interpreted), exploded to (tbl, bucket) rows for a single equi-join
    buckets_udf = _make_buckets_udf(n_tables)

    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(buckets_udf(F.col(vec_col))).alias("tbl", "bucket"),
        )

    b = bucketed(emb, id_col)
    q = bucketed(queries, "query_id")
    cand = (
        q.join(b, ["bucket", "tbl"])
        .select("query_id", id_col)
        .filter(F.col(id_col) != F.col("query_id"))
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    ev = emb.select(F.col(id_col), F.col(vec_col))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(ev, id_col)
        .select("query_id", id_col, cosine_fast(F.col("__qvec"), F.col(vec_col)).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", "rank")
    )


def _make_nearest_cells_udf(centroids: list[tuple[int, list[float]]], nprobe: int):
    """Vectorized coarse quantizer for IVF: per input vector, the ids of
    the ``nprobe`` nearest centroids by cosine, nearest first.

    Accumulates dot products dimension-by-dimension (d = 0..DIM-1) with
    one vectorized add per dim, so every score is the exact left-to-right
    double fold the SQL oracle computes — assignments are bit-identical,
    and ties break toward the lower centroid id (stable argsort)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    cids = np.array([c[0] for c in centroids], dtype="int64")
    cmat = np.array([c[1] for c in centroids], dtype="float64")  # k × DIM
    cnorm = np.zeros(cmat.shape[0])
    for d in range(cmat.shape[1]):
        cnorm += cmat[:, d] * cmat[:, d]
    cnorm = np.sqrt(cnorm)

    @pandas_udf(T.ArrayType(T.LongType()))
    def nearest_cells(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype="float64") for x in v])  # n × DIM
        dots = np.zeros((mat.shape[0], cmat.shape[0]))
        vnorm = np.zeros(mat.shape[0])
        for d in range(mat.shape[1]):  # sequential over dims = fold order
            dots += mat[:, d : d + 1] * cmat[:, d]
            vnorm += mat[:, d] * mat[:, d]
        cos = dots / (np.sqrt(vnorm)[:, None] * cnorm[None, :])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cids[row].tolist() for row in order])

    return nearest_cells


def kmeans_refined_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd-refined IVF centroids — the engine's iterative-batch
    pattern applied to clustering (same shape as
    ``operators.clustering``): centroids are a bounded driver-side list
    (Spark ML's KMeans holds centers on the driver too); each round is
    one shuffle-free Arrow-batched assignment pass over the corpus plus
    one 64-column avg aggregate (map-side combine → ``n_cells`` partial
    rows per task reach the driver). Rounds are O(n_iter), independent
    of corpus size. An emptied cell keeps its previous centroid.

    Note: distributed double summation makes refined centroids
    run-order-sensitive in the last ulps — fine for ANN recall (cell
    boundaries move by ~1e-15), so the refined variant is exposed as a
    rows-only registry query rather than a hash-exact oracle."""
    centroids = [
        (r[0], list(r[1]))
        for r in emb.select(id_col, vec_col)
        .filter(F.col(id_col) < n_cells)
        .orderBy(id_col)
        .collect()
    ]
    dim = len(centroids[0][1])
    for _ in range(n_iter):
        assign_udf = _make_nearest_cells_udf(centroids, 1)
        assigned = emb.select(
            assign_udf(F.col(vec_col))[0].alias("cell"), F.col(vec_col)
        )
        # per-dimension means via ONE skinny (cell, dim) aggregate
        # rather than ``dim`` parallel avg(vec[d]) aggregates: the
        # 64-expression tree cost ~1 s of Catalyst analysis+codegen
        # per Lloyd round (measured r13: 1.45 -> 0.5 s/round, means
        # bit-identical — partial aggregation folds rows in the same
        # scan order either way, so the double sums match exactly)
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("d", "v"))
            .groupBy("cell", "d")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cell: dict[int, list] = {}
        for r in means:
            by_cell.setdefault(r["cell"], [None] * dim)[r["d"]] = r["m"]
        centroids = [(cid, by_cell.get(cid, old)) for cid, old in centroids]
    return centroids


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer assigns every corpus
    vector to its nearest of ``n_cells`` centroids; each query probes its
    ``nprobe`` nearest cells and scores only those candidates (~nprobe/
    n_cells of the corpus).

    Scale path: centroids are a bounded-small driver-side list (the
    standard IVF coarse-quantizer shape — Spark ML's KMeans holds
    centers on the driver too), so cell assignment is a shuffle-free
    Arrow-batched map over the corpus; the probe→cell match is a hash
    equi-join on the cell id. No window/shuffle touches the full corpus
    except the final per-query top-k.

    Centroid selection is deterministic (the vectors with the lowest
    ``n_cells`` ids) so any engine reproduces it; pass
    ``refine_iters > 0`` for Lloyd-refined centroids
    (:func:`kmeans_refined_centroids`) when recall matters more than
    oracle reproducibility. Fills the reference's similarity-search gap
    (angelini/df has no vector ops at all — src/value.rs:84-90 caps
    types at scalars + one List level)."""
    if refine_iters > 0:
        centroids = kmeans_refined_centroids(
            emb, n_cells=n_cells, n_iter=refine_iters,
            id_col=id_col, vec_col=vec_col)
    else:
        centroids = [
            (r[0], list(r[1]))
            for r in emb.select(id_col, vec_col)
            .filter(F.col(id_col) < n_cells)
            .orderBy(id_col)
            .collect()
        ]
    assign_udf = _make_nearest_cells_udf(centroids, 1)
    probe_udf = _make_nearest_cells_udf(centroids, nprobe)

    cells = emb.select(
        F.col(id_col),
        F.col(vec_col),
        assign_udf(F.col(vec_col))[0].alias("cell"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )
    scored = (
        F.broadcast(probes)
        .join(cells, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            cosine_fast(F.col("__qvec"), F.col(vec_col)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cos_sim", "rank")
    )


def near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by LSH bucket
    (only same-bucket pairs are scored — sub-quadratic).

    Skew audit (sf0.1, 2000 vectors): 254 distinct buckets, bucket
    sizes p50=7 / p99=17 / max=20 — no hot bucket; the pair space is
    ~10k of 2M possible. Run-to-run wall-time swings on this operator
    (1.9s ↔ 8.3s across driver rounds) track shared-host load, not
    bucket skew; the bench's per-query median absorbs them. If a real
    corpus does produce a dominant bucket, split it with a second hash
    table (``ann_multi_lsh_topk``'s OR-amplification machinery) before
    reaching for more planes."""
    b = emb.select(F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col)).alias("bucket"))
    left = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "bucket")
    right = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "bucket")
    pairs = left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", cosine_fast(F.col("__va"), F.col("__vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup(
    emb: DataFrame,
    n_cells: int = 8,
    tau: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then dropping all but one
    of each tau-similar group WITHIN a cluster — the cluster bound is
    what makes the pairwise step tractable at corpus scale (pairs are
    scored per cell, never across the whole corpus).

    Returns (id, cell, keep) for EVERY input row — an audit table, not
    just the survivors — keep=1 unless a same-cell vector with a
    smaller id is tau-similar. Priority is the id order (deterministic
    on any engine); the paper's keep-farthest-from-centroid variant is
    the same plan with the priority column swapped for the centroid
    distance.

    Scale: centroids are a bounded driver-side list (same coarse
    quantizer as :func:`ivf_topk` — deterministic lowest-id selection
    so the oracle reproduces it); assignment is a shuffle-free
    Arrow-batched map, materialized ONCE (eager checkpoint) so the
    self-join/grouped verify and the final audit join don't each
    re-run the assignment UDF. The within-cell verify is then adaptive
    on the runtime-measured largest cell (r13 — the fused
    ``minhash_near_dups`` pattern):

    - **grouped-matrix** (largest cell under ``SEMDEDUP_GROUPED_MAX_ROWS``):
      one ``applyInPandas`` per cell ships each vector ONCE and scores
      the cell's pair matrix in numpy with per-dimension IN-ORDER
      accumulation — bit-identical to the pairwise ``cosine_fast``
      fold, verified value-equal at sf0.1. The join formulation below
      instead explodes both vectors into every candidate pair, so the
      Arrow boundary carried ~n_pairs × 2 × DIM doubles (~250 MB at
      sf0.1 for 250 k pairs) against the grouped path's one corpus
      copy (measured: 3.0 → 0.86 s).
    - **distributed join** (the 100 TB regime, past the gate): the
      original per-cell equi-join + pairwise scoring — a giant cell's
      pair space stays distributed across tasks instead of serializing
      into one grouped-map task's memory.

    The drop set joins back as a left join + null flag; drops are
    globally unique by construction (a vector lives in exactly one
    cell), so the grouped path needs no distinct. With Lloyd-refined
    centroids (``kmeans_refined_centroids``) cells stay balanced on
    real corpora; the deterministic variant keeps the oracle exact."""
    centroids = [
        (r[0], list(r[1]))
        for r in emb.select(id_col, vec_col)
        .filter(F.col(id_col) < n_cells)
        .orderBy(id_col)
        .collect()
    ]
    assign_udf = _make_nearest_cells_udf(centroids, 1)
    cells = emb.select(
        F.col(id_col),
        F.col(vec_col),
        assign_udf(F.col(vec_col))[0].alias("cell"),
    ).localCheckpoint(eager=True)
    # one aggregation, like the count it replaces; ≤ n_cells rows
    largest_cell = max(
        (r[1] for r in cells.groupBy("cell").count().collect()), default=0)
    if largest_cell <= SEMDEDUP_GROUPED_MAX_ROWS:
        def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy(np.int64)
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            if len(ids) < 2:
                return pd.DataFrame({"__drop_id": np.empty(0, np.int64)})
            mat = np.stack([
                np.asarray(x, dtype="float64")
                for x in pdf[vec_col].to_numpy()[order]
            ])
            n, dims = mat.shape
            dots = np.zeros((n, n))
            nrm = np.zeros(n)
            for d in range(dims):  # sequential over dims = the fold order
                col = mat[:, d]
                dots += col[:, None] * col[None, :]
                nrm += col * col
            cos = dots / (np.sqrt(nrm)[:, None] * np.sqrt(nrm)[None, :])
            iu, ju = np.triu_indices(n, 1)  # ids asc: i<j ⟺ id_a<id_b
            drop = np.unique(ids[ju[cos[iu, ju] >= tau]])
            return pd.DataFrame({"__drop_id": drop})

        drops = cells.groupBy("cell").applyInPandas(
            per_cell, schema="__drop_id long")
    else:
        left = cells.select(
            "cell", F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
        )
        right = cells.select(
            "cell", F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        )
        drops = (
            left.join(right, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cosine_fast(F.col("__va"), F.col("__vb")) >= tau)
            .select(F.col("id_b").alias("__drop_id"))
            .distinct()
        )
    return (
        cells.join(drops, cells[id_col] == drops["__drop_id"], "left")
        .select(
            id_col,
            "cell",
            F.when(F.col("__drop_id").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )
