"""Deduplication operators for large-scale corpus pipelines.

Declarative JVM-side expressions (higher-order array functions + hash
aggregates) by default. Three measured hot paths are vectorized, each
with its bit-exact declarative twin documented inline: the per-doc
winnowing summary (``mapInPandas``), and, while a driver-side table of
per-doc bitmaps fits the broadcast cap, the two :mod:`.lsh_kernel`
numpy kernels — the containment gather, and ONE LSH band verify
(:func:`_fused_band_verify`) for ``minhash_near_dups``,
``incremental_band_dedup`` and ``cross_near_dups_in_table``. A kernel
stage of one task runs on the driver, which holds the table; wider
ones in ``mapInArrow`` tasks. Past the cap the same three operators
run its one distributed JVM twin, :func:`_band_verify`. Four
families, all shuffle-conscious:

- **exact**: hash-groupBy on a normalized-content fingerprint. One
  shuffle on the fingerprint; at 100 TB this is the standard
  "dedup by content hash" pass (fingerprints are uniform → no skew).
- **MinHash + LSH**: shingle → h32 → K permutations → per-doc
  signature; signatures cut into bands; docs sharing a band bucket are
  candidate near-dup pairs. Cost: one explode of distinct shingles
  (map-side), one groupBy(doc) for signatures, one groupBy(band bucket)
  self-join for candidates. The band join is the only pairwise step and
  touches only colliding buckets — the classic sub-quadratic near-dup
  design (Broder '97; Spark MLlib's MinHashLSH is the same idea, this
  one is oracle-reproducible).
- **SimHash**: per-token h32 → per-bit ±1 votes → 32-bit signature via
  one hash aggregate; near-dups share signature prefixes (bucket on
  the top bits).
- **n-gram Jaccard**: exact set similarity on blocked candidate pairs
  (block on cheap keys first; only in-block pairs are compared).

The reference has no dedup surface (SURVEY §2) — these are the
north-star extensions.
"""

from __future__ import annotations

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import NUM_HASHES, h32, h32_sql, minhash_perm, minhash_perm_sql
from ..plans.memo import Memo, frame_key
from . import lsh_kernel as K
from .observe import observed, observed_checkpoint, with_observed
from .partitioning import (
    BROADCAST_BYTES_CAP,
    barrier_width,
    checkpoint_spread,
    pandas_stage_width,
    size_hinted,
)
from ..functions.text import (
    char_kgrams,
    char_shingles_sql,
    fingerprint_md5,
    fingerprint_md5_sql,
    normalized,
    normalized_sql,
)

# mapInArrow closures call the kernels: ship the module's code with
# them, so a Python worker need not import this package
cloudpickle.register_pickle_by_value(K)

# Session-scoped memo of the expensive shared intermediates (the
# reference's Pool, src/pool.rs:25-94, at operator granularity): the
# narrow MinHash profile and the verified near-dup pair set are each
# derived identically by several registry queries (dedup_clusters,
# llm_data_pipeline, minhash_near_dups, minhash_signatures,
# minhash_lsh_pairs) — within a session the first caller computes, the
# rest hit materialized storage.
# Capacity 16 (was 8 through r9): the r10 registry's per-pass memo
# traffic (shared build + sets + cand + bench_hashes + prefix/
# containment xxsets/xxarrays + rarity + fuzzy blocks + the estimator
# audit) exceeded 8 live keys, so the prefix family's xxsets/xxarrays —
# built once per pass by containment_join — were LRU-evicted before
# prefix_sim_join ran, re-paying a 2.4 s build (measured: bench prefix
# wall 2.07 → 4.46 s, CPU 8.9 → 28). Entries are localCheckpoint'd
# narrow intermediates; ContextCleaner frees evicted ones, so the cost
# of a larger window is bounded storage references, not leaks.
DEDUP_MEMO = Memo(capacity=16)

# hashed shingle SETS are stored as 32-bit ints, shifted from the h32
# domain [0, 2^32) by -2^31 (injective → Jaccard-invariant); profiles
# shift back before applying MinHash permutations
H32_INT_SHIFT = 2_147_483_648


def minhash_mins_array() -> Column:
    """The 16 per-doc minima as ONE array column (same bytes as 16 long
    columns, a third of the per-row field handling through joins)."""
    return F.array(*[F.col(f"m{i}") for i in range(NUM_HASHES)])


def minhash_est(mins_left: str, mins_right: str) -> Column:
    """Estimated signature agreement: a 16-term sum of per-position
    equality flags via ``getItem`` — fully codegen'd integer compares.
    (The r3-r5 ``zip_with``/``aggregate`` HOF form evaluated its lambda
    INTERPRETED per pair: measured 40 → 18 CPU-s on the 2.3 M-pair
    sf0.1 screen just from this rewrite.) Shared by the in-corpus and
    cross-corpus verifies."""
    est = None
    for i in range(NUM_HASHES):
        term = F.when(
            F.col(mins_left).getItem(i) == F.col(mins_right).getItem(i), 1
        ).otherwise(0)
        est = term if est is None else est + term
    return est


def jaccard_projection(
    pairs: DataFrame, id_left: str, id_right: str,
    sh_left: str, sh_right: str, min_jaccard: float,
) -> DataFrame:
    """(id_left, id_right, jaccard >= t) from per-pair shingle arrays.
    The intersect size materializes ONCE in its own projection —
    referencing it twice inside the jaccard expression would re-evaluate
    the intersect per use whenever codegen subexpression elimination is
    off. Shared by the in-corpus and cross-corpus verifies."""
    sized = pairs.select(
        id_left, id_right,
        F.size(F.array_intersect(sh_left, sh_right)).cast("double").alias("__i"),
        (F.size(sh_left) + F.size(sh_right)).cast("double").alias("__t"),
    )
    jac = F.round(F.col("__i") / (F.col("__t") - F.col("__i")), 6)
    return (
        sized.select(id_left, id_right, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )

def jaccard_words_projection(
    pairs: DataFrame, id_left: str, id_right: str,
    left_suffix: str, right_suffix: str, words: list[str], min_jaccard: float,
    carry: list[str] | None = None,
) -> DataFrame:
    """(id_left, id_right, jaccard >= t) from per-pair shingle BITMAPS
    (``w{{i}}{{suffix}}`` long columns, one bit per distinct shingle
    hash): |∩| = Σ popcount(wa & wb) — W codegen'd ANDs + bit_counts
    per pair instead of a per-pair hash-set build (measured ~10× at
    sf0.1 where W=6). Set sizes ride along as ``n{{suffix}}`` columns.
    Bit-exact with :func:`jaccard_projection`: bits are per distinct
    h32 value, so popcounts equal hash-set cardinalities.

    ``carry`` columns survive the projection (still present after the
    threshold filter) so callers can apply further conjuncts — e.g.
    the MinHash-estimate screen, which on the bitmap path is CHEAPER
    evaluated after this filter (6 popcounts vs a 16-term compare,
    2.3 M pairs in, 0.4 M out at sf0.1)."""
    inter = None
    for w in words:
        term = F.bit_count(
            F.col(f"{w}{left_suffix}").bitwiseAND(F.col(f"{w}{right_suffix}")))
        inter = term if inter is None else inter + term
    sized = pairs.select(
        id_left, id_right, *(carry or []),
        inter.cast("double").alias("__i"),
        (F.col(f"n{left_suffix}") + F.col(f"n{right_suffix}")).cast("double").alias("__t"),
    )
    jac = F.round(F.col("__i") / (F.col("__t") - F.col("__i")), 6)
    return (
        sized.select(id_left, id_right, *(carry or []), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct content fingerprint: the id to keep (min)
    and the number of copies."""
    return (
        docs.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_stats_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
    SELECT {fingerprint_md5_sql(text_col)} AS fp,
           MIN({id_col}) AS keep_id,
           COUNT(*) AS n_copies
    FROM {table}
    GROUP BY 1
    """


def drop_exact_dups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative of each content fingerprint.
    Implemented as min-id-per-fingerprint + semi-join (two shuffles on
    uniform keys; no window over the full corpus needed)."""
    fp = docs.withColumn("__fp", fingerprint_md5(F.col(text_col)))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [ "__fp", id_col], "left_semi").drop("__fp")


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def shingle_arrays(
    docs: DataFrame, keep_cols: list[str], text_col: str = "text", k: int = 3,
    out: str = "sh", parallelism: int | None = None,
) -> DataFrame:
    """Distinct k-shingle ARRAY per doc. Rows with len < k keep an
    empty array.

    Plan shape matters: the normalized text is materialized as a real
    column behind a repartition barrier BEFORE shingling, because
    Catalyst inlines cheap-looking aliases into HOF lambdas — without
    the barrier the regex normalization re-evaluates once per array
    element (O(len²) per doc). The repartition also spreads small
    single-file inputs across all cores; at 100 TB the barrier width
    follows the input split count (``barrier_width``) and the cost is
    one narrow shuffle of (id, normalized_text)."""
    norm = docs.select(
        *[F.col(c) for c in keep_cols], normalized(F.col(text_col)).alias("__t")
    )
    norm = norm.repartition(parallelism or barrier_width(norm))
    shingles = F.array_distinct(char_kgrams(F.col("__t"), k))
    guarded = F.when(F.length("__t") >= k, shingles).otherwise(F.array().cast("array<string>"))
    return norm.select(*[F.col(c) for c in keep_cols], guarded.alias(out))


def shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
) -> DataFrame:
    """(id, h) rows: one 32-bit hash per distinct k-shingle per doc.

    Two plan-shape rules are load-bearing here:

    - the hash (md5-derived) is applied AFTER the explode so it runs in
      whole-stage codegen — hashing inside a ``transform`` lambda
      executes interpreted, per element (measured ~10× slower at sf0.1
      for identical work);
    - the explode's input is the shingle EXPRESSION, not a pre-aliased
      column: ``InferFiltersFromGenerate`` skips expensive expression
      children (SPARK-36715) but fires on attributes, and the inferred
      ``size(col) > 0`` filter then gets alias-substituted by predicate
      pushdown and lands below the repartition barrier — re-running the
      whole normalize+shingle tree on the raw scan, per row, in its
      un-barriered O(len²) form (measured 26 s vs 0.7 s at sf0.1)."""
    norm = docs.select(
        F.col(id_col), normalized(F.col(text_col)).alias("__t")
    ).filter(F.length("__t") >= k)
    norm = norm.repartition(barrier_width(norm))
    shingled = norm.select(
        F.col(id_col),
        F.explode(F.array_distinct(char_kgrams(F.col("__t"), k))).alias("__s"),
    )
    return shingled.select(F.col(id_col), h32(F.col("__s")).alias("h"))


# Max distinct shingle hashes for the bitmap verify encoding: 4096 bits
# = 64 longs per doc. Char-k-shingle universes are bounded by charset^k
# (a few hundred on normalized closed-vocab corpora, ≤ ~64k for ASCII
# text at k=3), so the cap decides per-BUILD from the measured dim size
# — never per-row.
BITMAP_MAX_WORDS = 64
# Past this many distinct shingles the dictionary join stops paying
# (dim no longer broadcast-trivial) and the build falls back to the
# per-row transform path.
DIM_MAX_ROWS = 1_000_000


def _shared_build(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    memo: bool = True, plan_probe: list | None = None,
) -> DataFrame:
    """ONE-aggregate build of everything the dedup family derives from
    text: per-doc hashed shingle set (``sh``), its size (``n_sh``), the
    16 MinHash minima (``m0..m15``), and — when the corpus' distinct-
    shingle-hash universe fits ``BITMAP_MAX_WORDS``×64 bits — a fixed-
    width bitmap (``w0..w{{W-1}}``) with one bit per distinct h32 value,
    which turns the per-pair exact-Jaccard intersect into W ANDs +
    popcounts instead of a hash-set build (measured ~10× at sf0.1).

    Plan shape (replaces the r2–r5 two-pass transform build, 50→~20
    CPU-s at sf0.1):

    - normalize once behind the barrier repartition, checkpoint the
      (id, normalized text) frame — it is scanned twice (dictionary +
      aggregate). At 100 TB this materialization is ~input-sized; the
      alternative (recompute the normalize per pass) trades CPU for
      storage and stays a one-line change.
    - shingle by exploding :func:`char_kgrams` (one linear regex scan
      per doc) — whole-stage codegen end to end, with no hash per
      token; the old ``transform``-lambda path evaluated substring+md5
      interpreted, per element.
    - h32 (md5) and the 16 permutations are computed once per DISTINCT
      shingle on a dictionary frame bounded by charset^k — broadcast
      back onto the token stream. Duplicate positions don't matter:
      ``collect_set`` dedupes, MIN and bit_or are idempotent.
    - ONE hash aggregate per doc builds sets + mins + bitmap together;
      map-side partial aggregation collapses each doc's tokens before
      the (tiny: ints + 16 longs per doc) shuffle.

    Bit indexing is per distinct ``h32`` value (dense_rank), not per
    shingle string, so two shingles colliding on h32 share a bit and
    popcounts equal hash-set cardinalities exactly — the oracle's
    ``list_intersect`` on hashes sees identical numbers.

    Contract difference vs :func:`hashed_shingle_sets`: docs whose
    normalized text is shorter than ``k`` produce NO row (they have no
    signature and can never be LSH candidates, so every consumer joins
    them away anyway)."""
    def build() -> DataFrame:
        norm = docs.select(
            F.col(id_col), normalized(F.col(text_col)).alias("__t")
        ).filter(F.length("__t") >= k)
        # the eager checkpoint IS the materialization barrier; only
        # spread when the input would materialize narrow (r13 — the
        # load-time scan spread already fans the corpus out, making the
        # old unconditional round-robin barrier a redundant shuffle of
        # the whole normalized corpus)
        norm = checkpoint_spread(norm).localCheckpoint(eager=True)
        toks = norm.select(
            F.col(id_col), F.explode(char_kgrams(F.col("__t"), k)).alias("__s"))

        # ONE pass over the token stream builds the dictionary; the
        # checkpoint makes every later dim read (bit ranks, broadcast
        # build) a bounded-table scan instead of a corpus re-explode.
        # Its observed row count, the distinct shingles, bounds the
        # distinct h32 values and so the bitmap's dense-rank bits (a
        # word past the last rank stays all zeros): no sizing job.
        dim = observed_checkpoint(
            toks.select("__s").distinct()
            .select("__s", h32(F.col("__s")).alias("__h")))
        n_bits_max = observed(dim)
        if n_bits_max > DIM_MAX_ROWS:
            # unbounded shingle universe: dictionary join stops paying —
            # per-row transform build, no bitmap
            sets = hashed_shingle_sets(docs, id_col, text_col, k=k)
            h = (F.col("h").cast("long") + H32_INT_SHIFT).alias("h")
            hashes = sets.select(F.col(id_col), F.explode("sh").alias("h")).select(id_col, h)
            prof = hashes.groupBy(id_col).agg(
                *[F.min(minhash_perm(F.col("h"), i)).alias(f"m{i}")
                  for i in range(NUM_HASHES)])
            return with_observed(observed_checkpoint(
                sets.filter(F.size("sh") > 0)
                .withColumn("n_sh", F.size("sh"))
                .join(prof, id_col),
                nh=F.col("n_sh"),
            ), n_bits_max=n_bits_max)

        from pyspark.sql import Window

        n_words = (
            (n_bits_max + 63) // 64 if n_bits_max <= BITMAP_MAX_WORDS * 64 else 0
        )
        dim_cols = [
            "__s",
            *[minhash_perm(F.col("__h"), i).alias(f"p{i}") for i in range(NUM_HASHES)],
        ]
        if n_words:
            # single-partition window is fine: this regime caps the dim
            # at BITMAP_MAX_WORDS * 64 rows
            dim_cols.append(
                (F.dense_rank().over(Window.orderBy("__h")) - 1).alias("__bit"))
        else:
            # the explicit hash only rides along when sets are arrays
            dim_cols.insert(1, (F.col("__h") - H32_INT_SHIFT).cast("int").alias("hi"))
        # no second checkpoint: the broadcast build below evaluates the
        # perm/bit projection once off the dim checkpoint
        dim = dim.select(*dim_cols)
        if n_words:
            # word index + bit mask precomputed ONCE per distinct
            # shingle on the dictionary: the per-token bit_or aggregate
            # expressions below then reduce to one equality compare
            # each instead of a range test + shiftleft (4x less hot-
            # path work across n_words exprs x every token row); __bit
            # itself never reaches the token join
            dim = dim.select(
                "__s", *[f"p{i}" for i in range(NUM_HASHES)],
                F.expr("__bit div 64").alias("__wi"),
                F.expr("shiftleft(1L, __bit % 64)").alias("__mask"))

        # in the bitmap regime the explicit hash ARRAYS are dead weight:
        # every in-build consumer (verify, in-table cross, stats) reads
        # the words + n_sh; an ad-hoc caller that wants arrays gets them
        # from :func:`shared_sets`' separate lazy build instead. The
        # collect_set buffer was ~40% of this aggregate's cost.
        # n_sh is NOT aggregated here: countDistinct alongside plain
        # aggs makes Catalyst plan an Expand that runs every token row
        # through the aggregate twice (measured r7: ~30% of the build's
        # CPU). The set bits ARE the distinct h32 count, so n_sh is a
        # post-agg popcount sum (bitmap regime) / array size (set
        # regime) instead.
        aggs = [
            *[F.min(f"p{i}").alias(f"m{i}") for i in range(NUM_HASHES)],
        ]
        if n_words:
            for w in range(n_words):
                aggs.append(F.expr(
                    f"bit_or(CASE WHEN __wi = {w} THEN __mask ELSE 0L END)"
                ).alias(f"w{w}"))
            n_sh = sum(F.bit_count(f"w{w}") for w in range(n_words))
        else:
            aggs.insert(0, F.collect_set("hi").alias("sh"))
            n_sh = F.size("sh")
        head = ["sh"] if not n_words else []
        combined = (
            toks.join(F.broadcast(dim), "__s")
            .groupBy(id_col)
            .agg(*aggs)
            .select(
                id_col, *head, n_sh.cast("int").alias("n_sh"),
                *[f"m{i}" for i in range(NUM_HASHES)],
                *[f"w{w}" for w in range(n_words)],
            )
        )
        if plan_probe is not None:
            # expose the pre-checkpoint physical plan so tests can pin
            # the broadcast-dictionary regime (checkpointing erases it)
            plan_probe.append(
                combined._jdf.queryExecution().executedPlan().toString())
        # the verify gates read the doc count and Σn_sh (see
        # _verify_payload_bytes) off this checkpoint's own job, and the
        # bound on distinct hashes (the array regime's bitmap width, see
        # _fused_table) off the dictionary's
        return with_observed(
            observed_checkpoint(combined, nh=F.col("n_sh")), n_bits_max=n_bits_max)

    if not memo:
        return build()
    key = ("combined", frame_key(docs), id_col, text_col, k)
    return DEDUP_MEMO.get_or_build(key, build)


def _build_words(frame: DataFrame) -> list[str]:
    """Bitmap word columns present on a :func:`_shared_build` frame
    (empty when the universe exceeded the bitmap cap)."""
    import re

    return sorted(
        (c for c in frame.columns if re.fullmatch(r"w\d+", c)),
        key=lambda c: int(c[1:]),
    )


def shared_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    memo: bool = True,
) -> DataFrame:
    """Per-doc hashed shingle ARRAYS, memoized. When the shared build
    ran in the array regime this is a slice of it; in the bitmap regime
    the hot path never materializes arrays, so this builds them lazily
    (one extra map-side corpus pass, :func:`hashed_shingle_sets`) for
    the callers that genuinely need per-element sets, such as ad-hoc
    analysis. Keeps that function's contract: one row per doc, empty
    array for texts shorter than ``k``."""
    combined = _shared_build(docs, id_col, text_col, k, memo=memo)
    if "sh" in combined.columns:
        return combined.select(id_col, "sh")
    if not memo:
        return hashed_shingle_sets(docs, id_col, text_col, k=k).localCheckpoint(eager=True)
    key = ("sets", frame_key(docs), id_col, text_col, k)
    return DEDUP_MEMO.get_or_build(
        key,
        lambda: hashed_shingle_sets(docs, id_col, text_col, k=k).localCheckpoint(eager=True),
    )


def shared_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
    memo: bool = True,
) -> DataFrame:
    """Per-doc narrow MinHash profile (id + 16 minima) slice of
    :func:`_shared_build` — memoized; the minima come from permutations
    applied on the shingle DICTIONARY (once per distinct shingle, in
    the oracle-reproducible h32 domain), min-aggregated per doc in the
    same pass that builds the sets. Docs with no shingles (len < k)
    have no row, matching the oracle's unnest/inner-group semantics."""
    return _shared_build(docs, id_col, text_col, k, memo=memo).select(
        id_col, *[f"m{i}" for i in range(NUM_HASHES)])


def hashed_shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3,
) -> DataFrame:
    """(id, sh): the distinct hashed k-shingle set per doc as an array
    column, MAP-SIDE ONLY — normalize → one ``transform`` lambda
    computing substring+hash per position → ``array_distinct``. No
    explode, no aggregate: the sets never pass through a shuffle; the
    only exchange is the narrow (id, normalized-text) barrier
    repartition. Equal to ``collect_set`` of post-explode hashes
    (distinct-of-hashes == hashes-of-distinct), but the per-pair verify
    join downstream can broadcast the small candidate side against
    this frame and read it in place.

    The hashes are stored SHIFTED to 32-bit ints (``h32 - 2^31``, an
    injective map, so intersect/union cardinalities — and therefore
    Jaccard — are unchanged): the verify join's dominant costs are
    copying the arrays through the join and the per-pair hash-set
    build, and ints halve the bytes and hit ArrayIntersect's
    specialized int path. :func:`shared_profile` adds the offset back
    when deriving MinHash permutations, so signatures stay defined
    over the oracle-reproducible ``h32`` domain.

    No ``size(sh)`` column here: referencing the array expression twice
    in one projection would inline (and re-evaluate) the whole
    interpreted transform per use — consumers take ``F.size`` on the
    materialized column instead."""
    norm = docs.select(F.col(id_col), normalized(F.col(text_col)).alias("__t"))
    norm = norm.repartition(barrier_width(norm))
    hashed = F.array_distinct(F.transform(
        char_kgrams(F.col("__t"), k), lambda s: (h32(s) - H32_INT_SHIFT).cast("int")
    ))
    guarded = F.when(F.length("__t") >= k, hashed).otherwise(F.array().cast("array<int>"))
    return norm.select(F.col(id_col), guarded.alias("sh"))


def _bands_from_mins(sig: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"m{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"band{b}"))
    sig_digest = F.md5(F.concat_ws(",", *[F.col(f"m{i}").cast("string") for i in range(NUM_HASHES)]))
    return sig.select(F.col(id_col), sig_digest.alias("sig_md5"), *band_cols)


def minhash_signatures(
    docs: DataFrame | None = None, id_col: str = "doc_id", text_col: str = "text",
    bands: int = 4, rows_per_band: int = 4, profile: DataFrame | None = None,
    memo: bool = True,
) -> DataFrame:
    """Per-doc signature digest + band bucket keys, from the minima of
    the one-aggregate :func:`_shared_build`. Docs with no shingles (len < k)
    have no signature — dropped, matching the oracle's unnest/
    inner-group semantics (the explode produces no row for them).

    Pass ``profile`` to share one profile aggregate with other stages
    (near-dup verification); otherwise the session-memoized
    :func:`shared_profile` is used, so signatures/LSH/near-dup queries
    in one session derive from a single materialized aggregate."""
    assert bands * rows_per_band == NUM_HASHES
    if profile is None:
        profile = shared_profile(docs, id_col, text_col, memo=memo)
    return _bands_from_mins(profile, id_col, bands, rows_per_band)


def minhash_mins_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB query of ``table``'s per-doc MinHash minima ``m0..m15``
    over its character shingles (one row per doc with shingles) — the
    minima every DuckDB twin of the MinHash family starts from."""
    mins = ",\n        ".join(
        f"MIN({minhash_perm_sql(h32_sql('s'), i)}) AS m{i}" for i in range(NUM_HASHES)
    )
    return f"""SELECT {id_col},
        {mins}
      FROM (SELECT {id_col}, unnest({char_shingles_sql(text_col)}) AS s
            FROM {table})
      GROUP BY {id_col}"""


def _mins_md5_sql(first: int, n: int) -> str:
    """md5 of the ``n`` minima from ``m{first}``, comma-joined: a band
    bucket (``n`` rows per band) or the whole signature's digest."""
    return ("md5(concat_ws(','"
            + "".join(f", CAST(m{i} AS VARCHAR)" for i in range(first, first + n))
            + "))")


def band_rows_sql(src: str, id_col: str, bands: int, rows_per_band: int) -> str:
    """DuckDB (id, bucket, band_idx) rows of the minima rows ``src``:
    one SELECT per band, unioned."""
    return "\n      UNION ALL ".join(
        f"SELECT {id_col}, {_mins_md5_sql(b * rows_per_band, rows_per_band)}"
        f" AS bucket, {b} AS band_idx FROM {src}"
        for b in range(bands)
    )


def minhash_est_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`minhash_est` over minima rows ``a``, ``b``."""
    return " + ".join(
        f"(CASE WHEN {a}.m{i} = {b}.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )


def hashed_sets_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB (id, sh) query: the int-packed twin of
    :func:`hashed_shingle_sets` (same -2^31 shift)."""
    return (
        f"SELECT {id_col}, list_distinct(list_transform({char_shingles_sql(text_col)},"
        f" s -> CAST({h32_sql('s')} - 2147483648 AS INTEGER))) AS sh FROM {table}"
    )


def set_jaccard_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`jaccard_projection`'s rounded Jaccard of
    the hash sets ``a.sh`` and ``b.sh``."""
    inter = f"len(list_intersect({a}.sh, {b}.sh))"
    return (f"round(CAST({inter} AS DOUBLE)"
            f" / (CAST(len({a}.sh) + len({b}.sh) AS DOUBLE) - {inter}), 6)")


def minhash_signatures_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    bands: int = 4, rows_per_band: int = 4,
) -> str:
    band_exprs = ",\n      ".join(
        f"{_mins_md5_sql(b * rows_per_band, rows_per_band)} AS band{b}"
        for b in range(bands)
    )
    return f"""
    WITH sig AS (
      {minhash_mins_sql(table, id_col, text_col)}
    )
    SELECT {id_col}, {_mins_md5_sql(0, NUM_HASHES)} AS sig_md5,
      {band_exprs}
    FROM sig
    """


def _bucket_rows(signatures: DataFrame, id_col: str, bands: int = 4) -> DataFrame:
    """(id, band_idx, bucket): one row per LSH band of each signature
    row, the rows every band join equi-joins on (two docs share band b
    iff its md5 digests are equal)."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "bucket"),
    )


def _bucket_pairs(buckets: DataFrame, id_col: str, est_bytes: int,
                  keys: tuple[str, ...] = ("band_idx", "bucket"),
                  side: str | None = None) -> DataFrame:
    """Distinct (id_a, id_b) pairs of :func:`_bucket_rows` rows equal
    on ``keys``: id_a < id_b, or, given a ``side`` label column, labels
    differing and id_a's the higher. One self-join side is broadcast
    while ``est_bytes`` fits the cap (checkpoints carry no stats, so
    the planner alone would shuffle both sides)."""
    def half(suffix: str) -> DataFrame:
        label = [F.col(side).alias(f"side{suffix}")] if side else []
        return buckets.select(F.col(id_col).alias(f"id{suffix}"), *keys, *label)

    keep = (F.col("side_a") > F.col("side_b") if side
            else F.col("id_a") < F.col("id_b"))
    return (half("_a").join(size_hinted(half("_b"), est_bytes), list(keys))
            .filter(keep).select("id_a", "id_b").distinct())


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 4,
    memo: bool = True,
) -> DataFrame:
    """Distinct id pairs sharing ≥1 band bucket. The self-join is per
    band bucket (hash-partitioned on the bucket key), never all-pairs.

    Plan shape: one posexplode turns the signature row into (band_idx,
    bucket) rows in a single pass (a per-band union would re-run the
    whole signature pipeline once per band), and the bucket table is
    eagerly localCheckpoint'd so the self-join's two sides share one
    computation — without the cut Spark recomputes the subtree per side
    (17 shuffles observed vs 5 after). Checkpoint (not persist):
    ContextCleaner frees the storage once the frame is out of scope, so
    repeated calls in one session don't accumulate cached tables.

    The distinct pair set is session-memoized (``minhash_lsh_pairs``
    and every near-dup/cluster/pipeline query need exactly this frame;
    signatures built from the memoized profile hash to the same key)."""
    def build() -> DataFrame:
        buckets = observed_checkpoint(_bucket_rows(signatures, id_col, bands))
        # bucket rows are (id, 4B idx, 32B digest)
        return _bucket_pairs(
            buckets, id_col, observed(buckets) * 64).localCheckpoint(eager=True)

    if not memo:
        return build()
    key = ("cand", frame_key(signatures), id_col, bands)
    return DEDUP_MEMO.get_or_build(key, build)


MIN_EST_MATCHES = 5  # of NUM_HASHES — MinHash-estimate prefilter floor


def _verify_payload_bytes(combined: DataFrame, words: list[str]) -> tuple[int, int, int]:
    """(docs, minima bytes, verify payload bytes) of a
    :func:`_shared_build` frame, from the sizes its checkpoint observed
    — no job. Payload: W bitmap longs + n_sh per doc in the bitmap
    regime, ~4 B per hash plus per-row overhead in the array regime."""
    n_docs = observed(combined)
    if words:
        pay_bytes = n_docs * (len(words) + 1) * 8 + n_docs * 24
    else:
        pay_bytes = observed(combined, "nh") * 4 + n_docs * 32
    return n_docs, n_docs * (NUM_HASHES * 8 + 24), pay_bytes


def _bitmap_bytes(n_docs: int, n_hashes: int) -> int:
    """Bytes of :func:`_bitmap_table`'s bitmaps: one bit per distinct
    hash, rounded up to whole uint64 words per doc."""
    return n_docs * ((n_hashes + 63) // 64) * 8


def _fused_table(combined: DataFrame, id_col: str, words: list[str],
                 label: Column | None = None):
    """The :func:`_fused_band_verify` side table of a
    :func:`_shared_build` frame (extras ``[n_sh, m0..m15]``, then
    ``label`` cast to long when given; rows whose label is null are
    left out), or None when the per-doc minima and payload, or the
    bitmaps, would pass ``BROADCAST_BYTES_CAP``. In the array regime
    the bitmaps take one bit per distinct hash, at most the build's
    distinct shingles (``n_bits_max``). Every size is observed on the
    whole build (an upper bound when a label drops rows), so a None
    costs no job and collects nothing.

    The unlabelled table is collected once per build and kept on the
    build's frame object, like its observed sizes, so the MinHash
    operators share it until the memo evicts the build; a labelled one
    masks it with the labels, collected alone as ``(id, label)``."""
    n_docs, mins_bytes, pay_bytes = _verify_payload_bytes(combined, words)
    n_bits = len(words) * 64 or observed(combined, "n_bits_max")
    if max(pay_bytes + mins_bytes,
           _bitmap_bytes(n_docs, n_bits)) >= BROADCAST_BYTES_CAP:
        return None
    if not hasattr(combined, "_fused_side"):
        combined._fused_side = _bitmap_table(
            combined, id_col, words or "sh",
            ["n_sh", *[f"m{i}" for i in range(NUM_HASHES)]])
    if label is None:
        return combined._fused_side
    import numpy as np

    # the kept table's rows are the build's ids, ascending
    t = combined.select(id_col, label.cast("long")).toArrow()
    order = np.argsort(np.asarray(t.column(0), np.int64), kind="stable")
    labels = t.column(1)
    keep = np.asarray(labels.is_valid())[order]
    side = np.asarray(labels.fill_null(0), np.int64)[order][keep]
    ids, wbits, extras = combined._fused_side
    return (ids[keep], wbits[keep],
            np.column_stack([extras[keep], side]))


def _bitmap_table(frame: DataFrame, id_col: str, bits: list[str] | str,
                  extra: list[str]):
    """Driver-side side table of the :mod:`.lsh_kernel` verifies,
    collected in one job: ``(ids, bitmaps, extras)`` — doc ids
    ascending, uint64 [docs, words] shingle bitmaps and the ``extra``
    integer columns as int64 [docs, len(extra)], rows aligned.

    ``bits`` names either the bitmap word columns of a
    :func:`_shared_build` frame, or ONE hash-array column: then every
    distinct hash in the corpus gets its own bit (its rank among the
    distinct hashes), so popcount(a & b) = |a ∩ b| EXACTLY, the arrays
    being sets. The caller gates on the bitmaps' size BEFORE calling
    (``docs × ceil(distinct hashes / 64) × 8`` bytes, from observed
    sizes): this collects the whole frame to the driver."""
    import numpy as np
    import pyarrow.compute as pc

    words = bits if isinstance(bits, list) else []
    t = frame.select(id_col, *extra, *(words or [bits])).toArrow()
    ids = t.column(id_col).to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    extras = np.column_stack(
        [t.column(c).to_numpy().astype(np.int64) for c in extra])
    if words:
        wbits = np.column_stack(
            [t.column(w).to_numpy().astype(np.int64) for w in words]
        ).view(np.uint64)
    else:
        arrays = t.column(bits)
        lens = pc.list_value_length(arrays).to_numpy().astype(np.int64)
        vocab, bit = np.unique(
            pc.list_flatten(arrays).to_numpy().astype(np.int64),
            return_inverse=True)
        wbits = np.zeros((len(ids), (len(vocab) + 63) // 64), np.uint64)
        np.bitwise_or.at(
            wbits, (np.repeat(np.arange(len(ids)), lens), bit >> 6),
            np.uint64(1) << (bit & 63).astype(np.uint64))
    return (ids[order], np.ascontiguousarray(wbits[order]),
            np.ascontiguousarray(extras[order]))


def _kernel_width(n: int, per_task: int) -> int:
    """Tasks of a :mod:`.lsh_kernel` stage over ``n`` docs or pairs,
    before the session's cap. One means the driver runs the kernel."""
    return n // per_task + 1


def _fused_band_verify(spark, table, min_jaccard: float, min_est_matches: int,
                       side=None) -> DataFrame:
    """FUSED BANDED VERIFY, the one LSH band kernel of
    :func:`minhash_near_dups`, :func:`incremental_band_dedup` and
    :func:`cross_near_dups_in_table`: (id_a, id_b, jaccard) for every
    pair sharing an LSH band bucket that passes the estimate floor and
    the exact Jaccard threshold, from a :func:`_fused_table` side table.
    ``side``, an int64 label per table row (the generation
    ``pmod(id, gens)``; the new-side predicate), keeps only pairs whose
    labels differ, id_a the HIGHER label; otherwise id_a < id_b.

    No candidate frame is ever materialized JVM-side: shipping sf0.1's
    2.3 M candidates through Arrow measured ~18-24 CPU-s against ~2 for
    the numpy verify, and every bucket is a pure function of the side
    table's minima, so :func:`.lsh_kernel.band_pairs` re-derives them
    and emits only screened exact integers. Buckets match
    :func:`lsh_candidate_pairs` (two docs share band b iff their 4
    minima are equal; the md5 band digest is injective on them), and
    the authoritative round-then-threshold runs JVM-side with the
    double expression of :func:`jaccard_projection`, on either path.

    A stage of one task (:func:`_kernel_width`) runs on the driver, which
    holds the side table already: its pairs come back as a local
    relation and no Python worker starts. Wider ones broadcast the
    table to that many ``mapInArrow`` tasks (capped at the session's
    parallelism), each verifying the buckets it owns. This is the
    bounded-corpus regime by construction (the side table fits the
    broadcast cap); past it the callers' JVM paths are distributed."""
    import numpy as np

    ids, wbits, extras = table
    args = (ids, np.ascontiguousarray(extras[:, 0]), wbits,
            np.ascontiguousarray(extras[:, 1:1 + NUM_HASHES]),
            None if side is None else np.ascontiguousarray(side, np.int64))
    kw = {"min_jaccard": min_jaccard, "min_est_matches": int(min_est_matches)}
    cols = ["id_a", "id_b", "__i", "__t"]
    width = _kernel_width(len(ids), 600)  # docs per task
    if width == 1:
        pre = spark.createDataFrame(K.table(cols, K.band_pairs(*args, **kw)))
    else:
        n_parts = min(spark.sparkContext.defaultParallelism, width)
        bc = spark.sparkContext.broadcast(args)

        def gen(batches):
            for batch in batches:
                for pid in batch.column(0).to_numpy(zero_copy_only=False):
                    yield from K.batches(cols, K.band_pairs(
                        *bc.value, **kw, part=int(pid), n_parts=n_parts))

        pre = spark.range(0, n_parts, 1, numPartitions=n_parts).mapInArrow(
            gen, schema="id_a long, id_b long, __i long, __t long")
    jac = F.round(
        F.col("__i").cast("double")
        / (F.col("__t").cast("double") - F.col("__i").cast("double")),
        6,
    )
    return pre.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= min_jaccard)


def _payload(combined: DataFrame, id_col: str, words: list[str],
             suffix: str) -> DataFrame:
    """``(id, n, payload)``, suffixed: a :func:`_shared_build` frame's
    exact-Jaccard payload (bitmap words, or the hash array ``sh``),
    broadcast while its observed size fits the cap."""
    return size_hinted(combined.select(
        F.col(id_col).alias(f"id{suffix}"),
        F.col("n_sh").alias(f"n{suffix}"),
        *([F.col(w).alias(f"{w}{suffix}") for w in words] if words
          else [F.col("sh").alias(f"sh{suffix}")]),
    ), _verify_payload_bytes(combined, words)[2])


def _exact_jaccard(pairs: DataFrame, combined: DataFrame, id_col: str,
                   words: list[str], min_jaccard: float) -> DataFrame:
    """(id_a, id_b, jaccard ≥ threshold) of the (id_a, id_b) ``pairs``
    of docs of a :func:`_shared_build` frame, from both sides'
    :func:`_payload`."""
    pairs = (pairs.join(_payload(combined, id_col, words, "_a"), "id_a")
             .join(_payload(combined, id_col, words, "_b"), "id_b"))
    if words:
        return jaccard_words_projection(
            pairs, "id_a", "id_b", "_a", "_b", words, min_jaccard)
    return jaccard_projection(pairs, "id_a", "id_b", "sh_a", "sh_b", min_jaccard)


def _band_verify(combined: DataFrame, id_col: str, words: list[str],
                 min_jaccard: float, min_est_matches: int,
                 label: Column | None = None) -> tuple[DataFrame, int]:
    """The distributed twin of :func:`_fused_band_verify`, for the
    regime past ``BROADCAST_BYTES_CAP`` (the 100 TB one, where the
    side table does not fit the driver and every join may shuffle):
    (id_a, id_b, jaccard) for every pair of docs of a
    :func:`_shared_build` frame sharing an LSH band bucket that passes
    the estimate floor and the exact Jaccard threshold. The same label
    contract: ``label``, a Column over the id column, keeps only pairs
    whose labels differ, id_a the HIGHER label, and drops rows whose
    label is null; otherwise id_a < id_b.

    Two phases: the band self-join's candidates are screened against
    the NARROW minima first (16 longs per doc through the shuffle, not
    the payload), the survivors are checkpointed, and only they pay
    the payload-attaching exact verify. When the screen is selective
    (sparse corpora, the production case) this avoids shuffling
    payloads for pairs the estimate already rejects. The survivors are
    spread to ~20k pairs per task (capped at 8× parallelism): the pair
    stream otherwise inherits ~10 post-join partitions (measured
    12.2 s vs 3.0 s at sf0.1). Every join side is size-hinted from the
    sizes the build's checkpoint observed, and the screen's own job
    observes the survivor count, returned with the pairs: nothing is
    counted."""
    n_docs, mins_bytes, _ = _verify_payload_bytes(combined, words)
    buckets = _bucket_rows(minhash_signatures(id_col=id_col, profile=combined), id_col)
    if label is not None:
        buckets = buckets.select("*", label.cast("long").alias("__side")).dropna(
            subset=["__side"])

    def mins_side(suffix: str) -> DataFrame:
        return size_hinted(combined.select(
            F.col(id_col).alias(f"id{suffix}"),
            minhash_mins_array().alias(f"mins{suffix}")), mins_bytes)

    # bucket rows are (id, 4B idx, 32B digest), K.BANDS per doc
    cand = _bucket_pairs(buckets, id_col, n_docs * K.BANDS * 64,
                         side=None if label is None else "__side")
    screened = observed_checkpoint(
        cand.join(mins_side("_a"), "id_a").join(mins_side("_b"), "id_b")
        .filter(minhash_est("mins_a", "mins_b") >= min_est_matches)
        .select("id_a", "id_b"))
    n_pairs = observed(screened)
    par = combined.sparkSession.sparkContext.defaultParallelism
    width = max(par, min(n_pairs // 20_000 + 1, 8 * par))
    return _exact_jaccard(
        screened.repartition(width), combined, id_col, words, min_jaccard), n_pairs


def minhash_near_dups(
    docs: DataFrame,
    min_jaccard: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_matches: int = MIN_EST_MATCHES,
    memo: bool = True,
) -> DataFrame:
    """The canonical near-dedup pipeline end-to-end: MinHash → LSH
    banding → candidate pairs → signature-estimate prefilter → EXACT
    Jaccard verification ≥ threshold.

    LSH prunes the pair space (only band-colliding pairs are verified),
    but a dense dup cluster still floods the candidate set (2.3 M pairs
    at sf0.1 here). Verifying each candidate means attaching both docs'
    hashed shingle sets (KBs per row) — so candidates are first
    screened by the MinHash Jaccard ESTIMATE (count of equal signature
    mins ≥ ``min_est_matches``), whose payload is 16 longs per doc, and
    only survivors pay the set-attaching verify join. The prefilter is
    deterministic (md5-derived mins) and applied identically in the SQL
    oracle, so both engines compute the same result set: pairs with
    estimate ≥ floor AND exact Jaccard ≥ threshold. The default floor
    (5/16 ≈ 0.31) sits ~2.5σ below a true Jaccard of 0.6 (binomial
    n=16 p=0.6 → P(X<5) ≈ 0.4%), standard LSH-verify practice.
    Recall note: a true near-dup pair (exact J ≥ threshold) whose
    signature estimate falls below the floor is dropped (~0.4% at
    j=0.6, worse just above threshold); callers that need the unscreened
    contract pass ``min_est_matches=0``.

    Plan shape (the round-2/3/4 lessons, rebuilt on the round-6
    dictionary build): ONE memoized corpus aggregate
    (:func:`_shared_build`) yields the narrow MinHash profile
    (signatures + prefilter) AND the verification payload — bitmap
    words when the shingle universe fits, hash arrays otherwise. The
    verify strategy is then ADAPTIVE on the side sizes the build's
    checkpoint observed (checkpoints carry no Catalyst stats, so the
    operator decides itself; no extra job):

    - **fused** (sides fit ``BROADCAST_BYTES_CAP``, in EITHER payload
      regime): :func:`_fused_band_verify` — no candidate frame at all;
      the kernel re-derives the LSH buckets from the minima and
      popcount-verifies in numpy, on the driver for a one-task corpus.
      The side table's bitmaps are the build's words, or in the array
      regime one bit per distinct hash of the corpus
      (:func:`_bitmap_table`; exact, the arrays being sets) while those
      bitmaps also fit the cap — checked from the build's observed hash
      count before anything is collected.
    - **distributed** (the minima and payload, or the bitmaps, exceed
      the cap — the 100 TB regime, where the payload is corpus-sized
      and every join shuffles): :func:`_band_verify`, the band self-
      join with a narrow minima screen before the payload-attaching
      verify.

    With ``memo=True`` the verified pair set itself is session-memoized
    (eager observed checkpoint, re-partitioned to data-sized width so
    downstream consumers don't inherit the verify job's task count;
    its observed row count sizes :func:`.clustering.connected_components`):
    ``dedup_clusters``, ``llm_data_pipeline`` and ``minhash_near_dups``
    all need exactly this frame."""

    def build() -> DataFrame:
        combined = _shared_build(docs, id_col, text_col, memo=memo)
        words = _build_words(combined)
        par = docs.sparkSession.sparkContext.defaultParallelism
        table = _fused_table(combined, id_col, words)
        if table is not None:
            verified = _fused_band_verify(
                docs.sparkSession, table, min_jaccard, min_est_matches)
            # the verified set scales with the corpus, not with the
            # candidate count, which this path never materializes
            store_width = max(1, min(observed(combined) // 1_000 + 1, par))
        else:
            verified, n_pairs = _band_verify(
                combined, id_col, words, min_jaccard, min_est_matches)
            store_width = max(1, min(n_pairs // 500_000 + 1, par))
        if not memo:
            return verified
        # store the memoized pair set at data-sized width: consumers
        # (the CC loop, span stats, the pipeline) re-scan this frame
        # many times, and inheriting the verify job's compute width
        # (~100+ partitions) makes every downstream job pay that task
        # count (measured: the CC's symmetric-edge build dropped 14 → 2
        # CPU-s at sf0.1); the CC gate reads its observed row count
        return observed_checkpoint(verified.repartition(store_width))

    if not memo:
        return build()
    key = ("near_dups", frame_key(docs), id_col, text_col,
           float(min_jaccard), int(min_est_matches))
    return DEDUP_MEMO.get_or_build(key, build)


def minhash_near_dups_sql(table: str = "documents", min_jaccard: float = 0.6,
                          id_col: str = "doc_id", text_col: str = "text",
                          min_est_matches: int = MIN_EST_MATCHES,
                          bands: int = 4, rows_per_band: int = 4) -> str:
    jac = set_jaccard_sql("sa", "sb")
    return f"""
    WITH mins AS (
      {minhash_mins_sql(table, id_col, text_col)}
    ),
    buckets AS (
      {band_rows_sql("mins", id_col, bands, rows_per_band)}
    ),
    cand AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.band_idx = b.band_idx
       AND a.{id_col} < b.{id_col}
    ),
    screened AS (
      SELECT id_a, id_b
      FROM cand
      JOIN mins ma ON ma.{id_col} = cand.id_a
      JOIN mins mb ON mb.{id_col} = cand.id_b
      WHERE {minhash_est_sql("ma", "mb")} >= {min_est_matches}
    ),
    sets AS (
      {hashed_sets_sql(table, id_col, text_col)}
    )
    SELECT id_a, id_b, {jac} AS jaccard
    FROM screened
    JOIN sets sa ON sa.{id_col} = screened.id_a
    JOIN sets sb ON sb.{id_col} = screened.id_b
    WHERE {jac} >= {min_jaccard}
    """


# ---------------------------------------------------------------------------
# Incremental (crawl-vs-index) near-dedup
# ---------------------------------------------------------------------------


def _generation_rows(batch: DataFrame, dups: DataFrame, id_col: str) -> DataFrame:
    """:func:`incremental_band_dedup`'s rows for the batch docs
    ``batch`` (id, gen), given their ``dups`` (id, n_dup_partners)."""
    return batch.join(dups, [id_col], "left").select(
        id_col,
        F.col("gen"),
        F.when(F.col("n_dup_partners").isNull(), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("is_novel"),
        F.coalesce(F.col("n_dup_partners"), F.lit(0))
        .cast("long").alias("n_dup_partners"),
    )


def _elect_generations(all_ids: DataFrame, verified: DataFrame, id_col: str,
                       gens: int) -> DataFrame:
    """:func:`incremental_band_dedup`'s generation election in numpy,
    over its fused verified (id_a, id_b) pairs, collected through Arrow:
    generation by generation, the batch docs with a verified partner
    not removed before are dups and never join the index (``np.mod`` =
    ``pmod`` for negative ids); then one (id, n_dup_partners) table is
    joined onto every batch doc."""
    import numpy as np
    import pyarrow as pa

    t = verified.toArrow()
    a, b = (np.asarray(t.column(i), np.int64) for i in (0, 1))
    gen_a = np.mod(a, gens)
    removed = np.empty(0, np.int64)  # batch docs found to be dups
    n_dup = np.empty(0, np.int64)  # their partner counts, aligned
    for g in range(1, gens):
        ids_g, n_g = np.unique(
            a[(gen_a == g) & ~np.isin(b, removed)], return_counts=True)
        removed = np.concatenate([removed, ids_g])
        n_dup = np.concatenate([n_dup, n_g])
    dups = all_ids.sparkSession.createDataFrame(pa.table({
        id_col: pa.array(removed, pa.int64()),
        "n_dup_partners": pa.array(n_dup, pa.int64())}))
    return _generation_rows(all_ids.filter(F.col("gen") > 0), dups, id_col)


def incremental_band_dedup(
    docs: DataFrame,
    min_jaccard: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    gens: int = 3,
    min_est_matches: int = MIN_EST_MATCHES,
    memo: bool = True,
) -> DataFrame:
    """Batch-incremental MinHash dedup: each crawl generation's docs
    are probed against the EXISTING index's band table only — never
    old-vs-old recompute — and only novel docs join the index for the
    next generation. This is the maintenance regime a production
    pipeline hits every crawl cycle (the full ``minhash_near_dups``
    all-pairs pass is the bootstrap, this is the steady state).

    Generations are a deterministic split (``pmod(id, gens)``, non-
    negative for negative ids too, like numpy's ``%``): gen 0 seeds
    the index; gen g in 1..gens-1 arrives as batch g. A batch doc is a
    DUP if it shares a band bucket with an index doc AND the pair
    passes the family's standard two-stage verify (signature-estimate
    screen >= ``min_est_matches``, then exact Jaccard >=
    ``min_jaccard`` — the ``minhash_near_dups`` thresholds). Output:
    one row per batch doc — (id, gen, is_novel 0/1, n_dup_partners =
    verified index partners at processing time).

    Plan shape / 100 TB story:

    - signatures come from the memoized family build
      (:func:`_shared_build`) — in production they are READ from the
      persisted index table; nothing here recomputes old docs' text.
    - every cross-generation pair is verified in ONE labelled band
      verify (label ``pmod(id, gens)``: id_a the HIGHER generation, the
      batch doc probing the index; same-generation pairs are never
      emitted): :func:`_fused_band_verify` while the per-doc minima
      and payload (sizes observed by the build's checkpoint) and the
      side table's bitmaps fit ``BROADCAST_BYTES_CAP``, in either
      payload regime as in :func:`minhash_near_dups`; past it
      :func:`_band_verify`, a hash equi-join on (band_idx, bucket) —
      bucket-matched, never all-pairs — whose estimate screen cuts the
      payload-attaching join's input first.
    - generation by generation, the batch docs with a verified partner
      not removed by an earlier generation are dups and never join the
      index. Verification is per pair and deterministic, so dropping
      removed docs from the VERIFIED pairs gives the pair set a
      per-generation probe of the index produces. Fused, the pairs are
      collected and the generations elected in numpy; past the cap the
      pairs (unbounded in number) stay checkpointed, and each
      generation is an anti-join of the earlier dups plus one count
      aggregate.
    """
    combined = _shared_build(docs, id_col, text_col, memo=memo)
    words = _build_words(combined)
    all_ids = docs.select(
        F.col(id_col), F.pmod(id_col, gens).cast("long").alias("gen"))
    table = _fused_table(combined, id_col, words)
    if table is not None:
        verified = _fused_band_verify(
            docs.sparkSession, table, min_jaccard, min_est_matches,
            side=table[0] % gens).select("id_a", "id_b")
        return _elect_generations(all_ids, verified, id_col, gens)

    verified, _ = _band_verify(combined, id_col, words, min_jaccard,
                               min_est_matches, label=F.pmod(id_col, gens))
    # read once per generation: checkpointed, never collected
    verified = verified.select("id_a", "id_b").localCheckpoint(eager=True)
    out: DataFrame | None = None
    removed: DataFrame | None = None
    for g in range(1, gens):
        batch = verified.filter(F.pmod("id_a", gens) == g)
        if removed is not None:
            batch = batch.join(removed, "id_b", "left_anti")
        # (id, n_dup_partners): consumed twice (output row + the next
        # generations' anti-join) — checkpoint the bounded frame
        dups = (
            batch.groupBy(F.col("id_a").alias(id_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_dup_partners"))
            .localCheckpoint(eager=True)
        )
        rows = _generation_rows(all_ids.filter(F.col("gen") == g), dups, id_col)
        out = rows if out is None else out.unionByName(rows)
        newly = dups.select(F.col(id_col).alias("id_b"))
        removed = newly if removed is None else removed.unionByName(newly)
    return out


def incremental_dedup_sql(
    table: str = "documents", min_jaccard: float = 0.6,
    id_col: str = "doc_id", text_col: str = "text", gens: int = 3,
    min_est_matches: int = MIN_EST_MATCHES,
    bands: int = 4, rows_per_band: int = 4,
) -> str:
    """DuckDB replay of :func:`incremental_band_dedup`: the same mins/
    bands/sets fragments as ``minhash_near_dups_sql``, then one
    (candidate -> screen+verify -> dup) CTE block per generation, each
    generation's old side excluding earlier generations' verified
    dups — two chained snapshot generations by default."""
    est, jac = minhash_est_sql("ma", "mb"), set_jaccard_sql("sa", "sb")
    parts = [
        f"""mins AS (
      {minhash_mins_sql(table, id_col, text_col)}
    )""",
        f"""buckets AS MATERIALIZED (
      {band_rows_sql("mins", id_col, bands, rows_per_band)}
    )""",
        f"""sets AS (
      {hashed_sets_sql(table, id_col, text_col)}
    )""",
    ]

    def gen_of(col: str) -> str:
        # Spark's pmod: non-negative for negative ids (DuckDB's % takes
        # the dividend's sign)
        return f"(({col} % {gens}) + {gens}) % {gens}"

    outs = []
    for g in range(1, gens):
        old_conds = []
        for og in range(g):
            cond = f"{gen_of(f'o.{id_col}')} = {og}"
            if og >= 1:
                cond = (f"({cond} AND o.{id_col} NOT IN"
                        f" (SELECT new_id FROM dup{og}))")
            old_conds.append(cond)
        parts.append(
            f"""cand{g} AS (
      SELECT DISTINCT n.{id_col} AS new_id, o.{id_col} AS old_id
      FROM buckets n JOIN buckets o
        ON n.bucket = o.bucket AND n.band_idx = o.band_idx
      WHERE {gen_of(f'n.{id_col}')} = {g}
        AND ({' OR '.join(old_conds)}))"""
        )
        parts.append(
            f"""ver{g} AS (
      SELECT new_id, old_id
      FROM cand{g}
      JOIN mins ma ON ma.{id_col} = cand{g}.new_id
      JOIN mins mb ON mb.{id_col} = cand{g}.old_id
      JOIN sets sa ON sa.{id_col} = cand{g}.new_id
      JOIN sets sb ON sb.{id_col} = cand{g}.old_id
      WHERE {est} >= {min_est_matches} AND {jac} >= {min_jaccard})"""
        )
        parts.append(
            f"dup{g} AS MATERIALIZED (SELECT new_id,"
            f" COUNT(*)::BIGINT AS n_dup FROM ver{g} GROUP BY 1)"
        )
        outs.append(
            f"""SELECT d.{id_col}, CAST({g} AS BIGINT) AS gen,
           CAST(CASE WHEN dup{g}.new_id IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_novel,
           CAST(COALESCE(dup{g}.n_dup, 0) AS BIGINT) AS n_dup_partners
    FROM {table} d LEFT JOIN dup{g} ON dup{g}.new_id = d.{id_col}
    WHERE {gen_of(f'd.{id_col}')} = {g}"""
        )
    return (
        "WITH " + ",\n    ".join(parts) + "\n    "
        + "\n    UNION ALL\n    ".join(outs)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct words: per-bit ±1 votes summed in a
    single hash aggregate (explode → groupBy(id) → 32 conditional sums)."""
    words = F.array_distinct(F.split(normalized(F.col(text_col)), " "))
    tok = docs.select(F.col(id_col), F.explode(words).alias("w")).filter(F.col("w") != "")
    tok = tok.select(id_col, h32(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(SIMHASH_BITS))
    return f"""
    WITH tok AS (
      SELECT {id_col}, {h32_sql('w')} AS h FROM (
        SELECT {id_col},
               unnest(list_distinct(string_split({normalized_sql(text_col)}, ' '))) AS w
        FROM {table}
      ) WHERE w <> ''
    ), votes AS (
      SELECT {id_col},
        {votes}
      FROM tok GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({sig} AS BIGINT) AS simhash
    FROM votes
    """


# ---------------------------------------------------------------------------
# blocked n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    block_cols: list[str] | None = None, k: int = 3, min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard similarity of k-shingle sets for candidate pairs
    inside blocks (equi-join on block keys — never a full cross join)."""
    block_cols = block_cols or ["lang"]
    base = shingle_arrays(docs, [id_col, *block_cols], text_col, k, out="sh")
    # hash shingles to 32-bit ints once per doc: the per-pair
    # array_intersect then compares longs instead of strings (~3× in
    # practice). Jaccard is computed on the hashed sets on BOTH engines,
    # so any (rare, deterministic) collision affects both identically.
    base = base.withColumn(
        "sh", F.array_distinct(F.transform(F.col("sh"), lambda s: h32(s)))
    )
    # arrays are already distinct: |A ∪ B| = |A| + |B| - |A ∩ B| — one
    # hash-set build per pair instead of two
    base = base.withColumn("n_sh", F.size("sh"))
    a = base.select(
        F.col(id_col).alias("id_a"), *[F.col(c) for c in block_cols],
        F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"), *[F.col(c) for c in block_cols],
        F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b"),
    )
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    out = pairs.select("id_a", "id_b", jac.alias("jaccard"))
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def banded_ngram_jaccard(
    docs: DataFrame, block_exprs: dict[str, Column], id_col: str = "doc_id",
    text_col: str = "text", memo: bool = True,
) -> DataFrame:
    """Exact k-gram Jaccard for pairs blocked on cheap metadata keys
    AND a shared MinHash band — the scale-sound successor to plain
    metadata blocking (:func:`ngram_jaccard_pairs`).

    Metadata-only blocks (lang × length-bucket) have a FIXED key
    cardinality, so block population — and the within-block pair join —
    grows quadratically with the corpus. Adding a band digest to the
    block key makes block sizes corpus-invariant: band values multiply
    with content diversity, and only docs that already agree on 4 of
    16 signature minima collide, which is exactly the dup-cluster mass
    the operator exists to score. Cost becomes LSH-candidate-shaped
    (linear-ish in true near-dup volume), never all-pairs-in-block.

    The verify reuses the session-memoized :func:`_shared_build`: zero
    extra text passes, and in the bitmap regime the per-pair exact
    Jaccard is W ANDs + popcounts. No threshold — every blocked pair's
    exact Jaccard is reported (this is a similarity REPORT, not a dedup
    decision; filter downstream).

    ``block_exprs`` maps block-key names to Column expressions over
    ``docs`` — expressions rather than pre-added columns so the shared
    build keys on the RAW frame and memo-shares with the rest of the
    dedup family."""
    block_cols = list(block_exprs)
    combined = _shared_build(docs, id_col, text_col, memo=memo)
    meta = docs.select(
        F.col(id_col), *[e.alias(n) for n, e in block_exprs.items()])
    buckets = observed_checkpoint(_bucket_rows(
        minhash_signatures(id_col=id_col, profile=combined), id_col,
    ).join(meta, id_col))
    cand = _bucket_pairs(buckets, id_col,
                         observed(buckets) * (48 + 16 * len(block_cols)),
                         (*block_cols, "band_idx", "bucket"))
    return _exact_jaccard(cand, combined, id_col, _build_words(combined), 0.0)


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_scores(
    docs: DataFrame,
    bench_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Per-doc overlap with a benchmark/eval corpus: the number of
    distinct k-shingle hashes a training doc shares with the UNION of
    all benchmark shingles — the standard pretraining-hygiene pass
    (drop or flag docs that leak eval content). Returns
    ``(id, n_shared)`` for docs with ``n_shared >= min_shared``.

    Scale shape: the benchmark side is bounded (eval suites are MBs
    against a 100 TB corpus), so its distinct hash set is materialized
    once (eager checkpoint + measured size) and broadcast; the training
    side streams map-side through normalize→shingle→hash, the semi
    overlap is a broadcast hash join probe, and the only shuffle is the
    final count aggregate keyed by doc id (uniform — no skew). Common
    shingles concentrate on the BENCHMARK side, which is the small
    broadcast side, so hot n-grams never serialize a task."""
    # session-memoized: the batch row and its streaming twin
    # (decontaminate_stream) build the identical bounded hash set —
    # one checkpoint serves both in a suite run, and a restarted
    # streaming query reuses it across restarts within the session
    bench_hashes = DEDUP_MEMO.get_or_build(
        ("bench_hashes", frame_key(bench_docs), id_col, text_col, k),
        lambda: observed_checkpoint(
            shingle_hashes(bench_docs, id_col, text_col, k=k)
            .select("h").distinct()),
    )
    bh_bytes = observed(bench_hashes) * 16
    train_hashes = shingle_hashes(docs, id_col, text_col, k=k)
    return (
        train_hashes.join(size_hinted(bench_hashes, bh_bytes), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_scores_sql(
    table: str = "documents",
    bench_pred: str = "doc_id % 20 = 0",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
) -> str:
    """DuckDB twin of :func:`contamination_scores` with the benchmark
    set carved out of the same table by ``bench_pred``."""
    sh = char_shingles_sql(text_col)
    return f"""
    WITH bench AS (
      SELECT DISTINCT {h32_sql('s')} AS h
      FROM (SELECT unnest({sh}) AS s FROM {table} WHERE {bench_pred})
    ),
    train AS (
      SELECT {id_col}, {h32_sql('s')} AS h
      FROM (SELECT {id_col}, unnest({sh}) AS s
            FROM {table} WHERE NOT ({bench_pred}))
    )
    SELECT {id_col}, COUNT(*) AS n_shared
    FROM train JOIN bench USING (h)
    GROUP BY {id_col}
    HAVING COUNT(*) >= {min_shared}
    """


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS rule)
# ---------------------------------------------------------------------------


def winnow_selected(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(id, pos, wm): for each full window of ``w`` consecutive k-gram
    hashes, the window minimum — the winnowing selection. The DISTINCT
    ``wm`` values per doc form its fingerprint set, guaranteed to share
    a value with any doc containing the same substring of length >=
    ``k + w - 1`` (the two windows over the shared region pick the same
    minimum hash).

    Every position's hash feeds the window; only window STARTS beyond
    the last full window are dropped (after the min is computed), so
    end-of-doc windows still see their full ``w`` hashes — canonical
    semantics.

    The md5-h32 value is the CONTRACT (fingerprints are output), but
    WHERE it's computed is not: like ``_shared_build``, the hash is
    evaluated once per DISTINCT k-gram on a charset^k-bounded broadcast
    dictionary instead of once per position — identical values, and
    the per-position md5→hex→conv pipeline (measured ~11 CPU-s per
    1.5 M positions at sf0.1) drops off the hot path. Falls back to
    per-position hashing past ``DIM_MAX_ROWS``.

    Plan shape: the input barrier hash-partitions on the DOC ID, and
    explode / project / broadcast-join all preserve that partitioning,
    so every window below is satisfied by the one upfront exchange —
    the position frame (the big one) is shuffled exactly once. The
    window min itself never uses a sliding ``rowsBetween(0, w-1)``
    frame (WindowExec re-scans the w-row buffer per output row — the
    r7 CPU hot spot): small ``w`` takes a lead-chain
    ``least(h, lead(h,1..w-1))`` — one window pass, O(1) offset frames
    — and larger ``w`` the classic segmented min (bucket ``pos div w``;
    running min ascending + running min descending per bucket; window
    min = least(suffix[i], prefix[i+w-1])) — two O(1)/row cumulative
    passes + one lead, still zero extra exchanges since hash(id)
    satisfies the (id, bucket) clustering."""
    from pyspark.sql import Window as W

    norm = docs.select(F.col(id_col), normalized(F.col(text_col)).alias("__t"))
    norm = norm.repartition(barrier_width(norm), F.col(id_col))
    toks = norm.select(
        F.col(id_col),
        (F.length("__t") - (k - 1)).alias("n_grams"),
        F.posexplode(char_kgrams(F.col("__t"), k)).alias("pos", "__s"),
    ).select(id_col, "n_grams", (F.col("pos") + 1).alias("pos"), "__s")
    # tiny; its observed rows gate the broadcast the checkpoint serves
    dim = observed_checkpoint(
        toks.select("__s").distinct()
        .select("__s", h32(F.col("__s")).alias("h")))
    if observed(dim) <= DIM_MAX_ROWS:
        pos_hashes = toks.join(F.broadcast(dim), "__s").select(
            id_col, "n_grams", "pos", "h")
    else:
        pos_hashes = toks.select(
            id_col, "n_grams", "pos", h32(F.col("__s")).alias("h"))
    win_doc = W.partitionBy(id_col).orderBy("pos")
    if w <= 8:
        # lead-chain: for kept rows (full windows only) every lead is
        # non-null, so least() == the w-element window min
        wm = F.least(
            F.col("h"), *[F.lead("h", i).over(win_doc) for i in range(1, w)]
        )
        sel = pos_hashes.select(id_col, "pos", "n_grams", wm.alias("wm"))
    else:
        win_b_asc = (
            W.partitionBy(id_col, "__b").orderBy("pos")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        win_b_desc = (
            W.partitionBy(id_col, "__b").orderBy(F.desc("pos"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        # window [i, i+w-1] spans at most the tail of bucket(i) plus
        # the head of bucket(i)+1: suffix[i] covers [i, bucket_end],
        # prefix[i+w-1] covers [next_bucket_start, i+w-1] (or the whole
        # single bucket when i is bucket-aligned — then both equal its
        # full min), so least() of the two is exactly the window min
        sel = (
            pos_hashes.withColumn("__b", F.expr(f"(pos - 1) div {w}"))
            .select(
                id_col, "pos", "n_grams",
                F.min("h").over(win_b_asc).alias("__pmin"),
                F.min("h").over(win_b_desc).alias("__smin"),
            )
            .select(
                id_col, "pos", "n_grams",
                F.least(
                    "__smin", F.lead("__pmin", w - 1).over(win_doc)
                ).alias("wm"),
            )
        )
    return (
        sel.filter(F.col("pos") <= F.col("n_grams") - (w - 1))
        .select(id_col, "pos", "wm")
    )


def winnow_fingerprint_summary(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(id, n_fps, min_fp, max_fp): per-doc summary of the winnowing
    selection — DISTINCT count / min / max of :func:`winnow_selected`'s
    ``wm`` values (pinned equal by ``test_winnow_summary_matches_
    selected``).

    Fused Arrow path: winnowing is PER-DOC-LOCAL (one row in, one row
    out, nothing crosses documents), so the scale-correct plan is a
    zero-shuffle ``mapInPandas`` over doc rows — normalize JVM-side,
    then per doc in vectorized Python: k-gram → md5-h32 through a
    per-task gram cache (one hashlib call per DISTINCT gram, the same
    dictionary trick as the declarative path), sliding-window min via
    ``np.minimum`` over ``w`` shifted views, ``np.unique`` for the
    fingerprint set. The declarative :func:`winnow_selected` pipeline
    needs the explode twice (dictionary gate + probe) plus a window
    sort and an aggregate — measured ~17 CPU-s at sf0.1 vs ~3 here,
    identical output. Use ``winnow_selected`` when per-position
    ``(id, pos, wm)`` rows are the product; use this when the per-doc
    fingerprint summary is.

    100 TB design: embarrassingly parallel — docs partition-local, no
    exchange anywhere (the width barrier is a narrow 2-column
    shuffle), Arrow-batched transfer, per-task memory O(doc length +
    charset^k cache). The stage width is DATA-sized
    (:func:`pandas_stage_width`), not core-sized: Python tasks carry
    ~0.3 CPU-s fixed overhead each, so a small corpus runs in few
    tasks while a 100 TB one still fans out to millions."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_fps", T.LongType()),
            T.StructField("min_fp", T.LongType()),
            T.StructField("max_fp", T.LongType()),
        ]
    )
    norm = docs.select(F.col(id_col), normalized(F.col(text_col)).alias("__t"))
    norm = norm.repartition(pandas_stage_width(norm))

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        cache: dict = {}

        def h(g):
            v = cache.get(g)
            if v is None:
                # h32 contract: first 8 hex chars of md5 as an int
                # (== conv(substr(md5(s),1,8),16,10) on the JVM side)
                v = int.from_bytes(
                    hashlib.md5(g.encode("utf-8")).digest()[:4], "big")
                cache[g] = v
            return v

        for pdf in batches:
            ids, nf, mn, mx = [], [], [], []
            for doc_id, t in zip(pdf[id_col], pdf["__t"]):
                if t is None:
                    continue
                n = len(t) - (k - 1)  # codepoint length == JVM length()
                if n < w:  # no full w-window of k-gram hashes
                    continue
                hs = np.fromiter(
                    (h(t[i:i + k]) for i in range(n)),
                    dtype=np.int64, count=n,
                )
                mins = hs[: n - w + 1].copy()
                for off in range(1, w):
                    np.minimum(mins, hs[off: n - w + 1 + off], out=mins)
                u = np.unique(mins)
                ids.append(doc_id)
                nf.append(len(u))
                mn.append(int(u[0]))
                mx.append(int(u[-1]))
            yield pd.DataFrame(
                {id_col: ids, "n_fps": nf, "min_fp": mn, "max_fp": mx})

    return norm.mapInPandas(gen, schema=out_schema)


# ---------------------------------------------------------------------------
# cross-corpus near-dedup (new crawl vs existing corpus)
# ---------------------------------------------------------------------------


def cross_near_dups_in_table(
    docs: DataFrame,
    new_pred: Column,
    min_jaccard: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_matches: int = MIN_EST_MATCHES,
    memo: bool = True,
) -> DataFrame:
    """Incremental near-dedup: pairs (id_new, id_base) with exact
    Jaccard >= threshold between a NEW corpus and an existing BASE
    corpus — the "dedup this crawl against everything we already have"
    pass — where both are partitions of ONE table selected by
    ``new_pred`` (a boolean Column over the id column). Same LSH ->
    estimate screen -> exact verify contract as
    :func:`minhash_near_dups`, but the band-bucket join is ACROSS
    corpora (never within either side), so cost is driven by
    cross-collisions only.

    The full-corpus sets + MinHash profile are built ONCE (the same
    session-memoized frames every other dedup query uses). Measured at
    sf0.1: 8.4s -> ~2s cold when the dedup family has already run, and
    one corpus pass instead of two either way. ``new_pred`` is each
    row's label in the one band verify, which keeps the pairs across
    labels, new rows (label 1) as id_a: :func:`_fused_band_verify`
    while the build's side table fits ``BROADCAST_BYTES_CAP`` (gated
    on the whole build's observed sizes, no job), its distributed twin
    :func:`_band_verify` past it. Null-``new_pred`` rows are on
    neither side."""
    combined = _shared_build(docs, id_col, text_col, memo=memo)
    words = _build_words(combined)
    table = _fused_table(combined, id_col, words, label=new_pred)
    if table is not None:
        # the label is the table's last extra
        verified = _fused_band_verify(
            docs.sparkSession, table, min_jaccard, min_est_matches,
            side=table[2][:, -1])
    else:
        verified, _ = _band_verify(combined, id_col, words, min_jaccard,
                                   min_est_matches, label=new_pred)
    return verified.select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_base"),
        "jaccard")


def cross_near_dups_sql(
    table: str = "documents",
    new_pred: str = "doc_id % 3 = 0",
    min_jaccard: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est_matches: int = MIN_EST_MATCHES,
    bands: int = 4,
    rows_per_band: int = 4,
) -> str:
    """DuckDB twin of :func:`cross_near_dups_in_table`: the two corpora
    carved out of one table by ``new_pred``, each shingled on its own."""
    jac = set_jaccard_sql("sn", "sb")
    return f"""
    WITH newd AS (SELECT * FROM {table} WHERE {new_pred}),
    based AS (SELECT * FROM {table} WHERE NOT ({new_pred})),
    minsn AS (
      {minhash_mins_sql("newd", id_col, text_col)}
    ),
    minsb AS (
      {minhash_mins_sql("based", id_col, text_col)}
    ),
    bucketsn AS (
      {band_rows_sql("minsn", id_col, bands, rows_per_band)}
    ),
    bucketsb AS (
      {band_rows_sql("minsb", id_col, bands, rows_per_band)}
    ),
    cand AS (
      SELECT DISTINCT n.{id_col} AS id_new, b.{id_col} AS id_base
      FROM bucketsn n JOIN bucketsb b
        ON n.bucket = b.bucket AND n.band_idx = b.band_idx
    ),
    screened AS (
      SELECT id_new, id_base
      FROM cand
      JOIN minsn mn ON mn.{id_col} = cand.id_new
      JOIN minsb mb ON mb.{id_col} = cand.id_base
      WHERE {minhash_est_sql("mn", "mb")} >= {min_est_matches}
    ),
    setsn AS ({hashed_sets_sql("newd", id_col, text_col)}),
    setsb AS ({hashed_sets_sql("based", id_col, text_col)})
    SELECT id_new, id_base, {jac} AS jaccard
    FROM screened
    JOIN setsn sn ON sn.{id_col} = screened.id_new
    JOIN setsb sb ON sb.{id_col} = screened.id_base
    WHERE {jac} >= {min_jaccard}
    """


# ---------------------------------------------------------------------------
# prefix-filtered exact set-similarity self-join (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------

def prefix_filtered_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 7,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT Jaccard ≥ t self-join via prefix filtering (Bayardo et al.
    AllPairs / Xiao et al. PPJoin): order every doc's shingles by one
    global rarity order (document frequency asc, hash asc) and keep
    only each doc's first ``|s| - ceil(t·|s|) + 1`` shingles as its
    PREFIX. Any pair with J ≥ t provably shares a prefix shingle, so
    candidates come from a prefix×prefix equi-join — rare shingles
    only — instead of the full co-occurrence join. Two further PPJoin
    prunes run INSIDE the candidate join, both integer-exact:

    - length filter: 20·|b| ≥ t20·|a| (a J ≥ t pair can't differ in
      size by more than 1/t);
    - positional filter: from matching prefix positions (rk_a, rk_b),
      the overlap can't exceed 1 + min(|a|−rk_a, |b|−rk_b); require
      that bound to reach α = ceil(t/(1+t)·(|a|+|b|)), i.e.
      (1 + min(...))·(20 + t20) ≥ t20·(|a|+|b|).

    Every emitted pair is EXACTLY verified (precision 1 by
    construction). Completeness combines the prefix theorem (exact)
    with a MinHash band conjunct on the candidate key (probabilistic —
    miss bound (1-J^4)^8, <= 3e-5 at this corpus's measured J >= 0.92
    true pairs; see :func:`prefix_candidate_pairs`). The oracle runs
    the exhaustive join with deterministic permutations, so the hash
    match IS the completeness check on real data every round.

    ``partition_cols`` scopes the join (and the oracle) to pairs that
    agree on those columns — the within-ingest-partition dedup pattern
    (cross-partition near-dup is the minhash/cross_near_dups_in_table
    family).
    This synthetic corpus draws from a ~6k-shingle vocabulary, so even
    rarity-ordered prefixes collide broadly (measured: 7.6M candidates
    over 5k docs corpus-wide at sf0.1 — 61% of all pairs, the dense
    vocabulary defeats rarity prefixes alone); partitioning by source keeps
    the candidate set proportional to Σ per-partition n², which is the
    deployment shape anyway.

    min_jaccard must be a multiple of 0.05 — thresholds are evaluated
    as 20·c ≥ t20·(|a|+|b|−c) in BIGINTs, never in floats.

    100 TB shape: shingle df is one hash agg; ranking is a window over
    each doc's ~dozens of shingles; the candidate join keys on the
    RAREST content in the corpus (self-skew-resistant by construction)
    plus the partition columns; verify joins candidates back to
    shingle rows and counts matches — no arrays cross a shuffle.
    """
    t20 = int(round(min_jaccard * 20))
    assert abs(min_jaccard * 20 - t20) < 1e-9, "min_jaccard must be a multiple of 0.05"
    sh, arrays, cand = prefix_candidate_pairs(
        docs, min_jaccard, id_col, text_col, k, partition_cols
    )
    # verify strategy is adaptive on the measured shingle-table size
    # (observed by the sets checkpoint, see _rarity_build):
    n_sh_rows = observed(sh)
    if n_sh_rows * 8 < BROADCAST_BYTES_CAP:
        # broadcast regime: attach each side's full hash array via two
        # broadcast joins and count the intersect per pair directly.
        # The arrays come from the candidate build's checkpointed
        # per-doc frame — ONE transform over ~docs rows strips the
        # (df, h) rank structs down to plain bigint arrays. That strip
        # is load-bearing: array_intersect on STRUCT elements has no
        # hash-set fast path (quadratic, interpreted equality per
        # element pair — measured: minutes at sf0.1 vs seconds on
        # bigint arrays). The shingle-row join below fans every
        # candidate out to ~|set| rows before re-collapsing (measured
        # at sf0.1: a 12 M row intermediate for 85k candidates, 64
        # CPU-s); the array attach reuses the checkpointed arrays
        # frame — no extra aggregate over the shingle table
        ha = arrays.select(
            F.col(id_col),
            F.transform("__arr", lambda x: x["h"]).alias("__ha"))
        a = F.broadcast(ha.select(
            F.col(id_col).alias("id_a"), F.col("__ha").alias("__ha_a")))
        b = F.broadcast(ha.select(
            F.col(id_col).alias("id_b"), F.col("__ha").alias("__ha_b")))
        common = cand.join(a, "id_a").join(b, "id_b").select(
            "id_a", "id_b", "sa", "sb",
            F.size(F.array_intersect("__ha_a", "__ha_b")).alias("c"),
        )
    else:
        # 100 TB regime: count common shingles per candidate pair via
        # the shingle-row join — no arrays ever cross a shuffle
        common = (
            cand.join(sh.select(F.col(id_col).alias("id_a"), "h"), "id_a")
            .join(sh.select(F.col(id_col).alias("id_b"), "h"), ["id_b", "h"])
            .groupBy("id_a", "id_b", "sa", "sb")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    # sizes came through the candidate pairs — no sizes joins here
    return (
        common
        # 20c ≥ t20·(sa+sb−c)  ⟺  c/(sa+sb−c) ≥ t — integer-exact
        .filter(F.lit(20) * F.col("c") >= F.lit(t20) * (F.col("sa") + F.col("sb") - F.col("c")))
        .select(
            "id_a", "id_b", F.col("c").alias("n_common"),
            F.round(
                F.col("c").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("c")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# Band layout for the prefix-candidate MinHash conjunct: b bands of r
# minima each (r*b = 32 permutations, folded into the per-doc shingle
# aggregate). Chosen against the measured pair-Jaccard landscape of the
# corpus (r8): candidate junk sits at J in [0.05, 0.15] — P(a junk pair
# shares a band) = 1-(1-J^4)^8 ~ 8e-4 at J=0.1 — while every true
# output pair measures J >= 0.92, where P(missing all 8 bands) =
# (1-J^4)^8 <= 3e-5. At the exact threshold J=0.7 the miss bound is
# (1-0.24)^8 ~ 11%: the conjunct is probabilistically complete, with
# the operator's exactness statement below amended accordingly.
_BAND_R = 4
_BAND_B = 8


def _rarity_build(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    pcols: list[str],
    memo: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared xxhash64 shingle-set build for the prefix-filter family
    (:func:`prefix_candidate_pairs` and :func:`containment_pairs`):
    returns ``(sh, arrays)`` — the (id, h) inverted-index stream and
    the per-doc rarity-sorted array frame (``__arr`` struct array,
    ``sz``, MinHash band signatures ``__bands``, plus ``pcols``).
    Session-memoized (sets and arrays checkpoints) so a suite that
    runs both the Jaccard and the containment join pays the corpus
    aggregate once.

    xxhash64, not the oracle-parity md5 h32: the hash only needs to
    (a) give SOME total order for the rarity ranking — the
    prefix-filter completeness theorem holds for any order — and (b)
    preserve distinctness for the intersect counts, where 64 bits beat
    h32's 32 (the oracles intersect raw strings). The md5→hex→conv
    pipeline was 11 of this stage's 19 CPU-s at sf0.1.

    The 32 MinHash minima ride the SAME aggregate as the shingle set
    (min over the position multiset == min over the distinct set, so
    no distinct pass is added); consumers that don't need the band
    conjunct simply ignore ``__bands``."""
    base = docs.select(F.col(id_col), *[F.col(c) for c in pcols], F.col(text_col))

    def build_sets() -> DataFrame:
        norm = base.select(
            F.col(id_col), normalized(F.col(text_col)).alias("__t")
        ).filter(F.length("__t") >= k)
        norm = norm.repartition(barrier_width(norm))
        toks = norm.select(
            F.col(id_col), F.explode(char_kgrams(F.col("__t"), k)).alias("__s"),
        ).select(F.col(id_col), F.xxhash64(F.col("__s")).alias("h"))
        # n_h = Σ|set| = the (id, h) stream's row count, which the
        # verify gates read
        return observed_checkpoint(
            toks.groupBy(id_col).agg(
                F.collect_set("h").alias("__hs"),
                *[
                    F.min(F.xxhash64(F.col("h"), F.lit(j))).alias(f"__m{j}")
                    for j in range(_BAND_R * _BAND_B)
                ],
            ),
            n_h=F.size("__hs"),
        )

    if memo:
        sets = DEDUP_MEMO.get_or_build(
            ("xxsets", frame_key(docs), id_col, text_col, k), build_sets)
    else:
        sets = build_sets()

    # (id, h) stream re-derived map-only from the per-doc checkpoint;
    # shared by the df aggregate and the non-broadcast verify regimes.
    # It carries its row count: counting it would re-run the explode.
    sh = with_observed(
        sets.select(F.col(id_col), F.explode("__hs").alias("h")),
        rows=observed(sets, "n_h"))

    # r=4 rows per band, b=8 bands: sig_i = hash of the band's minima.
    # A J >= t pair agrees on a band iff all r minima match (P = J^r
    # per band); sig collisions only ADD candidates (verify rejects),
    # never lose one.
    band_sigs = F.array(
        *[
            F.xxhash64(
                *[F.col(f"__m{i * _BAND_R + j}") for j in range(_BAND_R)],
                F.lit(i),
            )
            for i in range(_BAND_B)
        ]
    )

    def build_arrays() -> DataFrame:
        # vocabulary-sized (6k rows here, charset-bounded in general):
        # the size hint reads the row count its checkpoint observed
        dfreq = observed_checkpoint(
            sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")))
        n_hashes = observed(dfreq)  # size_hinted's frame carries none
        dfreq = size_hinted(dfreq, n_hashes * 16)
        # bands ride the exploded rows into the per-doc aggregate (every
        # row of a doc carries the same array, F.first picks it) — a
        # docs×docs join here would SMJ two stat-less checkpoint frames,
        # and bands are corpus-sized so broadcasting them would not scale
        sh_b = sets.select(
            F.col(id_col), F.explode("__hs").alias("h"),
            band_sigs.alias("__bands"))
        arr = (
            sh_b.join(dfreq, "h")
            .groupBy(id_col)
            .agg(
                F.sort_array(F.collect_list(F.struct("df", "h"))).alias("__arr"),
                F.count(F.lit(1)).alias("sz"),
                F.first("__bands").alias("__bands"),
            )
        )
        if pcols:
            arr = arr.join(base.select(id_col, *pcols), id_col)
        # bounded: one row per doc (arr ≈ the doc's shingle set). The
        # doc and distinct-hash counts size containment's gather
        # bitmaps before it collects anything.
        return with_observed(
            arr.localCheckpoint(eager=True),
            n_docs=observed(sets), n_hashes=n_hashes)

    if memo:
        arrays = DEDUP_MEMO.get_or_build(
            ("xxarrays", frame_key(docs), id_col, text_col, k, tuple(pcols)),
            build_arrays)
    else:
        arrays = build_arrays()
    return sh, arrays


def prefix_candidate_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 7,
    partition_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Candidate-generation stage of :func:`prefix_filtered_pairs`.
    Returns (shingle rows, per-doc arrays frame, candidate id pairs) so
    callers — the verify stage, and the scale probe's candidates/sec
    metric — share one build.

    Candidate COUNT is the operator's true scale variable: verify cost
    is proportional to it. The prefix filter alone is provably complete
    but collapses on a closed vocabulary (the r7 probe measured 85k →
    9.2M candidates at 10× data — "rare" shingles stop being rare when
    thousands of docs share them), so the candidate join carries a
    second, INDEPENDENT conjunct: a MinHash band agreement
    (``arrays_overlap`` over b=8 band signatures of r=4 minima each,
    see ``_BAND_R``/``_BAND_B``). Completeness argument: the prefix
    theorem guarantees a shared prefix shingle for every J >= t pair;
    the band conjunct passes such a pair unless ALL 8 bands differ,
    P = (1-J^4)^8 — <= 3e-5 for the J >= 0.92 pairs this corpus
    actually contains (measured r8, all SFs), ~11% worst-case at
    exactly J = 0.7. The oracle remains the EXHAUSTIVE join and the
    minima are deterministic (fixed xxhash64 permutations), so the
    driver hash check decides completeness on the real data each
    round, not the bound. Junk pairs (J in [0.05, 0.15] here) share a
    band with P <= 8e-4, so the conjunct removes the quadratic junk
    term from the candidate SET while the join evaluates it
    streamingly (no 9.2M-row materialization).

    Plan shape (r7 restructure, 43 → ~25 CPU-s at sf0.1): on local[32]
    attributed CPU tracks the NUMBER of wide shuffle passes over the
    shingle table far more than per-row work, so the build never
    exchanges a shingle-sized frame at all. A doc's exploded shingle
    rows stay inside one partition (explode doesn't split a row), so
    ``collect_set(h)`` per doc collapses MAP-SIDE and its exchange
    carries one array row per doc; document frequency aggregates the
    re-exploded per-doc sets keyed on h (map-side partials are bounded
    by the k-shingle vocabulary per partition); and the final per-doc
    aggregate collects (df, h) pairs into a sort_array'd struct array
    (rank = array position, the same (df asc, h asc) rarity order the
    old row_number window produced), again collapsing map-side. Every
    exchange is ~docs-sized or ~vocab-sized; everything downstream —
    prefix explode, candidate join, verify arrays — derives from the
    checkpointed per-doc arrays frame. ``collect_set(h)`` also IS the
    distinct-(id, h) contract (h32 collisions count once), matching
    the oracle's SELECT DISTINCT."""
    t20 = int(round(min_jaccard * 20))
    pcols = partition_cols or []
    sh, arrays = _rarity_build(docs, id_col, text_col, k, pcols)

    # prefix length p = |s| - ceil(t·|s|) + 1; rank = position in the
    # rarity-sorted array (struct sort = (df asc, h asc), exactly the
    # old row_number order — h is distinct per doc so there are no ties)
    p = (F.col("sz") - F.ceil(F.lit(min_jaccard) * F.col("sz")) + 1).cast("int")
    prefix = arrays.select(
        F.col(id_col), "sz", "__bands", *[F.col(c) for c in pcols],
        F.posexplode(F.slice("__arr", F.lit(1), p)).alias("__pos", "__e"),
    ).select(
        F.col(id_col), "sz", "__bands", *[F.col(c) for c in pcols],
        (F.col("__pos") + 1).alias("rk"), F.col("__e.h").alias("h"),
    )

    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("h"),
        F.col("rk").alias("rk_a"), F.col("sz").alias("sa"),
        F.col("__bands").alias("__bands_a"),
        *[F.col(c) for c in pcols],
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("h"),
        F.col("rk").alias("rk_b"), F.col("sz").alias("sb"),
        F.col("__bands").alias("__bands_b"),
        *[F.col(c) for c in pcols],
    )
    overlap_bound = F.lit(1) + F.least(
        F.col("sa") - F.col("rk_a"), F.col("sb") - F.col("rk_b")
    )
    cand = (
        a.join(b, ["h", *pcols])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter (both directions)
            & (F.lit(20) * F.col("sb") >= F.lit(t20) * F.col("sa"))
            & (F.lit(20) * F.col("sa") >= F.lit(t20) * F.col("sb"))
            # positional filter
            & (overlap_bound * F.lit(20 + t20) >= F.lit(t20) * (F.col("sa") + F.col("sb")))
            # MinHash band conjunct: evaluated streamingly inside the
            # join, so the quadratic prefix-match enumeration never
            # materializes — the candidate SET is what survives here
            & F.arrays_overlap("__bands_a", "__bands_b")
        )
        # sa/sb ride along (functionally dependent on the ids), so the
        # verify tail never joins sizes back on — two fewer exchanges
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
        # consumed twice by the verify joins — cut the DAG here
        .localCheckpoint(eager=True)
    )
    return sh, arrays, cand


def _gather_verify(cand: DataFrame, table, t20: int) -> DataFrame:
    """:func:`containment_pairs`' GATHER VERIFY: (id_a, id_b, sa, c) of
    the candidates whose exact |a ∩ b| = c passes 20c ≥ t20·sa, from a
    :func:`_bitmap_table` side table with extra ``sz``.

    The closed-vocabulary corpus makes the candidate set ~60% of all
    in-source pairs (390k at sf0.1 for 14 outputs), so per-pair verify
    cost IS the operator's cost: array_intersect over two broadcast
    joins measured ~47 CPU-s, and the same intersections as bitmap
    popcounts (:func:`.lsh_kernel.gather_popcounts`) vectorize end to
    end. Only exact integers come out; the caller's filter + round run
    JVM-side, so results are bit-equal to the join verify. One task's
    worth of candidates (:func:`_kernel_width`) is verified on the
    driver, which holds the side table already, so no Python worker
    starts for it."""
    import numpy as np

    ids, wbits, sizes = table
    side = (ids, np.ascontiguousarray(sizes[:, 0]), wbits)
    cols = ["id_a", "id_b", "sa", "c"]

    def verified(side, pairs):
        # pairs: Arrow (id_a, id_b) columns
        ia, ib = (np.asarray(pairs.column(i), np.int64) for i in (0, 1))
        sa, c = K.gather_popcounts(*side, ia, ib)
        keep = 20 * c >= t20 * sa  # integer-exact
        return ia[keep], ib[keep], sa[keep], c[keep]

    spark = cand.sparkSession
    pairs = cand.select("id_a", "id_b")
    width = _kernel_width(observed(cand), 100_000)  # pairs per task
    if width == 1:
        return spark.createDataFrame(K.table(cols, [verified(side, pairs.toArrow())]))
    bc = spark.sparkContext.broadcast(side)

    def gen(batches):
        for batch in batches:
            yield from K.batches(cols, [verified(bc.value, batch)])

    return pairs.repartition(
        min(width, 8 * spark.sparkContext.defaultParallelism)).mapInArrow(
        gen, schema="id_a long, id_b long, sa long, c long")


def containment_pairs(
    docs: DataFrame,
    min_containment: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 7,
    partition_cols: list[str] | None = None,
    memo: bool = True,
) -> DataFrame:
    """EXACT containment join: directed pairs (a, b) with
    C(a→b) = |Sa ∩ Sb| / |Sa| ≥ t over k-char shingle sets — the
    ASYMMETRIC similarity that catches near-SUBSET duplication
    (a quoted wholesale inside b, boilerplate-wrapped reposts) which
    Jaccard structurally misses: a small doc inside a large one has
    J ≈ |Sa|/|Sb| ≪ t while C(a→b) = 1.

    Candidate generation is prefix filtering on the CONTAINED side
    only, and is provably complete with no probabilistic conjunct:
    order shingles by corpus rarity (df asc, h asc) and keep a's first
    ``pa = |Sa| - ceil(t·|Sa|) + 1`` as its prefix; if a shares none
    of its prefix with b then |Sa ∩ Sb| ≤ |Sa| - pa = ceil(t·|Sa|) - 1
    < t·|Sa| (pigeonhole — holds against ANY b, so b's side joins the
    FULL inverted index, no symmetric prefix needed). Two integer
    prunes run inside the join: size (20·|Sb| ≥ t20·|Sa| — b can't
    contain a's overlap otherwise) and positional (from a's matched
    prefix rank, (1 + |Sa| - rk_a)·20 ≥ t20·|Sa|). Every candidate is
    exactly verified, so precision is 1 and completeness is the
    theorem — the oracle still runs the EXHAUSTIVE join as the
    data-level proof.

    Thresholds are evaluated as 20·c ≥ t20·|Sa| in BIGINTs;
    ``min_containment`` must be a multiple of 0.05.

    ``partition_cols`` scopes the join (and the oracle) to pairs that
    agree on those columns — the within-ingest-partition shape, same
    concession :func:`prefix_filtered_pairs` makes on this corpus: the
    synthetic closed vocabulary gives every "rare" shingle df in the
    hundreds, so unscoped candidates degrade toward all-pairs
    (measured at sf0.1: ~5,200 CPU-s unscoped vs ~60 scoped). On open
    vocabularies (the production case) rare prefixes have df ≈ 1 and
    the unscoped join is candidate-bound on true near-subset pairs.

    100 TB shape: same build discipline as :func:`prefix_candidate_
    pairs` (map-side set collapse, vocab-sized df aggregate, per-doc
    rarity arrays; no shingle-sized exchange) — and literally the SAME
    memoized build (:func:`_rarity_build`), so a suite running both
    the Jaccard and the containment join pays the corpus aggregate
    once; the candidate join keys on a's rarest content plus the
    partition columns; the b-side index is the rank-carrying explode
    of the per-doc arrays, shuffled once on h. Verify is adaptive: a
    numpy popcount gather over per-doc bitmaps when they fit the gate
    (:func:`_gather_verify`), broadcast array-intersect when only the
    hash payload fits, and the shingle-row count join at full scale."""
    t20 = int(round(min_containment * 20))
    assert abs(min_containment * 20 - t20) < 1e-9, (
        "min_containment must be a multiple of 0.05")
    pcols = partition_cols or []

    def build() -> DataFrame:
        sh, arrays = _rarity_build(docs, id_col, text_col, k, pcols, memo=memo)
        pa = (F.col("sz") - F.ceil(F.lit(min_containment) * F.col("sz")) + 1).cast("int")
        prefix_a = arrays.select(
            F.col(id_col).alias("id_a"), F.col("sz").alias("sa"),
            *[F.col(c) for c in pcols],
            F.posexplode(F.slice("__arr", F.lit(1), pa)).alias("__pos", "__e"),
        ).select(
            "id_a", "sa", *[F.col(c) for c in pcols],
            (F.col("__pos") + 1).alias("rk_a"),
            F.col("__e.h").alias("h"),
        )
        # the b-side index carries each shingle's RANK in b's rarity
        # order (posexplode of the same per-doc array the a-prefix
        # comes from, replacing the rank-less (id, h) stream + sizes
        # join) so the TWO-SIDED positional filter below can run.
        inv_b = arrays.select(
            F.col(id_col).alias("id_b"), F.col("sz").alias("sb"),
            *[F.col(c) for c in pcols],
            F.posexplode("__arr").alias("__pos", "__e"),
        ).select(
            "id_b", "sb", *[F.col(c) for c in pcols],
            (F.col("__pos") + 1).alias("rk_b"),
            F.col("__e.h").alias("h"),
        )
        # r14: broadcast the PREFIX side when its runtime-measured size
        # fits the cap. The prefix stream is ~(1-t)·n_sh + n_docs rows
        # (~1/5 of the inverted index at t=0.8), so hashing IT and
        # streaming the big index beats shuffling both sides into a
        # sort-merge join — interleaved A/B at sf0.1, 3 reps:
        # candidate subplan 1.6-2.1 s / 12.6-15.0 CPU-s (SMJ) →
        # 1.2-1.3 s / 5.6-8.0 CPU-s (BHJ, build = prefix). Estimate:
        # the (1-t) fraction of n_sh plus ~0.05 for each doc's +1 row
        # (0.25 at t=0.8, over half the index at t=0.5), at 56 B/row
        # plus 8 B per partition column; past the cap the hint
        # degrades to the planner's choice (the 100 TB regime).
        n_sh_rows = observed(sh)
        prefix_frac = 1.0 - min_containment + 0.05
        prefix_a = size_hinted(
            prefix_a, int(n_sh_rows * prefix_frac * (56 + 8 * len(pcols))),
            cap=BROADCAST_BYTES_CAP)
        cand = (
            # partition columns are part of the JOIN KEY — equality as
            # a post-join filter would still enumerate every cross-
            # partition prefix match
            prefix_a.join(inv_b, ["h", *pcols])
            .filter(
                (F.col("id_a") != F.col("id_b"))
                & (F.lit(20) * F.col("sb") >= F.lit(t20) * F.col("sa"))
                # two-sided positional filter (Xiao et al. PPJoin,
                # containment form): both docs' arrays share ONE global
                # (df, h) order, so every common shingle of a
                # qualifying pair sits at or after its FIRST common
                # shingle's position in BOTH docs — overlap ≤ 1 +
                # min(sa − rk_a, sb − rk_b) at that first match. The
                # first common shingle is always inside a's prefix
                # when the pair qualifies (prefix theorem), so the
                # qualifying pair always survives via that row;
                # non-first matches may pass spuriously (bound not
                # tight there), which only ADDS candidates. EXACTLY
                # complete — no probabilistic conjunct. On open
                # vocabularies this is the standard PPJoin prune; on
                # THIS closed-vocab corpus its power is modest
                # (435k → 390k candidates at sf0.1 — shared shingles
                # are rare in BOTH docs' orders), which is why the
                # verify below is the vectorized gather, not a join.
                & ((F.lit(1) + F.least(
                        F.col("sa") - F.col("rk_a"),
                        F.col("sb") - F.col("rk_b"))) * F.lit(20)
                   >= F.lit(t20) * F.col("sa"))
            )
            .select("id_a", "id_b", "sa")
            .distinct()
        )
        # observed: the gather sizes its stage width from the count
        cand = observed_checkpoint(cand)
        if n_sh_rows * 8 >= BROADCAST_BYTES_CAP:
            common = (
                cand.join(sh.select(F.col(id_col).alias("id_a"), "h"), "id_a")
                .join(sh.select(F.col(id_col).alias("id_b"), "h"), ["id_b", "h"])
                .groupBy("id_a", "id_b", "sa")
                .agg(F.count(F.lit(1)).alias("c"))
            )
        else:
            # per-doc plain bigint hash arrays (array_intersect on
            # STRUCT elements has no hash-set fast path — hence the
            # strip, see prefix_filtered_pairs)
            haf = arrays.select(
                F.col(id_col), "sz",
                F.transform("__arr", lambda x: x["h"]).alias("__ha"))
            if _bitmap_bytes(observed(arrays, "n_docs"),
                             observed(arrays, "n_hashes")) < BROADCAST_BYTES_CAP:
                common = _gather_verify(
                    cand, _bitmap_table(haf, id_col, "__ha", ["sz"]), t20)
            else:
                # vocab too wide for per-doc bitmaps: broadcast the
                # arrays and intersect per pair
                a = F.broadcast(haf.select(
                    F.col(id_col).alias("id_a"), F.col("__ha").alias("__ha_a")))
                b = F.broadcast(haf.select(
                    F.col(id_col).alias("id_b"), F.col("__ha").alias("__ha_b")))
                common = cand.join(a, "id_a").join(b, "id_b").select(
                    "id_a", "id_b", "sa",
                    F.size(F.array_intersect("__ha_a", "__ha_b")).alias("c"),
                )
        return (
            common
            # 20c ≥ t20·sa  ⟺  c/sa ≥ t — integer-exact
            .filter(F.lit(20) * F.col("c") >= F.lit(t20) * F.col("sa"))
            .select(
                "id_a", "id_b", F.col("c").alias("n_common"),
                F.round(
                    F.col("c").cast("double") / F.col("sa").cast("double"), 6
                ).alias("containment"),
            )
        )

    if not memo:
        return build()
    key = ("containment", frame_key(docs), id_col, text_col,
           float(min_containment), k, tuple(pcols))
    return DEDUP_MEMO.get_or_build(
        key, lambda: build().localCheckpoint(eager=True)
    )


def exhaustive_shingles_sql(table: str, id_col: str, text_col: str, k: int,
                            partition_cols: list[str]) -> str:
    """The ``sh`` and ``sz`` CTEs of the exhaustive set-similarity
    oracles: every doc's distinct raw k-shingle STRINGS ``(id,
    partition cols, h)`` — no prefix, size or positional filter — and
    its set size ``(id, sz)``."""
    pc_sel = "".join(f", {c}" for c in partition_cols)
    norm = normalized_sql(text_col)
    return f"""sh AS (
      SELECT DISTINCT {id_col} AS id{pc_sel}, s AS h FROM (
        SELECT {id_col}{pc_sel}, unnest(list_distinct(list_transform(
          range(1, len({norm}) - {k - 2}),
          i -> substr({norm}, CAST(i AS INT), {k})))) AS s
        FROM {table}
        WHERE len({norm}) >= {k}
      )
    ),
    sz AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY 1)"""


def containment_pairs_sql(
    table: str = "documents", min_containment: float = 0.8,
    id_col: str = "doc_id", text_col: str = "text", k: int = 7,
    partition_cols: list[str] | None = None,
) -> str:
    """Oracle twin of :func:`containment_pairs` — the EXHAUSTIVE
    directed co-occurrence join on raw shingle STRINGS (no prefix/
    size/positional filters), so equality with the Spark result proves
    the filters drop nothing (same contract as
    :func:`prefix_filtered_pairs_sql`)."""
    t20 = int(round(min_containment * 20))
    pcols = partition_cols or []
    part_join = "".join(f" AND a.{c} = b.{c}" for c in pcols)
    return f"""
    WITH {exhaustive_shingles_sql(table, id_col, text_col, k, pcols)},
    co AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.id <> b.id{part_join}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, c AS n_common,
           round(CAST(c AS DOUBLE) / CAST(sa.sz AS DOUBLE), 6) AS containment
    FROM co
    JOIN sz sa ON co.id_a = sa.id
    WHERE 20 * c >= {t20} * sa.sz
    """


def prefix_filtered_pairs_sql(
    table: str = "documents", min_jaccard: float = 0.7,
    id_col: str = "doc_id", text_col: str = "text", k: int = 7,
    partition_cols: list[str] | None = None,
) -> str:
    """Oracle twin of :func:`prefix_filtered_pairs` — deliberately the
    EXHAUSTIVE co-occurrence join (no prefix/length/positional
    filters), so equality with the Spark result proves the filters
    drop nothing. The oracle intersects raw shingle STRINGS (exact
    ground truth); the engine's xxhash64 values agree unless xxhash64
    itself collides, which the hash compare would surface. (Until r6
    both sides counted md5-h32 values, whose 32-bit collisions — ~200
    expected at sf0.1's 1.3 M distinct shingles — quietly merged
    shingles on both sides; string semantics are strictly more
    exact.)"""
    t20 = int(round(min_jaccard * 20))
    pcols = partition_cols or []
    # partition equality via the per-doc columns carried into sh
    part_join = "".join(f" AND a.{c} = b.{c}" for c in pcols)
    return f"""
    WITH {exhaustive_shingles_sql(table, id_col, text_col, k, pcols)},
    co AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id{part_join}
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, c AS n_common,
           round(CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE), 6)
             AS jaccard
    FROM co
    JOIN sz sa ON co.id_a = sa.id
    JOIN sz sb ON co.id_b = sb.id
    WHERE 20 * c >= {t20} * (sa.sz + sb.sz - c)
    """
