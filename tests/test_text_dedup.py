"""Unit tests for the text-analysis functions and dedup operators
(planted fixtures with known answers; the oracle queries cover the
synthetic-corpus scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from df_spark.functions import text as X
from df_spark.operators import dedup as D


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_normalize_and_fingerprint(spark):
    df = docs_df(spark, [(1, "  Hello   World "), (2, "hello world"), (3, "other")])
    out = df.select("doc_id", X.fingerprint_md5(F.col("text")).alias("fp")).collect()
    fps = {r.doc_id: r.fp for r in out}
    assert fps[1] == fps[2] != fps[3]


def test_word_and_token_counts(spark):
    df = docs_df(spark, [(1, "one two  three"), (2, "a1b2, c!")])
    out = {r.doc_id: (r.w, r.t) for r in df.select(
        "doc_id",
        X.word_count(F.col("text")).alias("w"),
        X.bpe_token_count(F.col("text")).alias("t"),
    ).collect()}
    assert out[1] == (3, 3)
    # "a1b2, c!" → a,1,b,2,",",c,"!" = 7 BPE-ish tokens, 2 words
    assert out[2] == (2, 7)


def test_char_shingles_short_text(spark):
    df = docs_df(spark, [(1, "ab"), (2, "abcd"), (3, "")])
    out = {r.doc_id: r.sh for r in df.select(
        "doc_id", X.char_shingles(F.col("text")).alias("sh")).collect()}
    assert out[1] == []
    assert sorted(out[2]) == ["abc", "bcd"]
    assert out[3] == []



def test_char_kgrams_match_python_slicing(spark):
    """``char_kgrams`` is ``substring(t, i, k)`` at every position, in
    code points: non-BMP emoji and CJK, combining marks, line
    terminators the regex ``.`` would skip without DOTALL, and texts
    empty or shorter than ``k``."""
    texts = [
        "", "ab", "abcdef", "a\U0001F600b\U0001F680cd\U0001D11Eef",
        "e\u0301te\u0301\u0300 cafe\u0301", "line\u0085next\rret\nnl\u2028sep",
        "\u4e2d\u6587\u7684\u6587\u672c\u662f\u4e0d\u4e86", "\U0001F600" * 9, "abc",
    ]
    df = docs_df(spark, [*enumerate(texts), (len(texts), None)])
    for k in (3, 7):
        got = {r.doc_id: r.g for r in df.select(
            "doc_id", X.char_kgrams(F.col("text"), k).alias("g")).collect()}
        assert got.pop(len(texts)) is None
        assert got == {i: [t[j:j + k] for j in range(len(t) - k + 1)]
                       for i, t in enumerate(texts)}

def test_lang_id_markers(spark):
    df = docs_df(spark, [
        (1, "the cat and the dog of the house"),
        (2, "der hund und die katze und der vogel"),
        (3, "le chien et la maison et le chat"),
    ])
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", X.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr"}


def test_quality_score_bounds(spark):
    df = docs_df(spark, [(1, "good plain text with words " * 20), (2, "!!! ??? ***"), (3, "x")])
    out = {r.doc_id: r.q for r in df.select(
        "doc_id", X.quality_score(F.col("text")).alias("q")).collect()}
    assert all(0.0 <= q <= 1.0 for q in out.values())
    assert out[1] > out[2]  # punctuation-only text scores lower


def test_exact_dedup(spark):
    df = docs_df(spark, [(1, "Same  Text"), (2, "same text"), (3, "different")])
    stats = {r.keep_id: r.n_copies for r in D.exact_dedup_stats(df).collect()}
    assert stats == {1: 2, 3: 1}
    kept = sorted(r.doc_id for r in D.drop_exact_dups(df).collect())
    assert kept == [1, 3]


def test_minhash_identical_docs_share_signature(spark):
    df = docs_df(spark, [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
                         (3, "completely different content here")])
    sigs = {r.doc_id: r.sig_md5 for r in D.minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2] != sigs[3]


def test_lsh_pairs_catch_identical(spark):
    df = docs_df(spark, [(1, "aaa bbb ccc ddd eee fff"), (2, "aaa bbb ccc ddd eee fff"),
                         (3, "zzz yyy xxx www vvv uuu")])
    pairs = {(r.id_a, r.id_b) for r in
             D.lsh_candidate_pairs(D.minhash_signatures(df)).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similarity_structure(spark):
    df = docs_df(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                         (3, "omega psi chi phi")])
    out = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert all(0 <= v < 2 ** 32 for v in out.values())


def test_ngram_jaccard_values(spark):
    df = docs_df(spark, [(1, "abcdef"), (2, "abcdef"), (3, "abcxyz")]).withColumn(
        "b", F.lit(1))
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             D.ngram_jaccard_pairs(df, block_cols=["b"]).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.0 < pairs[(1, 3)] < 1.0


def test_prefilter_recall_measured(spark, sf_dir):
    """The MinHash-estimate screen (est >= MIN_EST_MATCHES) may drop a
    true near-dup pair whose signature estimate lands below the floor.
    Keep that miss rate MEASURED against the unscreened contract
    (min_est_matches=0) rather than definitionally invisible: screened
    must be a subset, and misses stay under 2% on the synthetic corpus."""
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    full = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dups(docs, 0.6, min_est_matches=0, memo=False).collect()
    }
    screened = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dups(docs, 0.6, memo=False).collect()
    }
    assert screened <= full
    assert full, "fixture corpus must contain near-dups"
    miss_rate = 1 - len(screened) / len(full)
    assert miss_rate <= 0.02, f"prefilter dropped {miss_rate:.1%} of true pairs"


def test_dedup_memo_shares_build(spark, sf_dir):
    """Same-session recomputation of the near-dup pipeline must hit the
    frame memo (reference Pool parity at operator granularity): the
    second call returns the SAME materialized frame, no rebuild."""
    from df_spark.sources.tables import load_sdf

    D.DEDUP_MEMO.clear()
    docs = load_sdf(spark, sf_dir, "documents")
    first = D.minhash_near_dups(docs, 0.6)
    first.count()
    misses_after_first = D.DEDUP_MEMO.misses
    # a fresh scan plan of the same table must still hit (content-
    # addressed key via semanticHash, not object identity)
    again = D.minhash_near_dups(load_sdf(spark, sf_dir, "documents"), 0.6)
    assert again is first
    assert D.DEDUP_MEMO.misses == misses_after_first
    assert D.DEDUP_MEMO.hits >= 1
    D.DEDUP_MEMO.clear()


def test_near_dups_two_phase_branch_matches_fused(spark, sf_dir, monkeypatch):
    """minhash_near_dups picks its verify strategy from measured side
    sizes: fused broadcast stage when the sides fit the cap, two-phase
    narrow-screen-then-join when they don't (the 100 TB regime). Force
    the two-phase branch by shrinking the cap and assert identical
    results."""
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    fused = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_dups(docs, 0.6, memo=False).collect()
    }
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    two_phase = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_dups(docs, 0.6, memo=False).collect()
    }
    assert fused, "fixture corpus must contain near-dups"
    assert two_phase == fused


def test_winnow_guarantee_shared_substring(spark):
    """Winnowing's defining property: docs sharing a substring of
    length >= k + w - 1 share at least one selected fingerprint; docs
    with disjoint trigram sets share none."""
    from df_spark.operators.dedup import winnow_selected

    shared = "xqzvkwpmrt"  # 10 chars >= k + w - 1 = 6
    docs = spark.createDataFrame(
        [
            (1, f"aaaa {shared} bbbb"),
            (2, f"cccc {shared} dddd"),
            (3, "eeee ffff gggg hhhh"),
        ],
        "doc_id long, text string",
    )
    sets = {
        i: {r.wm for r in rows}
        for i, rows in (
            (i, winnow_selected(docs.filter(F.col("doc_id") == i)).collect())
            for i in (1, 2, 3)
        )
    }
    assert sets[1] & sets[2]
    assert not (sets[1] & sets[3] or sets[2] & sets[3])


def test_winnow_summary_matches_selected(spark, sf_dir):
    """The fused Arrow path (winnow_fingerprint_summary) must produce
    exactly the per-doc reduction of the declarative winnow_selected
    pipeline — same md5-h32 values, same window minima, same distinct
    set — for both the small-w lead-chain and the large-w segmented-min
    branches."""
    from df_spark.operators.dedup import (
        winnow_fingerprint_summary,
        winnow_selected,
    )
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    for w in (4, 10):
        fused = {
            (r.doc_id, r.n_fps, r.min_fp, r.max_fp)
            for r in winnow_fingerprint_summary(docs, k=3, w=w).collect()
        }
        declarative = {
            (r.doc_id, r.n_fps, r.min_fp, r.max_fp)
            for r in (
                winnow_selected(docs, k=3, w=w)
                .groupBy("doc_id")
                .agg(F.collect_set("wm").alias("s"))
                .select(
                    "doc_id",
                    F.size("s").cast("long").alias("n_fps"),
                    F.array_min("s").alias("min_fp"),
                    F.array_max("s").alias("max_fp"),
                )
                .collect()
            )
        }
        assert fused == declarative and fused, f"w={w}"


def test_levenshtein_pairs_blocking_never_loses_identical_prefixes(spark):
    """Docs identical in the first 40 normalized chars are always found
    (distance 0 pairs survive any block key derived from the prefix),
    while docs differing inside the first 12 chars are intentionally
    outside the candidate set — the documented blocking trade-off."""
    from df_spark.frame import Df

    base = "the quick brown fox jumps over the lazy dog and keeps running"
    docs = Df.from_vecs(spark, [
        ("doc_id", [1, 2, 3, 4]),
        ("text", [base, base.upper(), "a completely different start " + base,
                  base.replace("jumps", "jmps")]),
    ]).to_spark()
    docs.createOrReplaceTempView("_lev_docs")

    from pyspark.sql import functions as F

    from df_spark.functions.text import normalized

    p = docs.select(
        "doc_id", F.substring(normalized(F.col("text")), 1, 40).alias("pre"))
    a, b = p.alias("a"), p.alias("b")
    pairs = (
        a.join(b, (F.substring(F.col("a.pre"), 1, 12) == F.substring(F.col("b.pre"), 1, 12))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id",
                F.levenshtein("a.pre", "b.pre").alias("d"))
        .filter(F.col("d") <= 8)
        .collect()
    )
    found = {(r[0], r[1]): r.d for r in pairs}
    assert found[(1, 2)] == 0          # case-normalized exact dup
    # one deletion inside the window, +1 because the fixed 40-char cap
    # shifts a different trailing char into doc 4's prefix
    assert found[(1, 4)] == 2
    assert all(3 not in pair for pair in found)  # different block by design


def test_prefix_filter_completeness_and_reduction(spark, sf_dir):
    """The prefix+length+positional filters are (a) COMPLETE — the
    filtered join returns exactly the pairs the exhaustive co-occurrence
    join does at J ≥ 0.7 — and (b) actually filtering: the candidate
    prefix rows are a strict subset of the shingle rows."""
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b, r.n_common)
        for r in D.prefix_filtered_pairs(docs, 0.7, k=7,
                                         partition_cols=["source"]).collect()
    }

    # exhaustive reference: every co-occurring same-source pair, exact
    # integer-threshold Jaccard — no prefix/length/positional pruning
    sh = D.shingle_hashes(docs.select("doc_id", "text"), "doc_id", "text", 7).distinct()
    src = docs.select("doc_id", "source")
    sh = sh.join(src, "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    co = (
        sh.selectExpr("doc_id id_a", "h", "source")
        .join(sh.selectExpr("doc_id id_b", "h", "source"), ["h", "source"])
        .filter("id_a < id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(sizes.selectExpr("doc_id id_a", "sz sa"), "id_a")
        .join(sizes.selectExpr("doc_id id_b", "sz sb"), "id_b")
        .filter("20 * c >= 14 * (sa + sb - c)")
    )
    expected = {(r.id_a, r.id_b, r.c) for r in co.collect()}
    assert got == expected
    assert got, "no near-dup pairs at this SF — test data assumption broken"


def test_containment_completeness_and_planted_subset(spark, sf_dir):
    """containment_pairs is (a) COMPLETE — matches the exhaustive
    directed co-occurrence join at C ≥ t, for t = 0.8 and 0.5 (whose
    prefix side is over twice as large) — on the real corpus, and
    (b) correct on a planted strict-subset fixture where Jaccard would
    miss the pair (small doc fully inside a much larger one)."""
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    sh = D.shingle_hashes(docs.select("doc_id", "text"), "doc_id", "text", 7).distinct()
    sh = sh.join(docs.select("doc_id", "source"), "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    co = (
        sh.selectExpr("doc_id id_a", "h", "source")
        .join(sh.selectExpr("doc_id id_b", "h", "source"), ["h", "source"])
        .filter("id_a <> id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(sizes.selectExpr("doc_id id_a", "sz sa"), "id_a")
    ).collect()
    for t, t20 in ((0.8, 16), (0.5, 10)):
        got = {
            (r.id_a, r.id_b, r.n_common)
            for r in D.containment_pairs(
                docs, t, k=7, partition_cols=["source"], memo=False
            ).collect()
        }
        expected = {(r.id_a, r.id_b, r.c) for r in co if 20 * r.c >= t20 * r.sa}
        assert got == expected, t

    # planted asymmetry: doc 1 is a strict substring of doc 2, padding
    # makes |S2| >> |S1| so J(1,2) < 0.5 while C(1->2) = 1.0; doc 3 is
    # unrelated; doc 4 is too short to shingle (len < k)
    small = "the quick brown fox jumps over the lazy dog"
    big = small + " " + " ".join(f"filler{i} words here" for i in range(12))
    df = spark.createDataFrame(
        [(1, small, "s"), (2, big, "s"), (3, "completely different text entirely", "s"),
         (4, "tiny", "s")],
        "doc_id long, text string, source string",
    )
    out = {
        (r.id_a, r.id_b): r.containment
        for r in D.containment_pairs(
            df, 0.8, k=7, partition_cols=["source"], memo=False
        ).collect()
    }
    assert out.get((1, 2)) == 1.0          # subset direction found
    assert (2, 1) not in out               # reverse direction below t
    assert all(3 not in pair and 4 not in pair for pair in out)


def test_bitmap_verify_matches_array_verify(spark, sf_dir, monkeypatch):
    """The bitmap (popcount) exact-Jaccard path must be bit-identical to
    the array (hash-set intersect) path — bits are assigned per distinct
    h32 value, so popcounts equal set cardinalities even under shingle
    hash collisions. Force the array path by capping the bitmap width
    to zero, and its JVM hash-set verify by capping the broadcast at
    zero (under the cap the array regime also runs the popcount kernel,
    see tests/test_fused_regimes.py)."""
    from df_spark.sources.tables import load_sdf

    docs = load_sdf(spark, sf_dir, "documents")
    with_words = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_dups(docs, 0.6, memo=False).collect()
    }
    monkeypatch.setattr(D, "BITMAP_MAX_WORDS", 0)
    monkeypatch.setattr(D, "BROADCAST_BYTES_CAP", 0)
    assert "sh" in D._shared_build(docs, memo=False).columns
    with_arrays = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_dups(docs, 0.6, memo=False).collect()
    }
    assert with_words, "fixture corpus must contain near-dups"
    assert with_words == with_arrays


def test_banded_ngram_jaccard_exact_within_blocks(spark):
    """Pairs sharing a metadata block AND a MinHash band get their
    EXACT shingle-set Jaccard; identical docs in one block score 1.0."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "the quick brown fox jumps over the lazy dog", "en"),
            (3, "completely different content with other words", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.banded_ngram_jaccard(
            df, {"lang": F.col("lang")}, memo=False
        ).collect()
    }
    assert out[(1, 2)] == 1.0
    # doc 3 shares no band with 1/2 (different content) -> no pair
    assert (1, 3) not in out and (2, 3) not in out


def test_ngram_novelty_duplicate_doc_scores_zero(spark, sf_dir, tmp_path):
    """A verbatim duplicate of an earlier doc introduces no new
    shingles: its novelty must be exactly zero, and the first doc of
    the corpus is all-novel."""
    import pyspark.sql.functions as F

    from df_spark.queries.dedup import ngram_novelty

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    dup = docs.filter(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(10_000_000))
    out_dir = str(tmp_path / "docs")
    docs.unionByName(dup).write.parquet(out_dir)

    class _Dir(str):
        pass

    # ngram_novelty loads "<sf_dir>/documents.parquet"
    import os
    os.makedirs(str(tmp_path / "sf"), exist_ok=True)
    os.symlink(out_dir, str(tmp_path / "sf" / "documents.parquet"))
    rows = {r.doc_id: r for r in ngram_novelty(spark, str(tmp_path / "sf")).collect()}
    assert rows[10_000_000].n_first == 0
    assert rows[10_000_000].novelty_permille == 0
    assert rows[0].n_first == rows[0].n_sh  # doc 0 introduces everything
    assert rows[0].novelty_permille == 1000
