"""Structured Streaming operators over the events stream.

The aggregation code is shared with the batch queries
(``queries/events.py``) — ``F.window`` / ``F.session_window`` build the
same logical operator in both modes; streaming adds a watermark for
state eviction and late-data handling. ``run_stream_to_memory`` drives
a bounded (file-source) stream to completion for tests/smoke —
the same query with a Kafka source is production streaming.

Scale notes: streaming state lives in the state store keyed by
(window, group keys); the watermark bounds state size. Late rows beyond
the watermark are dropped in append mode — the documented policy.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),  # parquet TIMESTAMP_MICROS
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (one file = one
    micro-batch unit; a Kafka source drops in for production).

    The explicit ``EVENTS_SCHEMA`` (``ts`` as TimestampType) is what
    makes the file's TIMESTAMP_MICROS/isAdjustedToUTC=0 column arrive
    as an instant — with a user-supplied schema the parquet NTZ
    inference conf never applies, so none is set here."""
    # the file source requires a directory; select just the events file
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts per event_type (same operator
    as the batch ``events_tumbling`` query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native streaming session windows (gap-merged state in the state
    store — the streaming twin of the batch gaps-and-islands
    ``events_sessions`` query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: drops rows whose key was already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark`` —
    state is evicted once the watermark passes, so memory is bounded;
    the batch twin is ``operators.dedup.drop_exact_dups``)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_stream_to_memory(
    agg: DataFrame, output_mode: str = "append", name: str | None = None,
    state_partitions: int | None = None, no_data_batch: bool = True,
) -> tuple[str, "DataFrame"]:
    """Drive a bounded stream to completion into an in-memory table;
    returns (table_name, result DataFrame). Test/smoke harness only.

    ``state_partitions`` overrides ``spark.sql.shuffle.partitions`` for
    THIS stream's planning (restored after start): stateful operators
    create one state store per shuffle partition per batch, and the
    per-store commit/snapshot overhead dominates small streams —
    measured on the stream-stream interval join at sf0.1: 88 CPU-s at
    32 partitions vs 12.9 at 8, identical results. The same knob is
    the real-cluster guidance too: a streaming query's state
    partitioning is frozen by the first checkpoint, so it must be
    sized to stateful-key cardinality deliberately rather than
    inherited from the batch shuffle default.

    ``no_data_batch=False`` turns off the extra empty micro-batch Spark
    runs after the data drains to advance the watermark
    (``spark.sql.streaming.noDataMicroBatches.enabled``). That batch is
    what EMITS closed windows for append-mode aggregates and fires
    state timeouts — it must stay on for those — but an INNER
    stream-stream join emits every match the moment it is found and
    only uses the no-data batch for state eviction, which is pointless
    on the last trigger of a bounded drain. Skipping it removes one
    full round of per-partition state-store commits (measured at
    sf0.1: the empty batch costs ~1.2 s of the join's 3.5 s wall
    locally, and scales with store count on a loaded host).

    NOT thread-safe: the override mutates the session-global conf for
    the duration of the drain, so a batch query planned concurrently on
    the same SparkSession would inherit the reduced partition count.
    Safe under the sequential harness; concurrent callers should use a
    dedicated session (``spark.newSession()``) per stream."""
    name = name or f"stream_out_{uuid.uuid4().hex[:8]}"
    spark = agg.sparkSession
    _NDB = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndb = spark.conf.get(_NDB)
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if not no_data_batch:
        spark.conf.set(_NDB, "false")
    try:
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # restore only after termination: a streaming query reads the
        # conf when planning batches, not at .start()
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        if not no_data_batch:
            spark.conf.set(_NDB, old_ndb)
    return name, spark.sql(f"SELECT * FROM {name}")


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the documents table (a Kafka text firehose
    drops in for production)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


# Max distinct static-side hashes for the in-expression InSet probe in
# decontaminate_stream; past this the driver-collected literal set stops
# being "bounded dim" sized and the broadcast join takes over.
IN_SET_PROBE_MAX = 65536


def decontaminate_stream(
    doc_stream: DataFrame,
    bench_docs: DataFrame,
    min_shared: int = 1,
    k: int = 3,
) -> tuple[DataFrame, str]:
    """Streaming twin of ``operators.dedup.contamination_scores``: per
    micro-batch, score each incoming doc's distinct k-shingle-hash
    overlap with a STATIC benchmark corpus and emit the contaminated
    ids. Returns ``(stream_df, output_mode)`` — the mode depends on
    the probe regime chosen at plan time:

    - bounded benchmark (the real eval-suite case): the hash set comes
      back as an InSet literal applied to the exploded shingle-hash
      stream INSIDE the codegen'd scan stage — no broadcast build per
      micro-batch — followed by the complete-mode per-doc count.
      (Measured dead end, kept as a record: computing the count as a
      map-side array expression — filter the doc's hash ARRAY against
      the set, take its size — would make the query stateless, but
      every higher-order function is interpreted, and the per-element
      md5+conv inside the lambda ran 15x slower than the codegen'd
      explode path at sf0.1. The explode+InSet+partial-agg plan IS the
      pre-aggregated probe: the count's map-side partial runs in the
      same stage as the probe, and the stateful store holds one
      counter per contaminated doc.)
    - oversized benchmark: stream-static broadcast join + stream-side
      aggregate, ``complete`` mode (the r9 shape). Per-doc counts stay
      exact because the aggregate keys on the stream side only.

    At production scale the static side refreshes by restarting the
    query (eval suites change rarely)."""
    from ..functions.hashing import h32
    from ..functions.text import char_kgrams, normalized
    from ..operators.dedup import DEDUP_MEMO, shingle_hashes
    from ..operators.observe import observed_checkpoint
    from ..plans.memo import frame_key

    # materialize the static side ONCE: a stream-static join re-evaluates
    # the static plan every micro-batch (measured: ~4 s of shingling per
    # batch at sf0.1); the checkpoint pins the bounded hash set so each
    # batch broadcasts from it — also the production shape (eval suites
    # are pinned in memory for the life of the query). Session-memoized
    # under the same key as the batch contamination_scores, so the batch
    # row and this streaming twin share one build per suite run.
    # distinct at width 2, not the session's 32: the result is a few
    # hundred rows (one per distinct benchmark shingle hash), and the
    # explicit hash repartition satisfies the aggregate's distribution
    # requirement so no second exchange widens it back out — on a
    # loaded driver host the per-pass rebuild's wall is task-scheduling
    # latency × task count, not compute (this build is the first-touch
    # cost the bench re-pays every memo-cleared pass).
    bench_hashes = DEDUP_MEMO.get_or_build(
        ("bench_hashes", frame_key(bench_docs), "doc_id", "text", k),
        lambda: observed_checkpoint(
            shingle_hashes(bench_docs, "doc_id", "text", k=k)
            .select("h").repartition(2, "h").distinct()),
    )
    # same normalize→shingle→h32 expressions as the batch operator;
    # only its repartition barrier is stream-unsafe, so the shingle
    # array is built inline here (micro-batches are already narrow).
    # Order matters for twin-exactness: dedup the shingle STRINGS and
    # hash per string, exactly like batch shingle_hashes — a
    # distinct-over-hashes variant would count intra-doc h32 collisions
    # once where the batch side counts them per colliding string.
    shingles = F.array_distinct(char_kgrams(F.col("__t"), k))
    # a file-source micro-batch arrives as ONE input partition per
    # file; the shingle work would run on a single core without this
    # stateless spread (measured at sf0.1: addBatch 11.8 s -> ~3 s).
    # Kafka sources arrive pre-partitioned and don't need it, but the
    # narrow (id, text) shuffle is cheap insurance either way.
    narrowed = (
        doc_stream.select(F.col("doc_id"), normalized(F.col("text")).alias("__t"))
        .filter(F.length("__t") >= k)
        .repartition(16)
    )
    # Probe strategy, size-gated: a real eval suite's distinct shingle
    # hashes are bounded (hundreds at sf0.1), so the membership probe
    # compiles to an InSet lookup INSIDE the codegen'd scan stage —
    # zero exchange, no broadcast build per micro-batch — and the
    # per-doc count's map-side partial aggregate runs in the same
    # stage (the "pre-aggregate before the probe shuffle" shape). ONE
    # bounded collect (limit cap+1) both fetches the set and decides
    # the regime — the previous count()+collect() pair paid two jobs
    # per run. Past the gate (a genuinely huge static side) the
    # broadcast join takes over; `test_stream_decontaminate_regimes`
    # pins both regimes to identical output.
    probe_rows = bench_hashes.limit(IN_SET_PROBE_MAX + 1).collect()
    stream_hashes = narrowed.select(
        "doc_id", F.explode(shingles).alias("__s")
    ).select("doc_id", h32(F.col("__s")).alias("h"))
    if len(probe_rows) <= IN_SET_PROBE_MAX:
        probe_set = [r["h"] for r in probe_rows]
        matched = stream_hashes.filter(F.col("h").isin(probe_set))
    else:
        matched = stream_hashes.join(F.broadcast(bench_hashes), "h")
    return (
        matched
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared),
        "complete",
    )


def interval_join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each ``purchase`` event to
    ``click`` events by the same user within the preceding ``horizon``
    (the attribution join of an event pipeline).

    Both sides carry watermarks and the join condition bounds
    purchase.ts - click.ts to [0, horizon], so Spark can evict buffered
    state as the watermarks advance — state is O(users active inside
    the horizon), not O(stream). Equality on user_id keys the
    state-store partitioning: one shuffle per side on user_id.

    The batch twin is the identical expression on static frames (what
    ``test_stream_stream_interval_join_matches_batch`` asserts), the
    same contract as the other streaming twins in this module.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value",
    )


def interval_join_streams_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    :func:`interval_join_streams`, but clicks with NO purchase inside
    the horizon surface as null-augmented rows — the "unconverted
    clicks" side of the attribution ledger.

    Unlike the inner join (matches emit on arrival), the OUTER rows
    are emitted only when the engine can PROVE no match is coming:
    a buffered click's state expires once the watermark passes
    click_ts + horizon, and the null row is emitted by the no-data
    batch that advances the final watermark — which is why
    ``no_data_batch=False`` must never be used with outer joins
    (``run_stream_to_memory``'s knob doc). State bounds are the same
    as the inner join: O(events inside watermark x horizon)."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value",
    )


def tumbling_distinct_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming per-window user cardinality via approx_count_distinct —
    exact distinct over a stream needs unbounded per-window state, the
    HLL±-backed estimator needs a constant few KB per open window
    regardless of stream volume (the same reason the batch side keeps
    sketches: sketch_rollup). Bounded state = watermark-evicted windows
    x constant sketch size."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "approx_users",
        )
    )
