"""Streaming sinks beyond the memory/console built-ins.

``foreach_batch_parquet`` is the exactly-once pattern: each micro-batch
is written as an idempotent parquet partition keyed by ``batch_id`` —
re-delivered batches overwrite their own partition instead of
duplicating rows. ``foreachBatch`` accepts any batch function (JDBC
upsert, MERGE INTO, dedup-before-write) the same way — it hands you a
normal batch DataFrame plus the batch id for idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def foreach_batch_parquet(
    agg: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Write each micro-batch to ``out_dir/batch_id=N/`` (idempotent —
    the batch id partition makes redelivery safe) with a checkpoint for
    restart recovery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return (
        agg.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
