"""Incremental index maintenance via Structured Streaming (SURVEY §2.11).

The reference is batch-only — a crawl with a polling completion barrier
(``SolrSemanticIndexer.java:116-166``). Its natural Spark extension, named
in SURVEY §2.11, is ``readStream`` over the transcript table with
``foreachBatch`` running the SAME build stages per micro-batch: each batch
becomes one log-structured segment (segments.py), so streaming ingestion
inherits the manifest's lineage/resume guarantees and the LSM ``compact``
job bounds segment count. Exactly-once: ``append_segment`` skips keys
already committed, so a replayed micro-batch (checkpoint recovery) is a
no-op — the manifest is the idempotence ledger, the streaming checkpoint
only drives progress.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.segments import append_segment


def incremental_index_query(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    profile: "str | None" = None,
    key_cols=("conv_id", "turn_idx"),
    bucket_bits: "int | None" = None,
    trigger_available_now: bool = True,
):
    """Attach the segment-per-micro-batch sink to a streaming DataFrame of
    transcript rows. Returns the (started) StreamingQuery."""
    spark = stream_df.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            append_segment(
                spark,
                index_path,
                f"batch_{batch_id:012d}",
                batch_df,
                profile=profile,
                key_cols=key_cols,
                bucket_bits=bucket_bits,
            )

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
