"""Streaming corpus-ingest dedup — the live gate in front of a training
corpus.

``operators/dedup.build_dedup_index`` bootstraps the corpus state once;
``absorb_batch_into_index`` classifies one batch and grows the state with
the accepted documents. This module wires that absorb step into
``foreachBatch`` so a document stream continuously lands ONLY novel
content — the same one-transform-two-drivers discipline as
``streaming/scd2.py`` / ``semdedup_stream.py``.

Retry posture is the operator's (document-level, no transaction log):
replayed batches re-classify and reject as exact dups, so absorption
converges under Spark's at-least-once foreachBatch contract; the
mid-sequence crash behavior (exact-flag degrades to near-flag, rejection
decisions unaffected) is documented on the operator. Single writer
assumed — one stream owns one index.

Per-batch cost: |batch| text work + hash-joins against the parquet
inverted index pruned to the batch's shingle hashes — the corpus text is
never re-read, so a 5-second trigger over a 50 B-doc corpus pays
batch-sized work per tick.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import absorb_batch_into_index


def maintain_dedup_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    trigger: str = "5 seconds",
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    on_batch: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """Absorb every micro-batch of documents into the dedup index at
    ``index_path`` (optionally after ``prepare``); ``on_batch`` receives
    each batch's acceptance stats (for DQ counters/alerts)."""

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        from ..operators.cachereg import release_tracked

        if prepare is not None:
            batch_df = prepare(batch_df)
        try:
            stats = absorb_batch_into_index(
                batch_df.sparkSession, index_path, batch_df,
                text_col, id_col, threshold,
            )
            if on_batch is not None:
                on_batch(stats)
        finally:
            release_tracked()

    return (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .start()
    )
