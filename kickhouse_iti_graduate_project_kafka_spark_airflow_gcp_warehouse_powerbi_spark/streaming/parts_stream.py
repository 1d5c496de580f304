"""Streaming ingestion into a parts table — the ClickPipes/Kafka-engine
analogue of the reference's continuous warehouse inserts.

ClickHouse ingests a Kafka stream as a sequence of insert blocks, each
becoming a MergeTree part, deduplicated by block hash on retry
(reference README.md:96-133: ClickPipes → MergeTree). The Spark twin is
``foreachBatch`` over :func:`..sources.parts.insert_into_parts`:

- each micro-batch lands as ONE part (insert blocks = parts, preserved);
- exactly-once EFFECTIVE semantics come from the parts table's own
  ``(app_id, batch_id)`` transaction dedup — a batch retried after a
  crash between the part write and the checkpoint commit re-runs
  ``insert_into_parts``, which sees its id committed and no-ops (the
  orphan part from a crash *before* the version commit is invisible and
  vacuumed later);
- ``app_id`` defaults to the checkpoint's persisted streaming query id
  (:func:`..sources.storage.checkpoint_query_id`): a RESET checkpoint
  restarts batch ids at 0 under a fresh query id, which is a new
  transaction namespace — re-ingestion, never silent data loss.

With a ``replacing`` engine this is a streaming upsert pipeline: CDC
events inserted as-they-arrive; readers call ``read_parts(final=True)``
for latest-state, and a periodic ``optimize_parts`` + ``vacuum_parts``
maintenance pass (the background-merge analogue) keeps the part count
and FINAL cost bounded. Scale: each micro-batch costs exactly its own
write + one tiny version-file commit; nothing rewrites history.

Joins keep the reference MVs' left-driven trigger semantics (J1-J3): a
static parent joined into the stream before the sink is read per
micro-batch, so inserts to the parent alone never retrigger child rows
— exactly like ClickHouse MV joins (DDL 369-414).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..sources.parts import aggregate_states, insert_into_parts
from ..sources.storage import checkpoint_query_id


def _sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str,
    app_id: str | None,
    to_part: Callable[[DataFrame], DataFrame],
) -> StreamingQuery:
    """The foreachBatch body both sinks share: each micro-batch, shaped by
    ``to_part``, lands as one part under (app id, batch id)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        app = app_id if app_id is not None else checkpoint_query_id(checkpoint)
        insert_into_parts(to_part(batch_df), path, batch_id=int(batch_id), app_id=app or "")

    return (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def parts_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str = "5 seconds",
    app_id: str | None = None,
) -> StreamingQuery:
    """Continuously append a stream to the parts table at ``path``.

    The table must already exist (``create_parts_table``) — schema and
    engine are table properties, not stream properties."""
    return _sink(stream, path, checkpoint, trigger, app_id, lambda df: df)


def aggregating_parts_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    agg_spec: dict[str, str],
    trigger: str = "5 seconds",
    app_id: str | None = None,
) -> StreamingQuery:
    """Streaming materialized view onto an ``aggregating`` parts table —
    the reference's ClickHouse `MV -> AggregatingMergeTree` pattern
    (insert block in, aggregate STATES out), Spark-first.

    Each micro-batch is pre-aggregated to partial-state rows
    (:func:`..sources.parts.aggregate_states`) and lands as ONE part;
    ``read_parts(final=True)`` merges states at O(|keys| x |parts|)
    whatever the raw-row history, and periodic ``optimize_parts`` keeps
    |parts| bounded. Exactly-once EFFECTIVE: the table's (app_id,
    batch_id) transaction dedup makes a crash-retried batch a no-op, and
    because each batch's contribution is one immutable part, a replay can
    never double-count a state (the additive hazard count-min has —
    heavy_stream.py — does not exist here). The stream must already be
    projected to the state-column shape (e.g. ``n=1, total=v, hi=v``)."""
    return _sink(
        stream, path, checkpoint, trigger, app_id,
        lambda df: aggregate_states(df, key_cols, agg_spec),
    )
