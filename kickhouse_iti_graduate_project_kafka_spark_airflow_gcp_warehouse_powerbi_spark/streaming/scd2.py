"""Incremental SCD Type-2 maintenance — streaming dimension upserts.

``operators/scd.py`` builds an SCD2 dimension in one batch pass; this
module keeps that dimension CURRENT as micro-batches arrive, the
one-transform-two-drivers discipline (ST8): ``upsert_scd2_batch`` is
the whole algorithm, and ``maintain_scd2_stream`` merely wires it into
``foreachBatch``.

Design for scale:

- The dimension is laid out in ``_kb=<bucket>`` partitions (xxhash64 of
  the key, mod ``n_buckets``). A micro-batch touches only the buckets
  its keys hash into: those partitions are read (partition-pruned scan)
  and rewritten via dynamic-partition overwrite; every other bucket's
  bytes are never opened. Per-batch cost is O(batch + affected-bucket
  rows), never O(dimension).
- Only OPEN versions participate in stitching: a batch either extends a
  key's open run (same attribute), closes it and appends new runs, or
  starts version 1 for an unseen key. Closed history rows are carried
  through the bucket rewrite untouched.
- Retry idempotence without a transaction log: each version row carries
  ``last_ts`` (newest event folded into the run). Batch events at or
  before the open run's ``last_ts`` are already applied and are dropped,
  so a failed-then-retried micro-batch (Spark's at-least-once contract)
  converges to byte-identical dimension state — the same effective
  exactly-once the parts sink's ``(app_id, batch_id)`` transactions
  provide, adapted to a merge target.

Assumes per-key event-time-ordered arrival across batches (the Kafka
per-partition ordering guarantee the reference pipeline already relies
on); late events older than the open run's watermark are dropped as
retries, which is the documented at-most-once choice for out-of-order
stragglers.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from ..operators.scd import scd2_collapse

#: bucket bookkeeping partition column
KB_COL = "_kb"


def _bucket_expr(keys: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


def _dim_cols(keys: Sequence[str], attr_col: str) -> list[str]:
    return [
        *keys,
        "version",
        attr_col,
        "valid_from",
        "valid_to",
        "n_events",
        "last_ts",
        "is_current",
    ]


def upsert_scd2_batch(
    spark: SparkSession,
    batch_events: DataFrame,
    dim_path: str,
    keys: Sequence[str],
    attr_col: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
    n_buckets: int = 16,
) -> None:
    """Merge one micro-batch of change events into the SCD2 dimension at
    ``dim_path``. See module docstring for semantics; this function IS the
    ``foreachBatch`` body and is equally callable from a batch backfill
    loop (one transform, two drivers)."""
    keys = list(keys)
    kb = _bucket_expr(keys, n_buckets)
    out_cols = _dim_cols(keys, attr_col)
    if not batch_events.take(1):
        return
    try:
        dim = spark.read.parquet(dim_path)
    except AnalysisException:
        # first batch bootstraps the dimension layout
        out = scd2_collapse(
            batch_events, keys, attr_col, ts_col, tiebreak, with_last_ts=True
        )
        (
            out.select(*out_cols)
            .withColumn(KB_COL, kb)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(KB_COL)
            .parquet(dim_path)
        )
        return

    # bucket ids are bounded by n_buckets — a driver-side list is safe and
    # turns the dimension read into a partition-pruned scan
    buckets = [
        r["kb"]
        for r in batch_events.select(kb.alias("kb")).distinct().collect()
    ]
    cur = dim.filter(F.col(KB_COL).isin(buckets)).drop(KB_COL)
    open_cur = cur.filter(F.col("is_current") == 1).select(
        *keys,
        F.col("version").alias("_open_ver"),
        F.col(attr_col).alias("_open_attr"),
        F.col("valid_from").alias("_open_from"),
        F.col("n_events").alias("_open_n"),
        F.col("last_ts").alias("_open_last"),
    )
    # drop already-applied events (retry idempotence high-watermark)
    ev = (
        batch_events.join(open_cur.select(*keys, "_open_last"), keys, "left")
        .filter(F.col("_open_last").isNull() | (F.col(ts_col) > F.col("_open_last")))
        .drop("_open_last")
    )
    if not ev.take(1):
        return  # pure retry: dimension already reflects this batch

    nv = scd2_collapse(ev, keys, attr_col, ts_col, tiebreak, with_last_ts=True).join(
        open_cur, keys, "left"
    )
    base = F.coalesce(F.col("_open_ver"), F.lit(0))
    # continuation is a KEY-level fact: does the batch's FIRST run extend
    # the open run? (a later run of the same attr must still be a new
    # version, so compare the open attr against run 1's attr, not the row's)
    from pyspark.sql import Window

    first_attr = F.first(F.col(attr_col)).over(
        Window.partitionBy(*keys).orderBy("version")
    )
    nv = nv.withColumn(
        "_cont",
        F.col("_open_ver").isNotNull() & F.col("_open_attr").eqNullSafe(first_attr),
    )
    cont = F.col("_cont")
    # every new run, renumbered after the surviving history; run 1 either
    # continues the open run (absorb its count and start) or follows it
    stitched = nv.select(
        *keys,
        (F.col("version") + F.when(cont, base - 1).otherwise(base)).alias("version"),
        F.col(attr_col),
        F.when(cont & (F.col("version") == 1), F.col("_open_from"))
        .otherwise(F.col("valid_from"))
        .alias("valid_from"),
        F.col("valid_to"),
        F.when(cont & (F.col("version") == 1), F.col("_open_n") + F.col("n_events"))
        .otherwise(F.col("n_events"))
        .alias("n_events"),
        F.col("last_ts"),
        F.col("is_current"),
    )
    # the open run it replaces, closed at the first new run's start
    closing = (
        nv.filter((F.col("version") == 1) & F.col("_open_ver").isNotNull() & ~cont)
        .select(
            *keys,
            F.col("_open_ver").alias("version"),
            F.col("_open_attr").alias(attr_col),
            F.col("_open_from").alias("valid_from"),
            F.col("valid_from").alias("valid_to"),
            F.col("_open_n").alias("n_events"),
            F.col("_open_last").alias("last_ts"),
            F.lit(0).cast("int").alias("is_current"),
        )
    )
    touched_keys = nv.select(*keys).distinct()
    carried = cur.filter(F.col("is_current") == 0).unionByName(
        # open rows of bucket-mates not in this batch (or fully-retried keys)
        cur.filter(F.col("is_current") == 1).join(touched_keys, keys, "left_anti")
    )
    out = (
        carried.select(*out_cols)
        .unionByName(closing.select(*out_cols))
        .unionByName(stitched.select(*out_cols))
    )
    (
        out.withColumn(KB_COL, kb)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(KB_COL)
        .parquet(dim_path)
    )


def read_scd2_dim(spark: SparkSession, dim_path: str) -> DataFrame:
    """Read the maintained dimension, hiding the bucket bookkeeping."""
    return spark.read.parquet(dim_path).drop(KB_COL)


def maintain_scd2_stream(
    stream: DataFrame,
    dim_path: str,
    checkpoint: str,
    keys: Sequence[str],
    attr_col: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
    n_buckets: int = 16,
    trigger: str = "5 seconds",
    prepare: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Keep an SCD2 dimension current from a change stream: every
    micro-batch runs ``upsert_scd2_batch`` (optionally after ``prepare``,
    e.g. a projection/filter shared with the batch backfill)."""

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        if prepare is not None:
            batch_df = prepare(batch_df)
        upsert_scd2_batch(
            batch_df.sparkSession,
            batch_df,
            dim_path,
            keys,
            attr_col,
            ts_col,
            tiebreak,
            n_buckets,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .start()
    )
