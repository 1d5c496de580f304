"""Streaming mergeable-distinct — maintain per-day HLL user sketches
from an event stream.

The batch query ``events_hll_mergeable_distinct`` proves the sketch
algebra; this module keeps a per-day SKETCH TABLE current as
micro-batches arrive (the one-transform-two-drivers discipline of
``streaming/scd2.py`` / ``semdedup_stream.py``): ``upsert_hll_batch`` is
the whole algorithm, ``maintain_hll_stream`` wires it into
``foreachBatch``.

Why HLL is the RIGHT streaming distinct: sketch union is associative,
commutative and — crucially — **idempotent over values** (a register is
the max over hashed observations, so re-observing any value, or merging
a sketch with itself, changes nothing). Spark's foreachBatch gives
at-least-once delivery; for exact counters that forces a transaction
log, but an HLL upsert CONVERGES under replays and duplicate deliveries
with no log at all — the retry merges the same registers again. (The
serialized blob may legally re-encode between sparse and dense forms,
so the replay test pins estimate-level equality, which is what
consumers read.)

Scale posture: per batch, one (day) aggregate over the batch (map-side
partial sketches — register arrays merge in the combiner, so shuffle
volume is |days| x 2^lgk bytes, independent of row count), then a merge
against the stored table, which holds ONE ROW PER DAY — years of data is
thousands of rows. The merge is written to a NEW ``sketch_v<N>``
directory and ``meta`` flips to it afterwards — the versioned-dir
pattern ``heavy_stream.py`` uses. That kills the read-then-rewrite
hazard without the previous driver-side collect of the whole sketch
table (at lgk=14 over a decade of days that collect moved ~60 MB
through the driver per batch; the executors now write the merge
directly). Superseded versions are removed best-effort AFTER the flip,
through the scheme-aware :func:`..sources.storage.rmtree`.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import suppress

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from ..sources.storage import rmtree


def _read_meta(spark: SparkSession, path: str):
    try:
        return spark.read.parquet(f"{path}/meta").collect()[0]  # 1 row
    except AnalysisException:
        return None


def _current_sketches(spark: SparkSession, path: str) -> DataFrame:
    """The committed sketch table (meta names the live version)."""
    meta = _read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no HLL sketch table committed at {path!r}")
    return spark.read.parquet(f"{path}/sketch_v{int(meta['version'])}")


def upsert_hll_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    lgk: int = 12,
) -> dict:
    """Merge ``batch``'s per-day HLL sketches of ``key_col`` into the
    versioned sketch table at ``path`` (``sketch_v<N>`` day/binary rows,
    ``meta`` = live version; see module docstring). Register-max union is
    replay-idempotent, so unlike the count-min stream no batch-id
    watermark is needed — a replayed or crashed-and-retried batch
    converges to the same registers. Returns
    {n_batch_rows, n_days_touched, n_days_total, version}."""
    n_batch = batch.count()
    new = (
        batch.select(F.to_date(ts_col).alias("day"), F.col(key_col))
        .groupBy("day")
        .agg(F.hll_sketch_agg(key_col, F.lit(lgk)).alias("sk"))
    )
    meta = _read_meta(spark, path)
    if meta is None:
        merged, version = new, 0
    else:
        if int(meta["lgk"]) != lgk:
            raise ValueError(
                f"sketch table at {path!r} was built with lgk={int(meta['lgk'])}"
            )
        stored = spark.read.parquet(f"{path}/sketch_v{int(meta['version'])}")
        merged = (
            stored.unionByName(new)
            .groupBy("day")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )
        version = int(meta["version"]) + 1
    # new version dir first (reads the stored version, writes a fresh dir —
    # no read-then-rewrite overlap), then flip meta, then clean up
    merged.write.mode("overwrite").parquet(f"{path}/sketch_v{version}")
    spark.createDataFrame(
        [(version, lgk)], "version long, lgk int"
    ).write.mode("overwrite").parquet(f"{path}/meta")
    n_total = spark.read.parquet(f"{path}/sketch_v{version}").count()
    if meta is not None:  # best-effort cleanup AFTER the commit
        with suppress(Exception):
            rmtree(f"{path}/sketch_v{int(meta['version'])}")
    return {
        "n_batch_rows": int(n_batch),
        "n_days_touched": new.count(),
        "n_days_total": int(n_total),
        "version": version,
    }


def daily_estimates(spark: SparkSession, path: str) -> DataFrame:
    """(day, est) distinct-count estimates from the sketch table, plus the
    all-days merged estimate as a NULL-day row."""
    sk = _current_sketches(spark, path)
    per_day = sk.select("day", F.hll_sketch_estimate("sk").alias("est"))
    total = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).select(F.lit(None).cast("date").alias("day"), "est")
    return per_day.unionByName(total)


def rolling_estimates(
    spark: SparkSession, path: str, window_days: int = 7
) -> DataFrame:
    """(day, est) rolling ``window_days``-day distinct-count estimates —
    the WAU/MAU metric — computed by unioning each day's stored sketch
    with its window predecessors. Because HLL union is a set union over
    the observed values, the rolling number double-counts NOTHING when a
    user is active on several days of the window (the property a naive
    SUM of daily distincts gets wrong).

    Cost: a self-join of the (one-row-per-day) sketch table against its
    window — |days| x window rows of 2^lgk-byte blobs, then one
    ``hll_union_agg`` per end day. Independent of event volume; years of
    data is thousands of rows."""
    sk = _current_sketches(spark, path)
    right = sk.select(F.col("day").alias("_d"), F.col("sk").alias("_sk"))
    joined = sk.select("day").join(
        right,
        (F.col("_d") <= F.col("day"))
        & (F.col("_d") > F.date_sub(F.col("day"), window_days)),
    )
    return (
        joined.groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("est"))
    )


def maintain_hll_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    lgk: int = 12,
    trigger: str = "5 seconds",
    on_batch: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """foreachBatch driver for :func:`upsert_hll_batch`."""

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        stats = upsert_hll_batch(
            batch_df.sparkSession, batch_df, path, ts_col, key_col, lgk
        )
        if on_batch is not None:
            on_batch(stats)

    return (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .start()
    )
