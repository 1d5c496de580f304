"""Streaming count-min sketch maintenance — standing frequency state for
heavy-hitter / skew decisions over an event stream.

The batch operator (``operators/heavy.py``) sketches its input on every
call; this module keeps ONE mergeable sketch current as micro-batches
arrive, so gate decisions (``estimated_top_share`` skew probes) read
standing state instead of re-scanning the lake, and an exact
heavy-hitter extraction (``heavy_hitters_from_sketch``) pays only the
candidate-filtered verify scan.

Unlike the HLL stream (register max — idempotent over values), count-min
cells ADD, so a replayed micro-batch would double-count. Exactly-once
comes from the foreachBatch batch id:

- the sketch lives in VERSIONED directories ``{path}/sketch_v<batch_id>``;
- ``{path}/meta`` (one row: version, last_batch_id) is the commit marker,
  overwritten only after the new version is fully written;
- a batch id <= the committed watermark is skipped outright; a crash
  between the version write and the meta write leaves an orphan version
  dir that the retry simply rewrites with identical content (same
  previous version + same batch = same cells) before committing meta;
- superseded version dirs are removed best-effort AFTER the commit,
  through the scheme-aware :func:`..sources.storage.rmtree` (correctness
  never depends on the cleanup: meta points at the live version).

Scale posture: the per-batch sketch is depth x width cells at most
(24k rows at defaults) regardless of batch size; the merge unions two
cell tables and re-aggregates — cost independent of history length.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import suppress

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from ..operators.heavy import (
    DEFAULT_DEPTH,
    DEFAULT_WIDTH,
    KeyFreqSketch,
    cm_sketch,
    heavy_hitters,
)
from ..sources.storage import rmtree


def _read_meta(spark: SparkSession, path: str):
    try:
        return spark.read.parquet(f"{path}/meta").collect()[0]  # 1 row
    except AnalysisException:
        return None


def upsert_cm_sketch_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: list[str],
    batch_id: int,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    seed: int = 0,
) -> dict:
    """Merge ``batch``'s count-min cells into the versioned sketch at
    ``path``; see the module docstring for the exactly-once protocol.
    Returns {batch_id, applied, n_batch_rows, version}."""
    meta = _read_meta(spark, path)
    if meta is not None:
        if (int(meta["depth"]), int(meta["width"]), int(meta["seed"])) != (
            depth, width, seed,
        ) or list(meta["key_cols"]) != list(key_cols):
            raise ValueError(
                "sketch at {!r} was built with different parameters/keys".format(path)
            )
        if batch_id <= int(meta["last_batch_id"]):
            return {
                "batch_id": batch_id, "applied": False,
                "n_batch_rows": batch.count(), "version": int(meta["version"]),
            }
    n_rows = batch.count()
    new = cm_sketch(batch, key_cols, depth=depth, width=width, seed=seed)
    if meta is not None:
        stored = spark.read.parquet(f"{path}/sketch_v{int(meta['version'])}")
        merged = (
            stored.unionByName(new).groupBy("i", "bucket").agg(
                F.sum("cnt").alias("cnt")
            )
        )
        version = int(meta["version"]) + 1
    else:
        merged, version = new, 0
    merged.write.mode("overwrite").parquet(f"{path}/sketch_v{version}")
    spark.createDataFrame(
        [(version, batch_id, depth, width, seed, list(key_cols))],
        "version long, last_batch_id long, depth int, width int, seed int, "
        "key_cols array<string>",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    if meta is not None:  # best-effort cleanup AFTER the commit
        with suppress(Exception):
            rmtree(f"{path}/sketch_v{int(meta['version'])}")
    return {
        "batch_id": batch_id, "applied": True,
        "n_batch_rows": int(n_rows), "version": version,
    }


def load_key_sketch(spark: SparkSession, path: str) -> KeyFreqSketch:
    """The maintained sketch as the shareable :class:`KeyFreqSketch`
    handle every batch consumer accepts (heavy_hitters, should_salt,
    asof_join_auto)."""
    meta = _read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no sketch committed at {path!r}")
    df = spark.read.parquet(f"{path}/sketch_v{int(meta['version'])}")
    return KeyFreqSketch(
        df, list(meta["key_cols"]), int(meta["depth"]), int(meta["width"]),
        int(meta["seed"]),
    )


def heavy_hitters_from_sketch(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    min_count: int,
) -> DataFrame:
    """EXACT heavy hitters of ``source`` (the stream's source-of-record
    lake) using the MAINTAINED sketch as the candidate filter — the
    sketch pass the batch operator would pay is already standing state.
    Exactness requires the sketch to cover every ``source`` row (the
    maintained-sketch invariant when both are fed by the same stream);
    a sketch that is a superset (stream ahead of the compacted lake)
    only widens the candidate set — the verify keeps the answer exact."""
    sk = load_key_sketch(spark, path)
    return heavy_hitters(source, sk.key_cols, min_count, sketch=sk)


def maintain_cm_sketch_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    seed: int = 0,
    trigger: str = "5 seconds",
    on_batch: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """foreachBatch driver for :func:`upsert_cm_sketch_batch` (the
    micro-batch id is the exactly-once watermark)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        stats = upsert_cm_sketch_batch(
            batch_df.sparkSession, batch_df, path, key_cols, batch_id,
            depth=depth, width=width, seed=seed,
        )
        if on_batch is not None:
            on_batch(stats)

    return (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .start()
    )
