"""Streaming semantic dedup — maintain a survivor corpus from an
embedding stream.

``operators/semdedup.py`` classifies one batch against one corpus; this
module keeps a SURVIVORS table current as micro-batches arrive, the same
one-transform-two-drivers discipline as ``streaming/scd2.py``:
``upsert_semdedup_batch`` is the whole algorithm,
``maintain_semdedup_stream`` merely wires it into ``foreachBatch``.

Design for scale:

- The survivors table is laid out in ``cell=<id>`` partitions (the coarse
  quantizer's cells — the SAME layout the IVF index uses). Each batch's
  classification touches only the cells the batch lands in: the corpus
  side of :func:`semdedup_incremental` is pre-pruned by a cell semi-join,
  so per-batch cost is O(batch + touched-cell rows), never O(corpus).
- Centroids are fixed at bootstrap (persisted IVF index or an explicit
  list) — refitting per batch would drift cell boundaries and silently
  change which historical survivors a new vector is compared against.
- Retry idempotence without a transaction log: arriving ids already
  present in the survivors table are dropped BEFORE classification (an
  id-level anti-join on the pruned cell scan). A failed-then-retried
  micro-batch (Spark's at-least-once contract) therefore converges: rows
  appended before the crash are recognized and skipped, rows not yet
  appended classify exactly as the first attempt did, because first-seen-
  wins ordering makes survival independent of the retry. Duplicate
  DELIVERIES (same vec_id sent twice) converge the same way.

Maintenance: appends land one file set per trigger, so file-listing
cost grows with trigger count — run
``sources/gold_layout.compact_partitions(spark, path, "cell",
["vec_id"])`` in the stream's maintenance window (tested composition)
to merge each cell directory back to few ordered files.

Policy note: this is FIRST-SEEN-WINS — a later near-duplicate of an
existing survivor is dropped even if a batch-mode re-run at the same tau
might have kept it instead (dominance rank is centroid-cosine, and the
stream cannot revoke an already-emitted survivor). That ordering
dependence is inherent to any append-only streaming dedup; batch re-runs
over the full corpus (jobs/semdedup_corpus.py) remain the reproducible
ground truth.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from ..operators.ivf import cluster_for_cell_write
from ..operators.semdedup import semdedup_incremental
from ..sources.storage import HadoopIO


def _read_survivors(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None  # bootstrap: nothing survived yet


def upsert_semdedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    survivors_path: str,
    centroids: list[np.ndarray],
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Classify one micro-batch against the survivors table and append the
    vectors that survive. Returns {n_batch, n_new, n_pruned, n_replayed}.

    The survivors parquet carries (id_col, vec_col, cell), partitioned by
    ``cell``; appends only ever ADD files to the touched cell dirs."""
    from ..operators.ivf import assign_cells_df

    # duplicate ids WITHIN the batch (normal under at-least-once) must
    # collapse before classification — otherwise the keep-join fans out
    # over the copies and appends the same survivor twice, permanently
    src = (
        batch.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).alias(vec_col),
        )
        .filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
        .dropDuplicates([id_col])
    )
    try:
        src = src.persist()
        existing = _read_survivors(spark, survivors_path)
        n_batch = src.count()
        touched = None
        if existing is not None:
            # replay guard reads only the TOUCHED cells' id column: a
            # replayed id always sits in the cell its vector maps to
            # (centroids are fixed), so the cell semi-join — on the STORED
            # partition column — both bounds the read O(touched cells) and
            # lets partition pruning skip the other cell= directories
            touched = assign_cells_df(src, centroids, vec_col=vec_col).select(
                "cell"
            ).distinct()
            seen = existing.join(
                F.broadcast(touched), "cell", "left_semi"
            ).select(id_col)
            fresh = src.join(seen, id_col, "left_anti")
        else:
            fresh = src
        # batch-sized persists: the classification feeds BOTH the count and
        # the append — without them every action re-runs the gram kernels
        fresh = fresh.persist()
        try:
            n_fresh = fresh.count()
            if existing is not None:
                # the corpus side is pruned the same way BEFORE it enters
                # classification — per-batch cost is O(batch + touched-cell
                # rows), never a full-corpus re-scan/re-assign per trigger
                corpus = existing.join(
                    F.broadcast(touched), "cell", "left_semi"
                ).select(id_col, vec_col)
            else:
                corpus = spark.createDataFrame(
                    [], f"{id_col} long, {vec_col} array<float>"
                )
            marks = semdedup_incremental(
                fresh, corpus, tau=tau, centroids=centroids,
                vec_col=vec_col, id_col=id_col,
            )
            keep = marks.filter(~F.col("is_pruned")).select(
                F.col("id").alias(id_col), "cell"
            )
            new_rows = fresh.join(keep, id_col).select(
                id_col, vec_col, "cell"
            ).persist()
            try:
                n_new = new_rows.count()
                if n_new:
                    cluster_for_cell_write(
                        new_rows, order=("cell", id_col)
                    ).write.mode("append").partitionBy("cell").parquet(
                        survivors_path
                    )
            finally:
                new_rows.unpersist(blocking=True)
        finally:
            fresh.unpersist(blocking=True)
    finally:
        src.unpersist(blocking=True)
    return {
        "n_batch": n_batch,
        "n_new": n_new,
        "n_pruned": n_fresh - n_new,
        "n_replayed": n_batch - n_fresh,
    }


def maintain_semdedup_stream(
    stream: DataFrame,
    survivors_path: str,
    checkpoint: str,
    centroids: list[np.ndarray],
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger: str = "5 seconds",
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    on_batch: Callable[[dict], None] | None = None,
) -> StreamingQuery:
    """Keep the survivor corpus current from an embedding stream: every
    micro-batch runs :func:`upsert_semdedup_batch` (optionally after
    ``prepare`` — e.g. a projection shared with the batch job);
    ``on_batch`` receives each batch's stats dict (DQ counters/alerts),
    mirroring :func:`..streaming.dedup_stream.maintain_dedup_stream`."""

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        from ..operators.cachereg import release_tracked

        if prepare is not None:
            batch_df = prepare(batch_df)
        try:
            stats = upsert_semdedup_batch(
                batch_df.sparkSession, batch_df, survivors_path, centroids,
                tau, vec_col, id_col,
            )
            if on_batch is not None:
                on_batch(stats)
        finally:
            # each batch registers 1-4 centroid broadcasts in the shared
            # registry (semdedup_incremental + the Arrow assign paths); a
            # long-running stream must release them per trigger or they
            # accumulate for the stream's lifetime. unpersist is always
            # safe — a re-execution re-fetches from the driver.
            release_tracked()

    return (
        stream.writeStream.foreachBatch(_process)
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def reconcile_semdedup_survivors(
    spark: SparkSession,
    corpus: DataFrame,
    survivors_path: str,
    centroids: list[np.ndarray],
    tau: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Replace the streamed survivors table with the ORDER-FREE batch
    answer (the deterministic alternative to first-seen-wins, VERDICT r5
    item 7): re-run :func:`~..operators.semdedup.semdedup` over the full
    source-of-record ``corpus`` under the SAME fixed centroids and tau,
    and atomically swap the result in. Whatever batch ordering the
    stream ingested under, the table afterwards equals the reproducible
    batch ground truth — a later-arriving vector that outranks an
    earlier survivor (lower centroid-cosine) is admitted and the
    survivor it dominates revoked, which the append-only stream can
    never do. Run it from the stream's maintenance window
    (``jobs/ingest_gate.py embeddings --reconcile``), then let the gate
    resume against the reconciled table.

    The swap reuses the restore-first two-rename protocol of
    ``operators/dedup.compact_dedup_index`` (the Hadoop ``FileSystem``
    backend of ``sources/storage.py``, scheme-agnostic; a crash between
    the renames is recovered by the next run restoring from the staged
    copies before deleting anything).

    Returns {n_corpus, n_survivors, n_revoked, n_admitted} — revoked =
    ids the streamed table kept that the batch answer prunes, admitted =
    ids the batch answer keeps that the streamed table lacked."""
    from ..operators.semdedup import semdedup

    marks = semdedup(
        corpus, tau=tau, centroids=centroids, vec_col=vec_col, id_col=id_col
    )
    keep = marks.filter(~F.col("is_pruned")).select(
        F.col("id").alias(id_col), "cell"
    )
    new_rows = (
        corpus.select(
            F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
        )
        .filter(F.col(vec_col).isNotNull())
        .dropDuplicates([id_col])
        .join(keep, id_col)
        .select(id_col, vec_col, "cell")
    )

    fs = HadoopIO(spark)
    tmp_dir = f"{survivors_path}.reconcile-tmp"
    old_dir = f"{survivors_path}.reconcile-old"
    if not fs.exists(survivors_path):
        # bootstrap OR a crash landed between the two renames of a prior
        # reconcile — restore before deleting anything (same posture as
        # compact_dedup_index)
        if fs.exists(f"{tmp_dir}/_SUCCESS"):
            fs.rename(tmp_dir, survivors_path)
        elif fs.exists(old_dir):
            fs.rename(old_dir, survivors_path)
    fs.rmtree(tmp_dir)
    fs.rmtree(old_dir)

    prev = _read_survivors(spark, survivors_path)
    prev_ids = (
        prev.select(id_col) if prev is not None
        else spark.createDataFrame([], f"{id_col} long")
    )
    cluster_for_cell_write(new_rows, order=("cell", id_col)).write.partitionBy(
        "cell"
    ).parquet(tmp_dir)
    back = spark.read.parquet(tmp_dir)
    n_survivors = back.count()
    n_corpus = corpus.filter(F.col(vec_col).isNotNull()).count()
    n_revoked = prev_ids.join(back.select(id_col), id_col, "left_anti").count()
    n_admitted = back.select(id_col).join(prev_ids, id_col, "left_anti").count()

    if fs.exists(survivors_path):
        fs.rename(survivors_path, old_dir)
    fs.rename(tmp_dir, survivors_path)
    fs.rmtree(old_dir)
    return {
        "n_corpus": n_corpus,
        "n_survivors": n_survivors,
        "n_revoked": n_revoked,
        "n_admitted": n_admitted,
    }
