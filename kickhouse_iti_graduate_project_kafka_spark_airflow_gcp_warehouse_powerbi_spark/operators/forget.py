"""Forget / takedown lifecycle — remove documents and vectors from every
persisted index (reference behavior: a warehouse user can DELETE from
ClickHouse tables; our index family needs the same lifecycle verb for
takedown / right-to-be-forgotten requests against a training corpus).

Completes the index lifecycles: build → append → compact → **forget**.
Two strategies, picked per index by what its layout can prune:

- **Partition-pruned physical delete** where the layout localizes a
  row's home: IVF vectors / IVF-PQ codes / semdedup survivors are
  ``cell=``-partitioned (an id's cell is determined by its vector, and
  the stored rows carry it), and BM25 postings are ``term_bucket=``-
  partitioned (a doc's postings live exactly in its terms' buckets, and
  a takedown request carries the text, hence the terms). Only affected
  partitions rewrite; the rest of a 100 TB index is untouched.
- **Tombstones + vacuum** for the dedup index: its big table (the
  shingle inverted index) is keyed by shingle hash, not doc id, so a
  physical delete is a full-table rewrite. Forgetting appends the ids
  (and content fingerprints) to tombstone tables that the absorb gate
  anti-joins per batch — O(batch × broadcast) — and a separate
  ``vacuum_dedup_index`` pays the rewrite in a maintenance window.

Crash posture (no transaction log, same discipline as the append paths):
every step is an anti-join against ids that, once applied, matches
nothing on retry — re-running the same forget call converges. Orderings
are chosen so a mid-crash state is never *wrong* for queries, only
stale: BM25 removes postings before doclen before meta (a doc with no
postings can never be returned; meta is corrected last), cell tables
rewrite partition-by-partition (a retry re-finds only the cells still
containing the ids).

What forget does NOT do, stated honestly:

- **Sketches cannot forget.** HLL registers and count-min cells are
  additive-only; removing a doc's contribution is information-
  theoretically impossible. The maintained sketches keep counting the
  forgotten doc until rebuilt from the surviving corpus (both streaming
  maintainers already expose a rebuild path).
- **Dedup decisions are not counterfactual.** A doc rejected in the
  past BECAUSE it duplicated a now-forgotten doc stays rejected;
  forgetting X only stops X from blocking FUTURE batches. The soak-
  tested retry discipline is unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.storage import rmtree


def _ids_frame(ids: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        ids.select(F.col(src_col).cast("long").alias(dst_col))
        .filter(F.col(dst_col).isNotNull())
        .distinct()
    )


#: Past this many ids, drop the broadcast hint: a bulk purge (millions of
#: ids) should anti-join via shuffle — shipping the whole set to every
#: executor and probing it per row is slower AND risks driver/executor
#: OOM. Takedown-sized sets (the design case) stay broadcast.
BROADCAST_IDS_LIMIT = 1_000_000


def _delete_set(ids: DataFrame, limit: int | None = None) -> DataFrame:
    """The delete-set frame with an explicit join-strategy decision:
    ``F.broadcast`` for takedown-sized sets, plain (shuffle anti-join)
    past the limit. The size probe is bounded — ``limit(n+1).count()``
    never scans a huge set to the end."""
    n_limit = BROADCAST_IDS_LIMIT if limit is None else limit
    n = ids.limit(n_limit + 1).count()
    return F.broadcast(ids) if n <= n_limit else ids


def _delete_from_partitioned(
    spark: SparkSession,
    table: str,
    part_col: str,
    ids: DataFrame,
    id_col: str,
    parts: list | None = None,
) -> dict:
    """Anti-join ``ids`` out of ``table`` (Hive-partitioned on
    ``part_col``), rewriting ONLY partitions that contain them.

    ``parts``: optional pre-known affected partition values (BM25 passes
    the query-side term buckets); when None they come from a column-
    pruned semi-join scan — (id, part) columns only, never payload.

    Dynamic partition overwrite replaces exactly the partitions present
    in the rewritten frame; a partition whose rows are ALL forgotten
    produces no output rows, so its directory is removed explicitly —
    without that step the delete would silently not happen there."""
    df = spark.read.parquet(table)
    ids = _delete_set(ids)  # broadcast only while takedown-sized
    if parts is None:
        parts = sorted(
            r["p"]
            for r in df.join(ids, id_col, "left_semi")
            .select(F.col(part_col).alias("p"))
            .distinct()
            .collect()
        )
    if not parts:
        return {"partitions_rewritten": 0, "partitions_dropped": 0, "n_deleted": 0}
    affected = df.filter(F.col(part_col).isin(list(parts)))
    # localCheckpoint: the rewrite's source is the table being
    # overwritten — materialize the survivors (affected partitions only,
    # bounded) before any directory is touched
    remaining = affected.join(ids, id_col, "left_anti").localCheckpoint()
    n_deleted = affected.count() - remaining.count()
    live = {r["p"] for r in remaining.select(F.col(part_col).alias("p")).distinct().collect()}
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if live:
            (
                remaining.filter(F.col(part_col).isin(list(live)))
                .write.mode("overwrite")
                .partitionBy(part_col)
                .parquet(table)
            )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    emptied = [p for p in parts if p not in live]
    for p in emptied:
        rmtree(f"{table}/{part_col}={p}")
    return {
        "partitions_rewritten": len(live),
        "partitions_dropped": len(emptied),
        "n_deleted": int(n_deleted),
    }


# --------------------------------------------------------------------------
# cell-partitioned vector tables
# --------------------------------------------------------------------------
def forget_from_ivf_index(spark: SparkSession, path: str, ids: DataFrame,
                          id_col: str = "vec_id") -> dict:
    """Delete vectors from an IVF-Flat index. Centroids stay frozen (the
    append contract); only ``cell=`` partitions holding the ids rewrite."""
    return _delete_from_partitioned(
        spark, f"{path}/vectors", "cell", _ids_frame(ids, id_col, "n_id"), "n_id"
    )


def forget_from_ivfpq_index(spark: SparkSession, path: str, ids: DataFrame,
                            id_col: str = "vec_id") -> dict:
    """Delete codes from an IVF-PQ index. Quantizers stay frozen."""
    return _delete_from_partitioned(
        spark, f"{path}/codes", "cell", _ids_frame(ids, id_col, "n_id"), "n_id"
    )


def forget_from_survivors(spark: SparkSession, path: str, ids: DataFrame,
                          id_col: str = "vec_id") -> dict:
    """Delete vectors from the semdedup survivors corpus. Docs that were
    pruned in the past because a now-forgotten survivor dominated them do
    NOT come back (module docstring: decisions are not counterfactual —
    ``reconcile_semdedup_survivors`` over the source of record is the
    order-free repair if that matters)."""
    return _delete_from_partitioned(
        spark, path, "cell", _ids_frame(ids, id_col, id_col), id_col
    )


# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------
def forget_from_bm25_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Remove documents from a BM25 index so queries answer exactly as a
    fresh build over the surviving corpus (equality-tested).

    The takedown request carries the text, so the doc's postings buckets
    are knowable without scanning: tokenize the request, hash to
    ``term_bucket`` values, rewrite only those partitions. doclen (the
    id registry, one 16-byte row per doc) rewrites via localCheckpoint;
    meta (n_docs, avgdl over dl>0 docs) recomputes from the new doclen —
    the same one-aggregate cost the build path pays.

    Order = postings → doclen → meta: after a mid-crash the forgotten
    docs already cannot be returned (no postings), and a retry converges
    (every step anti-joins ids that then match nothing)."""
    from .bm25 import tokens

    meta = spark.read.parquet(f"{path}/meta").collect()[0]  # 1 row
    n_buckets = int(meta["term_buckets"])
    ids = _ids_frame(docs, id_col, "doc_id")
    buckets = sorted(
        r["b"]
        for r in docs.select(F.explode(F.array_distinct(tokens(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .distinct()
        .collect()
    )
    st = _delete_from_partitioned(
        spark, f"{path}/postings", "term_bucket", ids, "doc_id", parts=buckets
    )
    doclen = spark.read.parquet(f"{path}/doclen")
    remaining = doclen.join(_delete_set(ids), "doc_id", "left_anti").localCheckpoint()
    n_forgotten = doclen.count() - remaining.count()
    remaining.write.mode("overwrite").parquet(f"{path}/doclen")
    stats = (
        spark.read.parquet(f"{path}/doclen")
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
        .withColumn("term_buckets", F.lit(n_buckets))
    )
    stats.write.mode("overwrite").parquet(f"{path}/meta")
    row = spark.read.parquet(f"{path}/meta").collect()[0]
    return {
        **st,
        "n_forgotten": int(n_forgotten),
        "n_docs": int(row["n_docs"]),
        "avgdl": float(row["avgdl"]) if row["avgdl"] is not None else 0.0,
    }


# --------------------------------------------------------------------------
# dedup index: tombstones + vacuum
# --------------------------------------------------------------------------
def forget_from_dedup_index(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Tombstone documents in a dedup index: append their ids to
    ``{path}/id_tombstones`` and their content fingerprints to
    ``{path}/fp_tombstones``. ``absorb_batch_into_index`` anti-joins both
    per batch (broadcast-sized), so forgotten content stops blocking new
    arrivals IMMEDIATELY; the physical rewrite of the corpus-scale
    shingle table is deferred to :func:`vacuum_dedup_index`.

    Idempotent: re-appending the same ids only grows the tombstone
    tables with duplicates that the read path dedupes; vacuum clears
    them."""
    from ..functions.text import fingerprint64

    ids = _ids_frame(docs, id_col, "_cid")
    fps = docs.select(fingerprint64(text_col).alias("_fp")).distinct()
    n = ids.count()
    ids.write.mode("append").parquet(f"{path}/id_tombstones")
    fps.write.mode("append").parquet(f"{path}/fp_tombstones")
    return {"n_tombstoned": int(n)}


def read_dedup_tombstones(
    spark: SparkSession, path: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """(id_tombstones, fp_tombstones) as distinct frames, or None when a
    table does not exist (no forget ever ran — the common case pays one
    existence probe, no join)."""
    from pyspark.sql.utils import AnalysisException

    out = []
    for tbl in ("id_tombstones", "fp_tombstones"):
        try:
            out.append(spark.read.parquet(f"{path}/{tbl}").distinct())
        except AnalysisException:
            out.append(None)
    return out[0], out[1]


def clear_tombstones_for(
    spark: SparkSession,
    path: str,
    accepted: DataFrame,
    text_col: str,
    id_col: str,
) -> None:
    """Un-tombstone re-accepted content: when the absorb gate accepts a
    doc whose id or content fingerprint is tombstoned (re-licensed /
    re-submitted after a takedown), that tombstone must be withdrawn —
    otherwise a later vacuum would delete index rows the NEW owner relies
    on (the accepted doc's fingerprint physically survives from its
    forgotten predecessor; absorb re-livens that row instead of
    duplicating it). Tombstone tables are takedown-request-sized, so the
    rewrite is trivial."""
    from ..functions.text import fingerprint64

    id_ts, fp_ts = read_dedup_tombstones(spark, path)
    if id_ts is not None:
        keep = id_ts.join(
            F.broadcast(accepted.select(F.col(id_col).alias("_cid"))),
            "_cid",
            "left_anti",
        ).localCheckpoint()
        keep.write.mode("overwrite").parquet(f"{path}/id_tombstones")
    if fp_ts is not None:
        fps = accepted.select(fingerprint64(text_col).alias("_fp")).distinct()
        keep = fp_ts.join(F.broadcast(fps), "_fp", "left_anti").localCheckpoint()
        keep.write.mode("overwrite").parquet(f"{path}/fp_tombstones")


def vacuum_dedup_index(spark: SparkSession, path: str) -> dict:
    """Physically apply the dedup tombstones: rewrite shingles / sizes /
    doc_ids minus id tombstones and fingerprints minus fp tombstones,
    then clear the tombstone tables. This is the maintenance-window op —
    the shingle rewrite scans the inverted index once (the same cost
    class as ``compact_dedup_index``); the absorb gate never pays it.

    Retry-convergent: each rewrite is an anti-join (second application
    matches nothing); tombstones clear LAST, so a crash anywhere leaves
    them in place and the retry redoes only cheap no-op rewrites."""
    id_ts, fp_ts = read_dedup_tombstones(spark, path)
    if id_ts is None and fp_ts is None:
        return {"vacuumed": 0}
    n = 0
    if id_ts is not None:
        id_b = _delete_set(id_ts)  # tombstone tables can grow past takedown size
        n = id_ts.count()
        for tbl in ("shingles", "sizes", "doc_ids"):
            src = spark.read.parquet(f"{path}/{tbl}")
            remaining = src.join(id_b, "_cid", "left_anti").localCheckpoint()
            remaining.write.mode("overwrite").parquet(f"{path}/{tbl}")
    if fp_ts is not None:
        src = spark.read.parquet(f"{path}/fingerprints")
        remaining = src.join(_delete_set(fp_ts), "_fp", "left_anti").localCheckpoint()
        remaining.write.mode("overwrite").parquet(f"{path}/fingerprints")
    for tbl in ("id_tombstones", "fp_tombstones"):
        rmtree(f"{path}/{tbl}")
    return {"vacuumed": int(n)}


def forget_from_pipeline(
    spark: SparkSession,
    paths,
    docs: DataFrame | None = None,
    vec_ids: DataFrame | None = None,
) -> dict:
    """One takedown call across the full-pipeline state
    (``streaming/pipeline.PipelinePaths``): docs leave the dedup
    (tombstoned) and BM25 indexes AND the curated parts table (a parts
    mutation — per-part anti-join rewrite, projections recomputed
    atomically); vectors leave survivors, IVF, and IVF-PQ. Sketches are
    additive-only and keep counting (module docstring)."""
    out: dict = {}
    if docs is not None:
        out["dedup"] = forget_from_dedup_index(spark, paths.dedup_index, docs)
        out["bm25"] = forget_from_bm25_index(spark, paths.bm25_index, docs)
        curated = getattr(paths, "curated", None)
        if curated is not None:
            from ..sources.parts import mutate_parts

            try:
                out["curated"] = mutate_parts(
                    spark, curated, delete_ids=docs, id_col="doc_id"
                )
            except FileNotFoundError:
                pass  # pipeline ran before the landing stage existed
    if vec_ids is not None:
        out["survivors"] = forget_from_survivors(spark, paths.survivors, vec_ids)
        out["ivf"] = forget_from_ivf_index(spark, paths.ivf_index, vec_ids)
        out["ivfpq"] = forget_from_ivfpq_index(spark, paths.ivfpq_index, vec_ids)
    return out
