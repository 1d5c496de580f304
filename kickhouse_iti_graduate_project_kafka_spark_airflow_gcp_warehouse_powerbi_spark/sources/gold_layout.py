"""Gold-table physical layout: partitioning + in-file ordering (SURVEY §4).

The reference lays out facts as ``PARTITION BY toYYYYMM(event_date)`` with
``ORDER BY (event_date, league_sk, idEvent)`` and an 8192-row index
(ClickHouse DDL 143-146). The Spark/Parquet analogue:

- month partition column -> Hive-style directory partitioning (partition
  pruning on date predicates);
- ``sortWithinPartitions`` on the ORDER BY keys -> parquet row-group
  min/max statistics become selective (the data-skipping index analogue);
- one writer wave per partition via repartition on the partition column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import io_for, join


def write_gold(
    df: DataFrame,
    path: str,
    partition_col: str,
    order_by: Sequence[str],
    mode: str = "overwrite",
) -> None:
    # the sort MUST lead with the partition column: FileFormatWriter requires
    # partition-column ordering and silently re-sorts (dropping the secondary
    # keys) when the incoming order doesn't start with it
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, *order_by)
        .write.mode(mode)
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_gold(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    order_by: Sequence[str],
    target_rows_per_file: int = 1_000_000,
    predicate: str | None = None,
) -> dict:
    """Small-file compaction — the MergeTree background-merge analogue.

    Streaming appends (one file per micro-batch per partition) degrade scan
    throughput: every file costs a task + footer read. This rewrites the
    affected partitions into ``ceil(rows / target_rows_per_file)`` files
    each, restoring the in-file ``order_by`` so row-group min/max skipping
    works again after the rewrite.

    Uses dynamic partition overwrite (only partitions present in the
    rewritten frame are replaced — concurrent writers to OTHER partitions
    are untouched).
    ``predicate`` restricts the sweep (e.g. ``"month >= '2026-01'"``) so a
    100 TB table compacts incrementally, newest partitions first.

    Returns {files_before, files_after, rows} for observability.
    """
    import math

    df = spark.read.parquet(path)
    if predicate:
        df = df.filter(predicate)
    rows = df.count()
    if rows == 0:
        return {"files_before": 0, "files_after": 0, "rows": 0}
    io, base = io_for(path)

    def _count_files() -> int:
        # through the storage backend, so URI tables count like local ones
        return sum(
            name.endswith(".parquet") and not name.startswith(".")
            for entry in io.list_names(base)
            if "=" in entry
            for name in io.list_names(join(io, base, entry))
        )

    before = _count_files()
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    # Repartitioning by the partition value ALONE would send every row of
    # one Hive partition to a single task → one file, however large the
    # partition. Spread each partition across ceil(partition_rows/target)
    # buckets (per-partition row counts via a broadcast self-agg join) so
    # an oversized partition splits into target-sized files while small
    # partitions stay one file.
    counts = df.groupBy(F.col(partition_col).alias("_pc")).agg(
        F.count(F.lit(1)).alias("_part_rows")
    )
    # spread MUST be deterministic: this stage feeds an overwrite of its
    # own source table, and a nondeterministic expression (rand) under a
    # repartition is the classic task-retry duplicate/lost-row hazard —
    # recomputation must land every row in the same bucket. Fall back to
    # hashing ALL columns when no order_by is given.
    spread = F.xxhash64(*(order_by if order_by else df.columns))
    buckets = F.greatest(
        F.lit(1), F.ceil(F.col("_part_rows") / F.lit(target_rows_per_file))
    )
    # eqNullSafe: a NULL partition value (__HIVE_DEFAULT_PARTITION__) must
    # join its row count like any other partition — a plain equi-join
    # would silently drop those rows from the rewrite and dynamic
    # overwrite would leave the null partition permanently uncompacted
    bucketed = (
        df.join(
            F.broadcast(counts), F.col(partition_col).eqNullSafe(F.col("_pc"))
        )
        .withColumn("_compact_bucket", F.pmod(spread, buckets).cast("int"))
        .drop("_part_rows", "_pc")
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            bucketed.repartition(n_files, F.col(partition_col), F.col("_compact_bucket"))
            .sortWithinPartitions(partition_col, *order_by)
            .drop("_compact_bucket")
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return {"files_before": before, "files_after": _count_files(), "rows": rows}


def retention_sweep(
    spark: SparkSession, path: str, partition_col: str, min_keep_value: str
) -> dict:
    """Partition-level TTL — the warehouse analogue of the reference's
    Kafka topic retention (BASELINE.md: 12 h..7 d per topic). Drops every
    Hive partition directory whose value sorts below ``min_keep_value``
    (works for month='YYYY-MM' / date strings — lexicographic == temporal).

    Deleting directories (not rows) keeps the sweep metadata-only: no
    rewrite of surviving data, no tombstones — at 100 TB retention must
    never cost a table scan. Listing and deletes go through
    :mod:`.storage`, so ``file:``/``hdfs://``/``s3a://`` tables sweep like
    local ones.
    """
    io, base = io_for(path)
    dropped = []
    for entry in sorted(io.list_names(base)):
        if "=" not in entry:
            continue
        col, _, value = entry.partition("=")
        if col == partition_col and value < min_keep_value:
            io.delete(join(io, base, entry))
            dropped.append(value)
    return {"dropped_partitions": dropped, "kept": min_keep_value}
