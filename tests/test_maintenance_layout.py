"""Gold-layout maintenance: small-file compaction (merge analogue) and
partition retention (TTL analogue)."""

import glob
import os

from pyspark.sql import functions as F

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.gold_layout import (
    compact_partitions,
    retention_sweep,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
    load_table,
)


def _fragmented_table(spark, sf_small, path):
    """Simulate streaming appends: many tiny files per month partition."""
    orders = load_table(spark, sf_small, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    for i in range(4):  # 4 'micro-batches'
        (
            orders.filter(F.col("o_orderkey") % 4 == i)
            .repartition(3)
            .write.mode("append")
            .partitionBy("month")
            .parquet(path)
        )
    return orders


def test_compaction_shrinks_files_preserves_rows(spark, sf_small, tmp_path):
    path = str(tmp_path / "gold_orders")
    orders = _fragmented_table(spark, sf_small, path)
    n_expected = orders.count()
    checksum_before = (
        spark.read.parquet(path).agg(F.sum(F.xxhash64("o_orderkey", "month").cast("decimal(38,0)"))).collect()[0][0]
    )

    stats = compact_partitions(
        spark, path, "month", ["o_orderdate", "o_orderkey"], target_rows_per_file=100_000
    )
    assert stats["rows"] == n_expected
    assert stats["files_after"] < stats["files_before"]

    back = spark.read.parquet(path)
    assert back.count() == n_expected
    checksum_after = back.agg(F.sum(F.xxhash64("o_orderkey", "month").cast("decimal(38,0)"))).collect()[0][0]
    assert checksum_after == checksum_before


def test_compaction_counts_files_on_every_scheme(spark, scheme_root):
    """files_before/files_after count the table's data files through the
    storage backend: a ``file:`` or viewfs table reports the same counts
    as a bare path (3 writer tasks x 2 months = 6 files, then 1 per month)."""
    root, _local = scheme_root
    path = f"{root}/t"
    (
        spark.range(100)
        .select((F.col("id") % 2).cast("string").alias("month"), F.col("id").alias("v"))
        .repartition(3)
        .write.partitionBy("month")
        .parquet(path)
    )
    stats = compact_partitions(spark, path, "month", ["v"])
    assert stats == {"files_before": 6, "files_after": 2, "rows": 100}


def test_compaction_with_predicate_touches_only_matching(spark, sf_small, tmp_path):
    path = str(tmp_path / "gold_orders2")
    _fragmented_table(spark, sf_small, path)
    months = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("month=")
    )
    target, untouched = months[-1], months[0]
    files_untouched_before = set(glob.glob(f"{path}/month={untouched}/*.parquet"))

    compact_partitions(
        spark,
        path,
        "month",
        ["o_orderkey"],
        target_rows_per_file=100_000,
        predicate=f"month = '{target}'",
    )
    # dynamic overwrite replaced only the predicated partition
    assert set(glob.glob(f"{path}/month={untouched}/*.parquet")) == files_untouched_before
    assert len(glob.glob(f"{path}/month={target}/*.parquet")) == 1


def _sweep_drops_old_partitions(spark, sf_small, tmp_path, scheme):
    path = str(tmp_path / "gold_orders3")
    orders = _fragmented_table(spark, sf_small, path)
    months = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("month=")
    )
    cutoff = months[len(months) // 2]
    out = retention_sweep(spark, f"{scheme}{path}", "month", cutoff)
    assert out["dropped_partitions"] == [m for m in months if m < cutoff]
    assert sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("month=")
    ) == [m for m in months if m >= cutoff]

    back = spark.read.parquet(path)
    assert back.agg(F.min("month")).collect()[0][0] >= cutoff
    expected_kept = orders.filter(F.col("month") >= cutoff).count()
    assert back.count() == expected_kept


def test_retention_sweep_drops_old_partitions(spark, sf_small, tmp_path):
    _sweep_drops_old_partitions(spark, sf_small, tmp_path, "")


def test_retention_sweep_drops_old_partitions_on_file_uri(spark, sf_small, tmp_path):
    """The ``file:`` URI runs the Hadoop FileSystem backend — the sweep
    must not assume a local path."""
    _sweep_drops_old_partitions(spark, sf_small, tmp_path, "file:")


def test_compaction_splits_oversized_partition(spark, sf_small, tmp_path):
    """A Hive partition larger than target_rows_per_file must be rewritten
    as multiple target-sized files, not collapsed into one giant file
    (round-2 advisor finding: repartition on the partition value alone
    sent every row of a partition to a single task)."""
    path = str(tmp_path / "gold_orders4")
    orders = _fragmented_table(spark, sf_small, path)
    months = sorted(
        d.split("=")[1] for d in os.listdir(path) if d.startswith("month=")
    )
    per_month = {
        r["month"]: r["n"]
        for r in orders.groupBy("month").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # pick a target that forces >=3 files for the biggest month
    big_month = max(per_month, key=per_month.get)
    target = max(1, per_month[big_month] // 3)

    compact_partitions(
        spark, path, "month", ["o_orderdate", "o_orderkey"], target_rows_per_file=target
    )
    import math

    for m in months:
        n_files = len(glob.glob(f"{path}/month={m}/*.parquet"))
        want = math.ceil(per_month[m] / target)
        # exact spread is hash-bucketed; assert the promise that matters:
        # oversized partitions split, and never beyond the bucket count
        assert n_files <= want
        if want >= 3:
            assert n_files >= 2, f"partition {m} not split ({n_files} files)"

    back = spark.read.parquet(path)
    assert back.count() == orders.count()
