"""Incremental SCD2 maintenance (streaming/scd2.py): batch-twin
equivalence, retry idempotence, and the bucket-pruned layout."""

from datetime import datetime

from pyspark.sql import functions as F

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.scd import (
    scd2_collapse,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.scd2 import (
    KB_COL,
    maintain_scd2_stream,
    read_scd2_dim,
    upsert_scd2_batch,
)


def _ts(minute):
    return datetime(2024, 1, 1, 0, minute)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "key string, seq long, ts timestamp, attr string")


BATCH1 = [("a", 0, _ts(0), "x"), ("a", 1, _ts(1), "x"), ("a", 2, _ts(2), "y")]
BATCH2 = [("a", 3, _ts(3), "y"), ("a", 4, _ts(4), "z"), ("b", 0, _ts(5), "m")]
BATCH3 = [("a", 5, _ts(6), "z"), ("c", 0, _ts(7), "q")]
ALL = BATCH1 + BATCH2 + BATCH3


def _apply(spark, path, rows):
    upsert_scd2_batch(
        spark, _frame(spark, rows), path, keys=["key"], attr_col="attr",
        ts_col="ts", tiebreak=["seq"], n_buckets=4,
    )


def _snapshot(spark, path):
    return sorted(
        (tuple(r) for r in read_scd2_dim(spark, path).collect()),
        key=lambda t: (t[0], t[1]),
    )


def _expected(spark, rows):
    df = scd2_collapse(
        _frame(spark, rows), keys=["key"], attr_col="attr", ts_col="ts",
        tiebreak=["seq"], with_last_ts=True,
    )
    return sorted((tuple(r) for r in df.collect()), key=lambda t: (t[0], t[1]))


def test_incremental_equals_batch_collapse(spark, tmp_path):
    path = str(tmp_path / "dim")
    for rows in (BATCH1, BATCH2, BATCH3):
        _apply(spark, path, rows)
    assert _snapshot(spark, path) == _expected(spark, ALL)


def test_each_prefix_is_a_correct_dimension(spark, tmp_path):
    """After every batch the dim equals the batch collapse of the prefix:
    continuation-absorb, close-and-append, and new-key paths all stitch."""
    path = str(tmp_path / "dim")
    seen = []
    for rows in (BATCH1, BATCH2, BATCH3):
        _apply(spark, path, rows)
        seen += rows
        assert _snapshot(spark, path) == _expected(spark, seen)


def test_retry_of_last_batch_is_noop(spark, tmp_path):
    path = str(tmp_path / "dim")
    for rows in (BATCH1, BATCH2, BATCH3):
        _apply(spark, path, rows)
    before = _snapshot(spark, path)
    _apply(spark, path, BATCH3)  # at-least-once redelivery
    _apply(spark, path, BATCH2)  # stale redelivery from further back
    assert _snapshot(spark, path) == before


def test_bucket_layout_prunes_untouched_partitions(spark, tmp_path):
    path = str(tmp_path / "dim")
    _apply(spark, path, BATCH1 + BATCH2 + [("c", 0, _ts(7), "q")])
    raw = spark.read.parquet(path)
    buckets = {r[KB_COL] for r in raw.select(KB_COL).distinct().collect()}
    assert len(buckets) >= 2  # keys actually spread across buckets
    # rewriting only key 'a' must leave other buckets' files untouched
    import os

    def mtimes(skip_kb):
        out = {}
        for kb_dir in os.listdir(path):
            if not kb_dir.startswith(f"{KB_COL}="):
                continue
            if kb_dir == f"{KB_COL}={skip_kb}":
                continue
            d = os.path.join(path, kb_dir)
            out[kb_dir] = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
        return out

    a_bucket = raw.filter(F.col("key") == "a").select(KB_COL).first()[0]
    before = mtimes(a_bucket)
    _apply(spark, path, [("a", 9, _ts(20), "w")])
    assert mtimes(a_bucket) == before


def test_streaming_wrapper_bootstrap(spark, tmp_path):
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    _frame(spark, ALL).write.parquet(src)
    stream = spark.readStream.schema(
        "key string, seq long, ts timestamp, attr string"
    ).parquet(src)
    q = maintain_scd2_stream(
        stream, dim, ckpt, keys=["key"], attr_col="attr", ts_col="ts",
        tiebreak=["seq"], n_buckets=4, trigger="1 seconds",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _snapshot(spark, dim) == _expected(spark, ALL)


def test_backfill_cli(spark, tmp_path, monkeypatch):
    """jobs/scd2_dim.py backfill bootstraps a dim equal to the batch twin."""
    import sys as _sys

    src = str(tmp_path / "events")
    dim = str(tmp_path / "dim")
    _frame(spark, ALL).write.parquet(src)
    _sys.path.insert(0, JOBS_DIR)
    import scd2_dim

    monkeypatch.setattr(
        _sys, "argv",
        ["scd2_dim.py", "backfill", "--events", src, "--dim", dim,
         "--keys", "key", "--attr", "attr", "--ts", "ts",
         "--tiebreak", "seq", "--buckets", "4"],
    )
    scd2_dim.main()
    assert _snapshot(spark, dim) == _expected(spark, ALL)
