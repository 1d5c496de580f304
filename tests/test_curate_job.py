"""End-to-end corpus curation job: stage accounting and output layout."""

import os
import sys

from pyspark.sql import functions as F

from conftest import JOBS_DIR

sys.path.insert(0, JOBS_DIR)

from curate_corpus import curate  # noqa: E402


def test_curate_end_to_end(spark, sf_oracle, tmp_path):
    out = str(tmp_path / "gold")
    summary = curate(spark, sf_oracle, out, threshold=0.5, target_tokens=2000)

    # monotone shrinkage: every stage keeps a subset
    assert summary["input_docs"] >= summary["after_exact_dedup"] >= summary["after_neardup_dedup"]
    # the fixture corpus plants real dupes — the pipeline must actually drop some
    assert summary["after_neardup_dedup"] < summary["input_docs"]
    assert summary["n_shards"] >= 2

    # written layout: hive-partitioned by shard, readable, doc-unique
    dirs = [d for d in os.listdir(out) if d.startswith("shard_id=")]
    assert len(dirs) == summary["n_shards"]
    back = spark.read.parquet(out)
    assert back.count() == summary["after_neardup_dedup"]
    assert back.select("doc_id").distinct().count() == summary["after_neardup_dedup"]

    # redaction really happened: denylist terms are gone from the gold text
    assert back.filter(F.col("text").rlike(r"\b(key|hash|secret)\b")).count() == 0
    # shard totals respect the target bound (< target + max doc weight)
    totals = back.groupBy("shard_id").agg(F.sum("n_tok").alias("t"))
    max_w = back.agg(F.max("n_tok")).collect()[0][0]
    assert all(r["t"] < 2000 + max_w for r in totals.collect())


def test_curate_with_quality_gate_and_span_rewrite(spark, sf_oracle, tmp_path):
    """The optional stages compose: the quality gate shrinks the corpus
    before dedup, the span rewrite strips duplicated runs from survivors
    and the shard budgets see the post-rewrite token mass."""
    out = str(tmp_path / "gold_full")
    summary = curate(
        spark, sf_oracle, out, threshold=0.5, target_tokens=2000,
        quality_gate=True, span_rewrite=True,
    )
    assert summary["after_quality_gate"] <= summary["input_docs"]
    assert summary["after_exact_dedup"] <= summary["after_quality_gate"]
    assert summary["after_neardup_dedup"] <= summary["after_exact_dedup"]
    assert summary["span_tokens_removed"] >= 0

    back = spark.read.parquet(out)
    assert back.count() == summary["after_neardup_dedup"]
    # n_tok matches the REWRITTEN text, and shard budgets hold against it
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.functions.text import (
        token_count,
    )

    mismatch = back.filter(token_count("text") != F.col("n_tok")).count()
    assert mismatch == 0
    totals = back.groupBy("shard_id").agg(F.sum("n_tok").alias("t"))
    max_w = back.agg(F.max("n_tok")).collect()[0][0]
    assert all(r["t"] < 2000 + max_w for r in totals.collect())

    # the gate really uses the classifier's sign test: every kept doc's
    # PRE-REWRITE cleaned text scores >= 0... (rewrite happens after the
    # gate, so re-scoring the final text is not the invariant); instead
    # assert the drop count matches a direct filter over the cleaned stage
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.quality import (
        hashed_quality_scores,
    )

    n_keep = (
        hashed_quality_scores(
            spark.read.parquet(f"{sf_oracle}/documents.parquet"), "text", "doc_id"
        )
        .filter("keep")
        .count()
    )
    # redaction rewrites some tokens before the gate, so allow the counts
    # to differ — but the gate must actually have dropped something at
    # this fixture scale
    assert summary["after_quality_gate"] < summary["input_docs"]
    assert n_keep > 0


def test_curate_with_benchmark_decontamination(spark, sf_small, tmp_path):
    """--benchmark excises eval-overlapping 5-gram spans from survivors;
    a planted leak disappears from the gold output."""
    leaked = "question four answer is blue exactly"
    bench_path = str(tmp_path / "bench")
    spark.createDataFrame(
        [(900, f"benchmark prompt {leaked} suffix")], "doc_id long, text string"
    ).write.parquet(bench_path)

    # plant the leak into one fixture doc via a side corpus dir
    import shutil

    side = str(tmp_path / "sf")
    shutil.copytree(sf_small, side)
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    import os

    os.remove(f"{side}/documents.parquet") if os.path.isfile(
        f"{side}/documents.parquet"
    ) else shutil.rmtree(f"{side}/documents.parquet", ignore_errors=True)
    from pyspark.sql import functions as FF

    planted = docs.withColumn(
        "text",
        FF.when(
            FF.col("doc_id") == 7, FF.concat(FF.col("text"), FF.lit(f" {leaked}"))
        ).otherwise(FF.col("text")),
    )
    planted.coalesce(1).write.parquet(f"{side}/documents.parquet")

    out = str(tmp_path / "gold")
    summary = curate(spark, side, out, threshold=0.5, target_tokens=2000,
                     benchmark=bench_path)
    assert summary["benchmark_tokens_removed"] >= 6
    back = spark.read.parquet(out)
    assert back.filter(F.col("text").contains("answer is blue")).count() == 0
    # doc 7 survives, shorn of the leak, with a consistent token count
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.functions.text import (
        token_count,
    )

    assert back.filter(token_count("text") != F.col("n_tok")).count() == 0
