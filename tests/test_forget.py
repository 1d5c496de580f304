"""Forget / takedown lifecycle (operators/forget.py): partition-pruned
physical deletes for the cell- and bucket-partitioned indexes, tombstone
+ vacuum for the dedup index, equality with fresh builds over the
surviving corpus, and retry convergence."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.bm25 import (
    bm25_topk_indexed,
    build_bm25_index,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
    absorb_batch_into_index,
    build_dedup_index,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.forget import (
    forget_from_bm25_index,
    forget_from_dedup_index,
    forget_from_ivf_index,
    forget_from_ivfpq_index,
    forget_from_survivors,
    read_dedup_tombstones,
    vacuum_dedup_index,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
    build_ivf_index,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.pq import (
    build_ivfpq_index,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
    load_table,
)


def _rows(df, *cols):
    sel = df.select(*cols) if cols else df
    return sorted((tuple(r) for r in sel.collect()), key=repr)


def _ids_df(spark, ids, col="vec_id"):
    return spark.createDataFrame([(i,) for i in ids], f"{col} long")


def test_delete_set_drops_broadcast_past_limit(spark):
    """Regression (r8 verdict): a takedown-sized delete set rides a
    broadcast hint; a bulk purge past the limit must plan a SHUFFLE
    anti-join (no BroadcastHashJoin), not ship millions of ids to every
    executor."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.forget import (
        _delete_set,
    )

    ids = spark.range(0, 40).select(F.col("id").alias("k"))

    def _logical(limit):
        return _delete_set(ids, limit=limit)._jdf.queryExecution().logical().toString()

    # takedown-sized: broadcast hint present; past the limit: no hint —
    # the planner is free to pick a shuffle anti-join at real scale
    assert "hint" in _logical(1000).lower()
    assert "hint" not in _logical(10).lower()


# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------
def test_bm25_forget_equals_fresh_build(spark, sf_small, tmp_path):
    docs = load_table(spark, sf_small, "documents").filter("doc_id < 120").select(
        "doc_id", "text"
    )
    gone = docs.filter("doc_id % 10 = 0")
    keep = docs.filter("doc_id % 10 != 0")

    full, fresh = str(tmp_path / "full"), str(tmp_path / "fresh")
    build_bm25_index(docs, full, term_buckets=16)
    build_bm25_index(keep, fresh, term_buckets=16)

    st = forget_from_bm25_index(spark, full, gone)
    assert st["n_forgotten"] == gone.count()

    # registry + meta equal the fresh build over the surviving corpus
    assert _rows(spark.read.parquet(f"{full}/doclen")) == _rows(
        spark.read.parquet(f"{fresh}/doclen")
    )
    m_a = spark.read.parquet(f"{full}/meta").collect()[0]
    m_f = spark.read.parquet(f"{fresh}/meta").collect()[0]
    assert (m_a["n_docs"], m_a["avgdl"]) == (m_f["n_docs"], m_f["avgdl"])
    # postings: no row of a forgotten doc survives, others untouched
    assert _rows(
        spark.read.parquet(f"{full}/postings").select("doc_id", "term", "tf")
    ) == _rows(spark.read.parquet(f"{fresh}/postings").select("doc_id", "term", "tf"))

    # queries answer exactly as the fresh build (scores included)
    qs = docs.filter("doc_id IN (1, 3, 7)")
    got = _rows(bm25_topk_indexed(spark, full, qs, k=5, exclude_self=False))
    want = _rows(bm25_topk_indexed(spark, fresh, qs, k=5, exclude_self=False))
    assert got == want

    # retry convergence: the same forget again is a no-op
    before = _rows(spark.read.parquet(f"{full}/doclen"))
    st2 = forget_from_bm25_index(spark, full, gone)
    assert st2["n_forgotten"] == 0
    assert _rows(spark.read.parquet(f"{full}/doclen")) == before


# --------------------------------------------------------------------------
# cell-partitioned tables
# --------------------------------------------------------------------------
def test_ivf_and_ivfpq_forget(spark, sf_small, tmp_path):
    embs = load_table(spark, sf_small, "embeddings").filter("vec_id < 100").select(
        "vec_id", "embedding"
    )
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    build_ivf_index(embs, ivf, n_cells=4, iters=2)
    build_ivfpq_index(embs, pq, n_cells=4, cell_iters=2, m=8, ks=16, pq_iters=2)

    gone = [0, 5, 17, 42, 99]
    st = forget_from_ivf_index(spark, ivf, _ids_df(spark, gone))
    assert st["n_deleted"] == len(gone)
    left = {r["n_id"] for r in spark.read.parquet(f"{ivf}/vectors").collect()}
    assert left == {i for i in range(100) if i not in gone}

    st = forget_from_ivfpq_index(spark, pq, _ids_df(spark, gone))
    assert st["n_deleted"] == len(gone)
    left = {r["n_id"] for r in spark.read.parquet(f"{pq}/codes").collect()}
    assert left == {i for i in range(100) if i not in gone}

    # surviving codes are byte-identical to the pre-forget rows (frozen
    # quantizers — a forget must never re-encode anyone)
    st2 = forget_from_ivf_index(spark, ivf, _ids_df(spark, gone))
    assert st2["n_deleted"] == 0  # retry convergence


def test_forget_drops_emptied_cell_dir(spark, tmp_path):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.semdedup_stream import (
        upsert_semdedup_batch,
    )
    import numpy as np

    cents = [np.array([1.0, 0, 0, 0]), np.array([0, 1.0, 0, 0])]
    path = str(tmp_path / "surv")
    b = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    upsert_semdedup_batch(spark, b, path, cents, tau=0.99)
    assert os.path.isdir(f"{path}/cell=0") and os.path.isdir(f"{path}/cell=1")

    st = forget_from_survivors(spark, path, _ids_df(spark, [1]))
    assert st == {
        "partitions_rewritten": 0, "partitions_dropped": 1, "n_deleted": 1,
    }
    assert not os.path.isdir(f"{path}/cell=0")
    assert _rows(spark.read.parquet(path), "vec_id") == [(2,)]
    # the survivor table still serves upserts after the forget: the freed
    # direction admits a NEW vector again
    st = upsert_semdedup_batch(
        spark,
        spark.createDataFrame(
            [(9, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
        ),
        path, cents, tau=0.99,
    )
    assert st["n_new"] == 1


# --------------------------------------------------------------------------
# dedup index: tombstones + vacuum + re-accept
# --------------------------------------------------------------------------
def test_dedup_forget_unblocks_vacuum_and_reaccept(spark, tmp_path):
    path = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, path, "text", "doc_id")

    dup = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    st = absorb_batch_into_index(spark, path, dup, "text", "doc_id", 0.5)
    assert st["n_rejected_exact"] == 1 and st["n_accepted"] == 0

    # forget doc 1 → the same content is no longer blocked
    forget_from_dedup_index(spark, path, corpus.filter("doc_id = 1"))
    st = absorb_batch_into_index(spark, path, dup, "text", "doc_id", 0.5)
    assert st["n_accepted"] == 1

    # re-accept withdrew the tombstones (else vacuum would delete the new
    # owner's fingerprint out from under it)
    id_ts, fp_ts = read_dedup_tombstones(spark, path)
    assert fp_ts is None or fp_ts.count() == 0
    # doc 1's id itself stays tombstoned (10 took over the content only)
    assert id_ts is not None and _rows(id_ts) == [(1,)]

    out = vacuum_dedup_index(spark, path)
    assert out["vacuumed"] == 1
    assert read_dedup_tombstones(spark, path) == (None, None)
    ids = {r["_cid"] for r in spark.read.parquet(f"{path}/doc_ids").collect()}
    assert ids == {2, 10}

    # post-vacuum: the content is owned by doc 10 — a replay is exact-dup
    st = absorb_batch_into_index(
        spark, path,
        spark.createDataFrame(
            [(11, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        ),
        "text", "doc_id", 0.5,
    )
    assert st["n_rejected_exact"] == 1

    # vacuum with no tombstones is a no-op
    assert vacuum_dedup_index(spark, path) == {"vacuumed": 0}


def test_dedup_forget_near_dup_unblocks(spark, tmp_path):
    """Near-dup (shingle) blocking also lifts pre-vacuum: the tombstoned
    doc's postings are anti-joined out of classification."""
    path = str(tmp_path / "idx")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    build_dedup_index(corpus, path, "text", "doc_id")

    near = spark.createDataFrame(
        [(20, base + " tonight")], "doc_id long, text string"
    )
    st = absorb_batch_into_index(spark, path, near, "text", "doc_id", 0.5)
    assert st["n_rejected_near"] == 1

    forget_from_dedup_index(spark, path, corpus)
    st = absorb_batch_into_index(spark, path, near, "text", "doc_id", 0.5)
    assert st["n_accepted"] == 1


def test_forget_cli(spark, sf_small, tmpdir):
    """Subprocess drive of jobs/forget.py against individual indexes:
    one JSON stats line, bucket-pruned BM25 delete + dedup tombstone +
    vacuum in one invocation."""
    import json
    import subprocess
    import sys

    docs = load_table(spark, sf_small, "documents").filter("doc_id < 60").select(
        "doc_id", "text"
    )
    build_bm25_index(docs, f"{tmpdir}/bm25", term_buckets=8)
    build_dedup_index(docs, f"{tmpdir}/dedup", "text", "doc_id")
    docs.filter("doc_id % 10 = 0").write.parquet(f"{tmpdir}/takedown")

    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "forget.py"),
         "--bm25", f"{tmpdir}/bm25", "--dedup", f"{tmpdir}/dedup",
         "--docs", f"{tmpdir}/takedown", "--vacuum"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["bm25"]["n_forgotten"] == 6
    assert stats["dedup"]["n_tombstoned"] == 6
    assert stats["vacuum"]["vacuumed"] == 6
    left = {r["doc_id"] for r in spark.read.parquet(f"{tmpdir}/bm25/doclen").collect()}
    assert not any(i % 10 == 0 for i in left)
    assert read_dedup_tombstones(spark, f"{tmpdir}/dedup") == (None, None)
