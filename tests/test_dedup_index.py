"""Persisted dedup index: indexed classification must equal the direct
batch-vs-corpus operator exactly; parameters round-trip through meta;
the job entrypoint drives build + classify."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from pyspark.sql import functions as F

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
    build_dedup_index,
    incremental_dedup,
    incremental_dedup_indexed,
    release_persisted,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
    load_table,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kickhouse-dedupidx-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_indexed_equals_direct(spark, sf_small, tmpdir):
    docs = load_table(spark, sf_small, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    stats = build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    assert stats["n_docs"] == corpus.count()
    assert stats["n_shingles"] > 0

    direct = incremental_dedup(corpus, batch, "text", "doc_id")
    indexed = incremental_dedup_indexed(
        spark, f"{tmpdir}/idx", batch, "text", "doc_id"
    )
    assert _canon(indexed) == _canon(direct)
    release_persisted()


def test_indexed_flags_exact_and_near_dups(spark, tmpdir):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different sentence about spark engines"),
        ],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # exact
            (11, "the quick brown fox jumps over the lazy cat"),  # near
            (12, "completely unrelated text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in incremental_dedup_indexed(
            spark, f"{tmpdir}/idx", batch, "text", "doc_id"
        ).collect()
    }
    assert rows[10]["is_exact_dup"] and rows[10]["best_jaccard"] == 1.0
    assert not rows[11]["is_exact_dup"] and rows[11]["n_near_matches"] == 1
    assert rows[11]["best_jaccard"] >= 0.5
    assert not rows[12]["is_exact_dup"] and rows[12]["n_near_matches"] == 0
    release_persisted()


def test_job_build_then_classify(sf_small, tmpdir):
    env = {"SPARK_GRAFT_SF_DIR": sf_small}
    import os

    env = {**os.environ, **env}
    b = subprocess.run(
        [sys.executable, "jobs/dedup_index.py", "build", "--path", f"{tmpdir}/idx"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert b.returncode == 0, b.stderr[-2000:]
    doc = json.loads(b.stdout.strip().splitlines()[-1])
    assert doc["mode"] == "build" and doc["n_docs"] > 0

    c = subprocess.run(
        [sys.executable, "jobs/dedup_index.py", "classify", "--path", f"{tmpdir}/idx"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert c.returncode == 0, c.stderr[-2000:]
    doc = json.loads(c.stdout.strip().splitlines()[-1])
    assert doc["mode"] == "classify" and doc["batch_docs"] > 0
    # the demo batch is drawn FROM the indexed corpus: every doc is an
    # exact dup of itself
    assert doc["exact_dups"] == doc["batch_docs"]


def test_clusters_from_index_equal_direct(spark, sf_small, tmpdir):
    """Cluster labels from a pre-built edge index (dup_clusters_indexed —
    pair generation skipped entirely) must equal CC over freshly
    generated jaccard pairs on the raw corpus."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.cc import (
        connected_components,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        dup_clusters_indexed,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_small, "documents")
    stats = build_dedup_index(
        docs, f"{tmpdir}/idx_e", "text", "doc_id", edge_threshold=0.5
    )
    assert "n_edges" in stats

    indexed = dup_clusters_indexed(spark, f"{tmpdir}/idx_e")
    direct = connected_components(
        ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5),
        nodes=docs.select(F.col("doc_id").alias("id")),
    )
    assert _canon(indexed) == _canon(direct)
    release_persisted()

    # a HIGHER threshold re-filters the stored edges; a lower one raises
    tighter = dup_clusters_indexed(spark, f"{tmpdir}/idx_e", threshold=0.9)
    assert tighter.count() == docs.count()
    with pytest.raises(ValueError, match="lower threshold"):
        dup_clusters_indexed(spark, f"{tmpdir}/idx_e", threshold=0.1)


def test_clusters_refused_without_edges(spark, tmpdir):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        dup_clusters_indexed,
    )

    corpus = spark.createDataFrame(
        [(1, "one document worth of text right here")], "doc_id long, text string"
    )
    build_dedup_index(corpus, f"{tmpdir}/idx_noe", "text", "doc_id")
    with pytest.raises(ValueError, match="edge_threshold"):
        dup_clusters_indexed(spark, f"{tmpdir}/idx_noe")


def test_job_clusters_mode(sf_small, tmpdir):
    import os as _os

    env = {**_os.environ, "SPARK_GRAFT_SF_DIR": sf_small}
    build = subprocess.run(
        [sys.executable, "jobs/dedup_index.py", "build", "--path", f"{tmpdir}/jidx",
         "--sf-dir", sf_small, "--edges-threshold", "0.5"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert build.returncode == 0, build.stderr[-800:]
    doc = json.loads(build.stdout.strip().splitlines()[-1])
    assert "n_edges" in doc
    clusters = subprocess.run(
        [sys.executable, "jobs/dedup_index.py", "clusters", "--path", f"{tmpdir}/jidx",
         "--sf-dir", sf_small],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert clusters.returncode == 0, clusters.stderr[-800:]
    cdoc = json.loads(clusters.stdout.strip().splitlines()[-1])
    assert cdoc["n_clusters"] > 0 and cdoc["max_cluster"] >= 1


def test_absorb_grows_index_and_converges(spark, tmpdir):
    """Accept-and-grow: absorbed docs reject future dups (exact AND
    near); replaying the same batch is a no-op; meta n_docs tracks."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        absorb_batch_into_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different sentence about spark engines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),   # exact dup
         (11, "a brand new document with fresh unseen content"),
         (12, "a brand new document with fresh unseen content"),  # in-batch exact
         (13, "a brand new document with fresh unseen stuff")],   # in-batch near of 11
        "doc_id long, text string",
    )
    s = absorb_batch_into_index(spark, f"{tmpdir}/idx", batch, "text", "doc_id")
    # 10 corpus-exact; 12 in-batch exact of 11; 13 in-batch near of 11
    assert s == {"n_batch": 4, "n_accepted": 1, "n_rejected_exact": 1,
                 "n_rejected_near": 0, "n_rejected_batch": 2}
    # meta is IMMUTABLE (build-time corpus); current count = doc_ids
    meta = spark.read.parquet(f"{tmpdir}/idx/meta").collect()[0]
    assert meta["n_docs"] == 2
    assert spark.read.parquet(f"{tmpdir}/idx/doc_ids").count() == 3

    # the absorbed doc (11) now rejects exact AND near arrivals
    probe = spark.createDataFrame(
        [(20, "a brand new document with fresh unseen content"),
         (21, "a brand new document with fresh unseen ideas")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in incremental_dedup_indexed(
        spark, f"{tmpdir}/idx", probe, "text", "doc_id").collect()}
    assert rows[20]["is_exact_dup"]
    assert rows[21]["n_near_matches"] >= 1

    # replay: everything rejects, nothing double-absorbed
    s2 = absorb_batch_into_index(spark, f"{tmpdir}/idx", batch, "text", "doc_id")
    assert s2["n_accepted"] == 0
    assert spark.read.parquet(f"{tmpdir}/idx/doc_ids").count() == 3
    release_persisted()


def test_absorb_equals_rebuild_below_guard_cap(spark, sf_small, tmpdir):
    """Classification against (index(A) + absorb(B)) must equal
    classification against index(A ∪ accepted-B) when no shingle nears
    the guard cap — absorption is a rebuild, incrementally."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        absorb_batch_into_index,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    probe = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10**6).alias("doc_id"), "text"
    )
    build_dedup_index(a, f"{tmpdir}/inc", "text", "doc_id")
    s = absorb_batch_into_index(spark, f"{tmpdir}/inc", b, "text", "doc_id")
    accepted_b = (
        spark.read.parquet(f"{tmpdir}/inc/doc_ids")
        .join(b.select(F.col("doc_id").alias("_cid")), "_cid", "left_semi")
    )
    full = a.unionByName(
        b.join(accepted_b.select(F.col("_cid").alias("doc_id")), "doc_id", "left_semi")
    )
    build_dedup_index(full, f"{tmpdir}/reb", "text", "doc_id")
    inc = sorted(map(tuple, incremental_dedup_indexed(
        spark, f"{tmpdir}/inc", probe, "text", "doc_id").collect()))
    reb = sorted(map(tuple, incremental_dedup_indexed(
        spark, f"{tmpdir}/reb", probe, "text", "doc_id").collect()))
    assert inc == reb
    release_persisted()


def test_streaming_dedup_ingest(spark, tmpdir):
    """File-source stream absorbs batches into the index: novel docs
    land, dups (exact, near, in-batch) reject; stats surface per batch."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.dedup_stream import (
        maintain_dedup_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    src = f"{tmpdir}/src"
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "a brand new document with fresh unseen content"),
         (12, "a brand new document with fresh unseen content"),
         (13, "some other novel text that matches nothing else")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    seen = []
    q = maintain_dedup_stream(
        stream, f"{tmpdir}/idx", f"{tmpdir}/ckpt", "text", "doc_id",
        threshold=0.5, trigger="1 seconds", on_batch=seen.append,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(s["n_accepted"] for s in seen) == 2
    assert spark.read.parquet(f"{tmpdir}/idx/doc_ids").count() == 3
    # the absorbed docs now reject their own replays
    rows = {r["doc_id"]: r for r in incremental_dedup_indexed(
        spark, f"{tmpdir}/idx",
        spark.createDataFrame(
            [(20, "a brand new document with fresh unseen content")],
            "doc_id long, text string",
        ), "text", "doc_id").collect()}
    assert rows[20]["is_exact_dup"]
    release_persisted()


def test_compact_dedup_index_preserves_content(spark, tmpdir):
    """Compaction rewrites the accumulated per-batch file sets into few
    files with identical content — classification before == after."""
    import glob

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        absorb_batch_into_index,
        compact_dedup_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    for i in range(3):  # three absorb batches -> three file sets
        absorb_batch_into_index(
            spark, f"{tmpdir}/idx",
            spark.createDataFrame(
                [(100 + i, f"novel text number {i} unlike anything else ever")],
                "doc_id long, text string",
            ),
            "text", "doc_id",
        )
    probe = spark.createDataFrame(
        [(500, "novel text number 1 unlike anything else ever"),
         (501, "totally fresh never seen words")],
        "doc_id long, text string",
    )
    before = sorted(map(tuple, incremental_dedup_indexed(
        spark, f"{tmpdir}/idx", probe, "text", "doc_id").collect()))
    files_before = len(glob.glob(f"{tmpdir}/idx/shingles/part-*"))
    out = compact_dedup_index(spark, f"{tmpdir}/idx")
    files_after = len(glob.glob(f"{tmpdir}/idx/shingles/part-*"))
    assert files_after < files_before and files_after == out["shingles"]["files"]
    after = sorted(map(tuple, incremental_dedup_indexed(
        spark, f"{tmpdir}/idx", probe, "text", "doc_id").collect()))
    assert before == after
    assert spark.read.parquet(f"{tmpdir}/idx/doc_ids").count() == 4
    release_persisted()


def test_absorb_fingerprint_prefix_crash_converges(spark, tmpdir):
    """Crash posture: with ONLY the fingerprint appended (the commit
    gate), a replay rejects the doc as an exact dup and appends nothing —
    no double-postings, no score corruption; a partial-overlap probe
    still classifies sanely (no near-hit from the missing postings)."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.functions.text import (
        fingerprint64,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        absorb_batch_into_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    doc = spark.createDataFrame(
        [(50, "a crash interrupted this document mid absorb")],
        "doc_id long, text string",
    )
    # simulate the crash: append ONLY the fingerprint (first in order)
    doc.select(fingerprint64("text").alias("_fp")).write.mode("append").parquet(
        f"{tmpdir}/idx/fingerprints"
    )
    n_sh = spark.read.parquet(f"{tmpdir}/idx/shingles").count()
    s = absorb_batch_into_index(spark, f"{tmpdir}/idx", doc, "text", "doc_id")
    assert s["n_rejected_exact"] == 1 and s["n_accepted"] == 0
    # nothing double-appended
    assert spark.read.parquet(f"{tmpdir}/idx/shingles").count() == n_sh
    assert spark.read.parquet(f"{tmpdir}/idx/doc_ids").count() == 1
    release_persisted()


def test_ingest_gate_cli_both_modes(spark, sf_small, tmpdir):
    """Subprocess drive of jobs/ingest_gate.py: docs mode absorbs and
    prints per-batch JSON stats; embeddings mode maintains survivors and
    prints stats too (the on_batch contract both gates share)."""
    import os

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        build_ivf_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "a brand new document with fresh unseen content")],
        "doc_id long, text string",
    ).write.parquet(f"{tmpdir}/dsrc")
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "docs",
         "--source", f"{tmpdir}/dsrc", "--index", f"{tmpdir}/idx",
         "--checkpoint", f"{tmpdir}/dckpt", "--trigger", "1 seconds",
         "--drain"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert sum(s["n_accepted"] for s in stats) == 1

    emb = load_table(spark, sf_small, "embeddings")
    build_ivf_index(emb, f"{tmpdir}/ivf", n_cells=8, iters=2)
    emb.filter("vec_id < 30").write.parquet(f"{tmpdir}/esrc")
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "embeddings",
         "--source", f"{tmpdir}/esrc", "--survivors", f"{tmpdir}/surv",
         "--ivf", f"{tmpdir}/ivf", "--checkpoint", f"{tmpdir}/eckpt",
         "--tau", "0.4", "--trigger", "1 seconds", "--drain"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert sum(s["n_new"] for s in stats) >= 1
    assert spark.read.parquet(f"{tmpdir}/surv").count() == sum(
        s["n_new"] for s in stats
    )
    # cold start without --schema fails with guidance, not a stack trace
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "docs",
         "--source", f"{tmpdir}/nonexistent", "--index", f"{tmpdir}/idx",
         "--checkpoint", f"{tmpdir}/x", "--drain"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode != 0 and "pass --schema" in (out.stderr + out.stdout)


def test_ingest_gate_cli_quality_gate(spark, tmpdir):
    """--quality-gate drops classifier-rejected docs BEFORE the absorb:
    the gate's batch stats see only classifier-accepted docs, and the
    rejected doc never reaches the index."""
    corpus = spark.createDataFrame(
        [(1, "alpha delta fresh unseen content")],  # classifier score > 0
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/qidx", "text", "doc_id")
    spark.createDataFrame(
        [
            # exact dup of the indexed doc: passes quality, rejected by dedup
            (20, "alpha delta fresh unseen content"),
            # hashed-classifier score < 0 (all strongly negative buckets)
            (21, "beta gamma omega jumps zeta kappa"),
            # positive score, novel: the only acceptance
            (22, "fresh unseen content brand new"),
        ],
        "doc_id long, text string",
    ).write.parquet(f"{tmpdir}/qsrc")
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "docs",
         "--source", f"{tmpdir}/qsrc", "--index", f"{tmpdir}/qidx",
         "--checkpoint", f"{tmpdir}/qckpt", "--trigger", "1 seconds",
         "--quality-gate", "--drain"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert sum(s["n_batch"] for s in stats) == 2  # doc 21 gated out pre-absorb
    assert sum(s["n_accepted"] for s in stats) == 1
    ids = {r["_cid"] for r in spark.read.parquet(f"{tmpdir}/qidx/doc_ids").collect()}
    assert 22 in ids and 21 not in ids and 20 not in ids
    # flag misuse fails fast, before JVM startup
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "embeddings",
         "--source", "x", "--survivors", "s", "--ivf", "i",
         "--checkpoint", "c", "--quality-gate"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and "docs mode" in (out.stderr + out.stdout)


def _build_absorbed_index(spark, tmpdir):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        absorb_batch_into_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{tmpdir}/idx", "text", "doc_id")
    absorb_batch_into_index(
        spark, f"{tmpdir}/idx",
        spark.createDataFrame(
            [(100, "novel text unlike anything else ever")],
            "doc_id long, text string",
        ),
        "text", "doc_id",
    )
    return f"{tmpdir}/idx"


def test_compact_crash_between_renames_recovers(spark, tmpdir):
    """ADVICE r5 (medium): a crash BETWEEN the two swap renames leaves
    the live dir missing, the compacted copy at `.compact-tmp` and the
    original at `.compact-old`. A re-run must RESTORE before deleting
    anything — the old behaviour rmtree'd both staged dirs first,
    destroying the only two copies of the table."""
    import os

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        compact_dedup_index,
    )

    idx = _build_absorbed_index(spark, tmpdir)
    before = _canon(spark.read.parquet(f"{idx}/shingles"))
    # simulate the mid-swap crash state for the first table in the loop
    # order (fingerprints): compacted copy staged + original moved aside
    fp = f"{idx}/fingerprints"
    fp_rows = _canon(spark.read.parquet(fp))
    spark.read.parquet(fp).coalesce(1).write.parquet(f"{fp}.compact-tmp")
    os.rename(fp, f"{fp}.compact-old")
    assert not os.path.exists(fp)

    out = compact_dedup_index(spark, idx)
    # table restored (from the complete tmp copy) and compaction finished
    assert os.path.exists(fp) and not os.path.exists(f"{fp}.compact-tmp")
    assert not os.path.exists(f"{fp}.compact-old")
    assert _canon(spark.read.parquet(fp)) == fp_rows
    assert _canon(spark.read.parquet(f"{idx}/shingles")) == before
    assert out["fingerprints"]["rows"] == len(fp_rows)
    release_persisted()


def test_compact_crash_incomplete_tmp_restores_old(spark, tmpdir):
    """If the staged compacted copy is INCOMPLETE (no _SUCCESS — a crash
    during the rewrite plus a lost live dir), recovery falls back to the
    `.compact-old` original instead of installing a torn table."""
    import os

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        compact_dedup_index,
    )

    idx = _build_absorbed_index(spark, tmpdir)
    fp = f"{idx}/fingerprints"
    fp_rows = _canon(spark.read.parquet(fp))
    os.makedirs(f"{fp}.compact-tmp")  # torn write: no _SUCCESS marker
    os.rename(fp, f"{fp}.compact-old")

    compact_dedup_index(spark, idx)
    assert os.path.exists(fp)
    assert _canon(spark.read.parquet(fp)) == fp_rows
    release_persisted()


def test_absorb_into_pre_edge_threshold_index(spark, tmpdir):
    """ADVICE r5: an index built before `edge_threshold` existed in meta
    must absorb with the -1.0 fallback (same guard as
    incremental_dedup_indexed), not raise a raw Row access error."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.dedup import (
        absorb_batch_into_index,
    )

    idx = _build_absorbed_index(spark, tmpdir)
    # rewrite meta without the edge_threshold field (pre-r4 layout)
    meta = spark.read.parquet(f"{idx}/meta")
    legacy = meta.drop("edge_threshold")
    legacy.write.mode("overwrite").parquet(f"{tmpdir}/meta-legacy")
    shutil.rmtree(f"{idx}/meta")
    spark.read.parquet(f"{tmpdir}/meta-legacy").write.parquet(f"{idx}/meta")

    s = absorb_batch_into_index(
        spark, idx,
        spark.createDataFrame(
            [(200, "completely different fresh words again here")],
            "doc_id long, text string",
        ),
        "text", "doc_id",
    )
    assert s["n_accepted"] == 1
    release_persisted()


def test_ingest_gate_cli_reconcile(spark, sf_small, tmpdir):
    """Subprocess drive of the --reconcile maintenance mode: rebuilds the
    survivors table as the batch answer over --source and prints one
    stats line; --checkpoint is not required for it."""
    import os

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        build_ivf_index,
    )

    emb = load_table(spark, sf_small, "embeddings")
    build_ivf_index(emb, f"{tmpdir}/ivf", n_cells=8, iters=2)
    emb.filter("vec_id < 30").write.parquet(f"{tmpdir}/esrc")
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "embeddings",
         "--source", f"{tmpdir}/esrc", "--survivors", f"{tmpdir}/surv",
         "--ivf", f"{tmpdir}/ivf", "--tau", "0.4", "--reconcile"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(stats) == 1 and stats[0]["n_corpus"] == 30
    assert spark.read.parquet(f"{tmpdir}/surv").count() == stats[0]["n_survivors"]
    # docs mode must refuse the flag
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "docs",
         "--source", f"{tmpdir}/esrc", "--index", f"{tmpdir}/ivf",
         "--reconcile"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode != 0 and "embeddings mode only" in (out.stderr + out.stdout)

def test_ingest_gate_cli_pipeline_mode(spark, sf_small, tmpdir):
    """Subprocess drive of the full-pipeline CLI: --crash-after injects a
    boundary crash (nonzero exit), the flagless retry converges (the soak
    discipline), and all four indexes + both sketches land under --state."""
    docs = load_table(spark, sf_small, "documents").filter("doc_id < 40").select(
        "doc_id", "text", "source",
        F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("ts"),
    )
    docs.write.parquet(f"{tmpdir}/pdsrc")
    load_table(spark, sf_small, "embeddings").filter("vec_id < 40").select(
        "vec_id", "embedding"
    ).write.parquet(f"{tmpdir}/pesrc")

    base = [
        sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "pipeline",
        "--source", f"{tmpdir}/pdsrc", "--emb-source", f"{tmpdir}/pesrc",
        "--state", f"{tmpdir}/pstate", "--batch-id", "0",
    ]
    out = subprocess.run(
        base + ["--crash-after", "bm25_append"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode != 0
    assert "injected crash" in (out.stderr + out.stdout)

    out = subprocess.run(base, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    stats = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(stats) == 1 and set(stats[0]) >= {
        "quality", "dedup_absorb", "bm25_append", "hll", "countmin",
        "semdedup", "ivf_append", "ivfpq_append",
    }
    for rel in ("dedup_index/doc_ids", "bm25_index/doclen", "sem_survivors",
                "ivf_index/vectors", "ivfpq_index/codes"):
        assert spark.read.parquet(f"{tmpdir}/pstate/{rel}").count() > 0
