"""Persisted IVF index: layout, result-equivalence with the in-memory
operator, and cell-directory pruning at query time."""

import os

import pytest

from pyspark.sql import functions as F

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
    build_ivf_index,
    ivf_topk,
    ivf_topk_from_index,
    load_centroids,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
    load_table,
)

N_CELLS = 8


@pytest.fixture(scope="module")
def ivf_index(spark, sf_oracle, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    emb = load_table(spark, sf_oracle, "embeddings")
    centroids = build_ivf_index(emb, path, n_cells=N_CELLS, iters=2)
    return path, emb, centroids


def test_index_roundtrip_matches_inmemory(spark, ivf_index):
    path, emb, centroids = ivf_index
    queries = emb.filter(F.col("vec_id") < 5)

    # layout: one directory per cell, centroids table round-trips exactly
    dirs = [d for d in os.listdir(f"{path}/vectors") if d.startswith("cell=")]
    assert 1 < len(dirs) <= N_CELLS
    loaded = load_centroids(spark, path)
    assert len(loaded) == N_CELLS
    assert all((a == b).all() for a, b in zip(centroids, loaded))

    got = sorted(
        tuple(r)
        for r in ivf_topk_from_index(spark, path, queries, k=5, nprobe=2).collect()
    )
    exp = sorted(
        tuple(r) for r in ivf_topk(emb, queries, centroids, k=5, nprobe=2).collect()
    )
    assert got == exp and len(got) > 0


def test_index_scan_prunes_cells(spark, ivf_index):
    path, emb, _ = ivf_index
    vectors = spark.read.parquet(f"{path}/vectors")

    # static pruning: a literal cell filter must reach PartitionFilters
    one_cell = vectors.filter(F.col("cell") == 3)
    plan = one_cell._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "cell" in plan
    assert one_cell.count() > 0

    # query path against the persisted layout stays correct with nprobe=1
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk_from_index(spark, path, queries, k=3, nprobe=1)
    assert out.count() > 0


def test_append_batch_and_replay_converge(spark, sf_oracle, tmp_path):
    """Incremental appends: new vectors land in their cells and become
    searchable; full/partial replays are no-ops; search over the appended
    index equals a fresh index built with the SAME centroids."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        append_to_ivf_index,
        assign_cells_df,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_cells=N_CELLS, iters=2)
    n_base = spark.read.parquet(f"{path}/vectors").count()

    s = append_to_ivf_index(spark, path, batch)
    assert s["n_appended"] == s["n_batch"] and s["n_replayed"] == 0
    assert spark.read.parquet(f"{path}/vectors").count() == n_base + s["n_batch"]

    # replay of the whole batch: nothing duplicated
    s2 = append_to_ivf_index(spark, path, batch)
    assert s2 == {"n_batch": s["n_batch"], "n_appended": 0,
                  "n_replayed": s["n_batch"]}
    assert spark.read.parquet(f"{path}/vectors").count() == n_base + s["n_batch"]

    # appended layout answers queries identically to the in-memory
    # operator over the full corpus with the same centroids
    cents = load_centroids(spark, path)
    queries = emb.filter(F.col("vec_id") < 5)
    got = ivf_topk_from_index(spark, path, queries, k=5, nprobe=N_CELLS)
    want = ivf_topk(emb, queries, cents, k=5, nprobe=N_CELLS)
    a = got.select("q_id", "n_id", "rank")
    b = want.select("q_id", "n_id", "rank")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # cell assignment of appended rows matches the fixed centroids
    stored = spark.read.parquet(f"{path}/vectors").select("n_id", "cell")
    expect = assign_cells_df(
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec")),
        cents, vec_col="n_vec",
    ).select("n_id", "cell")
    assert stored.exceptAll(expect).count() == 0


def test_append_duplicate_ids_within_batch_collapse(spark, tmp_path):
    """A vec_id delivered twice in one batch is appended once; the
    appended ≡ fresh-build equivalence depends on it."""
    from pyspark.sql import Row
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        append_to_ivf_index,
    )

    base = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 5 + 1), float(i % 3)]) for i in range(20)]
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_cells=2, iters=1)
    dup = spark.createDataFrame(
        [Row(vec_id=100, embedding=[1.0, 2.0]), Row(vec_id=100, embedding=[1.0, 2.0])]
    )
    s = append_to_ivf_index(spark, path, dup)
    assert s == {"n_batch": 1, "n_appended": 1, "n_replayed": 0}
    stored = spark.read.parquet(f"{path}/vectors").filter(F.col("n_id") == 100)
    assert stored.count() == 1


def test_ivf_cell_stats_health_and_drift(spark, sf_oracle, tmp_path):
    """Cell stats read only the partition column; a balanced fresh build
    reports low skew, and a pathological append (every new row in one
    cell's neighborhood) moves the skew ratio up."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_cell_stats,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    path = str(tmp_path / "health")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    s = ivf_cell_stats(spark, path)
    assert s["n_cells"] == 8
    assert s["n_rows"] == emb.count()
    assert s["n_empty_cells"] == 0
    assert s["skew_ratio"] >= 1.0
    base_skew = s["skew_ratio"]

    # drift injection: append many copies of one vector region (new ids)
    one = emb.filter(F.col("vec_id") == 0).collect()[0]
    drift = spark.createDataFrame(
        [(100000 + i, one["embedding"], one["label"]) for i in range(600)],
        "vec_id long, embedding array<float>, label int",
    )
    append_to_ivf_index(spark, path, drift)
    s2 = ivf_cell_stats(spark, path)
    assert s2["n_rows"] == s["n_rows"] + 600
    assert s2["skew_ratio"] > base_skew
    # 600 clones land in one cell: hottest cell ~4.8x fair share
    assert s2["rebuild_hint"]


def test_index_health_cli(spark, sf_oracle, tmp_path):
    """Subprocess drive of jobs/index_health.py over an IVF-PQ index with
    a probe batch: one JSON line with cell stats + PQ drift."""
    import json
    import subprocess
    import sys

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.pq import (
        build_ivfpq_index,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    path = str(tmp_path / "hidx")
    build_ivfpq_index(emb, path, n_cells=8, cell_iters=2, m=16, ks=64, pq_iters=4)
    emb.limit(50).write.parquet(str(tmp_path / "probe"))
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "index_health.py"), "--path", path,
         "--table", "codes", "--probe-batch", str(tmp_path / "probe")],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(
        [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert rep["n_cells"] == 8 and rep["n_rows"] == emb.count()
    assert rep["pq_probe"]["n"] == 50
    assert rep["pq_probe"]["mean_sq_err"] >= 0.0


def test_ann_index_cli_append_mode(spark, sf_oracle, tmp_path):
    """Subprocess drive of jobs/ann_index.py append: frozen-quantizer
    batch ingest with replay stats, both layouts."""
    import json
    import subprocess
    import sys

    emb = load_table(spark, sf_oracle, "embeddings")
    emb.filter(F.col("vec_id") % 5 == 0).write.parquet(str(tmp_path / "batch"))

    for layout, table in (("ivf", "vectors"), ("ivfpq", "codes")):
        path = str(tmp_path / f"cli_{layout}")
        out = subprocess.run(
            [sys.executable, os.path.join(JOBS_DIR, "ann_index.py"), "build",
             "--path", path, "--layout", layout, "--sf-dir", sf_oracle,
             "--n-cells", "8", "--iters", "2"],
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        out = subprocess.run(
            [sys.executable, os.path.join(JOBS_DIR, "ann_index.py"), "append",
             "--path", path, "--layout", layout, "--sf-dir", sf_oracle,
             "--batch", str(tmp_path / "batch")],
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        stats = json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )
        # the build already indexed these ids: everything replays
        assert stats["n_batch"] == 100 and stats["n_appended"] == 0
        assert stats["n_replayed"] == 100
        assert spark.read.parquet(f"{path}/{table}").count() == emb.count()


def test_sampled_training_bounded_and_deterministic(spark, sf_oracle, tmp_path):
    """max_train_rows (r9): the coarse quantizer fits on a deterministic
    hash-threshold sample — the corpus-scale posture for the one ~linear
    index leg in the r9 ladder. The index must still cover EVERY vector
    (assignment always runs over the full corpus), and repeated builds must
    produce identical centroids."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        kmeans_centroids,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    n = emb.count()
    cap = max(N_CELLS + 4, n // 4)

    c1 = kmeans_centroids(emb, n_cells=N_CELLS, iters=2, max_train_rows=cap)
    c2 = kmeans_centroids(emb, n_cells=N_CELLS, iters=2, max_train_rows=cap)
    assert all((a == b).all() for a, b in zip(c1, c2))  # deterministic

    p = str(tmp_path / "ivf_sampled")
    build_ivf_index(emb, p, n_cells=N_CELLS, iters=2, max_train_rows=cap)
    vecs = spark.read.parquet(f"{p}/vectors")
    assert vecs.count() == n  # every corpus vector is in the index
    assert vecs.select("cell").distinct().count() <= N_CELLS
    # the searchable surface works off the sampled-fit index
    q = emb.filter(F.col("vec_id") < 3)
    hits = ivf_topk_from_index(spark, p, q, k=5, nprobe=N_CELLS)
    assert hits.count() == 3 * 5

    # cap >= corpus: sampling is a no-op, exact full fit preserved
    c_full = kmeans_centroids(emb, n_cells=N_CELLS, iters=2)
    c_cap = kmeans_centroids(
        emb, n_cells=N_CELLS, iters=2, max_train_rows=n + 1
    )
    assert all((a == b).all() for a, b in zip(c_full, c_cap))


def test_auto_train_cap_default(spark, sf_oracle):
    """r10: training is bounded BY DEFAULT — max_train_rows='auto'
    resolves to min(256*n_cells, 8192) so a caller at any corpus scale
    gets FAISS-style sampled training without opting in; None reaches
    the exact full fit explicitly."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        TRAIN_CEIL,
        TRAIN_PER_CELL,
        _auto_train_cap,
        kmeans_centroids,
    )

    assert _auto_train_cap(4) == 4 * TRAIN_PER_CELL
    assert _auto_train_cap(645) == TRAIN_CEIL

    emb = load_table(spark, sf_oracle, "embeddings")
    n = emb.count()

    # under the cap: auto == exact (the sf0.01 fixture never samples)
    c_auto = kmeans_centroids(emb, n_cells=N_CELLS, iters=2)
    c_full = kmeans_centroids(emb, n_cells=N_CELLS, iters=2, max_train_rows=None)
    assert all((a == b).all() for a, b in zip(c_auto, c_full))

    # over the cap: auto samples (differs from exact on a 2-cell fit
    # whose cap is far below the corpus), deterministically
    import kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf as ivf_mod

    old = ivf_mod.TRAIN_PER_CELL
    ivf_mod.TRAIN_PER_CELL = 8  # cap = 16 << n
    try:
        assert ivf_mod._auto_train_cap(2) == 16 < n
        s1 = kmeans_centroids(emb, n_cells=2, iters=2)
        s2 = kmeans_centroids(emb, n_cells=2, iters=2)
        e = kmeans_centroids(emb, n_cells=2, iters=2, max_train_rows=None)
    finally:
        ivf_mod.TRAIN_PER_CELL = old
    assert all((a == b).all() for a, b in zip(s1, s2))
    assert not all((a == b).all() for a, b in zip(s1, e))


def test_max_train_rows_rejects_unknown_strings(spark, sf_oracle):
    """ADVICE r10: a string other than 'auto' (a typo like 'Auto' or
    'full') must raise a clear ValueError up front — not fall through to
    `n > max_train_rows` and die with an opaque TypeError after a full
    corpus count."""
    import pytest

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        kmeans_centroids,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    for bad in ("Auto", "full", ""):
        with pytest.raises(ValueError, match="max_train_rows"):
            kmeans_centroids(emb, n_cells=2, iters=1, max_train_rows=bad)
