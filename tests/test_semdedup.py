"""Semantic dedup (operators/semdedup.py): clique collapse to one
survivor, orthogonal-vector no-op, tau monotonicity, partition/run
determinism, and the survivors semi-join."""

import pytest
from pyspark.sql import functions as F

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.semdedup import (
    semdedup,
    semdedup_survivors,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
    load_table,
)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def test_identical_clique_keeps_exactly_one(spark):
    # three identical vectors (mutual cos == 1) + one orthogonal
    df = _mk(
        spark,
        [(1, [1, 0, 0, 0]), (2, [1, 0, 0, 0]), (3, [1, 0, 0, 0]), (9, [0, 1, 0, 0])],
    )
    marks = semdedup(df, tau=0.9, n_cells=1, iters=1)
    got = {r["id"]: r["is_pruned"] for r in marks.collect()}
    assert got[9] is False
    kept = [i for i in (1, 2, 3) if not got[i]]
    assert len(kept) == 1  # exactly one survivor per identical clique


def test_orthogonal_all_survive(spark):
    df = _mk(
        spark,
        [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)],
    )
    marks = semdedup(df, tau=0.5, n_cells=1, iters=1)
    assert all(not r["is_pruned"] for r in marks.collect())


def test_scaled_copies_are_duplicates(spark):
    # cosine ignores magnitude: 2x a vector is a perfect duplicate
    df = _mk(spark, [(1, [3, 4, 0, 0]), (2, [6, 8, 0, 0]), (3, [0, 0, 1, 0])])
    marks = semdedup(df, tau=0.99, n_cells=1, iters=1)
    got = {r["id"]: r["is_pruned"] for r in marks.collect()}
    assert got[3] is False and sorted([got[1], got[2]]) == [False, True]


def test_null_vectors_dropped(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<float>"
    )
    marks = semdedup(df, tau=0.9, n_cells=1, iters=1)
    assert [r["id"] for r in marks.collect()] == [1]


@pytest.fixture(scope="module")
def emb(spark, sf_oracle):
    df = load_table(spark, sf_oracle, "embeddings").persist()
    df.count()
    yield df
    df.unpersist()


def test_tau_monotonic_and_partition_exact(emb):
    """Lower tau prunes a superset; marks partition the corpus exactly."""
    n = emb.filter(F.col("embedding").isNotNull()).count()
    pruned = {}
    for tau in (0.3, 0.6, 1.0001):
        marks = semdedup(emb, tau=tau, n_cells=8, iters=2)
        rows = marks.collect()
        assert len(rows) == n and len({r["id"] for r in rows}) == n
        pruned[tau] = {r["id"] for r in rows if r["is_pruned"]}
    assert pruned[1.0001] == set()
    assert pruned[0.6] <= pruned[0.3]


def test_deterministic_across_runs_and_partitioning(emb):
    a = sorted(map(tuple, semdedup(emb, tau=0.4, n_cells=8, iters=2).collect()))
    b = sorted(
        map(
            tuple,
            semdedup(
                emb.repartition(13), tau=0.4, n_cells=8, iters=2
            ).collect(),
        )
    )
    assert a == b


def test_survivors_semi_join(emb):
    marks = semdedup(emb, tau=0.4, n_cells=8, iters=2)
    n_keep = marks.filter(~F.col("is_pruned")).count()
    surv = semdedup_survivors(emb, tau=0.4, n_cells=8, iters=2)
    assert surv.count() == n_keep
    assert surv.columns == emb.columns


def test_incremental_empty_corpus_equals_full(spark, emb):
    """With no prior survivors and shared centroids, incremental ingest
    must mark exactly what the full operator marks."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        kmeans_centroids,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.semdedup import (
        semdedup_incremental,
    )

    cents = kmeans_centroids(emb, n_cells=8, iters=2)
    empty = emb.filter(F.lit(False))
    inc = semdedup_incremental(emb, empty, tau=0.4, centroids=cents)
    full = semdedup(emb, tau=0.4, centroids=cents)
    a = sorted((r["id"], r["is_pruned"]) for r in inc.collect())
    b = sorted((r["id"], r["is_pruned"]) for r in full.collect())
    assert a == b
    # and with an empty corpus nothing can be corpus-pruned
    assert all(r["pruned_by"] != "corpus" for r in inc.collect())


def test_incremental_corpus_wins_and_reasons(spark):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.semdedup import (
        semdedup_incremental,
    )
    import numpy as np

    cents = [np.array([1.0, 0.0, 0.0, 0.0]), np.array([0.0, 1.0, 0.0, 0.0])]
    corpus = _mk(spark, [(100, [1, 0, 0, 0])])
    # 1: dup of survivor -> corpus; 2: dup of 1 too, corpus takes priority;
    # 5/6: batch-internal dup pair -> one pruned by batch; 9: unique
    batch = _mk(
        spark,
        [(1, [1, 0, 0, 0]), (2, [1, 0, 0, 0]),
         (5, [0, 1, 0, 0]), (6, [0, 1, 0, 0]), (9, [0, 0, 1, 0])],
    )
    got = {r["id"]: (r["is_pruned"], r["pruned_by"])
           for r in semdedup_incremental(batch, corpus, tau=0.9, centroids=cents).collect()}
    assert got[1] == (True, "corpus") and got[2] == (True, "corpus")
    assert sorted([got[5], got[6]]) == [(False, None), (True, "batch")]
    assert got[9] == (False, None)


def test_semdedup_job_modes(spark, sf_oracle, tmp_path):
    """Job drive: survivors layout + incremental stats, reusing a
    persisted IVF quantizer so no mode refits k-means."""
    import sys
    sys.path.insert(0, JOBS_DIR)
    from semdedup_corpus import run
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.ivf import (
        build_ivf_index,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf, n_cells=8, iters=2)

    out = str(tmp_path / "sem")
    s = run(spark, sf_oracle, out, "survivors", tau=0.4, ivf_path=ivf)
    assert s["n_vectors"] == s["n_pruned"] + s["n_survivors"]
    surv = spark.read.parquet(f"{out}/survivors")
    assert surv.count() == s["n_survivors"]
    assert surv.columns == emb.columns

    inc = run(spark, sf_oracle, str(tmp_path / "inc"), "incremental",
              tau=0.4, ivf_path=ivf)
    assert inc["n_batch"] == emb.filter(F.col("vec_id") % 10 == 0).count()
    assert inc["pruned_by_corpus"] >= 0 and inc["pruned_by_batch"] >= 0


def _mk_cells(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], c) for i, v, c in rows],
        "vec_id long, embedding array<float>, grp int",
    )


def test_cell_col_prunes_within_cells_only(spark):
    """cell_col path (r6): dedup within an EXISTING partition — identical
    vectors in the same cell collapse to one survivor, identical vectors
    in DIFFERENT cells are never compared."""
    df = _mk_cells(
        spark,
        [
            (1, [1, 0, 0, 0], 0),
            (2, [1, 0, 0, 0], 0),   # same cell dup of 1 -> one survives
            (3, [1, 0, 0, 0], 1),   # identical but other cell -> survives
            (4, [0, 1, 0, 0], 1),
        ],
    )
    marks = semdedup(df, tau=0.9, cell_col="grp")
    got = {r["id"]: (r["cell"], r["is_pruned"]) for r in marks.collect()}
    assert got[3] == (1, False) and got[4] == (1, False)
    assert got[1][0] == 0 and got[2][0] == 0
    assert sum(not p for _, p in (got[1], got[2])) == 1


def test_cell_col_rank_keeps_low_centroid_cos(spark):
    """The keep rule survives the cell_col path: among mutual near-dups
    the LOWEST centroid-cosine (then lowest id) ranks first and wins."""
    # cell 0: two near-identical vectors + one distinct; the centroid
    # leans toward the pair, so the slightly-off member has lower
    # cent_cos... make it deterministic: ids break the tie for the
    # identical pair, so id 1 survives, id 2 prunes.
    df = _mk_cells(
        spark,
        [(1, [1, 0, 0, 0], 0), (2, [1, 0, 0, 0], 0), (5, [0, 1, 0, 0], 0)],
    )
    marks = semdedup(df, tau=0.9, cell_col="grp")
    got = {r["id"]: r["is_pruned"] for r in marks.collect()}
    assert got[1] is False and got[2] is True and got[5] is False


def test_cell_col_deterministic_across_partitioning(spark):
    """Same survivor set whatever the input partitioning (the kernel
    sorts rows canonically before the BLAS pass)."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(
        r["id"]
        for r in semdedup(emb.repartition(7), tau=0.35, cell_col="label")
        .filter(~F.col("is_pruned")).collect()
    )
    b = sorted(
        r["id"]
        for r in semdedup(emb.coalesce(1), tau=0.35, cell_col="label")
        .filter(~F.col("is_pruned")).collect()
    )
    assert a == b and len(a) > 0
