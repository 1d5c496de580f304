"""The brute-force embedding legs' size gate (r12): above
BRUTE_GATE_MAX_VECS vectors, embedding_neardup_pairs and
embedding_label_propagation bound their compare set to a deterministic
md5 sample that BOTH engines reproduce exactly — a catalog leg that
cannot finish at sf10 (r11 sweep: 600 s timeouts at 200 k vectors) is
not the plan you'd run at 100×.  The IVF/PQ tiers remain the scale
path; the *_equals_bruteforce companions remain the full-probe proof."""

import duckdb
import pytest
from pyspark.sql import functions as F

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans import (
    llm_vectors as LV,
)

_EMB = "/root/testdata/sf0.01/embeddings.parquet"


def _duck_gated_ids(cap: int) -> set:
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{_EMB}')"
        )
        rows = con.execute(
            f"WITH {LV.gate_sql(cap)} SELECT vec_id FROM se"
        ).fetchall()
    finally:
        con.close()
    return {r[0] for r in rows}


def test_gate_inactive_at_or_below_cap(spark):
    emb = LV._emb(spark, "/root/testdata/sf0.01")
    n = emb.count()
    out = LV._brute_gated(emb, cap=n)
    assert out.count() == n  # pass-through, no sampling


def test_gate_sample_matches_duckdb_exactly(spark):
    # force the gate on at the small fixture: both engines must keep the
    # IDENTICAL vector set (the whole point of the md5 bucket — no
    # rand(), no partition-layout dependence)
    cap = 100
    emb = LV._emb(spark, "/root/testdata/sf0.01")
    spark_ids = {
        r["vec_id"]
        for r in LV._brute_gated(emb, cap=cap).select("vec_id").collect()
    }
    duck_ids = _duck_gated_ids(cap)
    assert spark_ids == duck_ids
    # expected size ~ cap (md5 buckets are uniform; wide tolerance)
    assert 0.5 * cap <= len(spark_ids) <= 1.5 * cap


def test_gated_queries_match_oracles_with_gate_active(spark):
    # run both brute legs with the gate forced ON and their oracles
    # rewritten to the same cap — cross-engine equality must hold in the
    # gated regime too, not just pass-through
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.catalog import (
        load_all,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.testing import (
        compare_query,
    )

    cap = 100
    reg = load_all()
    old = LV.BRUTE_GATE_MAX_VECS
    LV.BRUTE_GATE_MAX_VECS = cap
    try:
        for name in ("embedding_neardup_pairs", "embedding_label_propagation"):
            q = reg[name]
            gated_oracle = q.oracle.replace(LV._GATE_SQL, LV.gate_sql(cap))
            assert gated_oracle != q.oracle, "oracle must embed the gate CTE"
            r = compare_query(
                spark, name, q.fn, gated_oracle, "/root/testdata/sf0.01"
            )
            assert r.row_count_match and r.columns_match and r.values_match, (
                name,
                r.detail,
            )
            if name == "embedding_label_propagation":
                # every sampled unlabeled vector still gets a prediction
                # (the neardup leg may legitimately find no >=0.4 pair in
                # a 100-vector sample — its equality check above is the
                # real assertion)
                assert r.spark_rows > 0, name
    finally:
        LV.BRUTE_GATE_MAX_VECS = old


def test_resample_user_gate_matches_oracle_when_active(spark):
    # user_hourly_resample_ffill's oracle grid peaked ~70 GB at sf10;
    # above RESAMPLE_GATE_MAX_USERS both engines bound the input to the
    # identical md5 user sample — force it on at sf0.01 and compare
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.catalog import (
        load_all,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.plans import (
        temporal as TP,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.testing import (
        compare_query,
    )

    q = load_all()["user_hourly_resample_ffill"]
    assert "FROM ge" in q.oracle  # the gate CTE is wired into the oracle
    old = TP.RESAMPLE_GATE_MAX_USERS
    TP.RESAMPLE_GATE_MAX_USERS = 50  # sf0.01 has 150 users
    try:
        gated_oracle = q.oracle.replace(
            TP._RESAMPLE_GATE_SQL,
            TP._RESAMPLE_GATE_SQL.replace(str(old), "50"),
        )
        assert gated_oracle != q.oracle
        r = compare_query(
            spark, q.name, q.fn, gated_oracle, "/root/testdata/sf0.01"
        )
        assert r.row_count_match and r.columns_match and r.values_match, (
            r.detail
        )
        assert 0 < r.spark_rows  # sampled users still produce a grid
    finally:
        TP.RESAMPLE_GATE_MAX_USERS = old


def test_catalog_oracles_embed_the_gate():
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.catalog import (
        load_all,
    )

    reg = load_all()
    for name in ("embedding_neardup_pairs", "embedding_label_propagation"):
        assert "FROM se" in reg[name].oracle, name
        assert str(LV.BRUTE_GATE_MAX_VECS) in reg[name].oracle, name
