"""Unit + property tests for the scalar expression library (SURVEY.md §5
items 1 and 4): pk stability under nulls, payload-hash invariance to column
order, tri-state squash never NULL, surrogate-key determinism."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.functions.expressions import (
    composite_pk,
    multi_if,
    null_if_zero_key,
    payload_hash,
    plausible_or_kafka_epoch,
    repair_ingested_at,
    required_fields_ok,
    sport_ok,
    surrogate_key,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def test_composite_pk_null_parts_become_empty(spark):
    df = spark.createDataFrame(
        [Row(a="x", b=None), Row(a=None, b=None), Row(a="x", b="y")]
    )
    out = [r[0] for r in df.select(composite_pk(["a", "b"])).collect()]
    assert out == ["x|", "|", "x|y"]


@given(
    a=st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
    b=st.one_of(st.none(), st.integers(min_value=0, max_value=99)),
)
@settings(**_SETTINGS)
def test_composite_pk_never_null(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a string, b int")
    val = df.select(composite_pk(["a", "b"]).alias("pk")).collect()[0]["pk"]
    assert val is not None
    assert val == f"{a if a is not None else ''}|{b if b is not None else ''}"


def test_payload_hash_invariant_to_declared_order(spark):
    """Hash canonicalizes by sorting column names (reference:
    validate_json.py:532-537) — declaration order must not matter."""
    df = spark.createDataFrame([("1", "2", None)], "a string, b string, c string")
    h1 = df.select(payload_hash(["a", "b", "c"]).alias("h")).collect()[0]["h"]
    h2 = df.select(payload_hash(["c", "b", "a"]).alias("h")).collect()[0]["h"]
    assert h1 == h2


def test_payload_hash_excludes_envelope(spark):
    df = spark.createDataFrame([Row(a="1", kafka_ts="zzz")])
    h1 = df.select(payload_hash(["a", "kafka_ts"], exclude=["kafka_ts"]).alias("h"))
    h2 = df.select(payload_hash(["a"]).alias("h"))
    assert h1.collect()[0]["h"] == h2.collect()[0]["h"]


def test_sport_ok_tristate_squash(spark):
    """NULL input must yield False, not NULL (validate_json.py:556-563) —
    otherwise routing counts drift."""
    df = spark.createDataFrame(
        [Row(s="Soccer"), Row(s="SOCCER x"), Row(s="tennis"), Row(s=None)]
    )
    out = [r[0] for r in df.select(sport_ok("s")).collect()]
    assert out == [True, True, False, False]
    assert all(v is not None for v in out)


def test_required_fields_ok_fold(spark):
    df = spark.createDataFrame(
        [Row(a="1", b="2"), Row(a=None, b="2"), Row(a="1", b=None)]
    )
    out = [r[0] for r in df.select(required_fields_ok(["a", "b"])).collect()]
    assert out == [True, False, False]


def test_surrogate_key_deterministic_and_type_insensitive(spark):
    df = spark.createDataFrame([(7, "7"), (8, "8")], "i int, s string")
    rows = df.select(
        surrogate_key("i").alias("hi"), surrogate_key("s").alias("hs")
    ).collect()
    for r in rows:
        assert r["hi"] == r["hs"]  # cast-to-string canonicalization
    again = df.select(surrogate_key("i").alias("hi")).collect()
    assert [r["hi"] for r in rows] == [r["hi"] for r in again]


def test_null_if_zero_key(spark):
    df = spark.createDataFrame([(0,), (None,), (5,)], "k int")
    out = [r[0] for r in df.select(null_if_zero_key("k")).collect()]
    assert out[0] is None and out[1] is None and out[2] is not None


def test_multi_if_first_match_wins(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    expr = multi_if(
        (F.col("x") == 1, "one"),
        (F.col("x") <= 2, "small"),
        default="other",
    )
    assert [r[0] for r in df.select(expr).collect()] == ["one", "small", "other"]


def test_repair_ingested_at_chain(spark):
    """P6: plausible epoch kept; tiny value falls back to kafka ts; both
    null falls back to now (reference: validate_json.py:73-84)."""
    df = spark.createDataFrame(
        [
            (1767225600.0, "2026-01-01 00:00:00"),
            (5.0, "2026-01-01 00:00:00"),
            (None, None),
        ],
        "ing double, kts string",
    )
    out = df.select(
        repair_ingested_at(F.col("ing"), F.to_timestamp("kts")).alias("r")
    ).collect()
    assert out[0]["r"] == 1767225600.0
    assert out[1]["r"] == 1767225600.0  # kafka-ts fallback (UTC session)
    assert out[2]["r"] is not None  # now() fallback


def test_plausible_or_kafka_epoch_has_no_now_link(spark):
    """The row-only part of the repair chain: NULL where repair_ingested_at
    would fall back to now(); the same value everywhere else."""
    df = spark.createDataFrame(
        [(1767225600.0, None), (5.0, "2026-01-01 00:00:00"), (5.0, None)],
        "ing double, kts string",
    )
    out = df.select(
        plausible_or_kafka_epoch(F.col("ing"), F.to_timestamp("kts")).alias("p")
    ).collect()
    assert [r["p"] for r in out] == [1767225600.0, 1767225600.0, None]
