"""The 13-entity validate-and-route (reference job: demux → validate →
union fold, validate_json.py:582-652; here one pass) driven over a
mixed-topic stream."""

import json
import os
import shutil
import tempfile

import pytest

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.fixtures import entity_fixtures
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.validate import (
    validate_all_entities,
)

from pyspark.sql import types as T

ENVELOPE = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kickhouse-mux-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mixed_envelopes(path: str) -> dict[str, int]:
    """All 13 entities' fixtures in ONE interleaved stream + one corrupt
    message; returns expected counts of valid rows per entity topic."""
    fx = entity_fixtures()
    rows = []
    for entity, docs in fx.items():
        for doc in docs:
            rows.append(
                {
                    "topic": f"soccer.{entity}",
                    "key": None,
                    "value": json.dumps(doc),
                    "timestamp": "2026-01-01T00:00:00.000Z",
                }
            )
    rows.append(
        {"topic": "soccer.event", "key": None, "value": '{"idEvent": "x"',
         "timestamp": "2026-01-01T00:00:00.000Z"}
    )
    with open(f"{path}/all.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    return {e: len(d) for e, d in fx.items()}


def test_multiplexed_batch_validate_union(spark, tmpdir):
    src = f"{tmpdir}/src"
    os.makedirs(src)
    totals = _mixed_envelopes(src)
    msgs = spark.read.schema(ENVELOPE).json(src)
    # batch driver of the same topology (one transform, two drivers)
    routed = validate_all_entities(msgs, dedup=False)
    out = routed.collect()
    assert len(out) == sum(totals.values()) + 1  # + corrupt message

    by_topic = {}
    for r in out:
        by_topic[r["topic"]] = by_topic.get(r["topic"], 0) + 1
    # soccer rows validated; wrong-sport rows rejected per entity
    assert by_topic["validated.soccer.league"] == 4 and by_topic["rejected.soccer.league"] == 1
    assert by_topic["validated.soccer.event"] == 3  # basketball + corrupt rejected
    assert by_topic["rejected.soccer.event"] == 2
    assert by_topic["validated.soccer.player"] == 2 and by_topic["rejected.soccer.player"] == 1
    # sport-less children validate on required fields alone (J1-J3 filters later)
    assert by_topic["validated.soccer.event.stats"] == 3
    assert by_topic["validated.soccer.event.lineup"] == 3

    # corrupt message got the synthesized sha pk (P12)
    sha_rows = [r for r in out if r["topic"] == "rejected.soccer.event" and len(r["key"] or "") == 64]
    assert len(sha_rows) == 1


def test_multiplexed_streaming_runs(spark, tmpdir):
    src = f"{tmpdir}/src"
    os.makedirs(src)
    _mixed_envelopes(src)
    stream = spark.readStream.schema(ENVELOPE).json(src)
    routed = validate_all_entities(stream, dedup=True)
    assert routed.isStreaming
    q = (
        routed.writeStream.format("memory")
        .queryName("mux")
        .option("checkpointLocation", f"{tmpdir}/chk")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT COUNT(*) AS n FROM mux").collect()[0]["n"]
        topics = {r["topic"] for r in spark.sql("SELECT DISTINCT topic FROM mux").collect()}
    finally:
        q.stop()
    assert n > 30
    assert any(t.startswith("validated.") for t in topics)
    assert any(t.startswith("rejected.") for t in topics)
