"""The one-pass 13-entity validate-and-route (``validate_all_entities``):
row-for-row equivalence with the per-entity demux -> validate -> union
shape, dedup scope and watermark semantics across micro-batches, and the
plan shape that makes it one pass (one source scan, one dedup operator,
one ``from_json`` per entity)."""

import json
import os
import re
import shutil
import tempfile
from datetime import datetime
from functools import reduce

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.fixtures import (
    BASE_TS,
    entity_fixtures,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.schemas import (
    ENTITIES,
    PRIMARY_KEYS,
    REQUIRED_FIELDS,
    SPORT_FIELD,
    entity_schema,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.validate import (
    validate_all_entities,
    validate_messages,
)

ENVELOPE = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)
KAFKA_TS = datetime(2026, 1, 1)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kickhouse-onepass-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _per_entity_union(msgs, dedup):
    """The per-entity shape: filter each entity's messages, validate them
    against that entity's schema, union the 13 results."""
    branches = [
        validate_messages(
            msgs.filter(F.regexp_extract("topic", r"^soccer\.(.+)$", 1) == e),
            entity_schema(e),
            REQUIRED_FIELDS[e],
            type_pattern=f"(?i)^{re.escape(e)}$",
            pk_cols=PRIMARY_KEYS[e],
            sport_field=SPORT_FIELD.get(e),
            dedup=dedup,
        )
        for e in ENTITIES
    ]
    return reduce(lambda a, b: a.unionByName(b), branches)


def _edge_envelopes():
    rows = [
        ("soccer." + e, None, json.dumps(doc), KAFKA_TS)
        for e, docs in entity_fixtures().items()
        for doc in docs
    ]
    bare = json.dumps({"idEvent": "X1", "strSport": "Soccer"})  # no ingested_at
    rows += [
        ("soccer.event", None, '{"idEvent": "BAD"', KAFKA_TS),  # corrupt JSON
        ("soccer.event", None, "not json at all", KAFKA_TS),
        ("soccer.nope", None, bare, KAFKA_TS),  # unknown entity: dropped
        ("soccer.Event", None, bare, KAFKA_TS),  # case variant: dropped
        ("validated.soccer.event", None, bare, KAFKA_TS),  # not a soccer.* topic
        ("soccer.event", None, None, KAFKA_TS),  # null value
        # null Kafka timestamp and no usable ingested_at: evt_ts is "now"
        ("soccer.event", None, json.dumps({"idEvent": "N1", "strSport": "Soccer"}), None),
        ("soccer.team", None, json.dumps({"idTeam": "T9", "ingested_at": 0.0}), None),
        # non-string JSON values: numbers, objects, arrays, a bare scalar
        ("soccer.event", None, json.dumps({"idEvent": 77, "strSport": "Soccer",
                                           "intScore": {"a": 1}, "ingested_at": BASE_TS}),
         KAFKA_TS),
        ("soccer.event.stats", None, json.dumps([{"idEvent": "S1"}]), KAFKA_TS),
        ("soccer.league", None, "42", KAFKA_TS),
        ("soccer.venue", None, json.dumps({"idVenue": True, "ingested_at": "late"}), KAFKA_TS),
        # player's nested lookup_player.strSport
        ("soccer.player", None, json.dumps({"idPlayer": "P1", "idTeam": "10", "ingested_at": BASE_TS,
                                            "lookup_player": {"strSport": "SOCCER"}}), KAFKA_TS),
        ("soccer.player", None, json.dumps({"idPlayer": "P2", "idTeam": "10", "ingested_at": BASE_TS,
                                            "lookup_player": {"strSport": "Rugby"}}), KAFKA_TS),
        ("soccer.player", None, json.dumps({"idPlayer": "P3", "idTeam": "10",
                                            "ingested_at": BASE_TS}), KAFKA_TS),
        ("soccer.player", None, json.dumps({"idPlayer": "P4", "idTeam": "10", "ingested_at": BASE_TS,
                                            "lookup_player": "Soccer"}), KAFKA_TS),
        # the same payload (same key and payload_sha) on two entities, and a
        # re-send of it under a later Kafka timestamp
        ("soccer.event", None, bare, KAFKA_TS),
        ("soccer.live.event.lookup", None, bare, KAFKA_TS),
        ("soccer.event", None, bare, datetime(2026, 1, 1, 0, 5)),
    ]
    return rows


def _both_shapes(spark, dedup):
    """Rows of the per-entity union and of the one-pass plan, collected in
    ONE query so both see the same current_timestamp()."""
    msgs = spark.createDataFrame(_edge_envelopes(), schema=ENVELOPE)
    want = _per_entity_union(msgs, dedup)
    got = validate_all_entities(msgs, dedup=dedup)
    assert got.columns == want.columns == [
        "topic", "key", "value", "payload_sha", "evt_ts", "is_valid", "parse_ok",
    ]
    cols = [c for c in got.columns if not (dedup and c == "evt_ts")]
    rows = (
        want.select(F.lit(0).alias("side"), *cols)
        .unionByName(got.select(F.lit(1).alias("side"), *cols))
        .collect()
    )

    def side(s):
        return sorted((tuple(r)[1:] for r in rows if r["side"] == s), key=repr)

    return side(0), side(1)


def test_one_pass_equals_per_entity_union(spark):
    want, got = _both_shapes(spark, dedup=False)
    assert got == want
    n_fixture = sum(len(d) for d in entity_fixtures().values())
    assert len(got) == n_fixture + 16  # 19 edge envelopes, 3 of them dropped
    topics = [r[0] for r in got]
    assert not any(".nope" in t or ".Event" in t or ".validated." in t for t in topics)
    players = {r[1]: r[0] for r in got if r[0].endswith(".player")}
    assert players["P1"].startswith("validated.")
    assert all(players[k].startswith("rejected.") for k in ("P2", "P3"))
    # a string where lookup_player's struct belongs fails the parse (P5)
    (p4,) = [r for r in got if '"idPlayer":"P4"' in r[2]]
    assert p4[0] == "rejected.soccer.player" and p4[6] is False


def test_one_pass_equals_per_entity_union_with_dedup(spark):
    want, got = _both_shapes(spark, dedup=True)
    assert got == want
    bare = [r for r in got if r[1] == "X1"]
    # the re-send is dropped; the same payload on another entity is not
    # (both rejected: no ingested_at)
    assert sorted(r[0] for r in bare) == [
        "rejected.soccer.event", "rejected.soccer.live.event.lookup",
    ]


def _land(src, i, rows):
    """Land one file atomically (the file source skips dot-files)."""
    hidden = os.path.join(src, f".b{i:02d}.json")
    with open(hidden, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")
    os.rename(hidden, os.path.join(src, f"b{i:02d}.json"))


def _msg(entity, doc):
    return {"topic": f"soccer.{entity}", "key": None, "value": json.dumps(doc),
            "timestamp": "2026-01-01T00:00:00.000Z"}


def test_streaming_dedup_scope_and_global_watermark(spark, tmpdir):
    """One watermark over the whole stream: per-entity dedup scope holds
    across micro-batches, a stalled entity does not pin state eviction, and
    a row 48 h older than the newest event of any entity is late."""
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    h = 3600.0

    def event(i, ts):
        return {"idEvent": i, "strSport": "Soccer", "ingested_at": BASE_TS + ts}

    stream = spark.readStream.schema(ENVELOPE).option("maxFilesPerTrigger", 1).json(src)
    q = (
        validate_all_entities(stream)
        .writeStream.format("memory")
        .queryName("onepass_scope")
        .option("checkpointLocation", os.path.join(tmpdir, "chk"))
        .outputMode("append")
        .start()
    )

    def step(i, rows):
        _land(src, i, rows)
        q.processAllAvailable()
        last = [p for p in q.recentProgress if p["numInputRows"] > 0][-1]
        return last["stateOperators"][0]["numRowsTotal"]

    try:
        # the same (key, payload) on two entities, plus event.stats, which
        # then stalls for the rest of the stream
        rows0 = step(0, [_msg("event", event("X", 0)), _msg("live.event.lookup", event("X", 0)),
                         _msg("event.stats", {"idEvent": "X", "idStatistic": "1",
                                              "ingested_at": BASE_TS})])
        # a re-send of X on event (fresh ingested_at) in a later batch
        rows1 = step(1, [_msg("event", event("X", 60)), _msg("event", event("Y", h))])
        # event moves 100 h on; watermark becomes BASE_TS + 52 h
        rows2 = step(2, [_msg("event", event("Z", 100 * h))])
        rows3 = step(3, [_msg("event", event("W", 100 * h + 60))])
        # event.stats at BASE_TS + 50 h is within 48 h of its own last
        # event but 50 h behind the stream: late, dropped
        rows4 = step(4, [_msg("event.stats", {"idEvent": "L", "idStatistic": "1",
                                              "ingested_at": BASE_TS + 50 * h})])
        out = spark.sql("SELECT topic, key FROM onepass_scope").collect()
    finally:
        q.stop()

    routed = sorted((r["topic"], r["key"]) for r in out)
    assert routed == sorted([
        ("validated.soccer.event", "X"),
        ("rejected.soccer.live.event.lookup", "X"),  # routed again on its own entity
        ("rejected.soccer.event.stats", "X|1"),
        ("validated.soccer.event", "Y"),
        ("validated.soccer.event", "Z"),
        ("validated.soccer.event", "W"),
    ])
    assert (rows0, rows1, rows2) == (3, 4, 5)
    # everything up to BASE_TS + 1 h expired once the watermark passed
    # BASE_TS + 49 h, the stalled event.stats row included
    assert rows3 == rows4 == 2


def test_routed_plan_is_one_pass(spark, tmpdir):
    """One source relation, one dedup operator, and one from_json per
    entity in the optimized plan: the parse is not inlined into every field
    reference."""
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    _land(src, 0, [_msg(e, {"idEvent": "1", "ingested_at": BASE_TS}) for e in ENTITIES])
    routed = validate_all_entities(spark.readStream.schema(ENVELOPE).json(src))
    analyzed = routed._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("StreamingRelation") == 1
    assert len(re.findall(r"\bDeduplicateWithinWatermark\b", analyzed)) == 1
    assert analyzed.count("EventTimeWatermark") == 1

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")  # keep the data batch as lastExecution
    try:
        q = (
            routed.writeStream.format("memory")
            .queryName("onepass_plan")
            .option("checkpointLocation", os.path.join(tmpdir, "chk"))
            .start()
        )
        try:
            q.processAllAvailable()
            execution = q._jsq.streamingQuery().lastExecution()
            optimized = execution.optimizedPlan().toString()
            physical = execution.executedPlan().toString()
            n = spark.sql("SELECT COUNT(*) AS n FROM onepass_plan").collect()[0]["n"]
        finally:
            q.stop()
    finally:
        spark.conf.set(key, prev)
    assert n == len(ENTITIES)
    assert optimized.count("from_json(") == len(ENTITIES)
    assert physical.count("StreamingDeduplicateWithinWatermark") == 1
    assert physical.count("FileScan json") == 1
