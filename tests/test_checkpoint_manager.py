"""Streaming checkpoints of a ``get_spark`` session: they commit through
``FileSystemBasedCheckpointFileManager`` on every storage scheme, a
checkpoint written under Spark's default ``FileContext`` manager resumes
under it with its dedup state, and the memory-sink mode of the routed
query refuses a checkpoint it cannot recover from."""

import json
import os
import shutil
import tempfile

import pytest

from pyspark.sql import types as T

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.fixtures import (
    entity_fixtures,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.session import (
    CHECKPOINT_FILE_MANAGER,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.validate import (
    file_json_source,
    start_validated_rejected_sinks,
    validate_all_entities,
)

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
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
    d = tempfile.mkdtemp(prefix="kickhouse-chk-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _manager_class(spark, path: str) -> str:
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf()
    )
    return manager.getClass().getName()


def test_checkpoints_use_file_system_manager_on_every_scheme(spark, scheme_root):
    root, _local = scheme_root
    assert _manager_class(spark, f"{root}/chk") == CHECKPOINT_FILE_MANAGER


def _envelope(entity: str, doc: dict) -> str:
    return json.dumps({"topic": f"soccer.{entity}", "key": None, "value": json.dumps(doc),
                       "timestamp": "2026-01-01T00:00:00.000Z"})


def _land(src: str, stage: str, name: str, lines: list[str]) -> None:
    with open(f"{stage}/{name}", "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(f"{stage}/{name}", f"{src}/{name}")


def test_file_context_checkpoint_resumes_with_its_dedup_state(spark, tmpdir):
    """A routed checkpoint written under Spark's default manager resumes
    under the session's manager: batch 0's file is not read again, a
    re-send of a batch-0 message is dropped by the recovered dedup state
    and a new message is routed. A file sink, since a memory sink cannot
    recover."""
    src, stage, out = f"{tmpdir}/src", f"{tmpdir}/stage", f"{tmpdir}/out"
    os.makedirs(src)
    os.makedirs(stage)
    fx = entity_fixtures()

    def start():
        routed = validate_all_entities(file_json_source(spark, src, ENVELOPE, max_files=1))
        return (
            routed.drop("is_valid", "parse_ok")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{tmpdir}/chk/routed")
            .trigger(processingTime="100 milliseconds")
            .start()
        )

    saved = spark.conf.get(MANAGER_CONF, None)
    try:
        spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
        assert _manager_class(spark, f"{tmpdir}/chk") == FILE_CONTEXT_MANAGER
        q = start()
        try:
            _land(src, stage, "b0.json",
                  [_envelope(e, d) for e, docs in fx.items() for d in docs])
            q.processAllAvailable()
        finally:
            q.stop()
        first = spark.read.parquet(out).select("key", "topic").collect()
    finally:
        if saved is None:
            spark.conf.unset(MANAGER_CONF)
        else:
            spark.conf.set(MANAGER_CONF, saved)

    assert _manager_class(spark, f"{tmpdir}/chk") == CHECKPOINT_FILE_MANAGER
    event = fx["event"][0]
    q = start()
    try:
        _land(src, stage, "b1.json", [
            _envelope("event", {**event, "ingested_at": event["ingested_at"] + 3600}),
            _envelope("event", {**event, "idEvent": "resume-new"}),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(out).select("key", "topic").collect()
    assert sorted(rows) == sorted(first + [("resume-new", "validated.soccer.event")])


def test_memory_sinks_refuse_to_restart_on_their_checkpoint(spark, tmpdir):
    """Memory mode starts, stops, and on the same root refuses to start
    again, before any query starts, naming the offset log."""
    src, stage = f"{tmpdir}/src", f"{tmpdir}/stage"
    os.makedirs(src)
    os.makedirs(stage)

    def start():
        routed = validate_all_entities(file_json_source(spark, src, ENVELOPE, max_files=1))
        return start_validated_rejected_sinks(
            routed, f"{tmpdir}/chk", memory_prefix="restart", trigger="100 milliseconds"
        )

    (q,) = start()
    try:
        event = entity_fixtures()["event"][0]
        _land(src, stage, "b0.json", [_envelope("event", event)])
        q.processAllAvailable()
    finally:
        q.stop()

    offsets = f"{tmpdir}/chk/routed/offsets"
    with pytest.raises(ValueError, match="memory sink cannot recover") as err:
        start()
    assert offsets in str(err.value)
    assert not [s for s in spark.streams.active if s.name == "restart_routed"]
