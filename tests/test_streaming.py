"""Structured-Streaming tests: validator routing, watermark dedup and the
foreachBatch silver sink (``parts_sink`` into a parts table) under batch
retries and injected crashes — file/memory sources so no broker is
needed (SURVEY.md §5 item 3)."""

import json
import os
import shutil
import sys
import tempfile

import pytest

from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.fixtures import (
    entity_fixtures,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.latest import (
    latest_per_key,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources import (
    parts as P,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.storage import (
    checkpoint_query_id,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming import (
    parts_stream,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.monitor import (
    attach,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.validate import (
    file_json_source,
    start_validated_rejected_sinks,
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

PAYLOAD = T.StructType(
    [
        T.StructField("idEvent", T.StringType()),
        T.StructField("strSport", T.StringType()),
        T.StructField("intScore", T.StringType()),
        T.StructField("ingested_at", T.DoubleType()),
    ]
)


def _write_envelope_files(path: str) -> dict[str, int]:
    """13 messages: 6 valid (1 duplicated twice), 3 missing-required,
    2 corrupt JSON, 2 wrong entity. Returns expected routing counts."""
    rows = []

    def msg(topic, doc):
        rows.append(
            {
                "topic": topic,
                "key": doc.get("idEvent") if isinstance(doc, dict) else None,
                "value": json.dumps(doc) if isinstance(doc, dict) else doc,
                "timestamp": "2026-01-01T00:00:00.000Z",
            }
        )

    base = {"strSport": "Soccer", "ingested_at": 1767225600.0}
    for i in range(5):
        msg("soccer.event", {"idEvent": f"E{i}", "intScore": str(i), **base})
    # duplicates of E0: one byte-identical, one differing ONLY in
    # ingested_at (a producer re-send stamps a fresh ingest time) — BOTH
    # must be dropped, i.e. payload_sha excludes envelope fields
    # (reference EXCLUDE_FROM_HASH, validate_json.py:532-537)
    msg("soccer.event", {"idEvent": "E0", "intScore": "0", **base})
    msg("soccer.event", {"idEvent": "E0", "intScore": "0", "strSport": "Soccer",
                         "ingested_at": 1767225660.0})
    # missing required idEvent
    for i in range(3):
        msg("soccer.event", {"intScore": str(i), **base})
    # corrupt JSON
    msg("soccer.event", '{"idEvent": "EBAD"')
    msg("soccer.event", '{"idEvent": "EBAD2"')
    # wrong entity (regex whitelist is 'event' only in this test)
    msg("soccer.broadcast", {"idEvent": "B1", "intScore": "9", **base})
    msg("soccer.broadcast", {"idEvent": "B2", "intScore": "9", **base})
    with open(f"{path}/batch0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    return {
        "validated.soccer.event": 6,
        "rejected.soccer.event": 5,
        "rejected.soccer.broadcast": 2,
    }


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kickhouse-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_validate_route_and_dedup(spark, tmpdir):
    src_dir = f"{tmpdir}/src"
    import os

    os.makedirs(src_dir)
    expected = _write_envelope_files(src_dir)

    msgs = file_json_source(spark, src_dir, ENVELOPE)
    assert msgs.isStreaming
    routed = validate_messages(
        msgs,
        PAYLOAD,
        required=["idEvent"],
        type_pattern="(?i)^event$",
        dedup=True,
    )
    queries = start_validated_rejected_sinks(
        routed, f"{tmpdir}/chk", memory_prefix="t1", trigger="1 seconds"
    )
    try:
        for q in queries:
            q.processAllAvailable()
        valid = spark.sql("SELECT * FROM t1_validated").collect()
        rejected = spark.sql("SELECT * FROM t1_rejected").collect()
    finally:
        for q in queries:
            q.stop()

    # dedup dropped the two duplicate E0 messages: 7 valid msgs -> 5 unique
    assert len(valid) == 5
    topics = {r["topic"] for r in valid}
    assert topics == {"validated.soccer.event"}
    # keys are the composite pk
    assert sorted(r["key"] for r in valid) == ["E0", "E1", "E2", "E3", "E4"]
    # rejected: 3 missing-required + 2 corrupt + 2 wrong-entity = 7 (no dedup losses)
    assert len(rejected) == 7
    by_topic = {}
    for r in rejected:
        by_topic[r["topic"]] = by_topic.get(r["topic"], 0) + 1
    assert by_topic == {"rejected.soccer.event": 5, "rejected.soccer.broadcast": 2}
    # corrupt rows got the P12 synthesized pk (sha256 hex, 64 chars)
    sha_keys = [r["key"] for r in rejected if len(r["key"] or "") == 64]
    assert len(sha_keys) == 2
    assert expected  # documented intent


def _entity_envelopes(resend: bool = False) -> list[str]:
    """One JSON envelope line per fixture document of all 13 entities plus
    one corrupt message. ``resend`` stamps a fresh ingested_at on every
    document (a producer re-send: same payload, dropped by dedup) and
    varies the corrupt text (a new row)."""
    lines = []
    for entity, docs in entity_fixtures().items():
        for doc in docs:
            if resend:
                doc = {**doc, "ingested_at": doc["ingested_at"] + 3600}
            lines.append(json.dumps({"topic": f"soccer.{entity}", "key": None,
                                     "value": json.dumps(doc),
                                     "timestamp": "2026-01-01T00:00:00.000Z"}))
    corrupt = '{"idEvent": "resent"' if resend else '{"idEvent": "x"'
    lines.append(json.dumps({"topic": "soccer.event", "key": None, "value": corrupt,
                             "timestamp": "2026-01-01T00:00:00.000Z"}))
    return lines


def _batch_topic_counts(spark, src: str) -> dict[str, int]:
    """Per-topic routed counts of the batch 13-entity topology over ``src``."""
    routed = validate_all_entities(spark.read.schema(ENVELOPE).json(src))
    return {r["topic"]: r["count"] for r in routed.groupBy("topic").count().collect()}


def test_one_query_routes_both_legs(spark, tmpdir):
    """Both legs come from ONE streaming query that reads each message once;
    the validated/rejected views over its memory table see rows appended
    after they were created and match the batch topology."""
    src, stage = f"{tmpdir}/src", f"{tmpdir}/stage"
    os.makedirs(src)
    os.makedirs(stage)
    stream = file_json_source(spark, src, ENVELOPE, max_files=1)
    queries = start_validated_rejected_sinks(
        validate_all_entities(stream), f"{tmpdir}/chk",
        memory_prefix="one", trigger="100 milliseconds",
    )
    landed = 0
    try:
        assert len(queries) == 1
        (q,) = queries
        for i, resend in enumerate((False, True)):
            lines = _entity_envelopes(resend)
            with open(f"{stage}/b{i}.json", "w") as f:
                f.write("\n".join(lines) + "\n")
            os.rename(f"{stage}/b{i}.json", f"{src}/b{i}.json")
            landed += len(lines)
        q.processAllAvailable()
        got = {}
        for leg in ("validated", "rejected"):
            df = spark.table(f"one_{leg}")
            assert df.columns == ["topic", "key", "value", "payload_sha", "evt_ts"]
            for r in df.groupBy("topic").count().collect():
                assert r["topic"].startswith(f"{leg}.")
                got[r["topic"]] = r["count"]
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if p["numInputRows"]]
    finally:
        for q in queries:
            q.stop()

    assert got == _batch_topic_counts(spark, src)
    # the source is read once per message, not once per leg
    assert sum(p["numInputRows"] for p in progress) == landed
    # two data batches, each adding rows to the views
    assert len(progress) == 2
    assert all(p["sink"]["numOutputRows"] > 0 for p in progress)


def test_validate_stream_job_routes_all_entities(spark, tmpdir, monkeypatch, capsys):
    """The job's only mode is the 13-entity topology: in file mode every
    entity validates against its own schema, so the validated count
    equals the batch topology's."""
    jobs = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
    monkeypatch.syspath_prepend(jobs)
    import validate_stream

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/all.json", "w") as f:
        f.write("\n".join(_entity_envelopes()) + "\n")
    # the job's get_spark reuses this session: keep its partition count
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions"))
    # and detach its progress listener afterwards
    listeners = []
    monkeypatch.setattr(validate_stream, "attach", lambda s: listeners.append(attach(s)))
    monkeypatch.setattr(sys, "argv", ["validate_stream.py", "--source-dir", src,
                                      "--checkpoint", f"{tmpdir}/chk", "--run-for", "0"])
    try:
        validate_stream.main()
    finally:
        for listener in listeners:
            spark.streams.removeListener(listener)

    # lines "job_<leg>: <n> rows"
    printed = {
        name: int(rest.split()[0])
        for name, rest in (
            line.split(": ") for line in capsys.readouterr().out.splitlines()
            if line.startswith("job_")
        )
    }
    want = _batch_topic_counts(spark, src)
    for leg in ("validated", "rejected"):
        assert printed[f"job_{leg}"] == sum(
            n for t, n in want.items() if t.startswith(f"{leg}.")
        )


def test_batch_and_streaming_share_transform(spark, tmpdir):
    """The same validate_messages function runs in a plain batch driver."""
    import os

    src_dir = f"{tmpdir}/src"
    os.makedirs(src_dir)
    _write_envelope_files(src_dir)
    batch = spark.read.schema(ENVELOPE).json(src_dir)
    routed = validate_messages(
        batch, PAYLOAD, required=["idEvent"], type_pattern="(?i)^event$", dedup=True
    )
    assert not routed.isStreaming
    out = routed.collect()
    assert len(out) == 12  # 14 msgs - 2 exact dups


def test_payload_sha_ignores_ingested_at(spark):
    """Two messages differing ONLY in ingested_at share payload_sha (the
    ADVICE-flagged dedup no-op: producers stamp a fresh ingest time on
    re-emission, so the hash must exclude envelope fields)."""
    from datetime import datetime

    rows = [
        {"topic": "soccer.event", "key": "E1",
         "value": json.dumps({"idEvent": "E1", "strSport": "Soccer",
                              "intScore": "3", "ingested_at": 1767225600.0}),
         "timestamp": datetime(2026, 1, 1)},
        {"topic": "soccer.event", "key": "E1",
         "value": json.dumps({"idEvent": "E1", "strSport": "Soccer",
                              "intScore": "3", "ingested_at": 1767312000.0}),
         "timestamp": datetime(2026, 1, 2)},
    ]
    batch = spark.createDataFrame(rows, schema=ENVELOPE)
    routed = validate_messages(
        batch, PAYLOAD, required=["idEvent"], type_pattern="(?i)^event$", dedup=False
    )
    shas = [r["payload_sha"] for r in routed.collect()]
    assert len(shas) == 2 and shas[0] == shas[1]


# ---------------------------------------------------------------------------
# silver sink: foreachBatch into a parts table (streaming/parts_stream.py)
# ---------------------------------------------------------------------------

ROWS = T.StructType(
    [T.StructField("id", T.StringType()), T.StructField("v", T.LongType())]
)


def _land(src: str, name: str, rows: list[dict]) -> None:
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")


def _drain(spark, src: str, tbl: str, chk: str, schema=ROWS, transform=None) -> str:
    """Run the silver sink over every file in ``src`` and stop; returns the
    query id (the stream identity the sink derives its txn app id from)."""
    stream = spark.readStream.schema(schema).json(src)
    if transform is not None:
        stream = transform(stream)
    q = parts_stream.parts_sink(stream, tbl, chk, trigger="100 milliseconds")
    try:
        q.processAllAvailable()
        return str(q.id)
    finally:
        q.stop()


def _rows(spark, tbl: str) -> set[tuple]:
    return {(r["id"], r["v"]) for r in P.read_parts(spark, tbl).collect()}


def _file_snapshot(root: str) -> set[tuple]:
    return {
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)),
         os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, fs in os.walk(root)
        for f in fs
    }


def _version_doc(local_tbl: str, n: int) -> dict:
    with open(os.path.join(local_tbl, P.VERSIONS_DIR, f"v{n}.json")) as f:
        return json.load(f)


def test_foreach_batch_maintenance_and_latest_view(spark, tmpdir):
    """foreachBatch silver maintenance + latest-per-key gold view (ST8/A6):
    the streamed table and a batch backfill through the SAME transform
    hold the same rows."""
    src, silver, bf = f"{tmpdir}/src", f"{tmpdir}/silver", f"{tmpdir}/bf"
    versions = T.StructType(
        [
            T.StructField("idEvent", T.StringType()),
            T.StructField("score", T.LongType()),
            T.StructField("updated_at", T.LongType()),
        ]
    )
    _land(src, "a.json", [
        {"idEvent": e, "score": s, "updated_at": v}
        for e, s, v in [("E1", 0, 1), ("E1", 2, 3), ("E1", 1, 2), ("E2", 7, 1)]
    ])

    def transform(df):
        # W-layer transform shared by backfill and incremental maintenance
        return df.withColumn("score2", F.col("score") * 2)

    P.create_parts_table(silver, engine="append")
    _drain(spark, src, silver, f"{tmpdir}/chk", schema=versions, transform=transform)

    silver_df = P.read_parts(spark, silver)
    assert silver_df.count() == 4
    assert set(silver_df.columns) == {"idEvent", "score", "updated_at", "score2"}
    gold = latest_per_key(silver_df, ["idEvent"], ["updated_at"])
    rows = {r["idEvent"]: (r["score"], r["score2"]) for r in gold.collect()}
    assert rows == {"E1": (2, 4), "E2": (7, 14)}

    # backfill path shares the same transform
    P.create_parts_table(bf, engine="append")
    P.insert_into_parts(transform(spark.read.schema(versions).json(src)), bf)
    assert sorted(P.read_parts(spark, bf).collect()) == sorted(silver_df.collect())


def test_silver_sink_idempotent_on_batch_retry(spark, tmpdir, monkeypatch):
    """foreachBatch is at-least-once: a retried micro-batch is delivered
    again under the same batch id. The sink must not double-append — the
    second delivery is a replay no-op — and business partition columns
    come back as plain columns."""
    src, silver = f"{tmpdir}/src", f"{tmpdir}/silver"
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("month", T.StringType())]
    )
    P.create_parts_table(silver, engine="append", partition_col="month")
    real = parts_stream.insert_into_parts
    results = []

    def _delivered_twice(df, path, **kw):
        results.append(real(df, path, **kw))
        results.append(real(df, path, **kw))  # the retry of the same batch

    monkeypatch.setattr(parts_stream, "insert_into_parts", _delivered_twice)
    _land(src, "a.json", [{"id": "E1", "month": "202601"}, {"id": "E2", "month": "202602"}])
    _drain(spark, src, silver, f"{tmpdir}/chk", schema=schema)
    _land(src, "b.json", [{"id": "E3", "month": "202601"}])
    _drain(spark, src, silver, f"{tmpdir}/chk", schema=schema)

    assert [r["replayed"] for r in results] == [False, True, False, True]
    assert P.current_version(silver) == 2
    assert P.table_history(silver)[-1]["batch_ids"] == [0, 1]
    out = P.read_parts(spark, silver)
    assert set(out.columns) == {"id", "month"}
    assert sorted(r["id"] for r in out.collect()) == ["E1", "E2", "E3"]
    assert out.filter(F.col("month") == 202601).count() == 2


def test_silver_reader_sees_only_committed_batches(spark, tmpdir, monkeypatch):
    """A reader concurrent with an in-flight streamed batch sees only whole
    committed batches: at the instant of batch 1's version commit its
    part is on disk but invisible; once the commit lands the whole batch
    appears at once."""
    src, silver = f"{tmpdir}/src", f"{tmpdir}/silver"
    P.create_parts_table(silver, engine="append")
    _land(src, "a.json", [{"id": "E1", "v": 1}, {"id": "E2", "v": 2}])
    _drain(spark, src, silver, f"{tmpdir}/chk")

    real_io_for = P.io_for
    seen = []

    class _ReadBeforeCommit:
        def __init__(self, inner):
            self._inner = inner

        def write_exclusive(self, *a, **k):
            seen.append(
                (_rows(spark, silver), len(os.listdir(os.path.join(silver, P.PARTS_DIR))))
            )
            return self._inner.write_exclusive(*a, **k)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    def _patched(path):
        io, base = real_io_for(path)
        return _ReadBeforeCommit(io), base

    monkeypatch.setattr(P, "io_for", _patched)
    _land(src, "b.json", [{"id": "E3", "v": 3}, {"id": "E4", "v": 4}])
    _drain(spark, src, silver, f"{tmpdir}/chk")
    monkeypatch.setattr(P, "io_for", real_io_for)

    # one commit, observed with batch 1's part written but not yet visible
    assert seen == [({("E1", 1), ("E2", 2)}, 2)], "uncommitted batch leaked"
    assert _rows(spark, silver) == {("E1", 1), ("E2", 2), ("E3", 3), ("E4", 4)}


def _crash_before_commit(spark, root: str, local: str, monkeypatch) -> None:
    """The batch's part lands, the process dies before the version commit:
    the batch stays invisible, and the stream restarted over the same
    checkpoint retries it and commits it exactly once."""
    tbl, local_tbl = f"{root}/silver_crash1", os.path.join(local, "silver_crash1")
    src, chk = os.path.join(local, "src_crash1"), os.path.join(local, "chk_crash1")
    P.create_parts_table(tbl, engine="append")
    _land(src, "a.json", [{"id": "E1", "v": 1}])
    _drain(spark, src, tbl, chk)

    real_io_for = P.io_for

    class _Boom:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            if name == "write_exclusive":
                raise RuntimeError("injected crash before version commit")
            return getattr(self._inner, name)

    def _patched(path):
        io, base = real_io_for(path)
        return _Boom(io), base

    monkeypatch.setattr(P, "io_for", _patched)
    _land(src, "b.json", [{"id": "E2", "v": 2}, {"id": "E3", "v": 3}])
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _drain(spark, src, tbl, chk)
    monkeypatch.setattr(P, "io_for", real_io_for)

    # the part is on disk, but batch 1 is NOT committed and NOT visible
    assert len(os.listdir(os.path.join(local_tbl, P.PARTS_DIR))) == 2
    assert P.table_history(tbl)[-1]["batch_ids"] == [0]
    assert _rows(spark, tbl) == {("E1", 1)}, "half-committed batch leaked to readers"
    assert not os.path.exists(os.path.join(chk, "commits", "1"))

    # restart over the same checkpoint: Spark re-runs batch 1, once
    _drain(spark, src, tbl, chk)
    assert os.path.exists(os.path.join(chk, "commits", "1"))
    assert P.table_history(tbl)[-1]["batch_ids"] == [0, 1]
    assert P.current_version(tbl) == 2
    assert _rows(spark, tbl) == {("E1", 1), ("E2", 2), ("E3", 3)}
    assert P.read_parts(spark, tbl).count() == 3


def _crash_after_commit(spark, root: str, local: str, monkeypatch) -> None:
    """The batch's version commit lands, the process dies before the
    streaming checkpoint records the batch: the restarted stream retries
    it, and the retry writes no part and touches no committed file."""
    tbl, local_tbl = f"{root}/silver_crash2", os.path.join(local, "silver_crash2")
    src, chk = os.path.join(local, "src_crash2"), os.path.join(local, "chk_crash2")
    P.create_parts_table(tbl, engine="append")
    _land(src, "a.json", [{"id": "E1", "v": 1}])
    _drain(spark, src, tbl, chk)

    real = parts_stream.insert_into_parts

    def _commit_then_die(df, path, **kw):
        real(df, path, **kw)
        raise RuntimeError("injected crash before checkpoint commit")

    monkeypatch.setattr(parts_stream, "insert_into_parts", _commit_then_die)
    _land(src, "b.json", [{"id": "E2", "v": 2}])
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _drain(spark, src, tbl, chk)
    assert not os.path.exists(os.path.join(chk, "commits", "1"))
    assert P.table_history(tbl)[-1]["batch_ids"] == [0, 1]
    parts_dir = os.path.join(local_tbl, P.PARTS_DIR)
    dirs_before = sorted(os.listdir(parts_dir))
    files_before = _file_snapshot(parts_dir)
    assert any(f[0].endswith(".parquet") for f in files_before)

    retried = []

    def _record(df, path, **kw):
        retried.append(real(df, path, **kw))

    monkeypatch.setattr(parts_stream, "insert_into_parts", _record)
    _drain(spark, src, tbl, chk)
    monkeypatch.setattr(parts_stream, "insert_into_parts", real)

    assert [r["replayed"] for r in retried] == [True]
    assert os.path.exists(os.path.join(chk, "commits", "1"))
    assert sorted(os.listdir(parts_dir)) == dirs_before
    assert _file_snapshot(parts_dir) == files_before, "retry rewrote a committed part"
    assert P.current_version(tbl) == 2
    assert _rows(spark, tbl) == {("E1", 1), ("E2", 2)}


@pytest.mark.parametrize("scheme", ["", "file:"])
def test_crash_between_data_write_and_manifest(spark, tmpdir, scheme, monkeypatch):
    """Crash leg 1: the part data lands, the version file (the table's
    commit manifest) does not. The bare path runs the driver-local ``os``
    backend, the ``file:`` URI the Hadoop FileSystem backend."""
    _crash_before_commit(spark, f"{scheme}{tmpdir}", tmpdir, monkeypatch)


@pytest.mark.parametrize("scheme", ["", "file:"])
def test_crash_between_manifest_and_checkpoint_skips_rewrite(spark, tmpdir, scheme, monkeypatch):
    """Crash leg 2: the version file landed, the streaming checkpoint did
    not advance, so Spark retries the batch."""
    _crash_after_commit(spark, f"{scheme}{tmpdir}", tmpdir, monkeypatch)


def test_crash_injection_on_viewfs_scheme(spark, viewfs_root, monkeypatch):
    """Both crash legs through the real Hadoop backend on a registered
    non-``file`` scheme (ViewFileSystem)."""
    root, local = viewfs_root
    _crash_before_commit(spark, root, local, monkeypatch)
    _crash_after_commit(spark, root, local, monkeypatch)


def test_foreach_batch_stamps_stream_identity(spark, tmpdir):
    """Over the Hadoop (``file:``) backend: the sink derives its txn app id
    from the query id Spark persists in the checkpoint and stamps it into
    the version log. A second stream with a RESET checkpoint (new query
    id, batch ids restart at 0) commits under its own namespace, so its
    batch 0 re-ingests instead of being skipped as a replay."""
    src, local_tbl = f"{tmpdir}/src", f"{tmpdir}/silver_ident"
    silver = f"file:{local_tbl}"
    P.create_parts_table(silver, engine="append")
    _land(src, "a.json", [{"id": "E1", "v": 1}])

    first = _drain(spark, src, silver, f"{tmpdir}/chk_ident")
    assert checkpoint_query_id(f"{tmpdir}/chk_ident") == first
    assert _version_doc(local_tbl, 1)["txns"] == {first: [0]}

    second = _drain(spark, src, silver, f"{tmpdir}/chk_ident_RESET")
    assert second != first
    assert _version_doc(local_tbl, 2)["txns"] == {first: [0], second: [0]}
    assert P.read_parts(spark, silver).count() == 2
