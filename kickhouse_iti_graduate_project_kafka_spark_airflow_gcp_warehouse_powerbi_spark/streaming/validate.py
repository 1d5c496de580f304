"""Structured-Streaming validate-and-route — the reference's core job.

Re-expresses spark/jobs/validate_json.py (reference, 703 lines) as one
transform function shared by batch and streaming ("one transform, two
drivers", SURVEY.md §3.2), with the improvements SURVEY.md §3.1 calls out:

- watermarked exact dedup **enabled** (the reference designed a 48 h
  watermark + dropDuplicates on (pk, payload_hash) but left it disabled,
  validate_json.py:598-604);
- the reference's 13 per-entity branches (each re-reading the stream,
  each with its own dedup state) run as one pass: one parse per message,
  one watermark, one dedup operator (:func:`validate_all_entities`);
- one checkpointed query writes both the validated and the rejected leg:
  each row's routed ``topic`` picks its output topic
  (:func:`start_validated_rejected_sinks`);
- AQE left on; 5 s processing-time trigger kept;
- a StreamingQueryListener instead of a status-polling thread
  (validate_json.py:686-700).

Source/sink factories support Kafka (production) and file/memory
(tests and brokerless dev runs). The Kafka paths use the exact
option surface of the reference: subscribePattern with negative lookahead,
earliest offsets, failOnDataLoss=false, idempotent producer
(validate_json.py:540-547, 676-680).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.expressions import (
    composite_pk,
    now_epoch,
    payload_hash,
    plausible_or_kafka_epoch,
    required_fields_ok,
    sport_ok,
)
from ..schemas import HASH_EXCLUDE
from ..sources.storage import io_for

#: reference topic-subscription regex: everything under the namespace except
#: our own validated/rejected mirrors (validate_json.py:545)
SUBSCRIBE_PATTERN = r"^(?!validated\.|rejected\.)soccer\..*"

DEFAULT_TRIGGER = "5 seconds"  # validate_json.py:11
DEDUP_WATERMARK = "48 hours"  # validate_json.py:10
SPORT_PATTERN = "(?i)soccer"  # P9, validate_json.py:518-530
#: P1: the entity named by a topic (``soccer.event.stats`` -> ``event.stats``)
ENTITY_FROM_TOPIC = r"^soccer\.(.+)$"


def kafka_source(
    spark: SparkSession,
    bootstrap: str,
    pattern: str = SUBSCRIBE_PATTERN,
) -> DataFrame:
    """S1: Kafka streaming source with regex subscription (reference:
    validate_json.py:540-547 — identical option surface)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribePattern", pattern)
        .option("startingOffsets", "earliest")
        .option("failOnDataLoss", "false")
        .load()
    )


def file_json_source(
    spark: SparkSession, path: str, schema: T.StructType, max_files: int = 10
) -> DataFrame:
    """Test/dev source: JSON files with the same envelope columns a Kafka
    source would carry (topic, key, value, timestamp). Lets the whole
    pipeline run without a broker."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )


def _parse(json_str: Column, payload_schema: T.StructType) -> Column:
    """P3: permissive from_json; unparseable text lands in ``_corrupt``."""
    schema = T.StructType(
        list(payload_schema.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    return F.from_json(json_str, schema, {"columnNameOfCorruptRecord": "_corrupt"})


def _routed_columns(
    data: str,
    payload_schema: T.StructType,
    required: list[str],
    type_pattern: str | None,
    pk_cols: list[str],
    sport_field: str | None,
    sport_pattern: str,
) -> list[Column]:
    """The P4-P12 expressions of one entity over its parsed payload struct
    (the column named ``data``) and the envelope columns (topic, entity,
    json_str, timestamp): the routed row (topic, key, value, payload_sha,
    evt_epoch, is_valid, parse_ok), which :func:`_stamp_batch_time` turns
    into the output columns. Shared by :func:`validate_messages` and
    :func:`validate_all_entities`, so both route by the same rules.
    ``type_pattern`` whitelists the entity named by the topic; ``None``
    skips the check (a caller that already demuxed by entity).

    Nothing here may depend on the micro-batch: no "now", no batch id. The
    13-entity routing projection is too wide for whole-stage codegen
    (``spark.sql.codegen.maxFields``), so each task compiles it as one
    large ``UnsafeProjection`` class; a per-batch literal inlined into it
    would miss the codegen cache and recompile it on every micro-batch.

    Each payload field Column is built once and shared by every expression
    reading it: every Column operation is a round trip to the JVM, and this
    function runs for all 13 entities whenever a query is set up."""
    business_cols = [f.name for f in payload_schema.fields]
    fields = {c: F.col(f"{data}.{c}") for c in business_cols}

    def field(path: str) -> Column:
        # a dotted path reads a nested field (lookup_player.strSport)
        return fields[path] if path in fields else F.col(f"{data}.{path}")

    parse_ok = field("_corrupt").isNull()  # P5
    is_valid = parse_ok & required_fields_ok(required, field=field)  # P8
    if type_pattern is not None:
        is_valid = is_valid & sport_ok("entity", type_pattern)  # entity whitelist
    if sport_field is not None:
        is_valid = is_valid & sport_ok(field(sport_field), sport_pattern)  # P9

    evt_epoch = plausible_or_kafka_epoch(
        fields["ingested_at"] if "ingested_at" in fields else F.lit(None).cast("double"),
        F.col("timestamp"),
    )  # P6 without its "now" link, which _stamp_batch_time adds
    return [
        # S2 routing: prefix the FULL original topic (reference emits
        # 'validated.soccer.event', validate_json.py:610-628) so the
        # rejected-lake REJECTED_PATTERN '^rejected\.soccer\..*' matches
        F.concat(
            F.when(is_valid, F.lit("validated.")).otherwise(F.lit("rejected.")),
            F.col("topic"),
        ).alias("topic"),
        F.when(parse_ok, composite_pk([field(c) for c in pk_cols]))
        .otherwise(F.sha2("json_str", 256))
        .alias("key"),  # P7 / P12
        F.to_json(F.struct(*fields.values())).alias("value"),  # P11
        # P10: envelope fields (ingested_at et al.) excluded, matching the
        # reference's EXCLUDE_FROM_HASH (validate_json.py:532-537) — a
        # re-sent payload with a fresh ingested_at must hash identically
        # or the dedup below silently no-ops
        payload_hash(business_cols, exclude=HASH_EXCLUDE, field=field).alias("payload_sha"),
        evt_epoch.alias("evt_epoch"),
        is_valid.alias("is_valid"),
        parse_ok.alias("parse_ok"),
    ]


def _stamp_batch_time(row: str = "") -> list[Column]:
    """The output columns (topic, key, value, payload_sha, evt_ts,
    is_valid, parse_ok) over the routed columns of :func:`_routed_columns`
    (fields of the struct column ``row``, or top-level columns when
    ``row`` is empty). P6's last link lives here, in a projection of its
    own, so the routing projection below it holds no per-batch value:
    ``evt_ts`` is the row's plausible-or-Kafka epoch, else the batch's
    "now", as a timestamp truncated to seconds — the value the whole chain
    ``to_timestamp(from_unixtime(repair_ingested_at(...)))`` gives."""
    prefix = f"{row}." if row else ""
    epoch = F.coalesce(F.col(f"{prefix}evt_epoch"), now_epoch())
    return [
        *(F.col(f"{prefix}{c}") for c in ("topic", "key", "value", "payload_sha")),
        F.to_timestamp(F.from_unixtime(epoch)).alias("evt_ts"),
        F.col(f"{prefix}is_valid"),
        F.col(f"{prefix}parse_ok"),
    ]


def _dedup(out: DataFrame, keys: list[str]) -> DataFrame:
    """ST1 — the designed-but-disabled dedup, enabled (SURVEY §2.9).
    Streaming uses dropDuplicatesWithinWatermark: plain dropDuplicates
    only evicts state when the event-time column is in the key subset, so
    the 48 h watermark would not bound state. A batch input gets the
    equivalent bounded-input dropDuplicates."""
    out = out.withWatermark("evt_ts", DEDUP_WATERMARK)
    if out.isStreaming:
        return out.dropDuplicatesWithinWatermark(keys)
    return out.dropDuplicates(keys)


def _envelope(msgs: DataFrame, entity_from_topic: str) -> DataFrame:
    """P1 + P13: the envelope columns every routed row is built from."""
    return msgs.select(
        "topic",
        F.regexp_extract("topic", entity_from_topic, 1).alias("entity"),
        F.col("value").cast("string").alias("json_str"),
        "timestamp",
    )


def validate_messages(
    msgs: DataFrame,
    payload_schema: T.StructType,
    required: list[str],
    type_pattern: str,
    pk_cols: list[str] | None = None,
    sport_field: str | None = None,
    sport_pattern: str = SPORT_PATTERN,
    entity_from_topic: str = ENTITY_FROM_TOPIC,
    dedup: bool = True,
) -> DataFrame:
    """The full P1-P12 expression chain over an envelope DataFrame with
    columns (topic, key, value:string, timestamp), validated against ONE
    payload schema. Works identically on a batch or streaming input.

    ``pk_cols`` is the entity's primary-key column list (schemas.PRIMARY_KEYS,
    reference: validate_json.py:53-67); it defaults to ``required`` only as a
    degenerate fallback. ``sport_field`` (schemas.SPORT_FIELD — supports
    nested paths like lookup_player.strSport) adds the case-insensitive
    sport predicate with tri-state squash (P9); entities without a sport
    column pass ``None`` and inherit the filter at the warehouse J1-J3 join.
    ``type_pattern`` whitelists the entity named by the topic.

    Returns columns: topic (routed), key (pk), value (re-serialized JSON),
    payload_sha (hash of the business fields, envelope fields excluded),
    evt_ts, is_valid, parse_ok. With ``dedup`` a row whose (key,
    payload_sha) was already seen within the 48 h event-time watermark is
    dropped.
    """
    env = _envelope(msgs, entity_from_topic).withColumn(
        "data", _parse(F.col("json_str"), payload_schema)
    )
    out = env.select(
        *_routed_columns(
            "data", payload_schema, required, type_pattern,
            pk_cols or required, sport_field, sport_pattern,
        )
    ).select(*_stamp_batch_time())
    return _dedup(out, ["key", "payload_sha"]) if dedup else out


def validate_all_entities(
    msgs: DataFrame,
    entities: list[str] | None = None,
    dedup: bool = True,
) -> DataFrame:
    """The reference job's full topology (reference: validate_json.py:582-652;
    O3) — demux one multiplexed stream by entity (P2) and validate each
    message against its own entity's schema/keys/sport path from the
    registry — in ONE pass over the input:

    - the entity is extracted from ``topic`` once; messages whose entity is
      not in ``entities`` (unknown topics, case variants) are dropped;
    - one projection holds a ``from_json`` per entity, each guarded by
      ``entity == e``, so a message is parsed only against its own schema;
    - the per-entity routed rows (same expressions as :func:`validate_messages`)
      are coalesced into one (topic, key, value, payload_sha, evt_epoch,
      is_valid, parse_ok) struct; the entity whitelist of
      :func:`validate_messages` is skipped, since the ``isin`` filter and
      the ``entity == e`` guard already pin the entity;
    - a small projection above the coalesce reads the struct's fields and
      adds P6's batch-time fallback (:func:`_stamp_batch_time`), so the
      wide routing projection holds no per-batch value.

    The parse and routing are narrow. With ``dedup`` the rows pass ONE
    watermark and ONE dedup keyed on (entity, key, payload_sha) — the same
    per-entity dedup scope as validating each entity separately — which
    shuffles by that key and, streaming, keeps its seen-keys in one state
    store per shuffle partition.

    Watermark semantics (streaming): the single watermark is the
    stream-wide max ``evt_ts`` minus 48 h. A stalled entity no longer
    holds back eviction of every other entity's dedup state; in exchange a
    row more than 48 h older than the newest event of ANY entity is
    dropped as late.

    Checkpoints written by the earlier plan (13 unioned per-entity branches,
    each its own source, watermark and dedup operator) cannot be resumed by
    this plan — the query fails at start with "There are [13] sources in
    the checkpoint offsets and now there are [1]": start the sinks on a
    fresh checkpoint directory.
    """
    from ..schemas import ENTITIES, PRIMARY_KEYS, REQUIRED_FIELDS, SPORT_FIELD, entity_schema

    entities = entities or list(ENTITIES)
    env = _envelope(msgs, ENTITY_FROM_TOPIC).filter(F.col("entity").isin(entities))  # P1+P2
    is_entity = [F.col("entity") == e for e in entities]
    parsed = env.select(
        "*",
        *[
            F.when(hit, _parse(F.col("json_str"), entity_schema(e))).alias(f"_data{i}")
            for i, (e, hit) in enumerate(zip(entities, is_entity))
        ],
    )
    row = F.coalesce(
        *[
            F.when(
                hit,
                F.struct(
                    *_routed_columns(
                        f"_data{i}",
                        entity_schema(e),
                        REQUIRED_FIELDS[e],
                        type_pattern=None,
                        pk_cols=PRIMARY_KEYS[e],
                        sport_field=SPORT_FIELD.get(e),
                        sport_pattern=SPORT_PATTERN,
                    )
                ),
            )
            for i, (e, hit) in enumerate(zip(entities, is_entity))
        ]
    )
    out = parsed.select(row.alias("_row"), "entity").select(
        *_stamp_batch_time("_row"), "entity"
    )
    if dedup:
        out = _dedup(out, ["entity", "key", "payload_sha"])
    return out.drop("entity")


def _refuse_recovery(offsets: str) -> None:
    """Raise ``ValueError`` when the offset log ``offsets`` holds entries:
    the memory sink cannot resume the query that wrote them."""
    io, path = io_for(offsets)
    if io.isdir(path) and io.list_names(path):
        raise ValueError(
            f"{offsets} already holds batches of an earlier run, and a memory "
            "sink cannot recover from a checkpoint: start on a fresh "
            f"checkpoint root or delete {offsets}"
        )


def start_validated_rejected_sinks(
    routed: DataFrame,
    checkpoint_root: str,
    kafka_bootstrap: str | None = None,
    memory_prefix: str | None = None,
    trigger: str = DEFAULT_TRIGGER,
) -> list[StreamingQuery]:
    """S2/S3: ONE streaming query writes both legs, checkpointed at
    ``<checkpoint_root>/routed``. Each row's routed ``topic``
    (``validated.*`` or ``rejected.*``) picks its Kafka topic, as in the
    reference's single writeStream (validate_json.py:608-641, 667-683); the
    producer is idempotent. The source is read, parsed and deduped once.

    Without ``kafka_bootstrap`` (tests, no broker) the query writes the
    memory table ``<prefix>_routed`` (``prefix`` = ``memory_prefix``, else
    ``route``); ``<prefix>_validated`` and ``<prefix>_rejected`` are temp
    views over it, split on the topic prefix, with columns (topic, key,
    value, payload_sha, evt_ts). A memory sink cannot recover from a
    checkpoint, so this mode starts only on a fresh ``checkpoint_root``:
    when ``<checkpoint_root>/routed/offsets`` already holds entries it
    raises ``ValueError`` before the query starts.

    Returns the one query in a list."""
    prefix = memory_prefix or "route"
    checkpoint = f"{checkpoint_root}/routed"
    if not kafka_bootstrap:
        _refuse_recovery(f"{checkpoint}/offsets")
    writer = (
        routed.drop("is_valid", "parse_ok")
        .writeStream.outputMode("append")
        .trigger(processingTime=trigger)
        .option("checkpointLocation", checkpoint)
        .queryName(f"{prefix}_routed")
    )
    if kafka_bootstrap:
        return [
            writer.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("kafka.enable.idempotence", "true")
            .start()
        ]
    query = writer.format("memory").start()
    spark = routed.sparkSession
    for leg in ("validated", "rejected"):
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {prefix}_{leg} AS "
            f"SELECT * FROM {prefix}_routed WHERE startswith(topic, '{leg}.')"
        )
    return [query]
