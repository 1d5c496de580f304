"""Scalar expression library — the validator & warehouse expression surface.

Re-expresses the reference's column-expression vocabulary (SURVEY.md §2.2,
§2.3) as composable PySpark ``Column`` builders. Everything here is a native
Catalyst expression — zero Python UDFs, mirroring the reference job's
native-expressions-only discipline (reference: spark/jobs/validate_json.py
imports only builtins, lines 17-23).

Semantics preserved exactly (SURVEY.md "hard parts"):
- composite PK: NULL parts become '' via coalesce before concat_ws
  (reference: validate_json.py:69-71);
- validity flags are tri-state-squashed — NULL predicate results become
  False, never NULL (reference: validate_json.py:556-563);
- payload hash canonicalizes by *sorting column names* before serializing
  (reference: validate_json.py:532-537);
- surrogate keys standardize on xxhash64 (deterministic signed 64-bit) in
  place of the reference's cityHash64 (ClickHouse DDL line 18 etc.) — the
  property that matters is determinism, not cross-engine hash parity.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

#: epoch-seconds floor for believable event times: 2020-01-01T00:00:00Z
#: (reference: validate_json.py:73-84 timestamp repair chain)
MIN_VALID_EPOCH = 1577836800.0


def decimal_sum(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact SUM for clean-decimal data: cast to decimal, sum (integer
    arithmetic — no float summation-order drift), cast back to double.

    The result is bitwise-deterministic regardless of partitioning or
    aggregation order — which is what makes distributed results reproducible
    and oracle-comparable. Use for money-like columns; plain float sums are
    only deterministic up to summation order.

    Cross-engine exactness contract (r10 sf1 sweep finding): the final
    decimal->double cast is only guaranteed identical across engines
    while the SCALED integer (sum x 10^scale) stays below 2^53 — above
    that, engines that convert via int->double->/10^scale double-round
    (DuckDB) while BigDecimal-based casts round once (Spark), and the
    results can differ in the last ulp. At scale 2 that bound is ~9e13,
    far past any fixture; higher-scale decimal expressions must be
    reduced to scale 2 BEFORE the double cast (see plans/tpch.py's
    DECIMAL(38,2) pre-casts — sum_charge at scale 6 crossed 2^53 at sf1).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def decimal_avg(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact-sum average: decimal_sum / count — one IEEE division of two
    deterministic operands, hence bitwise-deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    return decimal_sum(c, scale, precision) / F.count(F.lit(1))


def composite_pk(cols: Sequence[str | Column], sep: str = "|") -> Column:
    """``concat_ws(sep, coalesce(cast(c as string), ''))`` over the PK parts.

    NULL parts map to empty string so the key is stable under partial nulls
    (reference: validate_json.py:69-71).
    """
    parts = [
        F.coalesce(F.col(c).cast("string") if isinstance(c, str) else c.cast("string"), F.lit(""))
        for c in cols
    ]
    return F.concat_ws(sep, *parts)


def payload_hash(
    cols: Sequence[str],
    exclude: Sequence[str] = (),
    field: Callable[[str], Column] = F.col,
) -> Column:
    """sha2-256 of the canonical JSON of the business columns.

    Canonical form = columns sorted by name, serialized with
    ``to_json(struct(...))`` (reference: validate_json.py:532-537, 567-576).
    Envelope columns (kafka metadata, derived flags) are excluded.
    ``field`` maps a name to the column read, which must resolve to that
    name (default: the top-level column; the validator reads the fields of
    a parsed payload struct).
    """
    excluded = set(exclude)
    ordered = sorted(c for c in cols if c not in excluded)
    return F.sha2(F.to_json(F.struct(*[field(c) for c in ordered])), 256)


def repair_ingested_at(
    ingested_at: Column, kafka_ts: Column, min_epoch: float = MIN_VALID_EPOCH
) -> Column:
    """Timestamp repair chain (reference: validate_json.py:73-84).

    Keep ``ingested_at`` if it is a believable epoch (> 2020-01-01);
    otherwise fall back to the Kafka timestamp; otherwise "now".
    Returns epoch seconds as double.
    """
    plausible = F.when(ingested_at > F.lit(min_epoch), ingested_at)
    from_kafka = F.unix_timestamp(kafka_ts).cast("double")
    return F.coalesce(plausible, from_kafka, F.unix_timestamp(F.current_timestamp()).cast("double"))


def required_fields_ok(
    required: Sequence[str], field: Callable[[str], Column] = F.col
) -> Column:
    """AND-fold of ``isNotNull`` over the per-entity required column list
    (reference: validate_json.py:497-515, 551-554). Tri-state safe: isNotNull
    never yields NULL, so the fold is a true boolean. ``field`` as in
    :func:`payload_hash`."""
    if not required:
        return F.lit(True)
    return reduce(lambda a, b: a & b, [field(c).isNotNull() for c in required])


def sport_ok(col: str | Column, pattern: str = "(?i)soccer") -> Column:
    """Case-insensitive regex predicate with tri-state squash: a NULL input
    yields **False**, not NULL (reference: validate_json.py:518-530, 556-563).
    Routing counts drift if this returns NULL — preserved exactly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(pattern), F.lit(True)).otherwise(F.lit(False))


def surrogate_key(col: str | Column) -> Column:
    """Deterministic 64-bit surrogate key: ``xxhash64(cast(c as string))``.

    Replaces ClickHouse ``cityHash64(naturalKey)`` (DDL lines 18, 42, 62, 78,
    94, 239...). Cast-to-string first so the same logical key hashes
    identically regardless of the column's physical type.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c.cast("string"))


def null_if_zero_key(col: str | Column) -> Column:
    """``if(ifNull(k,0)=0, NULL, surrogate_key(k))`` — conditional NULL-ing of
    zero/absent foreign keys (ClickHouse DDL 334, 390-392, 539, 580-582)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.coalesce(c, F.lit(0)) == 0, F.lit(None).cast("long")).otherwise(
        surrogate_key(c)
    )


def multi_if(*branches: tuple[Column, Column | str], default: Column | str = None) -> Column:
    """ClickHouse ``multiIf(cond1, v1, cond2, v2, ..., default)`` as a chained
    ``when`` (DDL 433-437)."""
    out = None
    for cond, val in branches:
        val = F.lit(val) if isinstance(val, str) else val
        out = F.when(cond, val) if out is None else out.when(cond, val)
    default = F.lit(default) if isinstance(default, str) else default
    return out.otherwise(default) if default is not None else out
