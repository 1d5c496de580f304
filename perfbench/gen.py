"""Seeded input generators. The same seed gives byte-identical inputs.

- :func:`route_batches` — 13-entity Kafka envelopes in the FIXTURES.md A1
  mix, built from ``fixtures.entity_fixtures`` templates, each message
  labelled by an independent Python model of the routing rules
  (:func:`expected_routes`).
- :func:`write_warehouse` — star-schema + events parquet for the
  dashboard workload (sf0.1 row counts at ``scale=1``).
"""

from __future__ import annotations

import copy
import datetime
import json
import os
import random
import re

import numpy as np

BASE_TS = 1767225600.0  # 2026-01-01T00:00:00Z
MIN_VALID_EPOCH = 1577836800.0  # 2020-01-01, the repair chain's cut-off

#: category shares per message (FIXTURES.md A1)
MIX = (
    ("valid", 0.70),
    ("wrong_sport", 0.10),
    ("missing_required", 0.10),
    ("resent_duplicate", 0.05),
    ("timestamp_pathology", 0.04),
    ("corrupt_json", 0.01),
)


def _registry():
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark import (
        fixtures,
        schemas,
    )

    return fixtures, schemas


def _set_path(doc: dict, path: str, value) -> None:
    head, _, rest = path.partition(".")
    if rest:
        if not isinstance(doc.get(head), dict):
            doc[head] = {}
        _set_path(doc[head], rest, value)
    else:
        doc[head] = value


def _get_path(doc, path: str):
    for part in path.split("."):
        if not isinstance(doc, dict):
            return None
        doc = doc.get(part)
    return doc


def route_batches(seed: int, n_batches: int, per_batch: int) -> list[list[str]]:
    """``n_batches`` lists of envelope JSON lines (topic, key, value,
    timestamp). Event time advances ten minutes per batch, so the 48 h
    dedup watermark moves every batch but never makes a row late."""
    fixtures, schemas = _registry()
    templates = fixtures.entity_fixtures(42)
    sport_valid, sport_invalid = fixtures.SPORT_VALID, fixtures.SPORT_INVALID
    entities = list(schemas.ENTITIES)
    rng = random.Random(seed)
    cats, weights = zip(*MIX)
    history: list[tuple[str, dict]] = []  # resendable (entity, doc)
    out = []
    uid = 0
    for b in range(n_batches):
        kafka_ts = BASE_TS + 600.0 * b
        ts_text = _iso(kafka_ts)
        lines = []
        for _ in range(per_batch):
            entity = rng.choice(entities)
            cat = rng.choices(cats, weights)[0]
            ingested = round(kafka_ts + rng.uniform(0.0, 300.0), 3)
            if cat == "resent_duplicate" and history:
                entity, orig = history[rng.randrange(len(history))]
                doc = dict(orig, ingested_at=ingested)
                text = json.dumps(doc)
            else:
                uid += 1
                doc = copy.deepcopy(rng.choice(templates[entity]))
                for f in schemas.PRIMARY_KEYS[entity]:
                    doc[f] = f"{seed}-{uid}"
                required = [f for f in schemas.REQUIRED_FIELDS[entity] if f != "ingested_at"]
                for f in required:
                    if doc.get(f) is None:
                        doc[f] = {} if f == "lookup_player" else f"r{uid % 97}"
                sport = schemas.SPORT_FIELD.get(entity)
                if sport:
                    _set_path(doc, sport, rng.choice(sport_valid))
                doc["ingested_at"] = ingested
                if cat == "wrong_sport" and sport:
                    _set_path(doc, sport, rng.choice(sport_invalid))
                elif cat in ("wrong_sport", "missing_required"):
                    doc[rng.choice(required)] = None
                elif cat == "timestamp_pathology":
                    doc["ingested_at"] = rng.choice([0.0, -1.0, 1e9, None])
                text = json.dumps(doc)
                if cat == "corrupt_json":
                    text = text[: rng.randrange(1, len(text) - 1)]
                elif doc["ingested_at"] is not None and doc["ingested_at"] > MIN_VALID_EPOCH:
                    history.append((entity, doc))
            lines.append(
                json.dumps(
                    {"topic": f"soccer.{entity}", "key": None, "value": text,
                     "timestamp": ts_text}
                )
            )
        out.append(lines)
    return out


def _iso(epoch: float) -> str:
    return (
        datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.000Z")
    )


def _project(value, dtype):
    """A parsed JSON value as the envelope schema sees it (unknown fields
    dropped, structs projected field by field)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        if not isinstance(value, dict):
            return None
        return tuple(_project(value.get(f.name), f.dataType) for f in dtype.fields)
    return value


def expected_routes(batches: list[list[str]]) -> dict[str, int]:
    """Rows per routed topic, by an independent model of the validator:
    parse, required fields non-null, sport matches ``(?i)soccer`` where
    the entity has a sport field; duplicates of (entity, payload without
    ``ingested_at``) — or of the raw text for unparseable payloads — are
    dropped after their first occurrence."""
    _fixtures, schemas = _registry()
    fields = {e: schemas.entity_schema(e).fields for e in schemas.ENTITIES}
    seen: set = set()
    counts: dict[str, int] = {}
    for lines in batches:
        for line in lines:
            env = json.loads(line)
            entity = env["topic"].split(".", 1)[1]
            text = env["value"]
            try:
                doc = json.loads(text)
            except ValueError:
                doc = None
            if not isinstance(doc, dict):
                ident, valid = (entity, "raw", text), False
            else:
                ident = (entity, tuple(
                    _project(doc.get(f.name), f.dataType)
                    for f in fields[entity] if f.name != "ingested_at"
                ))
                valid = all(
                    doc.get(f) is not None for f in schemas.REQUIRED_FIELDS[entity]
                )
                sport = schemas.SPORT_FIELD.get(entity)
                if sport:
                    s = _get_path(doc, sport)
                    valid = valid and isinstance(s, str) and bool(re.search(r"(?i)soccer", s))
            if ident in seen:
                continue
            seen.add(ident)
            topic = ("validated." if valid else "rejected.") + env["topic"]
            counts[topic] = counts.get(topic, 0) + 1
    return counts


# ---------------------------------------------------------------------------
# warehouse parquet (dashboard)
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")


def warehouse_tables(seed: int, scale: float = 1.0) -> dict:
    """pyarrow tables region, nation, customer, orders, lineitem, events."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(15000 * scale), int(150000 * scale)
    n_line, n_evt = int(600000 * scale), int(100000 * scale)

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(900, 500000, n_ord),
        "o_orderdate": days("1992-01-01", 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lorder = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    linenum = np.ones(n_line, dtype=np.int32)
    same = np.concatenate([[False], lorder[1:] == lorder[:-1]])
    for i in np.nonzero(same)[0]:
        linenum[i] = linenum[i - 1] + 1
    lineitem = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, 20000, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, n_line).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days("1992-01-02", 2526, n_line),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_evt)
    ).astype("timedelta64[us]")
    events = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, 5000, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": money(0, 500, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return dict(zip(TABLES, (region, nation, customer, orders, lineitem, events)))


def write_warehouse(root: str, seed: int, scale: float = 1.0) -> None:
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    for name, table in warehouse_tables(seed, scale).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))


if __name__ == "__main__":
    # python3 -m perfbench.gen warehouse <dir> <seed> <scale>
    import sys

    if len(sys.argv) != 5 or sys.argv[1] != "warehouse":
        sys.exit("usage: python3 -m perfbench.gen warehouse <dir> <seed> <scale>")
    write_warehouse(sys.argv[2], int(sys.argv[3]), float(sys.argv[4]))
