#!/usr/bin/env python
"""Job: BI serving endpoint — SQL over HTTP against the registered views.

    python jobs/serve_bi.py [--sf-dir DIR] [--port 8808] [--max-rows 10000]

The reference serves its warehouse to Power BI via DirectQuery
(`README.md:462-466`: ClickHouse as the live SQL backend). This engine's
serving layer is the same contract re-expressed for Spark: every gold
table/view is registered in the session catalog and an HTTP endpoint
accepts read-only SQL, executes it through Catalyst, and streams back JSON
— the shape any BI tool's web connector (or a thin ODBC gateway) consumes.

Scope notes, stated honestly:

- The container has no Thrift/grpc runtime, so a HiveServer2 or Spark
  Connect endpoint cannot run here; the HTTP layer is stdlib
  ``ThreadingHTTPServer``. On a real cluster you'd front the same
  registered views with Spark Connect / the Thrift server — the *catalog
  registration and read-only enforcement in this module carry over
  unchanged*.
- Serving capacity comes from Spark's scheduler: each request is a
  ``spark.sql`` job on the shared session, fair-scheduled across threads
  (``spark.scheduler.mode=FAIR`` recommended for mixed dashboards).
- Results are capped (``--max-rows``, enforced with a LIMIT wrapper so the
  cap prunes work inside Spark via TakeOrderedAndProject/CollectLimit —
  not after collecting).

Endpoints:

- ``GET  /health``   → ``{"ok": true}``
- ``GET  /tables``   → registered view names
- ``GET  /cache``    → the result cache's ``hit``/``miss``/``shared``/
  ``bypass`` counts, the ``bytes`` it holds and its ``entries``.
- ``POST /sql``      → body ``{"sql": "SELECT ...", "limit": 100}``;
  returns ``{"columns": [...], "rows": [[...]], "n_rows": N,
  "truncated": bool}``. NaN and ±Infinity doubles are encoded as
  ``null``, as ClickHouse's JSON output does by default
  (``output_format_json_quote_denormals=0``), so the body is strict JSON.
- ``POST /sql.arrow`` → same request body; returns the result as an
  **Arrow IPC stream** (``application/vnd.apache.arrow.stream``) with
  ``n_rows``/``truncated`` in the schema metadata — the columnar wire
  format ADBC / Arrow Flight SQL / Spark Connect clients consume, and
  the throughput path for wide numeric dashboards (no per-value JSON
  encoding; ``df.toArrow`` keeps the collect Arrow end to end). Same
  read-only enforcement and row-cap semantics as ``/sql``. Read-only means: a single SELECT / WITH / VALUES /
  TABLE query — **parser-verified** (the statement is parsed with Spark's
  own SQL parser and rejected if any node of the logical plan is a
  command, DDL, or DML node, which closes the ``WITH ... INSERT`` hole a
  first-keyword check alone would allow) — or one of the metadata
  commands SHOW / DESCRIBE / EXPLAIN. Everything else is rejected with
  400 (read-only by construction, not by permissions).

Result cache (the hot tier: every viewer of a report page sends the same
visual queries over unchanged data). Each server keeps one
:class:`ResultCache` for ``/sql`` and ``/sql.arrow``:

- It stores the encoded response body. The key is the endpoint, the
  effective row cap, the exact SQL text, a sha256 of the canonicalized
  analyzed plan's text and output schema, the session time zone, and a
  metadata-only fingerprint of every input: the size and mtime of each
  file the plan's file relations list (subqueries included; read through
  ``sources/storage.py``, so local and Hadoop paths both work) and the
  ``current_version`` of each registered parts view.
- The read-only check runs before any lookup, and the ``spark.sql``
  DataFrame analyzed for the key is the one a miss executes.
- Freshness: a new view definition changes the plan digest; a rewritten
  file or a parts commit changes the fingerprint. The fingerprint is
  taken again after execution and the result is stored only if it is
  unchanged, so a commit racing the query leaves no entry behind.
- Concurrent misses on one key share one Spark execution (single-flight).
- Always bypassed: SHOW/DESCRIBE/EXPLAIN; plans Spark marks
  non-deterministic (``rand()``, ``uuid()``); plans that read the clock or
  the session (``current_timestamp()``, ``now()``, ``current_date()``, a
  no-argument ``unix_timestamp()``, ``current_user()`` and kin), found by
  the ``CURRENT_LIKE`` tree pattern Spark gives their expression classes,
  so an alias such as ``curdate()`` is caught too; plans
  with an input that has no file listing to fingerprint (an in-memory
  DataFrame, ``VALUES``); and errors, which are never stored.
- ``CACHE_BYTES`` bounds the bodies held; the least recently used go
  first. Every ``/sql`` and ``/sql.arrow`` response carries
  ``X-Cache: hit|miss|shared|bypass``.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import math
import os
import re
import sys
import threading
from collections import OrderedDict
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.parts import (
    current_version,
    read_parts,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.storage import (
    file_stats,
)

_COMMENT_RE = re.compile(r"--[^\n]*|/\*.*?\*/", re.S)


# Query-shaped statements: must ALSO pass the plan-node check below,
# because Spark's grammar admits `WITH c AS (...) INSERT ...` whose first
# keyword is WITH but whose plan root is InsertIntoStatement.
_QUERY_KEYWORDS = ("SELECT", "WITH", "VALUES", "TABLE")
# Metadata commands that never write; EXPLAIN only plans its child, it
# does not execute it. These parse to *Command nodes by design, so they
# are admitted by keyword and exempt from the deny-node scan.
_META_KEYWORDS = ("SHOW", "DESCRIBE", "DESC", "EXPLAIN")


def _first_keyword(sql: str) -> str:
    stripped = _COMMENT_RE.sub(" ", sql).strip().rstrip(";").strip()
    if ";" in stripped:
        return ""  # statement separator smuggling a second command
    return stripped.split(None, 1)[0].upper() if stripped else ""


def _is_read_only(sql: str) -> bool:
    """Textual pre-gate: single statement whose first significant keyword
    is query- or metadata-shaped. NOT sufficient alone (``WITH...INSERT``);
    ``_assert_read_only`` adds the parser-verified plan-node check."""
    return _first_keyword(sql) in _QUERY_KEYWORDS + _META_KEYWORDS


# Logical-plan node names that mean the statement writes or mutates state.
# Spark v2 DDL/DML nodes are NOT all suffixed `Command`/`Statement`
# (e.g. `CreateTableAsSelect`, `MergeIntoTable`), hence the prefix list.
_DENY_NODE_RE = re.compile(
    r".*(?:Command|Statement)$"
    r"|^(?:Insert|Overwrite|Write|Delete|Update|Merge|Create|Replace|Drop"
    r"|Alter|Truncate|Analyze|Cache|Uncache|Refresh|Load|Reset|Grant"
    r"|Revoke|Call|Vacuum|Optimize)"
    r"|^(?:Set|Use|Add)[A-Z_]"
)
# Textual fallback when the JVM parser is unreachable (e.g. Spark
# Connect): tokens that may never appear anywhere in an accepted query.
# Coarser than the plan check (a column literally named `insert` would be
# rejected), but errs closed, never open.
_DENY_TOKEN_RE = re.compile(
    r"\b(?:INSERT|OVERWRITE|DELETE|UPDATE|MERGE|CREATE|DROP|ALTER|TRUNCATE"
    r"|LOAD|GRANT|REVOKE|REFRESH|CACHE|UNCACHE|ANALYZE|VACUUM|CALL)\b",
    re.I,
)
_STRING_LIT_RE = re.compile(r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.)*\"")


def _plan_node_names(jplan, out: list, depth: int = 0) -> None:
    """Collect simple class names of every node in a parsed (unresolved)
    logical plan, including subquery/CTE inner plans. Fails CLOSED on
    pathological nesting: returning silently at the cap would leave the
    deeper nodes unscanned — an attacker could bury a Command below it."""
    if depth > 500:
        raise ValueError(
            "read-only endpoint: statement nesting exceeds the 500-level "
            "scan cap; rejected"
        )
    out.append(jplan.getClass().getSimpleName())
    children = jplan.children()
    for i in range(children.size()):
        _plan_node_names(children.apply(i), out, depth + 1)
    inner = jplan.innerChildren()
    for i in range(inner.size()):
        _plan_node_names(inner.apply(i), out, depth + 1)


def _assert_read_only(spark: SparkSession, sql: str) -> None:
    """Raise ValueError unless ``sql`` is a single read-only statement.

    Two layers: (1) textual first-keyword gate, (2) for query-shaped
    statements, parse with ``sessionState().sqlParser().parsePlan`` and
    reject if any plan node is a command/DDL/DML node — the fix for the
    ``WITH c AS (SELECT 1) INSERT OVERWRITE DIRECTORY ...`` bypass, which
    passes layer 1 but parses to an ``InsertIntoStatement`` root."""
    first = _first_keyword(sql)
    if first not in _QUERY_KEYWORDS + _META_KEYWORDS:
        raise ValueError(
            "read-only endpoint: only a single SELECT/WITH/VALUES/TABLE query "
            "or SHOW/DESCRIBE/EXPLAIN is allowed"
        )
    if first in _META_KEYWORDS:
        return  # metadata commands never write; EXPLAIN only plans
    try:
        jparser = spark._jsparkSession.sessionState().sqlParser()
    except Exception:
        # No JVM parser handle (Spark Connect). Fall back to the coarse
        # token denylist over the statement with string literals removed.
        if _DENY_TOKEN_RE.search(
            _STRING_LIT_RE.sub(" ", _COMMENT_RE.sub(" ", sql))
        ):
            raise ValueError(
                "read-only endpoint: statement contains a write/DDL keyword"
            ) from None
        return
    try:
        jplan = jparser.parsePlan(sql)
    except Exception as e:
        raise ValueError(f"parse error: {str(e)[:300]}") from None
    names: list = []
    _plan_node_names(jplan, names)
    denied = sorted({n for n in names if _DENY_NODE_RE.match(n)})
    if denied:
        raise ValueError(
            f"read-only endpoint: statement contains non-query plan node(s) "
            f"{denied}"
        )


def _json_default(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _finite(v):
    """``v`` with every NaN/±Infinity float, however nested, as None."""
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, dict):
        return {_finite(k): _finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_finite(x) for x in v]
    return v


def _json_body(doc) -> bytes:
    """Strict JSON: NaN and ±Infinity, which JSON has no literal for, are
    encoded as null, as ClickHouse's JSON output does by default
    (``output_format_json_quote_denormals=0``). Only a document that holds
    one pays for the rewrite."""
    try:
        return json.dumps(doc, default=_json_default, allow_nan=False).encode()
    except ValueError:
        return json.dumps(_finite(doc), default=_json_default, allow_nan=False).encode()


def _json_result(df, n: int) -> bytes:
    rows = df.limit(n + 1).collect()
    return _json_body({
        "columns": df.columns,
        "rows": [list(r) for r in rows[:n]],
        "n_rows": min(len(rows), n),
        "truncated": len(rows) > n,
    })


def _arrow_result(df, n: int) -> bytes:
    import io

    import pyarrow as pa

    table = df.limit(n + 1).toArrow()
    truncated = table.num_rows > n
    table = table.slice(0, n)
    table = table.replace_schema_metadata(
        {
            **(table.schema.metadata or {}),
            b"n_rows": str(table.num_rows).encode(),
            b"truncated": b"true" if truncated else b"false",
        }
    )
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def _answer(spark, sql, limit, max_rows, cache, endpoint, encode) -> tuple[bytes, str]:
    _assert_read_only(spark, sql)
    n = max(1, min(limit or max_rows, max_rows))
    df = spark.sql(sql)
    if _first_keyword(sql) in _META_KEYWORDS:
        body = encode(df, n)
        cache.count("bypass")
        return body, "bypass"
    return cache.answer(df, (endpoint, n, sql), lambda: encode(df, n))


def run_sql(
    spark: SparkSession, sql: str, limit: int, max_rows: int, cache: ResultCache
) -> tuple[bytes, str]:
    """Execute read-only SQL with the row cap pushed into the plan.
    Returns the JSON body and its ``X-Cache`` status; the answer may come
    from ``cache``."""
    return _answer(spark, sql, limit, max_rows, cache, "/sql", _json_result)


def run_sql_arrow(
    spark: SparkSession, sql: str, limit: int, max_rows: int, cache: ResultCache
) -> tuple[bytes, str]:
    """Execute read-only SQL and serialize the result as an **Arrow IPC
    stream** — the columnar wire format Spark Connect / ADBC / Flight
    clients speak, and the honest high-throughput twin of the JSON
    endpoint: the collect path is Arrow end to end (``df.toArrow``), so
    wide numeric dashboards never pay per-value JSON encoding. Row cap
    semantics match :func:`run_sql`; ``n_rows``/``truncated`` travel in
    the stream's schema metadata. Returns the stream and its ``X-Cache``
    status."""
    return _answer(spark, sql, limit, max_rows, cache, "/sql.arrow", _arrow_result)


#: Bytes of response bodies one server's result cache holds; past it the
#: least recently used entries are evicted.
CACHE_BYTES = 128 << 20

# Leaves whose rows the plan text itself fixes (a CTE reference's
# definition is walked as a child of the plan).
_PLAN_ONLY_LEAVES = frozenset({"OneRowRelation", "Range", "CTERelationRef"})
# Plan text must not elide fields past the default of 25.
_MAX_FIELDS = 2**31 - 1
# A CTE's id comes from a session-wide counter, so it differs on every
# analysis of the same SQL; the digest numbers them by first appearance.
_CTE_ID_RE = re.compile(r"\b(CTERelation(?:Def|Ref)) (\d+)")


@functools.cache
def _current_like(jvm):
    """Spark's ``CURRENT_LIKE`` tree pattern, looked up once per JVM."""
    return jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE()


def _canonical_text(jplan) -> str:
    """The canonicalized analyzed plan as text, the same for every
    analysis of the same statement over the same views."""
    text = jplan.canonicalized().treeString(True, False, _MAX_FIELDS, False, False)
    ids: dict[str, int] = {}
    return _CTE_ID_RE.sub(lambda m: f"{m[1]} {ids.setdefault(m[2], len(ids))}", text)


def _input_files(jplan) -> list[str] | None:
    """Every file the file relations of an analyzed plan list, subqueries
    included; None when an input has no file listing to fingerprint (an
    in-memory DataFrame, ``VALUES``, a JDBC or v2 relation)."""
    files: set[str] = set()
    subs = jplan.subqueriesAll()
    for plan in [jplan] + [subs.apply(i) for i in range(subs.size())]:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            name = leaf.nodeName()
            if name in _PLAN_ONLY_LEAVES:
                continue
            if name != "LogicalRelation":
                return None
            rel = leaf.relation()
            if rel.getClass().getSimpleName() != "HadoopFsRelation":
                return None
            files.update(rel.inputFiles())
    return sorted(files)


class _Flight:
    """One in-progress miss that concurrent requests for its key wait on."""

    def __init__(self):
        self.done = threading.Event()
        self.body: bytes | None = None
        self.error: BaseException | None = None


class ResultCache:
    """Per-server cache of encoded response bodies: keyed on the plan and
    on a metadata-only fingerprint of its inputs, bounded by
    ``CACHE_BYTES`` with LRU eviction, and single-flight on a miss. The
    module docstring states the contract. ``parts_versions`` returns the
    committed version of every parts view, read fresh."""

    def __init__(self, spark: SparkSession, parts_versions=None):
        self._spark = spark
        self._parts_versions = parts_versions
        self._budget = CACHE_BYTES
        self._entries: OrderedDict[tuple, bytes] = OrderedDict()
        self._flights: dict[tuple, _Flight] = {}
        self._lock = threading.Lock()
        self._bytes = 0
        self._counts = dict.fromkeys(("hit", "miss", "shared", "bypass"), 0)

    def stats(self) -> dict:
        with self._lock:
            return {**self._counts, "bytes": self._bytes, "entries": len(self._entries)}

    def count(self, status: str) -> None:
        with self._lock:
            self._counts[status] += 1

    def _fingerprint(self, files: list[str]) -> tuple:
        versions = self._parts_versions() if self._parts_versions else ()
        return versions, tuple(zip(files, file_stats(files)))

    def _plan_key(self, df) -> tuple[tuple, list[str]] | None:
        """(plan part of the key, input files), or None to bypass."""
        jdf = getattr(df, "_jdf", None)
        if jdf is None:  # no JVM plan to key on (Spark Connect)
            return None
        jplan = jdf.queryExecution().analyzed()
        if not jplan.deterministic():
            return None
        # Functions Spark marks deterministic whose value still comes from
        # the clock or the session (current_date/curdate, now, a no-argument
        # unix_timestamp, current_user, current_timezone, ...) all carry
        # the CURRENT_LIKE tree pattern, however they are spelled; the
        # plan's pattern bits include its subqueries'.
        if jplan.containsPattern(_current_like(df.sparkSession._jvm)):
            return None
        text = _canonical_text(jplan)
        files = _input_files(jplan)
        if files is None:
            return None
        # the canonical form drops output names, so the schema joins it
        digest = hashlib.sha256((text + jplan.schema().json()).encode()).hexdigest()
        return (digest, self._spark.conf.get("spark.sql.session.timeZone")), files

    def answer(self, df, head: tuple, run) -> tuple[bytes, str]:
        """The body for ``df`` under ``head`` (endpoint, row cap, SQL) and
        its ``X-Cache`` status. ``run()`` encodes ``df``: it is called on a
        bypass, and on a miss by the one request that leads the flight."""
        found = self._plan_key(df)
        if found is None:
            body = run()
            self.count("bypass")
            return body, "bypass"
        plan_key, files = found
        fp = self._fingerprint(files)
        key = (*head, *plan_key, fp)
        with self._lock:
            body = self._entries.get(key)
            if body is not None:
                self._entries.move_to_end(key)
                self._counts["hit"] += 1
                return body, "hit"
            flight = self._flights.get(key)
            if flight is not None:
                leader = False
            else:
                leader, flight = True, _Flight()
                self._flights[key] = flight
        if not leader:
            flight.done.wait()
            if flight.error is not None:
                raise flight.error
            self.count("shared")
            return flight.body, "shared"
        unchanged = False
        try:
            flight.body = run()
            unchanged = self._fingerprint(files) == fp
        except BaseException as e:
            flight.error = e
            raise
        finally:
            with self._lock:
                del self._flights[key]
                if flight.error is None:
                    self._counts["miss"] += 1
                    if unchanged:
                        self._store(key, flight.body)
            flight.done.set()
        return flight.body, "miss"

    def _store(self, key: tuple, body: bytes) -> None:
        """Insert under ``self._lock``, evicting the least recently used."""
        if len(body) > self._budget:
            return
        self._entries[key] = body
        self._bytes += len(body)
        while self._bytes > self._budget:
            _, old = self._entries.popitem(last=False)
            self._bytes -= len(old)


class _PartsViewRefresher:
    """Keeps parts-backed FINAL views CURRENT: before each query, re-resolve
    any registered parts table whose version log advanced since the view
    was last built (in ClickHouse a FINAL view is always current; a
    startup-pinned snapshot would hide later commits from dashboards).
    The staleness probe is one driver-side directory listing per table —
    metadata-only, no data scan; the view plan is rebuilt only on an
    actual version change."""

    def __init__(self, spark: SparkSession, views: dict[str, str]):
        self._spark = spark
        self._views = dict(views)
        self._built: dict[str, int] = {}
        self._lock = threading.Lock()
        self.refresh()  # fail loudly at startup on a bad path

    def refresh(self) -> None:
        with self._lock:
            for name, path in self._views.items():
                ver = current_version(path)
                if self._built.get(name) == ver:
                    continue
                read_parts(self._spark, path, final=True).createOrReplaceTempView(name)
                self._built[name] = ver

    def versions(self) -> tuple:
        """(view, committed version) of every parts view, read fresh."""
        return tuple((name, current_version(path)) for name, path in self._views.items())


def make_server(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 0,
    max_rows: int = 10_000,
    parts_views: dict[str, str] | None = None,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server bound to ``host:port``
    (port 0 = ephemeral, read the chosen one from ``server_port``).
    ``parts_views`` maps view name → parts-table path; each is served as
    a FINAL read re-resolved per query when the table's version advances.
    The server owns one :class:`ResultCache` for its lifetime."""
    refresher = _PartsViewRefresher(spark, parts_views) if parts_views else None
    cache = ResultCache(spark, refresher.versions if refresher else None)

    def _is_stale_snapshot_error(e: Exception) -> bool:
        """A scan that raced a maintenance swap: the query plan resolved a
        parts version whose files a concurrent OPTIMIZE+VACUUM removed
        mid-execution (Spark surfaces FAILED_READ_FILE.FILE_NOT_EXIST).
        ClickHouse's part reference counting makes this impossible there;
        this layer's equivalent is re-resolve-and-retry."""
        msg = str(e)
        return (
            "FAILED_READ_FILE" in msg
            or "FILE_NOT_EXIST" in msg
            or "FileNotFoundException" in msg
        )

    def _with_snapshot_retry(fn):
        """Run ``fn``; on a stale-snapshot read, re-resolve the parts
        views and retry (twice — a retry can itself race the next swap).
        Analysis errors, bad SQL, and every other failure propagate
        unchanged on the first throw."""
        for attempt in range(3):
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 — filtered below
                if (
                    refresher is None
                    or attempt == 2
                    or not _is_stale_snapshot_error(e)
                ):
                    raise
                refresher.refresh()

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, body: bytes, content_type: str, x_cache: str | None = None) -> None:
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            if x_cache is not None:
                self.send_header("X-Cache", x_cache)
            self.end_headers()
            self.wfile.write(body)

        def _send(self, code: int, doc: dict, x_cache: str | None = None) -> None:
            self._reply(code, _json_body(doc), "application/json", x_cache)

        def do_GET(self):  # noqa: N802 (stdlib API)
            if self.path == "/health":
                self._send(200, {"ok": True})
            elif self.path == "/tables":
                names = [t.name for t in spark.catalog.listTables()]
                self._send(200, {"tables": sorted(names)})
            elif self.path == "/cache":
                self._send(200, cache.stats())
            else:
                self._send(404, {"error": "not found"})

        def do_POST(self):  # noqa: N802
            if self.path not in ("/sql", "/sql.arrow"):
                self._send(404, {"error": "not found"})
                return
            arrow = self.path == "/sql.arrow"
            try:
                length = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(length) or b"{}")
                sql = req.get("sql", "")
                limit = int(req.get("limit") or 0)
                if refresher is not None:
                    refresher.refresh()
                run = run_sql_arrow if arrow else run_sql
                body, status = _with_snapshot_retry(
                    lambda: run(spark, sql, limit, max_rows, cache)
                )
            except ValueError as e:
                cache.count("bypass")
                self._send(400, {"error": str(e)}, "bypass")
                return
            except Exception as e:  # analysis errors etc. -> client, not stderr
                cache.count("bypass")
                self._send(
                    400, {"error": type(e).__name__, "detail": str(e)[:500]}, "bypass"
                )
                return
            content_type = "application/vnd.apache.arrow.stream" if arrow else "application/json"
            self._reply(200, body, content_type, status)

        def log_message(self, *a):  # quiet: Spark owns stdout here
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(spark: SparkSession, **kw) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread (used by tests and notebooks)."""
    srv = make_server(spark, **kw)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, t


def main() -> None:
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark import (
        get_spark,
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
        register_views,
    )

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8808)
    ap.add_argument("--max-rows", type=int, default=10_000)
    ap.add_argument(
        "--parts",
        action="append",
        default=[],
        metavar="NAME=PATH",
        help="register a parts table's FINAL read as view NAME — the "
        "v_fact_event_latest posture: dashboards always see collapsed "
        "latest-state, never raw part rows; the view is re-resolved per "
        "query when the table's version log advances, so later commits "
        "and takedowns are visible without a restart (repeatable)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="kickhouse-bi-serve")
    register_views(spark, args.sf_dir)
    parts_views = dict(spec.split("=", 1) for spec in args.parts)
    srv = make_server(spark, args.host, args.port, args.max_rows, parts_views or None)
    print(json.dumps({"serving": f"http://{args.host}:{srv.server_port}", "sf": args.sf_dir}))
    srv.serve_forever()


if __name__ == "__main__":
    main()
