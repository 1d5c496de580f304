"""``dashboard`` workload: closed-loop BI clients POSTing read-only SQL
to ``serve_bi.make_server``.

Clients read star-schema and events views over generated parquet through
``/sql`` and ``/sql.arrow``; each distinct query's answer is checked
against DuckDB over the same files.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import subprocess
import sys
import time

from .common import closed_loop, post
from .gen import EVENT_TYPES, SEGMENTS, TABLES

SCALE = 0.5  # half the sf0.1 row counts
REQUESTS_PER_SECOND = 8  # sizes the fixed request count from --seconds
N_CLIENTS = 4  # one per core on the 4-core reference machine


def _canon(v):
    """Floats compare after rounding to 6 places (both engines sum money
    as exact decimals and round averages in SQL; this absorbs only the
    last-digit noise of the double conversion)."""
    return repr(round(v, 6) + 0.0) if isinstance(v, float) else v


def digest(rows) -> str:
    canon = sorted((tuple(_canon(v) for v in r) for r in rows), key=repr)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def decode(endpoint: str, body: bytes) -> list:
    if endpoint == "/sql.arrow":
        import pyarrow as pa

        table = pa.ipc.open_stream(io.BytesIO(body)).read_all()
        return [tuple(r.values()) for r in table.to_pylist()]
    return [tuple(r) for r in json.loads(body)["rows"]]


# ---------------------------------------------------------------------------
# the dashboard mix
# ---------------------------------------------------------------------------

_STAR = (
    "SELECT n.n_name AS nation, COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE c.c_mktsegment = '{seg}' AND YEAR(o.o_orderdate) = {year} "
    "GROUP BY n.n_name"
)
_REGION_YEAR = (
    "SELECT r.r_name AS region, YEAR(o.o_orderdate) AS yr, COUNT(*) AS n_lines, "
    "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE l.l_returnflag = '{flag}' GROUP BY r.r_name, YEAR(o.o_orderdate)"
)
_CUSTOMER = (
    "SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment, n.n_name "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE c.c_custkey = {id}"
)
_CUSTOMER_ORDERS = (
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_custkey = {id}"
)
_COND_AGG = (
    "SELECT event_type, COUNT(*) AS n, "
    "SUM(CASE WHEN value > {v} THEN 1 ELSE 0 END) AS n_high, "
    "SUM(CASE WHEN user_id < {u} THEN 1 ELSE 0 END) AS n_early_users "
    "FROM events GROUP BY event_type"
)
_MOVING_AVG = (
    "WITH d AS (SELECT CAST(CAST(ts AS DATE) AS STRING) AS day, COUNT(*) AS n "
    "FROM events WHERE event_type = '{t}' GROUP BY CAST(CAST(ts AS DATE) AS STRING)) "
    "SELECT day, n, ROUND(AVG(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING "
    "AND CURRENT ROW), 4) AS ma7 FROM d"
)
_JSON_EXTRACT = (
    "SELECT {jx} AS k, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM events WHERE event_type = '{t}' GROUP BY {jx}"
)
_REGIONS = (
    "SELECT r.r_name, COUNT(*) AS n_nations FROM region r "
    "JOIN nation n ON r.r_regionkey = n.n_regionkey GROUP BY r.r_name"
)
_LINES = (
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag "
    "FROM lineitem WHERE l_orderkey >= {a} AND l_orderkey < {b}"
)

#: (shape, share of requests). The star-schema aggregate carries the
#: middle of the latency distribution on its own, so the median lands
#: inside one shape's cluster instead of in the gap between two shapes.
SHAPES = (
    ("point_customer", 0.10),
    ("point_orders", 0.10),
    ("regions", 0.05),
    ("star_segment_year", 0.40),
    ("dq_conditional", 0.08),
    ("dq_moving_avg", 0.08),
    ("dq_json_extract", 0.07),
    ("large_lines_json", 0.04),
    ("large_lines_arrow", 0.04),
    ("region_year", 0.04),
)


def dashboard_pool(seed: int, n_cust: int, n_ord: int) -> dict[str, list]:
    """Distinct queries per shape: (spark sql, duckdb sql, endpoint)."""
    rng = random.Random(seed)
    pool: dict[str, list] = {s: [] for s, _ in SHAPES}
    for _ in range(4):
        seg, year = rng.choice(SEGMENTS), rng.randrange(1992, 1998)
        q = _STAR.format(seg=seg, year=year)
        pool["star_segment_year"].append((q, q, "/sql"))
        i = rng.randrange(n_cust)
        q = _CUSTOMER.format(id=i)
        pool["point_customer"].append((q, q, "/sql"))
        q = _CUSTOMER_ORDERS.format(id=rng.randrange(n_cust))
        pool["point_orders"].append((q, q, "/sql"))
    for _ in range(2):
        t = rng.choice(EVENT_TYPES)
        q = _COND_AGG.format(v=rng.randrange(50, 450), u=rng.randrange(500, 4500))
        pool["dq_conditional"].append((q, q, "/sql"))
        q = _MOVING_AVG.format(t=t)
        pool["dq_moving_avg"].append((q, q, "/sql"))
        pool["dq_json_extract"].append((
            _JSON_EXTRACT.format(jx="get_json_object(props, '$.k')", t=t),
            _JSON_EXTRACT.format(jx="json_extract_string(props, '$.k')", t=t),
            "/sql",
        ))
        a = rng.randrange(0, n_ord - 1200)
        q = _LINES.format(a=a, b=a + 1200)
        pool["large_lines_json"].append((q, q, "/sql"))
        a = rng.randrange(0, n_ord - 1200)
        q = _LINES.format(a=a, b=a + 1200)
        pool["large_lines_arrow"].append((q, q, "/sql.arrow"))
    for flag in ("A", "R"):
        q = _REGION_YEAR.format(flag=flag)
        pool["region_year"].append((q, q, "/sql"))
    pool["regions"].append((_REGIONS, _REGIONS, "/sql"))
    return pool


def request_sequence(seed: int, pool: dict[str, list], n: int) -> list[tuple]:
    """``n`` seeded draws; the shape counts are fixed by the shares (the
    largest-remainder split of ``n``), only their order and parameters
    vary with the seed."""
    rng = random.Random(seed + 1)
    shares = [(s, w * n) for s, w in SHAPES]
    counts = {s: int(x) for s, x in shares}
    for s, x in sorted(shares, key=lambda t: t[1] - int(t[1]), reverse=True)[: n - sum(counts.values())]:
        counts[s] += 1
    seq = []
    for s, c in counts.items():
        seq += [(s, *rng.choice(pool[s])) for _ in range(c)]
    rng.shuffle(seq)
    return seq


# ---------------------------------------------------------------------------
# tracing hooks
# ---------------------------------------------------------------------------


def instrument_engine(spark, tracer_box) -> None:
    """Trace-mode wrappers around the layer entry points the handler
    reaches: ``serve_bi.run_sql``/``run_sql_arrow`` and, inside them,
    ``SparkSession.sql`` (parse + analysis) and ``DataFrame.collect`` /
    ``toArrow`` (optimisation, execution and transfer)."""
    import jobs.serve_bi as sb

    session_cls, frame_cls = type(spark), type(spark.range(0))

    def wrap(fn, name, only_in_run_sql):
        def inner(*a, **kw):
            tracer = tracer_box[0]
            if only_in_run_sql and tracer.current()[2] != "serve_bi.run_sql":
                return fn(*a, **kw)
            with tracer.span(name):
                return fn(*a, **kw)
        return inner

    sb.run_sql = wrap(sb.run_sql, "serve_bi.run_sql", False)
    sb.run_sql_arrow = wrap(sb.run_sql_arrow, "serve_bi.run_sql", False)
    session_cls.sql = wrap(session_cls.sql, "engine.plan", True)
    frame_cls.collect = wrap(frame_cls.collect, "engine.exec", True)
    frame_cls.toArrow = wrap(frame_cls.toArrow, "engine.exec", True)


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


class Dashboard:
    shuffle_partitions = None  # the engine default

    def __init__(self, spark, tmp, seed, seconds, passes, tracer_box, scale=SCALE):
        self.spark = spark
        self.tracer_box = tracer_box  # [Tracer]; swapped between passes
        self.srv = None
        self.parent_of: dict[str, int] = {}
        self.data = os.path.join(tmp, "warehouse")
        # a child process writes the parquet, so the generator's memory
        # never counts toward this process's peak RSS
        subprocess.run([sys.executable, "-m", "perfbench.gen", "warehouse",
                        self.data, str(seed), str(scale)], check=True)
        self.tables = TABLES
        self.pool = dashboard_pool(seed, int(15000 * scale), int(150000 * scale))
        self.seq = request_sequence(seed, self.pool, REQUESTS_PER_SECOND * seconds)
        self.answers: dict[tuple, set] = {}  # (endpoint, sql, duckdb sql) -> digests

    # -- set-up -------------------------------------------------------------
    def setup(self, k: int) -> None:
        from jobs.serve_bi import serve_background
        from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (
            load_table,
        )

        for t in self.tables:
            load_table(self.spark, self.data, t).createOrReplaceTempView(t)
        self.srv, _ = serve_background(self.spark, port=0, max_rows=10_000)
        self.base = f"http://127.0.0.1:{self.srv.server_port}"
        orig = self.srv.RequestHandlerClass.do_POST
        box, parent_of = self.tracer_box, self.parent_of

        def do_post(handler):
            rid = handler.headers.get("X-Request-Id")
            with box[0].span("serve_bi.http", rid=rid, parent=parent_of.get(rid)):
                orig(handler)

        self.srv.RequestHandlerClass.do_POST = do_post

    def reset(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
            self.srv = None

    close = reset

    # -- operations ---------------------------------------------------------
    def request(self, endpoint: str, sql: str, rid: str) -> tuple[bytes, float, float]:
        tracer = self.tracer_box[0]
        with tracer.span("client.request", rid=rid) as sid:
            if sid is not None:
                self.parent_of[rid] = sid
            t0 = time.perf_counter()
            body = post(self.base, endpoint, sql, rid)
            t1 = time.perf_counter()
        return body, t0, t1

    def warm(self) -> None:
        """Every distinct query once, from the same number of clients."""
        specs = sorted({(ep, q) for qs in self.pool.values() for q, _d, ep in qs})
        recs, _ = closed_loop(
            N_CLIENTS, len(specs),
            lambda i: self.request(specs[i][0], specs[i][1], f"w{i}"),
        )
        for r in recs:
            if isinstance(r, Exception):
                raise r

    def timed_pass(self) -> dict:
        seq = self.seq

        def one(i):
            _shape, sql, duck, ep = seq[i]
            body, t0, t1 = self.request(ep, sql, f"r{i}")
            return (ep, sql, duck, t1 - t0, body)

        recs, wall = closed_loop(N_CLIENTS, len(seq), one)
        ok = [r for r in recs if not isinstance(r, Exception)]
        for ep, sql, duck, _lat, body in ok:
            self.answers.setdefault((ep, sql, duck), set()).add(digest(decode(ep, body)))
        return {
            "latencies": [r[3] for r in ok], "ops": len(seq),
            "failed": len(seq) - len(ok), "wall": wall, "units": len(ok),
            "bytes": sum(len(r[4]) for r in ok),
            "errors": [repr(r) for r in recs if isinstance(r, Exception)][:3],
        }

    # -- correctness --------------------------------------------------------
    def check(self) -> tuple[bool, str]:
        import duckdb

        if not self.answers:
            return False, "no answers served"
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for (ep, sql, duck), got in self.answers.items():
                if got != {digest(con.execute(duck).fetchall())}:
                    return False, f"{ep} answer differs from DuckDB: {sql[:120]}"
        finally:
            con.close()
        return True, ""

    # -- per-layer ----------------------------------------------------------
    def layer(self, tracer, res: dict) -> dict[str, float]:
        """Self time per request of each serving-path span."""
        st = tracer.self_times_ms()
        n = max(res["units"], 1)
        return {
            "serve_bi.http_ms": sum(st.get("serve_bi.http", ())) / n,
            "serve_bi.run_sql_ms": sum(st.get("serve_bi.run_sql", ())) / n,
            "engine.plan_ms": sum(st.get("engine.plan", ())) / n,
            "engine.exec_ms": sum(st.get("engine.exec", ())) / n,
            "serve_bi.response_bytes": res["bytes"] / n,
        }
