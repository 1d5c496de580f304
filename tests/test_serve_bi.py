"""BI serving endpoint (S11): real HTTP requests against the live server."""

import json
import math
import sys
import urllib.error
import urllib.request

import pytest

from conftest import JOBS_DIR

sys.path.insert(0, JOBS_DIR)

from serve_bi import _assert_read_only, _is_read_only, serve_background  # noqa: E402

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.tables import (  # noqa: E402
    register_views,
)


def _post(url, doc):
    req = urllib.request.Request(
        url, data=json.dumps(doc).encode(), headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return json.loads(r.read())


def test_serving_roundtrip(spark, sf_oracle):
    register_views(spark, sf_oracle)
    srv, _ = serve_background(spark, port=0, max_rows=50)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        with urllib.request.urlopen(base + "/health", timeout=10) as r:
            assert json.loads(r.read())["ok"] is True
        with urllib.request.urlopen(base + "/tables", timeout=10) as r:
            tables = json.loads(r.read())["tables"]
        assert {"region", "nation", "orders", "lineitem"} <= set(tables)

        out = _post(
            base + "/sql",
            {"sql": "SELECT r_name, count(*) AS n FROM region GROUP BY r_name", "limit": 10},
        )
        assert out["columns"] == ["r_name", "n"]
        assert out["n_rows"] == 5 and not out["truncated"]

        # row cap enforced and reported
        out = _post(base + "/sql", {"sql": "SELECT * FROM orders", "limit": 7})
        assert out["n_rows"] == 7 and out["truncated"] is True

        # writes rejected with 400, session state untouched
        try:
            _post(base + "/sql", {"sql": "DROP VIEW region"})
            raise AssertionError("write statement must be rejected")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        assert spark.sql("SELECT count(*) FROM region").collect()[0][0] == 5
    finally:
        srv.shutdown()


def test_read_only_guard():
    assert _is_read_only("SELECT 1")
    assert _is_read_only("  with x as (select 1) select * from x;")
    assert _is_read_only("/* c */ SELECT 1 -- t")
    assert not _is_read_only("DROP TABLE t")
    assert not _is_read_only("SELECT 1; DROP TABLE t")
    assert not _is_read_only("INSERT INTO t VALUES (1)")
    assert not _is_read_only("SET spark.sql.ansi.enabled=false")
    assert not _is_read_only("")


def _rejected(spark, sql):
    try:
        _assert_read_only(spark, sql)
        return False
    except ValueError:
        return True


def test_plan_level_guard(spark, tmp_path):
    # Accepted: genuine queries, however they start.
    _assert_read_only(spark, "SELECT 1")
    _assert_read_only(spark, "WITH c AS (SELECT 1 AS x) SELECT * FROM c")
    _assert_read_only(spark, "VALUES (1, 'a'), (2, 'b')")
    _assert_read_only(spark, "EXPLAIN SELECT 1")
    _assert_read_only(spark, "SHOW TABLES")
    # A column merely *named* like a write keyword must still pass
    # (plan-node check, not token grep).
    _assert_read_only(spark, "SELECT 1 AS insert_ts, 2 AS update_count")

    # The round-2 advisor bypass: first keyword WITH, plan root INSERT.
    target = tmp_path / "exfil"
    bypass = (
        f"WITH c AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY '{target}' "
        "USING parquet SELECT * FROM c"
    )
    assert _rejected(spark, bypass)
    assert not target.exists()

    # Other command shapes caught at the plan level.
    assert _rejected(spark, "WITH c AS (SELECT 1) INSERT INTO tgt SELECT * FROM c")
    assert _rejected(spark, "CREATE TABLE t (a INT) USING parquet")
    assert _rejected(spark, "SELECT 1; DROP TABLE t")
    assert _rejected(spark, "CACHE TABLE region")
    assert _rejected(spark, "")


def test_http_rejects_with_insert_bypass(spark, sf_oracle, tmp_path):
    register_views(spark, sf_oracle)
    srv, _ = serve_background(spark, port=0, max_rows=50)
    base = f"http://127.0.0.1:{srv.server_port}"
    target = tmp_path / "exfil_http"
    try:
        try:
            _post(
                base + "/sql",
                {
                    "sql": (
                        f"WITH c AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY "
                        f"'{target}' USING parquet SELECT * FROM c"
                    )
                },
            )
            raise AssertionError("WITH...INSERT bypass must be rejected")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        assert not target.exists()
    finally:
        srv.shutdown()


def test_arrow_ipc_endpoint(spark, sf_oracle):
    """POST /sql.arrow returns an Arrow IPC stream whose values match the
    JSON endpoint, with n_rows/truncated in the schema metadata and the
    same read-only enforcement."""
    import pyarrow as pa

    register_views(spark, sf_oracle)
    srv, _ = serve_background(spark, port=0, max_rows=50)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        body = json.dumps(
            {"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
             "limit": 3}
        ).encode()
        req = urllib.request.Request(
            base + "/sql.arrow", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            assert r.headers["Content-Type"] == "application/vnd.apache.arrow.stream"
            raw = r.read()
        table = pa.ipc.open_stream(raw).read_all()
        assert table.column_names == ["r_regionkey", "r_name"]
        assert table.num_rows == 3
        meta = table.schema.metadata
        assert meta[b"n_rows"] == b"3" and meta[b"truncated"] == b"true"

        json_out = _post(
            base + "/sql",
            {"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
             "limit": 3},
        )
        assert table.to_pydict()["r_regionkey"] == [r[0] for r in json_out["rows"]]
        assert table.to_pydict()["r_name"] == [r[1] for r in json_out["rows"]]

        # read-only enforcement applies to the arrow route too
        import pytest as _pt

        with _pt.raises(urllib.error.HTTPError) as ei:
            _req = urllib.request.Request(
                base + "/sql.arrow",
                data=json.dumps({"sql": "DROP VIEW region"}).encode(),
                headers={"Content-Type": "application/json"},
            )
            urllib.request.urlopen(_req, timeout=60)
        assert ei.value.code == 400
    finally:
        srv.shutdown()


def test_concurrent_dashboard_refresh(spark, sf_oracle):
    """DirectQuery posture smoke (VERDICT r6 item 9): 12 dashboard tiles
    fire star joins through /sql.arrow AT ONCE. Every response must be
    correct (checked against a pre-computed single-threaded answer) and
    no request may starve (generous absolute latency ceiling — the
    ThreadingHTTPServer handler threads share one SparkSession, whose
    scheduler interleaves the jobs)."""
    import threading
    import time

    import pyarrow as pa

    register_views(spark, sf_oracle)

    star = (
        "SELECT n.n_name AS nation, "
        "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2)) * "
        "     (1 - CAST(l.l_discount AS DECIMAL(14,2)))) AS DOUBLE) AS rev "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE n.n_name = 'NATION_{k}' GROUP BY n.n_name"
    )
    expected = {
        k: [tuple(r) for r in spark.sql(star.format(k=k)).collect()]
        for k in range(12)
    }

    srv, _ = serve_background(spark, port=0, max_rows=100)
    base = f"http://127.0.0.1:{srv.server_port}"
    results: dict[int, list] = {}
    latencies: dict[int, float] = {}
    errors: list = []
    barrier = threading.Barrier(12)

    def tile(k: int) -> None:
        try:
            body = json.dumps({"sql": star.format(k=k), "limit": 100}).encode()
            req = urllib.request.Request(
                base + "/sql.arrow", data=body,
                headers={"Content-Type": "application/json"},
            )
            barrier.wait(timeout=30)
            t0 = time.perf_counter()
            with urllib.request.urlopen(req, timeout=120) as r:
                raw = r.read()
            latencies[k] = time.perf_counter() - t0
            tbl = pa.ipc.open_stream(raw).read_all().to_pydict()
            results[k] = list(zip(tbl["nation"], tbl["rev"]))
        except Exception as e:  # surface in the main thread
            errors.append((k, e))

    try:
        threads = [threading.Thread(target=tile, args=(k,)) for k in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=150)
        assert not errors, errors
        for k in range(12):
            assert results[k] == expected[k], f"tile {k} wrong under concurrency"
        # starvation bound: every tile answered well inside the ceiling
        worst = max(latencies.values())
        assert worst < 60, f"tile starved: worst latency {worst:.1f}s"
    finally:
        srv.shutdown()


def test_parts_view_stays_current_and_forgets_over_http(spark, tmp_path):
    """The BI-visible right-to-be-forgotten path (r8 advice + verdict):
    a parts-backed FINAL view is re-resolved per query, so dashboards see
    (a) commits landing AFTER server start and (b) a takedown — the same
    ``mutate_parts(delete_ids=...)`` rewrite ``forget_from_pipeline``
    issues for the curated table — immediately, with no restart."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.parts import (
        create_parts_table,
        insert_into_parts,
        mutate_parts,
    )

    tbl = str(tmp_path / "curated")
    create_parts_table(tbl, engine="replacing", key_cols=("doc_id",), version_col="v")
    insert_into_parts(
        spark.createDataFrame(
            [(1, 1, "keep"), (2, 1, "takedown-me")], "doc_id long, v long, s string"
        ),
        tbl,
    )
    srv, _ = serve_background(
        spark, port=0, max_rows=50, parts_views={"v_curated": tbl}
    )
    base = f"http://127.0.0.1:{srv.server_port}"
    q = {"sql": "SELECT doc_id FROM v_curated ORDER BY doc_id", "limit": 10}
    try:
        assert [r[0] for r in _post(base + "/sql", q)["rows"]] == [1, 2]
        # a commit AFTER server start is visible on the next query
        insert_into_parts(
            spark.createDataFrame([(3, 1, "late")], "doc_id long, v long, s string"),
            tbl,
        )
        assert [r[0] for r in _post(base + "/sql", q)["rows"]] == [1, 2, 3]
        # takedown: the forget-path parts mutation, then an immediate re-query
        mutate_parts(
            spark,
            tbl,
            delete_ids=spark.createDataFrame([(2,)], "doc_id long"),
            id_col="doc_id",
        )
        assert [r[0] for r in _post(base + "/sql", q)["rows"]] == [1, 3]
    finally:
        srv.shutdown()


def test_parts_final_view_served_over_http(spark, tmp_path):
    """A parts table registered as a FINAL view (the v_fact_event_latest
    posture): dashboards query latest-state through plain SQL while raw
    part rows stay invisible."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.parts import (
        create_parts_table,
        insert_into_parts,
        read_parts,
    )

    tbl = str(tmp_path / "t")
    create_parts_table(tbl, engine="replacing", key_cols=("k",), version_col="v")
    insert_into_parts(
        spark.createDataFrame([(1, 1, "old"), (2, 1, "keep")], "k long, v long, s string"),
        tbl,
    )
    insert_into_parts(
        spark.createDataFrame([(1, 2, "new")], "k long, v long, s string"), tbl
    )
    read_parts(spark, tbl, final=True).createOrReplaceTempView("dim_latest")

    srv, _ = serve_background(spark, port=0, max_rows=50)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        out = _post(
            base + "/sql",
            {"sql": "SELECT k, s FROM dim_latest ORDER BY k", "limit": 10},
        )
        assert out["rows"] == [[1, "new"], [2, "keep"]]
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# the result cache
# ---------------------------------------------------------------------------


def _ask(base, sql, endpoint="/sql", limit=100):
    """(status code, X-Cache, body bytes) of one POST."""
    req = urllib.request.Request(
        base + endpoint, data=json.dumps({"sql": sql, "limit": limit}).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, r.headers["X-Cache"], r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.headers["X-Cache"], e.read()


def _cache_stats(base):
    with urllib.request.urlopen(base + "/cache", timeout=10) as r:
        return json.loads(r.read())


@pytest.fixture()
def server(spark, sf_oracle):
    register_views(spark, sf_oracle)
    srv, _ = serve_background(spark, port=0, max_rows=100)
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()
    srv.server_close()


def test_cache_hit_returns_identical_body(server):
    q = "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name"
    code, xc, first = _ask(server, q)
    assert (code, xc) == (200, "miss")
    code, xc, again = _ask(server, q)
    assert (code, xc) == (200, "hit") and again == first
    # endpoint and row cap are part of the key
    assert _ask(server, q, "/sql.arrow")[1] == "miss"
    assert _ask(server, q, limit=2)[1] == "miss"
    stats = _cache_stats(server)
    assert (stats["hit"], stats["miss"], stats["entries"]) == (1, 3, 3)
    assert stats["bytes"] > len(first)
    # CTE ids count up on every analysis; the digest must not see them
    cte = ("WITH d AS (SELECT n_regionkey AS k, count(*) AS n FROM nation GROUP BY 1) "
           "SELECT a.k, b.n FROM d a JOIN d b ON a.k = b.k "
           "WHERE a.n > (WITH e AS (SELECT 1 AS one) SELECT max(one) FROM e) ORDER BY 1")
    assert _ask(server, cte)[1] == "miss"
    assert _ask(server, cte)[1] == "hit"


def test_cache_bypasses_volatile_and_meta_statements(server):
    for q in (
        "SELECT rand() AS r",
        "SELECT uuid() AS u",
        "SELECT current_timestamp() AS t",
        "SELECT now() AS t",
        "SELECT current_date() AS d",
        "SELECT curdate() AS d",  # an alias prints under its own name
        "SELECT r_name FROM region WHERE date_sub(curdate(), 1) > DATE'2000-01-01'",
        "SELECT current_timezone() AS z",
        "SELECT user() AS u",
        "SELECT r_name FROM region WHERE r_regionkey IN "
        "(SELECT n_regionkey FROM nation WHERE now() > TIMESTAMP'2000-01-01')",
        "SELECT unix_timestamp() AS t",
        "SELECT current_user() AS u",
        "SELECT r_name FROM region WHERE r_regionkey < rand() * 10",
        "SELECT r_name FROM region WHERE r_regionkey = "
        "(SELECT max(n_regionkey) FROM nation WHERE rand() < 2)",
        "SHOW TABLES",
        "DESCRIBE region",
        "EXPLAIN SELECT * FROM region",
        "VALUES (1, 'a')",
    ):
        for _ in range(2):
            code, xc, _body = _ask(server, q)
            assert (code, xc) == (200, "bypass"), q
    stats = _cache_stats(server)
    assert stats["hit"] == stats["miss"] == stats["entries"] == 0


def test_cache_never_stores_errors_and_still_rejects_writes(server, spark):
    bad = "SELECT CAST(r_name AS INT) AS x FROM region"  # fails while executing
    for _ in range(2):
        code, xc, body = _ask(server, bad)
        assert (code, xc) == (400, "bypass")
        assert "CAST_INVALID_INPUT" in body.decode()
    code, xc, _ = _ask(server, "SELECT no_such_column FROM region")
    assert (code, xc) == (400, "bypass")
    code, xc, _ = _ask(server, "DROP VIEW region")
    assert (code, xc) == (400, "bypass")
    assert spark.sql("SELECT count(*) FROM region").collect()[0][0] == 5
    stats = _cache_stats(server)
    assert (stats["hit"], stats["miss"], stats["entries"], stats["bypass"]) == (0, 0, 0, 4)


def test_cache_misses_after_view_redefinition(server, spark):
    spark.sql("SELECT r_regionkey AS k FROM region WHERE r_regionkey < 2") \
        .createOrReplaceTempView("v_cache_def")
    q = "SELECT * FROM v_cache_def ORDER BY 1"
    assert json.loads(_ask(server, q)[2])["rows"] == [[0], [1]]
    assert _ask(server, q)[1] == "hit"
    spark.sql("SELECT r_regionkey AS k FROM region WHERE r_regionkey < 3") \
        .createOrReplaceTempView("v_cache_def")
    code, xc, body = _ask(server, q)
    assert xc == "miss" and json.loads(body)["rows"] == [[0], [1], [2]]
    # same rows under a new column name: the canonical plan text is the
    # same, the output schema is not
    spark.sql("SELECT r_regionkey AS key FROM region WHERE r_regionkey < 3") \
        .createOrReplaceTempView("v_cache_def")
    code, xc, body = _ask(server, q)
    assert xc == "miss" and json.loads(body)["columns"] == ["key"]


def test_cache_misses_after_parquet_rewrite_in_place(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), path)
    spark.read.parquet(path).createOrReplaceTempView("v_rewrite")
    srv, _ = serve_background(spark, port=0, max_rows=50)
    base = f"http://127.0.0.1:{srv.server_port}"
    q = "SELECT sum(x) AS s FROM v_rewrite"
    try:
        assert _ask(base, q)[1] == "miss"
        assert _ask(base, q)[1] == "hit"
        pq.write_table(pa.table({"x": [1, 2, 3, 4]}), path)
        # the same plan over the same path: only the file's size/mtime moved
        spark.read.parquet(path).createOrReplaceTempView("v_rewrite")
        code, xc, body = _ask(base, q)
        assert xc == "miss" and json.loads(body)["rows"] == [[10]]
    finally:
        srv.shutdown()
        srv.server_close()


def test_cache_does_not_store_a_result_whose_input_moved_mid_query(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import serve_bi

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), path)
    spark.read.parquet(path).createOrReplaceTempView("v_race")
    real = serve_bi._json_result

    def racing_json_result(df, n):
        body = real(df, n)
        pq.write_table(pa.table({"x": [5, 6, 7]}), path)  # a commit lands meanwhile
        return body

    monkeypatch.setattr(serve_bi, "_json_result", racing_json_result)
    srv, _ = serve_background(spark, port=0, max_rows=50)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        assert _ask(base, "SELECT sum(x) AS s FROM v_race")[1] == "miss"
        assert _cache_stats(base)["entries"] == 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_cache_sees_parts_commits(spark, tmp_path):
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.parts import (
        create_parts_table,
        insert_into_parts,
    )

    tbl = str(tmp_path / "p")
    create_parts_table(tbl, engine="replacing", key_cols=("k",), version_col="v")
    insert_into_parts(spark.createDataFrame([(1, 1)], "k long, v long"), tbl)
    srv, _ = serve_background(spark, port=0, max_rows=50, parts_views={"v_parts": tbl})
    base = f"http://127.0.0.1:{srv.server_port}"
    q = "SELECT k FROM v_parts ORDER BY k"
    try:
        assert json.loads(_ask(base, q)[2])["rows"] == [[1]]
        assert _ask(base, q)[1] == "hit"
        insert_into_parts(spark.createDataFrame([(2, 1)], "k long, v long"), tbl)
        code, xc, body = _ask(base, q)
        assert xc == "miss" and json.loads(body)["rows"] == [[1], [2]]
        assert _ask(base, q)[1] == "hit"
    finally:
        srv.shutdown()
        srv.server_close()


def test_cache_lru_stays_within_byte_budget(spark, monkeypatch):
    import serve_bi

    monkeypatch.setattr(serve_bi, "CACHE_BYTES", 100)
    cache = serve_bi.ResultCache(spark)
    with cache._lock:
        for i in range(5):
            cache._store(("k", i), bytes(30))
    assert cache.stats()["bytes"] == 90 and list(cache._entries) == [("k", i) for i in (2, 3, 4)]
    with cache._lock:
        cache._store(("big",), bytes(101))  # larger than the whole budget
        cache._entries.move_to_end(("k", 2))  # a hit refreshes recency
        cache._store(("k", 5), bytes(30))
    assert list(cache._entries) == [("k", 4), ("k", 2), ("k", 5)]
    assert cache.stats()["bytes"] == 90


def test_lru_eviction_over_http(spark, server, monkeypatch):
    import serve_bi

    q1 = "SELECT r_regionkey FROM region WHERE r_regionkey = 1"
    q2 = "SELECT r_regionkey FROM region WHERE r_regionkey = 2"
    size = len(_ask(server, q1)[2])
    monkeypatch.setattr(serve_bi, "CACHE_BYTES", size + 10)  # one body fits, two do not
    srv, _ = serve_background(spark, port=0, max_rows=100)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        assert _ask(base, q1)[1] == "miss" and _ask(base, q1)[1] == "hit"
        assert _ask(base, q2)[1] == "miss"
        assert _ask(base, q1)[1] == "miss"  # evicted by q2
        stats = _cache_stats(base)
        assert stats["entries"] == 1 and stats["bytes"] <= size + 10
    finally:
        srv.shutdown()
        srv.server_close()


def test_concurrent_identical_misses_share_one_execution(server, monkeypatch):
    import threading
    import time

    import serve_bi

    calls = []
    real = serve_bi._json_result

    def slow_json_result(df, n):
        calls.append(n)
        time.sleep(0.5)  # hold the flight open while the others arrive
        return real(df, n)

    monkeypatch.setattr(serve_bi, "_json_result", slow_json_result)
    q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    n_clients = 6
    barrier = threading.Barrier(n_clients)
    out = [None] * n_clients

    def client(i):
        barrier.wait(timeout=30)
        out[i] = _ask(server, q)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(calls) == 1, calls
    assert sorted(xc for _c, xc, _b in out) == ["miss"] + ["shared"] * (n_clients - 1)
    assert len({b for _c, _x, b in out}) == 1
    stats = _cache_stats(server)
    assert (stats["miss"], stats["shared"]) == (1, n_clients - 1)


def test_json_encodes_non_finite_doubles_as_null(server):
    import pyarrow as pa

    def reject(name):
        raise ValueError(f"non-standard JSON constant {name}")

    q = ("SELECT CAST('NaN' AS DOUBLE) AS a, CAST('Infinity' AS DOUBLE) AS b, "
         "CAST('-Infinity' AS DOUBLE) AS c, 1.5D AS d, "
         "array(CAST('NaN' AS DOUBLE), 2.0D) AS e, "
         "named_struct('f', CAST('Infinity' AS DOUBLE)) AS g")
    code, _xc, body = _ask(server, q)
    assert code == 200
    doc = json.loads(body, parse_constant=reject)
    assert doc["rows"] == [[None, None, None, 1.5, [None, 2.0], [None]]]
    # the Arrow stream keeps the IEEE values
    _code, _xc, raw = _ask(server, q, "/sql.arrow")
    row = pa.ipc.open_stream(raw).read_all().to_pylist()[0]
    assert math.isnan(row["a"]) and row["b"] == math.inf and row["c"] == -math.inf


def test_json_keeps_duplicate_column_names_apart(server):
    doc = json.loads(_ask(server, "SELECT 1 AS x, 2 AS x")[2])
    assert doc["columns"] == ["x", "x"] and doc["rows"] == [[1, 2]]


def test_concurrent_mixed_requests_match_serial_answers(spark, sf_oracle, monkeypatch):
    """Four clients send a mixed /sql and /sql.arrow sequence with
    repeats, so hits and shared misses both happen; every answer equals
    the one a fresh server gives serially."""
    import threading
    import time

    import pyarrow as pa

    import serve_bi

    def decode(endpoint, body):
        if endpoint == "/sql.arrow":
            return pa.ipc.open_stream(body).read_all().to_pylist()
        return json.loads(body)["rows"]

    register_views(spark, sf_oracle)
    star = (
        "SELECT n.n_name, count(*) AS n_orders, "
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE c.c_mktsegment = '{seg}' GROUP BY n.n_name ORDER BY n.n_name"
    )
    specs = [
        ("/sql", star.format(seg="BUILDING")),
        ("/sql.arrow", star.format(seg="BUILDING")),
        ("/sql", star.format(seg="MACHINERY")),
        ("/sql.arrow", "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
                       "WHERE l_orderkey < 200 ORDER BY 1, 2"),
        ("/sql", "SELECT r_name, count(*) AS n FROM region r JOIN nation n "
                 "ON r.r_regionkey = n.n_regionkey GROUP BY r_name ORDER BY r_name"),
    ]
    srv, _ = serve_background(spark, port=0, max_rows=1000)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        serial = {s: decode(s[0], _ask(base, s[1], s[0], limit=1000)[2]) for s in specs}
    finally:
        srv.shutdown()
        srv.server_close()

    real = {"/sql": serve_bi._json_result, "/sql.arrow": serve_bi._arrow_result}

    def slowed(endpoint):
        def run(df, n):
            time.sleep(0.3)  # a miss outlives the others' arrival
            return real[endpoint](df, n)
        return run

    monkeypatch.setattr(serve_bi, "_json_result", slowed("/sql"))
    monkeypatch.setattr(serve_bi, "_arrow_result", slowed("/sql.arrow"))
    # every client starts on the same spec, then walks the list from its
    # own offset, twice
    seqs = [[specs[0]] + [specs[(i + k) % len(specs)] for k in range(2 * len(specs))]
            for i in range(4)]
    srv, _ = serve_background(spark, port=0, max_rows=1000)
    base = f"http://127.0.0.1:{srv.server_port}"
    barrier = threading.Barrier(4)
    got, errors = [], []

    def client(seq):
        try:
            barrier.wait(timeout=30)
            for spec in seq:
                code, xc, body = _ask(base, spec[1], spec[0], limit=1000)
                got.append((spec, code, xc, decode(spec[0], body)))
        except Exception as e:  # surfaced below
            errors.append(e)

    try:
        threads = [threading.Thread(target=client, args=(s,)) for s in seqs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not errors, errors
        assert len(got) == sum(len(s) for s in seqs)
        for spec, code, _xc, rows in got:
            assert code == 200 and rows == serial[spec], spec
        stats = _cache_stats(base)
        assert stats["miss"] == len(specs)  # one execution per distinct request
        assert stats["hit"] > 0 and stats["shared"] > 0
        assert stats["hit"] + stats["shared"] == len(got) - len(specs)
    finally:
        srv.shutdown()
        srv.server_close()


def test_result_cache_stress_runs_each_key_once(spark, monkeypatch):
    """More threads than cores hammer a few keys with a tiny switch
    interval: every key executes exactly once and the counts add up (a
    lost update in the flight table or the counters would break it)."""
    import os
    import sys
    import threading

    from serve_bi import ResultCache

    cache = ResultCache(spark)
    monkeypatch.setattr(cache, "_plan_key", lambda df: ((df,), []))
    runs: dict[int, int] = {}
    runs_lock = threading.Lock()

    def run_for(k):
        def run():
            with runs_lock:
                runs[k] = runs.get(k, 0) + 1
            return str(k).encode() * 100
        return run

    n_threads, per_thread, keys = 4 * (os.cpu_count() or 1), 200, 7
    errors = []

    def worker(t):
        try:
            for i in range(per_thread):
                k = (t + i) % keys
                body, _status = cache.answer(k, ("/sql", 1, "q"), run_for(k))
                assert body == str(k).encode() * 100
        except Exception as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors[:3]
    assert runs == {k: 1 for k in range(keys)}
    stats = cache.stats()
    assert stats["miss"] == keys and stats["entries"] == keys
    assert stats["hit"] + stats["miss"] + stats["shared"] == n_threads * per_thread
