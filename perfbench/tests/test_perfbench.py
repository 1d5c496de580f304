"""Fast checks of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator, statistics and naming tests need no JVM; the smoke tests
run each workload at a tiny size on one shared local Spark session and
assert its correctness gate passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import statistics

import pytest

from perfbench import gen
from perfbench.common import Tracer, retained_heap_mb, tail
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _h(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _warehouse_digest(seed: int) -> str:
    tables = gen.warehouse_tables(seed, scale=0.01)
    return _h({k: v.to_pydict() for k, v in tables.items()})


def test_generators_repeat_per_seed_and_differ_across_seeds():
    assert gen.route_batches(7, 2, 200) == gen.route_batches(7, 2, 200)
    assert gen.route_batches(7, 2, 200) != gen.route_batches(8, 2, 200)
    assert _warehouse_digest(7) == _warehouse_digest(7)
    assert _warehouse_digest(7) != _warehouse_digest(8)


def test_route_mix_covers_every_category_and_both_legs():
    batches = gen.route_batches(3, 2, 1500)
    lines = [json.loads(line) for b in batches for line in b]
    assert len({ln["topic"] for ln in lines}) == 13
    counts = gen.expected_routes(batches)
    assert sum(v for t, v in counts.items() if t.startswith("validated.")) > 0
    assert sum(v for t, v in counts.items() if t.startswith("rejected.")) > 0
    # resent duplicates are dropped, so fewer rows route than arrive
    assert sum(counts.values()) < len(lines)
    values = [ln["value"] for ln in lines]
    assert any(not v.endswith("}") for v in values)  # corrupt JSON present


@pytest.mark.parametrize("n", list(range(0, 120)) + [500, 1000])
def test_tail_never_below_p50_and_keeps_ten_beyond(n):
    rng = random.Random(n)
    values = [rng.choice((rng.random(), 0.5, 1.0)) for _ in range(n)]
    t = tail(values)
    if n < 21:
        assert t is None
        return
    value, pct = t
    assert value >= statistics.median(values)
    # the order statistic with exactly ten samples after it
    assert value == sorted(values)[n - 11]
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_metric_names_and_benchmark_file_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for name in list(e2e) + list(layer) + list(WORKLOADS):
        assert METRIC_NAME_RE.match(name), name


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer", rid="r1"):
        with tr.span("inner"):
            sum(range(20000))
    st = tr.self_times_ms()
    outer = [s for s in tr.spans if s[1] == "outer"][0]
    inner = [s for s in tr.spans if s[1] == "inner"][0]
    assert inner[4] == outer[0] and inner[5] == "r1"
    total = (outer[3] - outer[2]) * 1000
    assert abs(st["outer"][0] + st["inner"][0] - total) < 1e-6


# ---------------------------------------------------------------------------
# tiny-size smoke of each workload on one session
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark import (
        get_spark,
    )

    s = get_spark(app_name="perfbench-smoke", shuffle_partitions=1,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s, tmp


def _drive(work) -> dict:
    work.setup(0)
    try:
        work.warm()
        res = work.timed_pass()
        ok, detail = work.check()
    finally:
        work.close()
    assert ok, detail
    assert res["failed"] == 0 and res["latencies"]
    return res


def test_smoke_route(spark):
    from perfbench.route import Route

    s, tmp = spark
    work = Route(s, os.path.join(tmp, "r"), seed=1, seconds=1, passes=1,
                 tracer_box=[Tracer(False)], per_batch=120)
    res = _drive(work)
    layer = Route.layer(None, res)
    assert layer["validate.source_rows_per_message"] == 13
    assert layer["validate.state_partitions"] == 13
    assert 0 < retained_heap_mb(s, settle=0.05) < 8192


def test_smoke_dashboard(spark):
    from perfbench.dashboard import Dashboard

    s, tmp = spark
    tr = Tracer(True)
    work = Dashboard(s, os.path.join(tmp, "d"), seed=1, seconds=2, passes=1,
                     tracer_box=[tr], scale=0.02)
    res = _drive(work)
    layer = work.layer(tr, res)
    assert layer["serve_bi.http_ms"] > 0 and layer["serve_bi.response_bytes"] > 0
