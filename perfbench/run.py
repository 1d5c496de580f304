#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload route|dashboard \
        --seed N --seconds S --trace 0|1

Run from the repository root. Every run makes fresh state under
``.perfbench/`` (deleted at exit), generates its inputs from ``--seed``,
sets the program up once cold and then ``SETUP_REPEATS`` more times
timed, warms every operation shape, then runs a fixed amount of work
sized from ``--seconds`` and checks the outputs. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run repeats the timed work three times,
untraced, traced, untraced. It reports the traced latency median against
the mean of the two untraced ones as ``trace.run_delta_pct``, and the
tracer's own recording time per operation against the untraced latency
median as ``trace.overhead_pct``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: timed set-ups after the untimed cold one; ``setup_s`` is their median
SETUP_REPEATS = 3
T0 = time.perf_counter()
#: keeps the JVM from writing its perf-data file to the system temp dir;
#: the heap keeps the program's own sizing
JVM_OPTS = "-XX:-UsePerfData"

END_TO_END = {
    "setup_s": "s",
    "retained_heap_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}

#: every per-layer metric, reported by every workload (0 where the layer
#: is idle on that workload)
PER_LAYER = {
    "validate.trigger_ms": "ms",
    "validate.add_batch_ms": "ms",
    "validate.planning_ms": "ms",
    "validate.wal_commit_ms": "ms",
    "validate.state_commit_ms": "ms",
    "validate.state_rows": "count",
    "validate.state_mem_mb": "MB",
    "validate.state_partitions": "count",
    "validate.nodata_batches_per_batch": "count",
    "validate.source_rows_per_message": "count",
    "serve_bi.http_ms": "ms",
    "serve_bi.run_sql_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.exec_ms": "ms",
    "serve_bi.response_bytes": "bytes",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.gc_ms_per_op": "ms",
    "driver.python_cpu_s": "s",
    "driver.jvm_cpu_s": "s",
    "process.peak_rss_mb": "MB",
    "e2e.latency_p50_s": "s",
    "e2e.latency_tail_s": "s",
    "e2e.latency_tail_pct": "%",
    "e2e.latency_samples": "count",
    "trace.overhead_pct": "%",
    "trace.run_delta_pct": "%",
    "trace.spans_per_op": "count",
}

WORKLOADS = ("route", "dashboard")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _env(tmp: str) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # spark-submit's own launcher JVM: no perf-data file outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # Python workers the JVM forks import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM and its workers, and wait for each."""
    from perfbench.common import _children

    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    family = _children(proc.pid) if proc is not None else []
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - escalate below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 10
    for pid in family:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse(argv)
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "jvm"))
    _env(tmp)
    try:
        import jobs.serve_bi  # noqa: F401 - the serving layer under test
        from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark import (
            get_spark,
        )
    except ImportError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.common import (
        RssSampler,
        SparkCounters,
        Tracer,
        p50,
        retained_heap_mb,
        tail,
    )

    sampler = RssSampler()
    spark = None
    work = None
    try:
        from perfbench import dashboard, route

        cls = {"route": route.Route, "dashboard": dashboard.Dashboard}[args.workload]
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            shuffle_partitions=cls.shuffle_partitions,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/jvm {JVM_OPTS}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        log(f"spark up at {time.perf_counter() - T0:.1f}s")
        passes = 3 if args.trace else 1
        off, on = Tracer(False), Tracer(True)
        box = [off]
        work = cls(spark, tmp, args.seed, args.seconds, passes, box)
        if args.trace and cls is dashboard.Dashboard:
            dashboard.instrument_engine(spark, box)

        # peak RSS covers the program from here to the end of the timed
        # work: not the input generator, not the correctness check
        sampler.add(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        log(f"inputs ready at {time.perf_counter() - T0:.1f}s")
        t_cold = time.perf_counter()
        work.setup(0)
        cold = time.perf_counter() - t_cold
        setups = []
        for k in range(1, SETUP_REPEATS + 1):
            work.reset()  # untimed: tear down the previous set-up
            t0 = time.perf_counter()
            work.setup(k)
            setups.append(time.perf_counter() - t0)
        t_warm = time.perf_counter()
        work.warm()
        log(f"setups cold {cold:.3f} timed {[round(x, 3) for x in setups]} "
            f"warm {time.perf_counter() - t_warm:.1f}s")

        counters = SparkCounters(spark)
        res = work.timed_pass()
        runs = [res]
        if args.trace:
            box[0] = on
            before = counters.snapshot()
            traced = work.timed_pass()
            after = counters.snapshot()
            box[0] = off
            runs += [traced, work.timed_pass()]
        peak_rss = sampler.stop()
        retained = retained_heap_mb(spark)
        for r in runs:
            log(f"timed {r['wall']:.1f}s ops {r['ops']} latencies "
                f"{[round(x, 3) for x in r['latencies'][:8]]}")
        ok, detail = work.check()
        log(f"checked at {time.perf_counter() - T0:.1f}s; peak rss {peak_rss:.0f} MB, "
            f"retained heap {retained:.1f} MB")
        attempted = sum(r["ops"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        if not ok or failed:
            print(f"perfbench: {args.workload} check failed: {detail} "
                  f"{[r.get('errors') for r in runs]}", file=sys.stderr)

        if not args.trace:
            metrics = {
                "setup_s": statistics.median(setups),
                "retained_heap_mb": retained,
                "throughput_per_s": res["units"] / res["wall"],
                "latency_p50_s": p50(res["latencies"]),
            }
            units = END_TO_END
        else:
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(work.layer(on, traced))
            metrics.update(SparkCounters.per_op(before, after, traced["ops"]))
            # tail and median of one untraced sample
            lat = res["latencies"]
            metrics["e2e.latency_p50_s"] = p50(lat)
            metrics["e2e.latency_samples"] = len(lat)
            t = tail(lat)
            if t is not None:
                metrics["e2e.latency_tail_s"], metrics["e2e.latency_tail_pct"] = t
            # the untraced passes on either side cancel linear drift within
            # the run, not the steeper warm-up of the first pass
            untraced = (p50(res["latencies"]) + p50(runs[2]["latencies"])) / 2
            metrics["trace.run_delta_pct"] = 100.0 * (p50(traced["latencies"]) / untraced - 1.0)
            metrics["trace.overhead_pct"] = 100.0 * on.cost_s / traced["ops"] / untraced
            metrics["trace.spans_per_op"] = len(on.spans) / traced["ops"]
            metrics["process.peak_rss_mb"] = peak_rss
            units = PER_LAYER
            on.write(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))
        out = {
            "correct": bool(ok and not failed),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        if work is not None:
            work.close()
        if spark is not None:
            _stop_jvm(spark)
        sampler.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"done at {time.perf_counter() - T0:.1f}s")
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
