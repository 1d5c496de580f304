#!/usr/bin/env python
"""Streaming parts-table soak with kill-injection at fixture scale
(r10 verdict #7).

The parts streaming sinks (streaming/parts_stream.py) are crash-drilled
at unit scale in tests/; this tool replays a full events fixture through
two of them as file-source micro-batch streams (maxFilesPerTrigger=1 —
one batch per fixture file) while a parent process SIGKILLs the worker
JVM mid-stream and restarts it from the same checkpoints, repeatedly:

- the append leg: ``parts_sink`` of the row-level bronze→silver
  enrichment into an ``append`` parts table partitioned by ``day``;
- the aggregating leg: ``aggregating_parts_sink`` into an
  ``aggregating`` parts table.

That is the real crash: no finally blocks, no graceful stop — torn part
directories, part-write/checkpoint windows, version-file commits all
land wherever the kill caught them.

Final-state equality is the oracle: after the worker finally reports a
clean drain, the parent recomputes both sinks' expected state through
the SAME transforms in one batch pass and compares row counts plus an
order-insensitive xxhash64 XOR over every output column.

    python tools/stream_soak.py --sf-dir .benchdata/sf1 --tag r11_sf1 \
        --kills 15,35

The soak's tables, checkpoints and logs live in its own ``soak_<tag>``
subdirectory of ``--work-dir`` (default ``.benchdata/``), which it
creates and removes; nothing else there is touched. The result
stream_soak_<tag>.json is written beside that subdirectory, into
``--work-dir`` when one is given, else into sweeps/:
    {"input_rows": N, "batches_committed": B, "kills": K, "restarts": K+1,
     "append_equal": true, "parts_equal": true, ...}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SILVER_COLS = ("event_id", "user_id", "event_type", "value", "day")
AGG_KEY = ("user_id",)
AGG_SPEC = {"n": "sum", "total": "sum"}


def _session(app: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .appName(app)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _events_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")


def _silver_transform(df):
    """Row-level bronze→silver enrichment (batch-composable by
    construction, like the reference's per-insert-block MVs)."""
    from pyspark.sql import functions as F

    return df.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
    )


def _agg_shape(df):
    from pyspark.sql import functions as F

    # decimal, not double: the streaming path sums per-batch partials and
    # merges states at read while the oracle sums once — only an EXACT
    # (associative) type makes the two orders bitwise-comparable
    return df.select(
        "user_id",
        F.lit(1).alias("n"),
        F.col("value").cast("decimal(24,6)").alias("total"),
    )


def worker(args) -> int:
    """One worker life: resume both streams from their checkpoints, drain
    the file source, stop cleanly. The parent may SIGKILL us at any
    point — that is the test."""
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.parts_stream import (
        aggregating_parts_sink,
        parts_sink,
    )

    spark = _session("kickhouse-soak-worker")
    src = args.events_dir or _events_path(args.sf_dir)
    schema = spark.read.parquet(src).schema
    root = args.soak_dir

    stream1 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q1 = parts_sink(
        _silver_transform(stream1),
        f"{root}/append",
        f"{root}/ckpt_append",
        trigger="0 seconds",
    )
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = aggregating_parts_sink(
        _agg_shape(stream2),
        f"{root}/parts",
        f"{root}/ckpt_parts",
        key_cols=AGG_KEY,
        agg_spec=AGG_SPEC,
        trigger="0 seconds",
    )

    # drain detection: a stream is done when it reports no available input
    # in consecutive idle progress events
    idle: dict[str, int] = {"q1": 0, "q2": 0}
    while True:
        time.sleep(2)
        for tag, q in (("q1", q1), ("q2", q2)):
            p = q.lastProgress
            if q.exception() is not None:
                raise RuntimeError(f"{tag}: {q.exception()}")
            if p is not None and p["numInputRows"] == 0:
                idle[tag] += 1
            elif p is not None:
                idle[tag] = 0
        if idle["q1"] >= 3 and idle["q2"] >= 3:
            break
    q1.stop()
    q2.stop()
    print("WORKER_DRAINED", flush=True)
    return 0


def _xor_hash(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def prepare_soak_dir(work_dir: str, tag: str) -> tuple[str, str]:
    """Create the soak's own ``soak_<tag>`` scratch directory, empty, and
    return it with the result JSON path beside it. Only that subdirectory
    is emptied (and removed at the end), so any ``--work-dir``, even
    ``.``, keeps what it already holds."""
    parent = work_dir or os.path.join(REPO, ".benchdata")
    out_dir = work_dir or os.path.join(REPO, "sweeps")
    work = os.path.join(parent, f"soak_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work, os.path.join(out_dir, f"stream_soak_{tag}.json")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".benchdata", "sf1"))
    ap.add_argument("--tag", default="soak")
    ap.add_argument(
        "--kills",
        default="15,35",
        help="seconds into each worker life at which to SIGKILL it; after "
        "the list is exhausted the worker runs to completion",
    )
    ap.add_argument(
        "--work-dir",
        default="",
        help="directory for the soak's soak_<tag> subdirectory and its "
        "result JSON (default: .benchdata/soak_<tag>, result into sweeps/)",
    )
    ap.add_argument("--events-dir", default="", help=argparse.SUPPRESS)
    ap.add_argument("--soak-dir", default="", help=argparse.SUPPRESS)
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.worker:
        return worker(args)

    src = _events_path(args.sf_dir)

    work, result_path = prepare_soak_dir(args.work_dir, args.tag)

    # the parts tables must exist before the first insert
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.parts import (
        create_parts_table,
    )

    create_parts_table(f"{work}/append", engine="append", partition_col="day")
    create_parts_table(
        f"{work}/parts", engine="aggregating", key_cols=AGG_KEY, agg_spec=AGG_SPEC
    )

    # the file stream source needs a DIRECTORY of files (one file = one
    # micro-batch); driver fixtures below sf0.1 ship single-file tables,
    # so stage those into a multi-file bronze dir first
    if os.path.isfile(src):
        spark0 = _session("kickhouse-soak-stage")
        spark0.read.parquet(src).repartition(8).write.parquet(f"{work}/bronze")
        src = f"{work}/bronze"

    kills = [float(s) for s in args.kills.split(",") if s]
    t_suite = time.perf_counter()
    restarts = 0
    killed = 0
    while True:
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--worker", "--sf-dir", args.sf_dir, "--soak-dir", work,
            "--events-dir", src,
        ]
        log = open(os.path.join(work, f"worker_{restarts}.log"), "w")
        # own session so SIGKILL reaches the worker's JVM child too — an
        # orphaned gateway JVM still holding the stream would keep writing
        # behind the "restarted" worker and falsify the drill
        proc = subprocess.Popen(
            cmd, stdout=log, stderr=log, cwd=REPO, start_new_session=True
        )
        restarts += 1
        kill_after = kills[killed] if killed < len(kills) else None
        if kill_after is not None:
            time.sleep(kill_after)
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                killed += 1
                print(f"killed worker {restarts} after {kill_after}s", flush=True)
                log.close()
                continue
            # worker finished before its scheduled kill — fall through
        rc = proc.wait()
        log.close()
        if rc == 0:
            break
        print(f"worker {restarts} exited rc={rc}; restarting", flush=True)
        if restarts > len(kills) + 5:
            raise RuntimeError("soak cannot drain: too many restarts")

    # equality oracle: one batch pass through the SAME transforms
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.parts import (
        aggregate_states,
        read_parts,
        table_history,
    )

    spark = _session("kickhouse-soak-check")
    bronze = spark.read.parquet(src)
    input_rows = bronze.count()

    got_append = read_parts(spark, f"{work}/append").select(*SILVER_COLS)
    want_append = _silver_transform(bronze).select(*SILVER_COLS)
    n_got_a, h_got_a = _xor_hash(got_append)
    n_want_a, h_want_a = _xor_hash(want_append)
    hist = table_history(f"{work}/append")

    got_parts = read_parts(spark, f"{work}/parts", final=True).select(
        "user_id", "n", "total"
    )
    want_parts = aggregate_states(
        _agg_shape(bronze), AGG_KEY, AGG_SPEC
    ).select("user_id", "n", "total")
    n_got_p, h_got_p = _xor_hash(got_parts)
    n_want_p, h_want_p = _xor_hash(want_parts)

    out = {
        "sf_dir": args.sf_dir,
        "input_rows": input_rows,
        "batches_committed": len(hist[-1]["batch_ids"]) if hist else 0,
        "kills": killed,
        "restarts": restarts,
        "append_rows": [n_got_a, n_want_a],
        "append_equal": (n_got_a, h_got_a) == (n_want_a, h_want_a),
        "parts_rows": [n_got_p, n_want_p],
        "parts_equal": (n_got_p, h_got_p) == (n_want_p, h_want_p),
        "suite_secs": round(time.perf_counter() - t_suite, 1),
    }
    # drop the soak's tables, checkpoints and logs, then write the result
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(result_path), exist_ok=True)
    with open(result_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    return 0 if out["append_equal"] and out["parts_equal"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
