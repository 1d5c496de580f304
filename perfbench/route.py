"""``route`` workload: the paper's validate-and-route stream.

Seeded 13-entity envelope files land one per micro-batch in a file source;
``validate_all_entities`` demuxes, validates and dedups them and
``start_validated_rejected_sinks`` writes the validated and rejected legs
to memory sinks. One operation is one landed file: its latency runs from
the file's rename into the source directory until both queries'
``processAllAvailable()`` return.
"""

from __future__ import annotations

import json
import os
import time

from .gen import expected_routes, route_batches

TRIGGER = "100 milliseconds"
#: state partitions per dedup operator: the reference job's setting. On 4
#: cores one 2000-message micro-batch costs ~31 s warm and ~78 s cold at
#: the engine default of 32 and ~7.5-14 s warm, ~22 s cold at 4; a run at
#: 32 does not fit the benchmark's time budget
SHUFFLE_PARTITIONS = 4
PER_BATCH = 2000


def batches_for(seconds: int) -> int:
    """Timed micro-batches per pass (~10 s each on 4 cores): 2 at 10 s."""
    return max(2, round(seconds / 5))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


class Route:
    shuffle_partitions = SHUFFLE_PARTITIONS

    def __init__(self, spark, tmp: str, seed: int, seconds: int, passes: int,
                 tracer_box: list, per_batch: int = PER_BATCH):
        self.spark, self.tmp = spark, tmp
        self.tracer_box = tracer_box  # [Tracer]; swapped between passes
        self.per_batch = per_batch
        # a traced run's three passes share the batches of one untraced
        # pass (at least one each), so it stays within a run's time limit
        self.n_timed = max(1, batches_for(seconds) // passes)
        # batch 0 warms the cold plan; the timed passes follow
        self.batches = route_batches(seed, 1 + passes * self.n_timed, per_batch)
        self.landed = 0
        self.queries: list = []
        self.prefix = ""

    # -- set-up -------------------------------------------------------------
    def setup(self, k: int) -> None:
        from pyspark.sql import types as T

        from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.validate import (
            start_validated_rejected_sinks,
            validate_all_entities,
        )

        root = os.path.join(self.tmp, f"route{k}")
        self.src, self.stage = os.path.join(root, "src"), os.path.join(root, "stage")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        envelope = T.StructType([
            T.StructField("topic", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("timestamp", T.TimestampType()),
        ])
        stream = (
            self.spark.readStream.schema(envelope)
            .option("maxFilesPerTrigger", 1)
            .json(self.src)
        )
        self.prefix = f"route{k}"
        self.queries = start_validated_rejected_sinks(
            validate_all_entities(stream),
            os.path.join(root, "chk"),
            memory_prefix=self.prefix,
            trigger=TRIGGER,
        )

    def reset(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []

    # -- operations ---------------------------------------------------------
    def _land_and_wait(self) -> float:
        i = self.landed
        staged = os.path.join(self.stage, f"b{i:04d}.json")
        with open(staged, "w") as f:
            f.write("\n".join(self.batches[i]) + "\n")
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.src, f"b{i:04d}.json"))
        for q in self.queries:
            q.processAllAvailable()
        self.landed += 1
        return time.perf_counter() - t0

    def warm(self) -> None:
        self._land_and_wait()

    def timed_pass(self) -> dict:
        tracer = self.tracer_box[0]
        last = [max((p["batchId"] for p in _progress(q)), default=-1) for q in self.queries]
        lat, failed = [], 0
        t0 = time.perf_counter()
        for _ in range(self.n_timed):
            with tracer.span("route.batch", rid=f"b{self.landed}"):
                try:
                    lat.append(self._land_and_wait())
                except Exception:  # noqa: BLE001 - counted, the gate fails the run
                    failed += 1
                    self.landed += 1
        wall = time.perf_counter() - t0
        prog = [[p for p in _progress(q) if p["batchId"] > b] for q, b in zip(self.queries, last)]
        return {"latencies": lat, "ops": self.n_timed, "failed": failed,
                "wall": wall, "units": self.n_timed * self.per_batch, "progress": prog}

    # -- correctness --------------------------------------------------------
    def check(self) -> tuple[bool, str]:
        want = expected_routes(self.batches[: self.landed])
        got: dict[str, int] = {}
        for leg in ("validated", "rejected"):
            for r in self.spark.sql(
                f"SELECT topic, COUNT(*) AS n FROM {self.prefix}_{leg} GROUP BY topic"
            ).collect():
                got[r["topic"]] = r["n"]
        if got != want:
            diff = {t: (got.get(t), want.get(t)) for t in set(got) | set(want)
                    if got.get(t) != want.get(t)}
            return False, f"routed counts differ (got, want): {diff}"
        return True, ""

    # -- per-layer ----------------------------------------------------------
    @staticmethod
    def layer(_tracer, res: dict) -> dict[str, float]:
        """Per routed batch, summed over the two queries, from each
        query's StreamingQueryProgress."""
        n_data = len(res["latencies"]) or 1
        sums = dict.fromkeys(("trigger", "add", "plan", "wal", "state_commit"), 0.0)
        rows_in = nodata = 0
        state_rows = state_mem = state_parts = 0
        for prog in res["progress"]:
            executed = [p for p in prog if "addBatch" in p.get("durationMs", {})]
            last_state = []
            for p in executed:
                d = p["durationMs"]
                if p["numInputRows"] == 0:
                    nodata += 1
                    continue
                rows_in += p["numInputRows"]
                sums["trigger"] += d.get("triggerExecution", 0)
                sums["add"] += d.get("addBatch", 0)
                sums["plan"] += d.get("queryPlanning", 0)
                sums["wal"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                sums["state_commit"] += sum(s.get("commitTimeMs", 0) for s in p["stateOperators"])
                last_state = p["stateOperators"]
            state_rows += sum(s.get("numRowsTotal", 0) for s in last_state)
            state_mem += sum(s.get("memoryUsedBytes", 0) for s in last_state)
            state_parts += sum(s.get("numShufflePartitions", 0) for s in last_state)
        n_q = len(res["progress"]) or 1
        return {
            "validate.trigger_ms": sums["trigger"] / n_data,
            "validate.add_batch_ms": sums["add"] / n_data,
            "validate.planning_ms": sums["plan"] / n_data,
            "validate.wal_commit_ms": sums["wal"] / n_data,
            "validate.state_commit_ms": sums["state_commit"] / n_data,
            "validate.state_rows": state_rows,
            "validate.state_mem_mb": state_mem / 2**20,
            "validate.state_partitions": state_parts / n_q,
            "validate.nodata_batches_per_batch": nodata / n_q / n_data,
            "validate.source_rows_per_message": rows_in / n_q / (n_data * res["units"] / res["ops"]),
        }

    close = reset
