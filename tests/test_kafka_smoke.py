"""Broker-optional Kafka smoke (round-2 verdict #8): the --smoke mode of
jobs/validate_stream.py self-tests S1-S3/S5/S8/S9 against a real broker and
skips cleanly — BEFORE SparkSession startup — when none exists."""

import json
import os
import subprocess
import sys

import pytest

from conftest import JOBS_DIR

sys.path.insert(0, JOBS_DIR)

from validate_stream import broker_reachable  # noqa: E402

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092")
JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "jobs", "validate_stream.py")


def test_probe_false_on_closed_port():
    assert broker_reachable("localhost:19092", timeout=0.5) is False
    assert broker_reachable("definitely-not-a-host.invalid:9092", timeout=0.5) is False


def test_smoke_skips_cleanly_without_broker(tmp_path):
    """Exit 3 + a machine-readable skip line, in seconds (no JVM spin-up)."""
    out = subprocess.run(
        [sys.executable, JOB, "--kafka", "localhost:19092", "--smoke",
         "--checkpoint", str(tmp_path / "chk")],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 3, out.stderr[-500:]
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["smoke"] == "skip" and "no broker" in doc["reason"]


@pytest.mark.skipif(
    not broker_reachable(BOOTSTRAP, timeout=1.0),
    reason=f"no Kafka broker at {BOOTSTRAP} in this environment",
)
def test_smoke_roundtrip_against_real_broker(tmp_path):
    """Runs only where a broker exists: produce 13-entity fixtures, stream
    validate/route for one drain, assert counts. Exit 4 (connector missing)
    also counts as an environment skip, not a failure."""
    out = subprocess.run(
        [sys.executable, JOB, "--kafka", BOOTSTRAP, "--smoke",
         "--checkpoint", str(tmp_path / "chk")],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode == 4:
        pytest.skip("Spark Kafka connector not on the classpath")
    assert out.returncode == 0, out.stdout + out.stderr[-1000:]
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["smoke"] == "ok"
