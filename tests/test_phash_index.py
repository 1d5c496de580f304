"""Persisted perceptual-hash index (operators/phash_index.py): build /
absorb / replay / crash posture / forget / streaming gate — the
multimodal twin of the text dedup-index lifecycle."""

import os

import pytest
from pyspark.sql import functions as F

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.phash_index import (
    absorb_batch_into_phash_index,
    build_phash_index,
    forget_from_phash_index,
    maintain_phash_stream,
)

#: distant base hashes (pairwise hamming >> 3) + near variants
H_A = 0x0123456789ABCDE
H_A1 = H_A ^ 0b101               # hamming 2 from H_A
H_B = 0x7EDCBA98765432A
H_C = 0x5555555555555A0


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, hash long")


def _ids(spark, path):
    return sorted(
        r["id"] for r in spark.read.parquet(f"{path}/ids").select("id").collect()
    )


def test_build_then_absorb_gates_near_dups(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_phash_index(_df(spark, [(1, H_A), (2, H_B)]), path, n_bucket_dirs=8)

    st = absorb_batch_into_phash_index(
        spark, path,
        _df(spark, [(10, H_A1), (11, H_C), (12, None)]),
    )
    # 10 is near stored 1 → rejected; 11 novel → accepted; 12 NULL hash
    assert st == {
        "n_batch": 3, "n_accepted": 1, "n_rejected_near": 1,
        "n_rejected_batch": 0, "n_replayed": 0, "n_null_hash": 1,
    }
    assert _ids(spark, path) == [1, 2, 11]

    # within-batch domination: lowest id of a near-group wins
    st = absorb_batch_into_phash_index(
        spark, path, _df(spark, [(21, 0x400000000000000), (22, 0x400000000000001)])
    )
    assert st["n_accepted"] == 1 and st["n_rejected_batch"] == 1
    assert 21 in _ids(spark, path) and 22 not in _ids(spark, path)


def test_absorb_replay_converges(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_phash_index(_df(spark, [(1, H_A)]), path, n_bucket_dirs=8)
    batch = _df(spark, [(5, H_B), (6, H_C)])
    s1 = absorb_batch_into_phash_index(spark, path, batch)
    assert s1["n_accepted"] == 2
    before = _ids(spark, path)
    s2 = absorb_batch_into_phash_index(spark, path, batch)
    assert s2 == {
        "n_batch": 2, "n_accepted": 0, "n_rejected_near": 0,
        "n_rejected_batch": 0, "n_replayed": 2, "n_null_hash": 0,
    }
    assert _ids(spark, path) == before


def test_crash_between_appends_converges(spark, tmp_path):
    """bands appended, crash before the ids commit marker: the retry
    re-absorbs (id unregistered), duplicated bands rows are deduped on
    read, and the final state still gates correctly."""
    path = str(tmp_path / "idx")
    build_phash_index(_df(spark, [(1, H_A)]), path, n_bucket_dirs=8)
    # simulate the torn append: bands rows for doc 5 WITHOUT its ids row
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.phash_index import (
        _banded,
    )

    _banded(
        _df(spark, [(5, H_B)]).select(
            F.col("doc_id").alias("id"), F.col("hash")
        ),
        "id", "hash", 8,
    ).write.partitionBy("band", "bdir").mode("append").parquet(f"{path}/bands")
    assert _ids(spark, path) == [1]  # not committed

    st = absorb_batch_into_phash_index(spark, path, _df(spark, [(5, H_B)]))
    assert st["n_accepted"] == 1  # retry completes the absorb
    assert _ids(spark, path) == [1, 5]
    # duplicated bands rows do not double-reject or corrupt the verify
    st = absorb_batch_into_phash_index(spark, path, _df(spark, [(9, H_B ^ 1)]))
    assert st["n_rejected_near"] == 1


def test_forget_then_reaccept(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_phash_index(
        _df(spark, [(1, H_A), (2, H_B), (3, H_C)]), path, n_bucket_dirs=8
    )
    st = forget_from_phash_index(spark, path, _df(spark, [(2, 0)]))
    assert st["n_forgotten"] == 1
    assert _ids(spark, path) == [1, 3]
    # the freed hash region admits a new near-variant again
    st = absorb_batch_into_phash_index(spark, path, _df(spark, [(20, H_B ^ 2)]))
    assert st["n_accepted"] == 1
    # retry convergence
    st = forget_from_phash_index(spark, path, _df(spark, [(2, 0)]))
    assert st["n_forgotten"] == 0


def test_streaming_gate(spark, tmp_path):
    path = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    build_phash_index(_df(spark, [(1, H_A)]), path, n_bucket_dirs=8)
    _df(spark, [(10, H_A1), (11, H_B)]).write.parquet(src)
    stats = []
    q = maintain_phash_stream(
        spark.readStream.schema("doc_id long, hash long").parquet(src),
        path, str(tmp_path / "ckpt"), trigger="1 seconds",
        on_batch=stats.append,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(s["n_accepted"] for s in stats) == 1
    assert _ids(spark, path) == [1, 11]


def test_absorb_equals_build_over_union(spark, tmp_path):
    """Gate-grown state answers future batches exactly like an index
    built over the accepted union (the dedup-index equivalence
    discipline)."""
    grown, fresh = str(tmp_path / "grown"), str(tmp_path / "fresh")
    build_phash_index(_df(spark, [(1, H_A)]), grown, n_bucket_dirs=8)
    absorb_batch_into_phash_index(spark, grown, _df(spark, [(5, H_B)]))
    absorb_batch_into_phash_index(spark, grown, _df(spark, [(7, H_C)]))
    build_phash_index(
        _df(spark, [(1, H_A), (5, H_B), (7, H_C)]), fresh, n_bucket_dirs=8
    )
    probe = _df(spark, [(30, H_A ^ 3), (31, H_B ^ 1), (32, 0x321)])
    sg = absorb_batch_into_phash_index(spark, grown, probe)
    sf = absorb_batch_into_phash_index(spark, fresh, probe)
    assert sg == sf
    assert _ids(spark, grown)[-1] == _ids(spark, fresh)[-1] == 32


def test_phash_gate_cli(spark, tmp_path):
    """Subprocess drive of the phash CLI mode (drain twin)."""
    import json
    import subprocess
    import sys

    path = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    build_phash_index(_df(spark, [(1, H_A)]), path, n_bucket_dirs=8)
    _df(spark, [(10, H_A1), (11, H_B)]).write.parquet(src)
    out = subprocess.run(
        [sys.executable, os.path.join(JOBS_DIR, "ingest_gate.py"), "phash",
         "--source", src, "--index", path,
         "--checkpoint", str(tmp_path / "ckpt"),
         "--trigger", "1 seconds", "--drain"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert sum(s["n_accepted"] for s in stats) == 1
    assert _ids(spark, path) == [1, 11]


def test_gate_composes_with_video_hashes(spark, tmp_path):
    """End-to-end multimodal gate: AVI payloads → per-video gate hash →
    persisted-index absorb rejects a noisy copy, admits a new video."""
    from tests.test_videohash import _avi_bytes, _frame_px
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.functions.videohash import (
        video_gate_hash,
    )

    stored = spark.createDataFrame(
        [(1, bytearray(_avi_bytes([_frame_px(s) for s in range(4)])))],
        "doc_id long, payload binary",
    )
    path = str(tmp_path / "idx")
    build_phash_index(video_gate_hash(stored), path, n_bucket_dirs=8)

    batch = spark.createDataFrame(
        [
            # noisy copy of the stored video (same frames, pixel noise)
            (10, bytearray(_avi_bytes([_frame_px(s, noise=2) for s in range(4)]))),
            # unrelated video (disjoint mod-7 seed classes)
            (11, bytearray(_avi_bytes([_frame_px(s) for s in (4, 5, 6, 4)]))),
        ],
        "doc_id long, payload binary",
    )
    st = absorb_batch_into_phash_index(spark, path, video_gate_hash(batch))
    assert st["n_rejected_near"] == 1 and st["n_accepted"] == 1
    assert _ids(spark, path) == [1, 11]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ref_gate(stored, batch, max_h=3):
    """Independent Python reference of the two gate rules."""
    def near(a, b):
        return bin(a ^ b).count("1") <= max_h

    clean = [
        (i, h) for i, h in batch
        if h is not None and not any(near(h, sh) for _, sh in stored)
    ]
    return sorted(
        i for i, h in clean
        if not any(j < i and near(h, g) for j, g in clean)
    )


@SLOW
@given(
    st.lists(st.integers(0, (1 << 63) - 1), max_size=6, unique=True),
    st.lists(st.integers(0, (1 << 63) - 1), min_size=1, max_size=6, unique=True),
)
def test_phash_gate_matches_reference(spark, stored_hashes, batch_hashes):
    stored = [(i, h) for i, h in enumerate(stored_hashes)]
    batch = [(100 + i, h) for i, h in enumerate(batch_hashes)]
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.operators.phash_index import (
        phash_gate,
    )

    got = sorted(
        r["doc_id"]
        for r in phash_gate(_df(spark, stored), _df(spark, batch)).collect()
    )
    assert got == _ref_gate(stored, batch)
