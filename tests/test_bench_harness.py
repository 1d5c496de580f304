"""bench.py harness contracts that need no SparkSession: recovering the
previous round's per-query timings from the driver's BENCH_r*.json
records, including the parsed=null tail-truncated form (r8 shipped one —
its truncation started mid-line and silently ate the deltas report)."""

import json

import bench


def _with_repo(monkeypatch, tmp_path, files):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    for name, doc in files.items():
        (tmp_path / name).write_text(json.dumps(doc))


def test_previous_bench_parsed_record(monkeypatch, tmp_path):
    _with_repo(
        monkeypatch, tmp_path,
        {"BENCH_r03.json": {"parsed": {"queries": {"q1": 1.5, "q2": 0.25}}}},
    )
    name, prev = bench.previous_bench()
    assert name == "BENCH_r03.json" and prev == {"q1": 1.5, "q2": 0.25}


def test_previous_bench_recovers_from_truncated_tail(monkeypatch, tmp_path):
    # the driver kept only the END of our JSON line; "queries" is emitted
    # last precisely so it survives this capture
    tail = (
        '0.9}, "index_secs": {"build": 3.2}, "sf": "/x", '
        '"queries": {"q1": 1.5, "q2": 0.25}}'
    )
    _with_repo(
        monkeypatch, tmp_path,
        {"BENCH_r07.json": {"parsed": None, "tail": tail}},
    )
    name, prev = bench.previous_bench()
    assert name == "BENCH_r07.json" and prev == {"q1": 1.5, "q2": 0.25}


def test_previous_bench_gives_up_cleanly_when_unrecoverable(monkeypatch, tmp_path):
    # truncation began inside some other dict and "queries" never appears
    _with_repo(
        monkeypatch, tmp_path,
        {"BENCH_r08.json": {"parsed": None, "tail": '0.2, "a": 1}, "collect_secs": {}}'}},
    )
    name, prev = bench.previous_bench()
    assert name == "BENCH_r08.json" and prev == {}


def test_previous_bench_picks_latest_round(monkeypatch, tmp_path):
    _with_repo(
        monkeypatch, tmp_path,
        {
            "BENCH_r02.json": {"parsed": {"queries": {"old": 9.0}}},
            "BENCH_r10.json": {"parsed": {"queries": {"new": 1.0}}},
        },
    )
    name, prev = bench.previous_bench()
    assert name == "BENCH_r10.json" and prev == {"new": 1.0}
