"""Parts-table lifecycle (sources/parts.py) — the MergeTree analogue:
insert/commit atomicity, replay-safe batches, replacing/summing FINAL,
time travel, OPTIMIZE prefix-merge correctness, vacuum with orphan TTL,
optimistic-concurrency races, crash injection, and the real Hadoop
backend over a viewfs:// mount."""

import json
import os
import uuid

import pytest

from conftest import JOBS_DIR
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources import (
    parts as P,
)


def _orders(spark, rows):
    return spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_status string, o_total double"
    )


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def test_create_is_idempotent_and_rejects_mismatch(tbl):
    meta = P.create_parts_table(tbl, engine="append", order_by=("o_orderkey",))
    assert P.create_parts_table(tbl, engine="append", order_by=("o_orderkey",)) == meta
    with pytest.raises(ValueError, match="different metadata"):
        P.create_parts_table(tbl, engine="append", order_by=("o_custkey",))


def test_engine_metadata_validation(tbl):
    with pytest.raises(ValueError, match="version_col"):
        P.create_parts_table(tbl, engine="replacing", key_cols=("k",))
    with pytest.raises(ValueError, match="sum_cols"):
        P.create_parts_table(tbl, engine="summing", key_cols=("k",))
    with pytest.raises(ValueError, match="sign_col"):
        P.create_parts_table(tbl, engine="collapsing", key_cols=("k",))
    with pytest.raises(ValueError, match="agg_spec"):
        P.create_parts_table(tbl, engine="aggregating", key_cols=("k",))
    with pytest.raises(ValueError, match="sum"):
        P.create_parts_table(
            tbl, engine="aggregating", key_cols=("k",), agg_spec={"v": "avg"}
        )
    with pytest.raises(ValueError, match="engine"):
        P.create_parts_table(tbl, engine="exotic")
    with pytest.raises(ValueError, match="ttl"):
        P.create_parts_table(tbl, engine="append", ttl_col="ts")
    with pytest.raises(ValueError, match="positive"):
        P.create_parts_table(tbl, engine="append", ttl_col="ts", ttl_seconds=0)


def test_append_insert_read_and_history(spark, tbl):
    P.create_parts_table(tbl, engine="append")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 5.0)]), tbl, batch_id=0)
    P.insert_into_parts(_orders(spark, [(2, 11, "F", 7.0)]), tbl, batch_id=1)
    got = {r.o_orderkey for r in P.read_parts(spark, tbl).collect()}
    assert got == {1, 2}
    hist = P.table_history(tbl)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[-1]["batch_ids"] == [0, 1]
    assert hist[-1]["n_parts"] == 2


def test_insert_replay_is_noop(spark, tbl):
    P.create_parts_table(tbl, engine="append")
    r1 = P.insert_into_parts(_orders(spark, [(1, 10, "O", 5.0)]), tbl, batch_id=7)
    r2 = P.insert_into_parts(_orders(spark, [(9, 99, "X", 0.0)]), tbl, batch_id=7)
    assert not r1["replayed"] and r2["replayed"]
    assert P.current_version(tbl) == 1
    assert P.read_parts(spark, tbl).count() == 1


def test_replacing_final_max_version_wins_then_part_seq(spark, tbl):
    """ClickHouse ReplacingMergeTree(ver): the MAX version wins regardless
    of insert/part order — a late-arriving part carrying an OLDER version
    (out-of-order CDC) must NOT overwrite newer state. Part sequence only
    breaks exact version ties (last insert wins)."""
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    # part 1: two rows for custkey 10 (versions 1, 3) -> 3 wins inside part
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0), (3, 10, "O", 3.0)]), tbl)
    # part 2: LOWER version for custkey 10 arrives late -> must lose
    P.insert_into_parts(_orders(spark, [(2, 10, "F", 2.0), (5, 11, "O", 5.0)]), tbl)
    fin = {
        (r.o_custkey, r.o_orderkey, r.o_status)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert fin == {(10, 3, "O"), (11, 5, "O")}
    # non-final read returns all physical rows
    assert P.read_parts(spark, tbl).count() == 4


def test_replacing_final_version_tie_breaks_by_part_seq(spark, tbl):
    """An exact version tie resolves to the newest part — the
    deterministic stand-in for ClickHouse's last-in-selection rule —
    and the answer survives an OPTIMIZE (merge-time = read-time)."""
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    P.insert_into_parts(_orders(spark, [(7, 10, "old", 1.0)]), tbl)
    P.insert_into_parts(_orders(spark, [(7, 10, "new", 2.0)]), tbl)  # same ver 7
    fin = {
        (r.o_custkey, r.o_orderkey, r.o_status)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert fin == {(10, 7, "new")}
    P.optimize_parts(spark, tbl)
    got = {
        (r.o_custkey, r.o_orderkey, r.o_status)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert got == fin


def test_summing_final(spark, tbl):
    P.create_parts_table(tbl, engine="summing", key_cols=("o_custkey",), sum_cols=("o_total",))
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.5), (2, 11, "O", 2.0)]), tbl)
    P.insert_into_parts(_orders(spark, [(3, 10, "F", 4.0)]), tbl)
    fin = {(r.o_custkey, r.o_total) for r in P.read_parts(spark, tbl, final=True).collect()}
    assert fin == {(10, 5.5), (11, 2.0)}


def _cstate(spark, rows):
    return spark.createDataFrame(
        rows, "uid long, ver long, sign int, status string"
    )


def test_collapsing_final_cancels_pairs_keeps_unmatched(spark, tbl):
    P.create_parts_table(
        tbl, engine="collapsing", key_cols=("uid",), sign_col="sign", version_col="ver"
    )
    # part 1: states for uid 1 (v1) and uid 2 (v1)
    P.insert_into_parts(_cstate(spark, [(1, 1, 1, "A"), (2, 1, 1, "A")]), tbl)
    # part 2: cancel uid1 v1, restate uid1 v2; cancel uid2 v1 (no restate)
    P.insert_into_parts(
        _cstate(spark, [(1, 1, -1, "A"), (1, 2, 1, "B"), (2, 1, -1, "A")]), tbl
    )
    fin = {
        (r.uid, r.ver, r.sign, r.status)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert fin == {(1, 2, 1, "B")}  # uid2 fully cancelled, uid1 at v2
    assert P.read_parts(spark, tbl).count() == 5  # non-final sees all rows


def test_collapsing_prefix_merge_then_late_cancel(spark, tbl):
    """A cancel arriving AFTER its state was merged away must still land:
    the merged survivor keeps its (key, version) identity so the later
    part's -1 pairs with it at the next FINAL/merge."""
    P.create_parts_table(
        tbl, engine="collapsing", key_cols=("uid",), sign_col="sign", version_col="ver"
    )
    P.insert_into_parts(_cstate(spark, [(1, 1, 1, "A")]), tbl)  # seq 1
    P.insert_into_parts(_cstate(spark, [(2, 1, 1, "A")]), tbl)  # seq 2
    res = P.optimize_parts(spark, tbl, max_seq=2)
    assert res["merged"] == 2
    P.insert_into_parts(_cstate(spark, [(1, 1, -1, "A")]), tbl)  # late cancel
    fin = {(r.uid, r.ver) for r in P.read_parts(spark, tbl, final=True).collect()}
    assert fin == {(2, 1)}
    # a full optimize physically removes the cancelled pair
    P.optimize_parts(spark, tbl)
    assert P.read_parts(spark, tbl).count() == 1


def test_collapsing_unmatched_cancel_survives_partial_merge(spark, tbl):
    """A -1 whose +1 lives in a LATER (unmerged) part must survive the
    prefix merge with its sign intact — dropping it would resurrect the
    state row at the next FINAL."""
    P.create_parts_table(
        tbl, engine="collapsing", key_cols=("uid",), sign_col="sign", version_col="ver"
    )
    P.insert_into_parts(_cstate(spark, [(7, 1, -1, "A")]), tbl)  # seq 1 (early cancel)
    P.insert_into_parts(_cstate(spark, [(8, 1, 1, "B")]), tbl)  # seq 2
    res = P.optimize_parts(spark, tbl, max_seq=1)  # merges only the -1 part
    assert res["merged"] == 0 or res["merged"] == 1  # single-part merge allowed
    P.insert_into_parts(_cstate(spark, [(7, 1, 1, "A")]), tbl)  # seq 3: the +1
    fin = {(r.uid, r.ver) for r in P.read_parts(spark, tbl, final=True).collect()}
    # ClickHouse's documented caveat: a cancel PRECEDING its state is
    # broken data — but our net-sign rule still cancels the pair here
    assert fin == {(8, 1)}


def test_aggregating_final_merges_states(spark, tbl):
    spec = {"n": "sum", "total": "sum", "lo": "min", "hi": "max"}
    P.create_parts_table(tbl, engine="aggregating", key_cols=("uid",), agg_spec=spec)
    raw1 = spark.createDataFrame(
        [(1, 10.0), (1, 4.0), (2, 7.0)], "uid long, v double"
    ).selectExpr("uid", "1 AS n", "v AS total", "v AS lo", "v AS hi")
    raw2 = spark.createDataFrame(
        [(1, 1.0), (2, 9.0)], "uid long, v double"
    ).selectExpr("uid", "1 AS n", "v AS total", "v AS lo", "v AS hi")
    P.insert_into_parts(P.aggregate_states(raw1, ("uid",), spec), tbl)
    P.insert_into_parts(P.aggregate_states(raw2, ("uid",), spec), tbl)
    # each part holds one PARTIAL state row per key it saw
    assert P.read_parts(spark, tbl).count() == 4
    fin = {
        (r.uid, r.n, r.total, r.lo, r.hi)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert fin == {(1, 3, 15.0, 1.0, 10.0), (2, 2, 16.0, 7.0, 9.0)}
    # full optimize: same answer through the collapsed fast path
    P.optimize_parts(spark, tbl)
    got = {
        (r.uid, r.n, r.total, r.lo, r.hi)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert got == fin
    assert P.read_parts(spark, tbl).count() == 2


def test_ttl_read_filter_and_optimize_drop(spark, tbl):
    P.create_parts_table(
        tbl,
        engine="append",
        ttl_col="born",
        ttl_seconds=100.0,
    )
    rows = spark.createDataFrame(
        [(1, 50), (2, 150), (3, 260)], "id long, born long"
    )
    P.insert_into_parts(rows, tbl)
    # no as_of: everything visible (deterministic default, no wall clock)
    assert P.read_parts(spark, tbl).count() == 3
    # as_of 200: row born at 50 expired (50+100 <= 200)
    assert {r.id for r in P.read_parts(spark, tbl, as_of=200).collect()} == {2, 3}
    # merge-time TTL application physically drops the expired row
    res = P.optimize_parts(spark, tbl, as_of=200)
    assert res["merged"] == 1
    assert {r.id for r in P.read_parts(spark, tbl).collect()} == {2, 3}
    # expiring EVERYTHING removes the part instead of writing an empty one;
    # the zero-part version stays READABLE as an empty frame with the
    # recorded schema (ClickHouse returns an empty result, not an error)
    res2 = P.optimize_parts(spark, tbl, as_of=10_000)
    assert res2["part"] is None
    empty = P.read_parts(spark, tbl)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "born"]
    # FINAL / TTL / maintain-then-read all keep working on the empty table
    assert P.read_parts(spark, tbl, final=True, as_of=10_000).count() == 0
    P.maintain_parts(spark, tbl, as_of=10_000)
    assert P.read_parts(spark, tbl).count() == 0
    # ... and the next insert revives it
    P.insert_into_parts(spark.createDataFrame([(9, 10_000)], "id long, born long"), tbl)
    assert {r.id for r in P.read_parts(spark, tbl).collect()} == {9}


def test_ttl_expired_version_cannot_win_replacing_window(spark, tbl):
    """TTL applies BEFORE the replacing collapse: when the newest version
    of a key is expired, the older un-expired version must win FINAL."""
    P.create_parts_table(
        tbl,
        engine="replacing",
        key_cols=("uid",),
        version_col="ver",
        ttl_col="born",
        ttl_seconds=100.0,
    )
    rows = spark.createDataFrame(
        [(1, 1, 500, "old"), (1, 2, 50, "new-but-expired")],
        "uid long, ver long, born long, tag string",
    )
    P.insert_into_parts(rows, tbl)
    fin = {(r.uid, r.tag) for r in P.read_parts(spark, tbl, final=True, as_of=200).collect()}
    assert fin == {(1, "old")}


def test_time_travel_and_vacuumed_version_fails_loudly(spark, tbl):
    P.create_parts_table(tbl, engine="append")
    for k in range(3):
        P.insert_into_parts(_orders(spark, [(k, k, "O", float(k))]), tbl)
    assert P.read_parts(spark, tbl, version=1).count() == 1
    assert P.read_parts(spark, tbl, version=2).count() == 2
    assert P.read_parts(spark, tbl).count() == 3
    P.vacuum_parts(tbl, keep_versions=1, orphan_ttl_secs=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        P.read_parts(spark, tbl, version=1)
    assert P.read_parts(spark, tbl).count() == 3


def test_optimize_full_merge_collapses_and_time_travel_survives(spark, tbl):
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0)]), tbl)
    P.insert_into_parts(_orders(spark, [(2, 10, "F", 2.0), (5, 11, "O", 5.0)]), tbl)
    want = {(r.o_custkey, r.o_orderkey) for r in P.read_parts(spark, tbl, final=True).collect()}
    res = P.optimize_parts(spark, tbl)
    assert res["merged"] == 2
    hist = {h["version"]: h for h in P.table_history(tbl)}
    assert hist[res["version"]]["collapsed"]
    # collapsed FINAL = straight scan, same answer
    got = {(r.o_custkey, r.o_orderkey) for r in P.read_parts(spark, tbl, final=True).collect()}
    assert got == want
    # physical row count shrank to the collapsed set
    assert P.read_parts(spark, tbl).count() == 2
    # pre-optimize version still time-travels (parts not vacuumed yet)
    assert P.read_parts(spark, tbl, version=2).count() == 3


def test_optimize_prefix_merge_keeps_replacing_dominance(spark, tbl):
    """Partial merges never change the FINAL answer. (a) Version
    dominance: merging parts {1,2} leaves the max-version survivor
    (ver 9), which still beats an unmerged later part's OLDER version.
    (b) Tie-break: the merged part inherits the max input seq (2), so on
    an exact version tie an unmerged seq-3 row still wins — the
    seq-contiguity rule that makes partial merges correct."""
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    P.insert_into_parts(_orders(spark, [(9, 10, "A", 1.0), (5, 11, "X", 1.0)]), tbl)  # seq 1
    P.insert_into_parts(_orders(spark, [(8, 10, "B", 2.0)]), tbl)  # seq 2
    # seq 3: older version for custkey 10; an exact version TIE for 11
    P.insert_into_parts(_orders(spark, [(1, 10, "C", 3.0), (5, 11, "Y", 2.0)]), tbl)
    res = P.optimize_parts(spark, tbl, max_seq=2)
    assert res["merged"] == 2
    fin = {(r.o_custkey, r.o_status) for r in P.read_parts(spark, tbl, final=True).collect()}
    # 10: merged survivor ver 9 beats unmerged ver 1; 11: tie on ver 5 ->
    # the unmerged seq-3 row outranks the merged seq-2 survivor
    assert fin == {(10, "A"), (11, "Y")}
    hist = {h["version"]: h for h in P.table_history(tbl)}
    assert not hist[res["version"]]["collapsed"]


def test_partitioned_parts_prune_on_read(spark, tbl):
    P.create_parts_table(tbl, engine="append", partition_col="o_status")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0), (2, 11, "F", 2.0)]), tbl)
    P.insert_into_parts(_orders(spark, [(3, 12, "O", 3.0)]), tbl)
    df = P.read_parts(spark, tbl).filter("o_status = 'O'")
    assert {r.o_orderkey for r in df.collect()} == {1, 3}
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filter, not a data filter: pruning reaches the part dirs
    assert "o_status" in plan


def test_string_partition_column_round_trips_with_recorded_type(spark, tbl):
    """A partition column reads back with the type recorded at first
    insert, not the one Spark would infer from the directory names: a
    string "202601" stays a string (and "007" keeps its zeros) through
    read_parts, a partial OPTIMIZE, partition OPTIMIZEs (whose merged-away
    partitions the old parts skip-list; merging "007" itself must write it
    back as "007", not as month=7) and a mutation."""
    P.create_parts_table(tbl, engine="append", partition_col="month")

    def rows(data):
        return spark.createDataFrame(data, "id string, month string, v int")

    P.insert_into_parts(rows([("a", "202601", 1), ("b", "007", 2)]), tbl)
    P.insert_into_parts(rows([("c", "202601", 3)]), tbl)
    P.insert_into_parts(rows([("d", "202602", 4)]), tbl)

    def read():
        df = P.read_parts(spark, tbl)
        assert dict(df.dtypes) == {"id": "string", "month": "string", "v": "int"}
        return sorted((r.id, r.month, r.v) for r in df.collect())

    want = [("a", "202601", 1), ("b", "007", 2), ("c", "202601", 3), ("d", "202602", 4)]
    assert read() == want
    P.optimize_parts(spark, tbl, max_seq=2)
    assert read() == want
    P.insert_into_parts(rows([("e", "202602", 5)]), tbl)
    P.optimize_partitions(spark, tbl, ["202602"])
    want.append(("e", "202602", 5))
    assert read() == want
    P.insert_into_parts(rows([("f", "007", 6)]), tbl)
    P.optimize_partitions(spark, tbl, ["007"])
    want.append(("f", "007", 6))
    assert read() == want
    P.mutate_parts(spark, tbl, set_exprs={"v": "v * 10"}, update_where="id = 'a'")
    P.mutate_parts(spark, tbl, delete_where="month = '007'")
    assert read() == [
        ("a", "202601", 10), ("c", "202601", 3), ("d", "202602", 4), ("e", "202602", 5),
    ]


def test_merges_that_widen_state_types_stay_readable(spark, tbl, tmp_path):
    """OPTIMIZE writes merged sums wider than the inserted parts: a
    decimal(p,s) state comes out decimal(p+10,s), an int sum bigint.
    Merged and fresh parts must keep reading and merging together."""
    spec = {"n": "sum", "total": "sum"}
    P.create_parts_table(tbl, engine="aggregating", key_cols=("uid",), agg_spec=spec)

    def states(rows):
        raw = spark.createDataFrame(rows, "uid long, v double")
        return P.aggregate_states(
            raw.selectExpr("uid", "1 AS n", "CAST(v AS decimal(12,2)) AS total"),
            ("uid",),
            spec,
        )

    P.insert_into_parts(states([(1, 1.25), (2, 2.5)]), tbl)
    P.insert_into_parts(states([(1, 0.75)]), tbl)
    P.optimize_parts(spark, tbl)
    P.insert_into_parts(states([(2, 1.0)]), tbl)

    def agg_final():
        return {(r.uid, r.n, float(r.total)) for r in P.read_parts(spark, tbl, final=True).collect()}

    assert agg_final() == {(1, 2, 2.0), (2, 2, 3.5)}
    P.optimize_parts(spark, tbl)
    assert agg_final() == {(1, 2, 2.0), (2, 2, 3.5)}

    stbl = str(tmp_path / "summing")
    P.create_parts_table(stbl, engine="summing", key_cols=("k",), sum_cols=("c",))

    def counts(rows):
        return spark.createDataFrame(rows, "k long, c int")

    P.insert_into_parts(counts([(1, 2), (2, 3)]), stbl)
    P.insert_into_parts(counts([(1, 4)]), stbl)
    P.optimize_parts(spark, stbl)
    P.insert_into_parts(counts([(2, 5)]), stbl)

    def sum_final():
        return {(r.k, r.c) for r in P.read_parts(spark, stbl, final=True).collect()}

    assert sum_final() == {(1, 6), (2, 8)}
    P.optimize_parts(spark, stbl)
    assert sum_final() == {(1, 6), (2, 8)}


def test_commit_race_retries_to_next_version(spark, tbl):
    """Simulate a concurrent committer by pre-creating the version file
    the insert will try first: the optimistic loop must land at the next
    number, preserving BOTH commits."""
    P.create_parts_table(tbl, engine="append")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0)]), tbl)
    # fabricate v2 as a competing committer would: same parts + one alien
    vdir = os.path.join(tbl, P.VERSIONS_DIR)
    v1 = json.load(open(os.path.join(vdir, "v1.json")))
    alien = f"p-{uuid.uuid4().hex}"
    os.makedirs(os.path.join(tbl, P.PARTS_DIR, alien))
    import shutil

    src = os.path.join(tbl, P.PARTS_DIR, v1["parts"][0]["name"])
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), os.path.join(tbl, P.PARTS_DIR, alien, f))
    v2 = {
        "op": "insert",
        "parts": v1["parts"] + [{"name": alien, "seq": 2}],
        "batch_ids": [],
        "collapsed": False,
    }
    with open(os.path.join(vdir, "v2.json"), "w") as f:
        json.dump(v2, f)
    res = P.insert_into_parts(_orders(spark, [(3, 12, "F", 3.0)]), tbl)
    assert res["version"] == 3
    doc = json.load(open(os.path.join(vdir, "v3.json")))
    assert len(doc["parts"]) == 3  # both the alien part and ours survived
    assert P.read_parts(spark, tbl).count() == 3


@pytest.fixture()
def scheme_tbl(scheme_root):
    root, local = scheme_root
    return f"{root}/t", os.path.join(local, "t")


def _crash_between_part_write_and_commit(spark, tbl, local, monkeypatch):
    P.create_parts_table(tbl, engine="append")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0)]), tbl, batch_id=0)

    real_io_for = P.io_for

    class _Boom:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            if name == "write_exclusive":
                raise RuntimeError("injected crash before version commit")
            return getattr(self._inner, name)

    def _patched(path):
        io, base = real_io_for(path)
        return _Boom(io), base

    monkeypatch.setattr(P, "io_for", _patched)
    with pytest.raises(RuntimeError, match="injected crash"):
        P.insert_into_parts(_orders(spark, [(2, 11, "F", 2.0)]), tbl, batch_id=1)
    monkeypatch.setattr(P, "io_for", real_io_for)

    # reader sees only the committed part; the orphan is invisible
    assert P.read_parts(spark, tbl).count() == 1
    assert P.table_history(tbl)[-1]["batch_ids"] == [0]
    orphans = set(os.listdir(os.path.join(local, P.PARTS_DIR)))
    assert len(orphans) == 2  # one committed + one orphan on disk
    # retry completes the batch exactly once
    P.insert_into_parts(_orders(spark, [(2, 11, "F", 2.0)]), tbl, batch_id=1)
    assert P.read_parts(spark, tbl).count() == 2
    assert P.table_history(tbl)[-1]["batch_ids"] == [0, 1]
    # vacuum with TTL=default keeps the fresh orphan; TTL=0 sweeps it
    assert P.vacuum_parts(tbl, keep_versions=10)["dropped_parts"] == []
    swept = P.vacuum_parts(tbl, keep_versions=10, orphan_ttl_secs=0)
    assert len(swept["dropped_parts"]) == 1
    assert P.read_parts(spark, tbl).count() == 2


def test_crash_between_part_write_and_commit_is_invisible(spark, tbl, monkeypatch):
    _crash_between_part_write_and_commit(spark, tbl, tbl, monkeypatch)


@pytest.mark.parametrize("scheme_root", ["file:", "viewfs"], indirect=True)
def test_crash_between_part_write_and_commit_is_invisible_on_hadoop_fs(
    spark, scheme_tbl, monkeypatch
):
    """The same crash leg through the Hadoop FileSystem backend
    (LocalFileSystem for ``file:``, ViewFileSystem for viewfs://)."""
    tbl, local = scheme_tbl
    _crash_between_part_write_and_commit(spark, tbl, local, monkeypatch)


def test_retry_of_committed_batch_rewrites_nothing(spark, scheme_tbl):
    """A batch retried after its version commit landed (the crash hit
    before the streaming checkpoint advanced) writes no new part and
    touches no committed part file — even when the retried frame carries
    different rows, the committed part wins."""
    tbl, local = scheme_tbl
    P.create_parts_table(tbl, engine="append")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0), (2, 11, "O", 2.0)]), tbl, batch_id=0)
    parts_dir = os.path.join(local, P.PARTS_DIR)
    dirs_before = sorted(os.listdir(parts_dir))
    files_before = _file_snapshot(parts_dir)
    assert any(f[0].endswith(".parquet") for f in files_before)

    r = P.insert_into_parts(_orders(spark, [(9, 99, "X", 9.0)]), tbl, batch_id=0)
    assert r["replayed"]
    assert sorted(os.listdir(parts_dir)) == dirs_before
    assert _file_snapshot(parts_dir) == files_before
    assert P.current_version(tbl) == 1
    assert {x.o_orderkey for x in P.read_parts(spark, tbl).collect()} == {1, 2}


def test_vacuum_drops_superseded_parts_after_optimize(spark, tbl):
    P.create_parts_table(tbl, engine="append")
    for k in range(3):
        P.insert_into_parts(_orders(spark, [(k, k, "O", float(k))]), tbl)
    P.optimize_parts(spark, tbl)
    n_parts_before = len(os.listdir(os.path.join(tbl, P.PARTS_DIR)))
    assert n_parts_before == 4  # 3 inputs + 1 merged
    res = P.vacuum_parts(tbl, keep_versions=1, orphan_ttl_secs=0)
    assert len(res["dropped_parts"]) == 3
    assert P.read_parts(spark, tbl).count() == 3
    # committed inputs are deleted immediately (no TTL needed): they were
    # referenced by an old version, so they are superseded, not in-flight


def test_parts_table_diff_between_versions(spark, tbl):
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0), (2, 11, "O", 2.0)]), tbl)
    P.insert_into_parts(_orders(spark, [(3, 10, "F", 9.0), (4, 12, "O", 4.0)]), tbl)
    d = P.parts_table_diff(spark, tbl, 1, 2, compare_cols=("o_status", "o_total"))
    got = {(r.o_custkey, r.status) for r in d.collect()}
    assert got == {(10, "changed"), (11, "unchanged"), (12, "added")}


def test_full_lifecycle_on_viewfs(spark, tmpdir):
    """The whole lifecycle through the REAL Hadoop backend under a
    non-``file`` scheme: create, 2 inserts, replay, FINAL, optimize,
    vacuum — exercising write_exclusive (plain rename), mtime, and
    delete on ViewFileSystem."""
    name = f"ptstest{uuid.uuid4().hex[:8]}"
    conf = spark._jsc.hadoopConfiguration()
    conf.set(f"fs.viewfs.mounttable.{name}.link./store", f"file://{tmpdir}")
    try:
        tbl = f"viewfs://{name}/store/t"
        P.create_parts_table(
            tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
        )
        P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0)]), tbl, batch_id=0)
        P.insert_into_parts(_orders(spark, [(2, 10, "F", 2.0)]), tbl, batch_id=1)
        assert P.insert_into_parts(
            _orders(spark, [(9, 9, "X", 9.0)]), tbl, batch_id=1
        )["replayed"]
        fin = {(r.o_custkey, r.o_orderkey) for r in P.read_parts(spark, tbl, final=True).collect()}
        assert fin == {(10, 2)}
        res = P.optimize_parts(spark, tbl)
        assert res["merged"] == 2
        P.vacuum_parts(tbl, keep_versions=1, orphan_ttl_secs=0)
        assert P.read_parts(spark, tbl, final=True).count() == 1
        assert P.current_version(tbl) == 3
        # only the merged part survives on disk
        parts_left = os.listdir(os.path.join(str(tmpdir), "t", P.PARTS_DIR))
        assert len(parts_left) == 1
    finally:
        conf.unset(f"fs.viewfs.mounttable.{name}.link./store")


# ---------------------------------------------------------------------------
# streaming ingestion (parts_stream.parts_sink)
# ---------------------------------------------------------------------------


def test_parts_sink_streams_batches_as_parts(spark, tmpdir):
    """A file-source stream lands each micro-batch as one committed part;
    FINAL over the streamed table equals the batch answer; a second
    stream start over the SAME checkpoint replays nothing."""
    from pyspark.sql import types as T

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.parts_stream import (
        parts_sink,
    )

    src = f"{tmpdir}/src"
    os.makedirs(src)
    tbl = f"{tmpdir}/t"
    P.create_parts_table(tbl, engine="replacing", key_cols=("k",), version_col="v")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    with open(f"{src}/a.json", "w") as f:
        f.write(json.dumps({"k": 1, "v": 1, "s": "a"}) + "\n")
        f.write(json.dumps({"k": 2, "v": 1, "s": "b"}) + "\n")

    stream = spark.readStream.schema(schema).json(src)
    q = parts_sink(stream, tbl, f"{tmpdir}/chk", trigger="1 seconds")
    try:
        q.processAllAvailable()
        with open(f"{src}/b.json", "w") as f:
            f.write(json.dumps({"k": 1, "v": 2, "s": "c"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    fin = {(r.k, r.v, r.s) for r in P.read_parts(spark, tbl, final=True).collect()}
    assert fin == {(1, 2, "c"), (2, 1, "b")}
    ver_after = P.current_version(tbl)

    # restart over the same checkpoint: no new data -> no new version
    q2 = parts_sink(spark.readStream.schema(schema).json(src), tbl, f"{tmpdir}/chk")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert P.current_version(tbl) == ver_after


def test_parts_sink_reset_checkpoint_is_new_txn_namespace(spark, tmpdir):
    """A RESET checkpoint restarts batch ids at 0 under a fresh query id:
    the restarted batch 0 must NOT be swallowed by the old stream's batch
    0 (per-app transaction namespaces), and re-ingestion is the honest,
    documented outcome."""
    from pyspark.sql import types as T

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.parts_stream import (
        parts_sink,
    )

    src = f"{tmpdir}/src"
    os.makedirs(src)
    tbl = f"{tmpdir}/t"
    P.create_parts_table(tbl, engine="append")
    schema = T.StructType([T.StructField("k", T.LongType())])
    with open(f"{src}/a.json", "w") as f:
        f.write(json.dumps({"k": 1}) + "\n")

    for chk in ("chk1", "chk2"):  # second stream = reset checkpoint
        q = parts_sink(spark.readStream.schema(schema).json(src), tbl, f"{tmpdir}/{chk}")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # both streams' batch 0 landed: 2 rows, 2 versions
    assert P.read_parts(spark, tbl).count() == 2
    assert P.current_version(tbl) == 2


def test_insert_replay_guard_is_per_app(spark, tbl):
    P.create_parts_table(tbl, engine="append")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0)]), tbl, batch_id=0, app_id="s1")
    r = P.insert_into_parts(_orders(spark, [(2, 11, "F", 2.0)]), tbl, batch_id=0, app_id="s2")
    assert not r["replayed"]
    r2 = P.insert_into_parts(_orders(spark, [(9, 9, "X", 9.0)]), tbl, batch_id=0, app_id="s1")
    assert r2["replayed"]
    assert P.read_parts(spark, tbl).count() == 2


@pytest.mark.parametrize("op", ["insert", "optimize", "optimize_partitions", "mutate"])
def test_replays_stay_noops_after_every_commit(spark, tbl, op):
    """Every commit carries the dedup sets forward: after an insert, a
    full or partition OPTIMIZE, or a mutation, a replayed (app, batch_id),
    a replayed id from the pre-namespace flat ``batch_ids`` list and a
    re-inserted ``dedup_content`` block all stay no-ops."""
    P.create_parts_table(tbl, engine="append", partition_col="month")

    def rows(data):
        return spark.createDataFrame(data, "id string, month string, v int")

    P.insert_into_parts(rows([("a", "m1", 1)]), tbl, batch_id=1, app_id="app")
    P.insert_into_parts(rows([("b", "m1", 2)]), tbl, dedup_content=True)
    P.insert_into_parts(rows([("c", "m1", 3)]), tbl, batch_id=0)
    # rewrite the head as an older writer left it: the "" namespace as a
    # flat batch_ids list next to the namespaced txns
    head = os.path.join(tbl, P.VERSIONS_DIR, f"v{P.current_version(tbl)}.json")
    doc = json.load(open(head))
    doc["batch_ids"] = doc["txns"].pop("")
    with open(head, "w") as f:
        json.dump(doc, f)

    {
        "insert": lambda: P.insert_into_parts(rows([("d", "m2", 4)]), tbl),
        "optimize": lambda: P.optimize_parts(spark, tbl),
        "optimize_partitions": lambda: P.optimize_partitions(spark, tbl, ["m1"]),
        "mutate": lambda: P.mutate_parts(spark, tbl, delete_where="id = 'none'"),
    }[op]()
    n = P.read_parts(spark, tbl).count()
    assert P.insert_into_parts(rows([("a", "m1", 1)]), tbl, batch_id=1, app_id="app")["replayed"]
    assert P.insert_into_parts(rows([("c", "m1", 3)]), tbl, batch_id=0)["replayed"]
    assert P.insert_into_parts(rows([("b", "m1", 2)]), tbl, dedup_content=True)["replayed"]
    assert P.read_parts(spark, tbl).count() == n


def test_aggregating_parts_sink_is_a_streaming_mv(spark, tmpdir):
    """The MV -> AggregatingMergeTree pattern: a raw stream lands partial
    states per micro-batch; FINAL equals the batch GROUP BY over ALL raw
    rows; a replayed batch cannot double-count; OPTIMIZE preserves the
    answer through the collapsed fast path."""
    from pyspark.sql import types as T

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.parts_stream import (
        aggregating_parts_sink,
    )

    spec = {"n": "sum", "total": "sum", "hi": "max"}
    src = f"{tmpdir}/src"
    os.makedirs(src)
    tbl = f"{tmpdir}/t"
    P.create_parts_table(tbl, engine="aggregating", key_cols=("k",), agg_spec=spec)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    with open(f"{src}/a.json", "w") as f:
        f.write(json.dumps({"k": 1, "v": 5.0}) + "\n")
        f.write(json.dumps({"k": 1, "v": 3.0}) + "\n")
        f.write(json.dumps({"k": 2, "v": 7.0}) + "\n")

    def _stream():
        return (
            spark.readStream.schema(schema)
            .json(src)
            .selectExpr("k", "1 AS n", "v AS total", "v AS hi")
        )

    q = aggregating_parts_sink(_stream(), tbl, f"{tmpdir}/chk", ("k",), spec, "1 seconds")
    try:
        q.processAllAvailable()
        with open(f"{src}/b.json", "w") as f:
            f.write(json.dumps({"k": 1, "v": 10.0}) + "\n")
            f.write(json.dumps({"k": 3, "v": 1.0}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    want = {(1, 3, 18.0, 10.0), (2, 1, 7.0, 7.0), (3, 1, 1.0, 1.0)}
    fin = {
        (r.k, r.n, r.total, r.hi)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    assert fin == want
    ver = P.current_version(tbl)

    # restart over the same checkpoint: nothing new -> nothing lands
    q2 = aggregating_parts_sink(_stream(), tbl, f"{tmpdir}/chk", ("k",), spec)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert P.current_version(tbl) == ver

    # a crash-retried batch (same app/batch id) is a no-op, never additive
    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources.storage import (
        checkpoint_query_id,
    )

    app = checkpoint_query_id(f"{tmpdir}/chk")
    replay = spark.createDataFrame([(1, 1, 99.0, 99.0)], "k long, n long, total double, hi double")
    r = P.insert_into_parts(replay, tbl, batch_id=1, app_id=app or "")
    assert r["replayed"]
    assert {
        (x.k, x.n, x.total, x.hi)
        for x in P.read_parts(spark, tbl, final=True).collect()
    } == want

    # OPTIMIZE: collapsed fast path, same merged answer, fewer rows
    P.optimize_parts(spark, tbl)
    assert {
        (x.k, x.n, x.total, x.hi)
        for x in P.read_parts(spark, tbl, final=True).collect()
    } == want
    assert P.read_parts(spark, tbl).count() == 3


def test_projections_answer_aggregates_atomically(spark, tbl):
    """ClickHouse projections: per-part pre-aggregated states live INSIDE
    the part dir (atomic with the base commit), merge associatively
    across parts, re-aggregate to coarser keys, and survive OPTIMIZE."""
    projs = {
        "by_cust": {
            "key_cols": ("o_status", "o_custkey"),
            "agg_spec": {"n": "sum", "spend": "sum", "hi": "max"},
        },
        "by_status": {"key_cols": ("o_status",), "agg_spec": {"n": "sum"}},
    }
    P.create_parts_table(tbl, engine="append", projections=projs)
    rows1 = [(1, 10, "O", 5.0), (2, 10, "O", 3.0), (3, 11, "F", 7.0)]
    rows2 = [(4, 10, "O", 9.0), (5, 12, "F", 1.0)]

    def _shaped(rows):
        return _orders(spark, rows).selectExpr(
            "o_custkey", "o_status", "1 AS n", "o_total AS spend", "o_total AS hi"
        )

    P.insert_into_parts(_shaped(rows1), tbl, batch_id=0)
    P.insert_into_parts(_shaped(rows2), tbl, batch_id=1)

    # the base read must NOT see the _proj_* subdirs
    assert P.read_parts(spark, tbl).count() == 5

    got = {
        (r.o_status, r.o_custkey, r.n, r.spend, r.hi)
        for r in P.read_projection(spark, tbl, "by_cust").collect()
    }
    assert got == {("O", 10, 3, 17.0, 9.0), ("F", 11, 1, 7.0, 7.0), ("F", 12, 1, 1.0, 1.0)}

    # coarser-key routing: states re-aggregate to a subset of the keys
    coarse = {
        (r.o_status, r.n, r.spend)
        for r in P.read_projection(
            spark, tbl, "by_cust", group_cols=("o_status",)
        ).collect()
    }
    assert coarse == {("O", 3, 17.0), ("F", 2, 8.0)}

    # routing picks the narrowest qualifying projection
    assert P.route_projection(tbl, ("o_status",), ("n",)) == "by_status"
    assert P.route_projection(tbl, ("o_status",), ("n", "spend")) == "by_cust"
    assert P.route_projection(tbl, ("o_custkey",), ("n",)) == "by_cust"
    assert P.route_projection(tbl, ("o_orderkey",), ("n",)) is None

    # OPTIMIZE recomputes the merged part's projections — same answers
    res = P.optimize_parts(spark, tbl)
    assert res["merged"] == 2
    assert {
        (r.o_status, r.o_custkey, r.n, r.spend, r.hi)
        for r in P.read_projection(spark, tbl, "by_cust").collect()
    } == got
    assert P.read_parts(spark, tbl).count() == 5

    with pytest.raises(KeyError, match="no projection"):
        P.read_projection(spark, tbl, "nope")
    with pytest.raises(ValueError, match="subset"):
        P.read_projection(spark, tbl, "by_status", group_cols=("o_custkey",))


def test_projections_rejected_on_non_append_engines(tbl):
    projs = {"p": {"key_cols": ("k",), "agg_spec": {"n": "sum"}}}
    with pytest.raises(ValueError, match="append engine"):
        P.create_parts_table(
            tbl, engine="replacing", key_cols=("k",), version_col="v", projections=projs
        )
    with pytest.raises(ValueError, match="append engine"):
        P.create_parts_table(
            tbl, engine="append", ttl_col="t", ttl_seconds=5.0, projections=projs
        )
    with pytest.raises(ValueError, match="key_cols"):
        P.create_parts_table(
            tbl, engine="append", projections={"p": {"agg_spec": {"n": "sum"}}}
        )


def test_parts_table_cli_new_engine_flags(spark, tmpdir):
    """The CLI speaks the round's new surface: create with --projection,
    insert from parquet, read --projection with coarser --group-cols —
    one JSON line per op (the jobs/ contract)."""
    import subprocess
    import sys

    src = f"{tmpdir}/batch.parquet"
    spark.createDataFrame(
        [(10, "O", 1, 5.0), (10, "O", 1, 3.0), (11, "F", 1, 7.0)],
        "custkey long, status string, n long, spend double",
    ).write.parquet(src)
    tbl = f"{tmpdir}/t"

    def _run(*argv):
        out = subprocess.run(
            [sys.executable, os.path.join(JOBS_DIR, "parts_table.py"), *argv],
            capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    meta = _run(
        "create", "--table", tbl,
        "--projection", "by_status:status:n=sum,spend=sum",
    )
    assert meta["meta"]["projections"]["by_status"]["agg_spec"] == {
        "n": "sum", "spend": "sum",
    }
    ins = _run("insert", "--table", tbl, "--src", src, "--batch-id", "0")
    assert not ins["replayed"]
    got = _run("read", "--table", tbl, "--projection", "by_status",
               "--group-cols", "status")
    assert got["rows"] == 2
    by = {r["status"]: (r["n"], r["spend"]) for r in got["sample"]}
    assert by == {"O": (2, 8.0), "F": (1, 7.0)}


def test_parts_sink_cdc_into_collapsing_table(spark, tmpdir):
    """CDC ingestion: a stream of (+1 state / -1 cancel) mutation events
    through the generic parts_sink into a collapsing table is a streaming
    upsert-and-delete pipeline — FINAL shows the net state."""
    from pyspark.sql import types as T

    from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.streaming.parts_stream import (
        parts_sink,
    )

    src = f"{tmpdir}/src"
    os.makedirs(src)
    tbl = f"{tmpdir}/t"
    P.create_parts_table(
        tbl, engine="collapsing", key_cols=("k",), sign_col="sign", version_col="ver"
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ver", T.LongType()),
            T.StructField("sign", T.IntegerType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    with open(f"{src}/a.json", "w") as f:  # inserts
        f.write(json.dumps({"k": 1, "ver": 1, "sign": 1, "payload": "a1"}) + "\n")
        f.write(json.dumps({"k": 2, "ver": 1, "sign": 1, "payload": "b1"}) + "\n")

    q = parts_sink(spark.readStream.schema(schema).json(src), tbl, f"{tmpdir}/chk", "1 seconds")
    try:
        q.processAllAvailable()
        with open(f"{src}/b.json", "w") as f:  # update k=1, delete k=2
            f.write(json.dumps({"k": 1, "ver": 1, "sign": -1, "payload": "a1"}) + "\n")
            f.write(json.dumps({"k": 1, "ver": 2, "sign": 1, "payload": "a2"}) + "\n")
            f.write(json.dumps({"k": 2, "ver": 1, "sign": -1, "payload": "b1"}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    fin = {
        (r.k, r.ver, r.payload)
        for r in P.read_parts(spark, tbl, final=True).filter("sign = 1").collect()
    }
    assert fin == {(1, 2, "a2")}
    # background-merge analogue keeps FINAL cost flat
    P.optimize_parts(spark, tbl)
    assert P.read_parts(spark, tbl).count() == 1


def test_sample_read_selects_whole_keys_consistently(spark, tbl):
    """SAMPLE over a replacing table keeps whole keys: the sampled FINAL
    equals FINAL filtered to the sampled key set (no torn histories),
    and sample_frac=1 is everything."""
    P.create_parts_table(
        tbl,
        engine="replacing",
        key_cols=("o_custkey",),
        version_col="o_orderkey",
        sample_col="o_custkey",
    )
    rows = [(k * 10 + v, k, f"s{v}", float(v)) for k in range(20) for v in (1, 2)]
    P.insert_into_parts(_orders(spark, [r for r in rows if r[3] == 1.0]), tbl)
    P.insert_into_parts(_orders(spark, [r for r in rows if r[3] == 2.0]), tbl)

    full = {(r.o_custkey, r.o_orderkey) for r in P.read_parts(spark, tbl, final=True).collect()}
    assert all(ok % 10 == 2 for _, ok in full)  # v2 wins everywhere
    samp = {
        (r.o_custkey, r.o_orderkey)
        for r in P.read_parts(spark, tbl, final=True, sample_frac=0.5).collect()
    }
    assert samp < full and samp  # strict, non-empty subset
    keys = {c for c, _ in samp}
    assert samp == {(c, o) for c, o in full if c in keys}  # whole keys, latest rows
    assert {
        (r.o_custkey, r.o_orderkey)
        for r in P.read_parts(spark, tbl, final=True, sample_frac=1.0).collect()
    } == full

    with pytest.raises(ValueError, match="sample_frac"):
        P.read_parts(spark, tbl, sample_frac=1.5)


def test_sample_col_must_be_a_key_on_keyed_engines(tbl):
    with pytest.raises(ValueError, match="sample_col"):
        P.create_parts_table(
            tbl,
            engine="replacing",
            key_cols=("k",),
            version_col="v",
            sample_col="other",
        )


def test_content_dedup_rejects_identical_blocks(spark, tbl):
    """ClickHouse block-checksum dedup: re-inserting byte-identical rows
    (any row order) is a no-op even WITHOUT a batch id; different rows
    still land; the fingerprint survives OPTIMIZE."""
    P.create_parts_table(tbl, engine="append")
    rows = [(1, 10, "O", 5.0), (2, 11, "F", 7.0)]
    r1 = P.insert_into_parts(_orders(spark, rows), tbl, dedup_content=True)
    assert not r1["replayed"]
    # same rows, reversed order -> same fingerprint -> replay
    r2 = P.insert_into_parts(_orders(spark, rows[::-1]), tbl, dedup_content=True)
    assert r2["replayed"]
    assert P.read_parts(spark, tbl).count() == 2
    # distinct rows land
    r3 = P.insert_into_parts(_orders(spark, [(3, 12, "O", 1.0)]), tbl, dedup_content=True)
    assert not r3["replayed"]
    # the fingerprint set rides through OPTIMIZE
    P.optimize_parts(spark, tbl)
    r4 = P.insert_into_parts(_orders(spark, rows), tbl, dedup_content=True)
    assert r4["replayed"]
    assert P.read_parts(spark, tbl).count() == 3
    # an empty frame and a duplicated-row frame have distinct fingerprints
    a = P.content_fingerprint(_orders(spark, []))
    b = P.content_fingerprint(_orders(spark, [(1, 10, "O", 5.0)] * 2))
    c = P.content_fingerprint(_orders(spark, [(1, 10, "O", 5.0)]))
    assert len({a, b, c}) == 3


def test_final_collapses_per_partition_and_prunes(spark, tbl):
    """ClickHouse contract: data in different partitions is never merged
    — a key appearing in two partitions keeps one latest row PER
    partition; and because the partition column joins the collapse keys,
    a partition filter pushes below the FINAL window into the scan."""
    P.create_parts_table(
        tbl,
        engine="replacing",
        key_cols=("o_custkey",),
        version_col="o_orderkey",
        partition_col="o_status",
    )
    P.insert_into_parts(
        _orders(spark, [(1, 10, "A", 1.0), (2, 10, "B", 1.0)]), tbl
    )
    P.insert_into_parts(
        _orders(spark, [(3, 10, "A", 2.0), (5, 11, "B", 5.0)]), tbl
    )
    fin = {
        (r.o_custkey, r.o_status, r.o_orderkey)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    # custkey 10 collapses within 'A' (3 beats 1) but its 'B' row survives
    assert fin == {(10, "A", 3), (10, "B", 2), (11, "B", 5)}

    df = P.read_parts(spark, tbl, final=True).filter("o_status = 'A'")
    assert {(r.o_custkey, r.o_orderkey) for r in df.collect()} == {(10, 3)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the filter reached the scan as a partition filter (below the window)
    assert "PartitionFilters" in plan and "o_status" in plan.split("PartitionFilters", 1)[1][:200]


def test_aggregating_hll_states_union_across_parts(spark, tbl):
    """uniqState/uniqMerge: HLL states created per batch union at FINAL;
    the merged estimate is deterministic across reads and within 5% of
    exact (bytes may re-encode; estimates are the API)."""
    from pyspark.sql import functions as F

    spec = {"n": "sum", "uids": "hll"}
    P.create_parts_table(tbl, engine="aggregating", key_cols=("g",), agg_spec=spec)
    rows = [(i % 2, i % 97) for i in range(400)]  # g, uid (duplicated uids)
    df = spark.createDataFrame(rows, "g long, uid long").selectExpr(
        "g", "1 AS n", "uid AS uids"
    )
    for k in range(3):
        P.insert_into_parts(
            P.aggregate_states(df.filter(f"n = 1 AND uids % 3 = {k}"), ("g",), spec),
            tbl,
        )
    fin = P.read_parts(spark, tbl, final=True).select(
        "g", "n", F.hll_sketch_estimate("uids").alias("est")
    )
    got = {r.g: (r.n, r.est) for r in fin.collect()}
    again = {r.g: (r.n, r.est) for r in fin.collect()}
    assert got == again  # deterministic reads
    # exact distinct uids per g: uids are i%97 over i in [0,400): all 97
    # residues appear in each g class? g = i%2, uid = i%97 — for each g,
    # i ranges over evens/odds: uid set = {i%97} which covers all 97
    for g, (n, est) in got.items():
        assert n == 200
        assert abs(est - 97) <= 0.05 * 97
    # OPTIMIZE merges the sketch states physically; estimates survive
    P.optimize_parts(spark, tbl)
    flat = {r.g: r.est for r in P.read_parts(spark, tbl, final=True).select(
        "g", F.hll_sketch_estimate("uids").alias("est")).collect()}
    for g, est in flat.items():
        assert abs(est - 97) <= 0.05 * 97


def test_mutation_delete_and_update(spark, tbl):
    """ALTER TABLE DELETE/UPDATE as a per-part rewrite: sequences are
    preserved (replacing dominance intact), fully-deleted parts vanish,
    pre-mutation versions still time-travel, identity columns are
    update-protected."""
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    P.insert_into_parts(_orders(spark, [(1, 10, "A", 1.0), (2, 20, "A", 2.0)]), tbl)
    P.insert_into_parts(_orders(spark, [(3, 10, "B", 3.0)]), tbl)  # newer for 10
    P.insert_into_parts(_orders(spark, [(4, 30, "C", 4.0)]), tbl)

    res = P.mutate_parts(
        spark,
        tbl,
        delete_where="o_custkey = 30",
        set_exprs={"o_total": "o_total * 2"},
        update_where="o_status = 'A'",
    )
    assert res["rewritten"] == 2 and res["dropped_parts"] == 1  # part 3 vanished

    fin = {
        (r.o_custkey, r.o_orderkey, r.o_total)
        for r in P.read_parts(spark, tbl, final=True).collect()
    }
    # custkey 30 deleted; 20's 'A' row doubled; 10's winner is still the
    # newer part-2 row (status B, untouched)
    assert fin == {(10, 3, 3.0), (20, 2, 4.0)}

    # time travel to the pre-mutation version still sees custkey 30
    pre = {r.o_custkey for r in P.read_parts(spark, tbl, version=3).collect()}
    assert 30 in pre

    with pytest.raises(ValueError, match="identity columns"):
        P.mutate_parts(spark, tbl, set_exprs={"o_custkey": "o_custkey + 1"})

    # mutation + vacuum: superseded and dropped parts leave disk
    P.vacuum_parts(tbl, keep_versions=1, orphan_ttl_secs=0)
    left = os.listdir(os.path.join(tbl, P.PARTS_DIR))
    assert len(left) == 2


def test_mutation_rewrites_projections(spark, tbl):
    """A mutated part's projection states are recomputed in the same
    rewrite — the projection can never serve pre-mutation aggregates."""
    projs = {"by_status": {"key_cols": ("o_status",), "agg_spec": {"n": "sum"}}}
    P.create_parts_table(tbl, engine="append", projections=projs)
    P.insert_into_parts(
        _orders(spark, [(1, 10, "A", 1.0), (2, 20, "B", 2.0)]).selectExpr(
            "o_custkey", "o_status", "1 AS n"
        ),
        tbl,
    )
    P.mutate_parts(spark, tbl, delete_where="o_status = 'B'")
    got = {
        (r.o_status, r.n)
        for r in P.read_projection(spark, tbl, "by_status").collect()
    }
    assert got == {("A", 1)}


def test_parts_table_cli_mutate(spark, tmpdir):
    import subprocess
    import sys

    src = f"{tmpdir}/batch.parquet"
    spark.createDataFrame(
        [(1, "A", 5.0), (2, "B", 7.0)], "id long, status string, total double"
    ).write.parquet(src)
    tbl = f"{tmpdir}/t"

    def _run(*argv):
        out = subprocess.run(
            [sys.executable, os.path.join(JOBS_DIR, "parts_table.py"), *argv],
            capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    _run("create", "--table", tbl)
    _run("insert", "--table", tbl, "--src", src)
    res = _run(
        "mutate", "--table", tbl,
        "--delete-where", "status = 'B'",
        "--set", "total=total*10", "--update-where", "status = 'A'",
    )
    assert res["rewritten"] == 1
    got = _run("read", "--table", tbl)
    assert got["rows"] == 1 and got["sample"][0]["total"] == 50.0


def _file_snapshot(root):
    """(relative path, size, mtime_ns) for every file under root."""
    snap = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            snap.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return snap


def _partitioned_replacing(spark, tbl, n_batches=3):
    P.create_parts_table(
        tbl,
        engine="replacing",
        key_cols=("o_custkey",),
        version_col="o_orderkey",
        partition_col="o_status",
    )
    rows = [
        (b * 100 + k, 10 + k % 4, "A" if k % 2 == 0 else "B", float(b))
        for b in range(n_batches)
        for k in range(8)
    ]
    for b in range(n_batches):
        P.insert_into_parts(
            _orders(spark, [r for r in rows if r[0] // 100 == b]), tbl
        )
    return rows


def test_optimize_partitions_merges_only_hot_partition(spark, tbl):
    """ClickHouse's merge unit (r8 verdict): OPTIMIZE PARTITION collapses
    one partition across all live parts; cold partitions' data files are
    BYTE-IDENTICAL afterwards (no rewrite), FINAL is unchanged, and the
    pre-merge version still time-travels."""
    _partitioned_replacing(spark, tbl)
    want = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .select("o_status", "o_custkey", "o_orderkey")
        .collect()
    }
    pre_rows = P.read_parts(spark, tbl).count()
    pre_ver = P.current_version(tbl)
    # snapshot every ORIGINAL part's cold ('B') partition files
    cold = {
        s["name"]: _file_snapshot(os.path.join(tbl, P.PARTS_DIR, s["name"], "o_status=B"))
        for s in P.parts_stats(tbl)
    }
    res = P.optimize_partitions(spark, tbl, ["A"])
    assert res["merged"] == 3 and res["part"] is not None

    # answers unchanged; 'A' physically collapsed, 'B' untouched
    got = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .select("o_status", "o_custkey", "o_orderkey")
        .collect()
    }
    assert got == want
    assert P.read_parts(spark, tbl).count() < pre_rows
    for name, snap in cold.items():
        assert _file_snapshot(os.path.join(tbl, P.PARTS_DIR, name, "o_status=B")) == snap
    # the merged part holds ONLY the hot partition
    assert [
        d
        for d in os.listdir(os.path.join(tbl, P.PARTS_DIR, res["part"]))
        if d.startswith("o_status=")
    ] == ["o_status=A"]
    # stats: originals carry the skip, per-partition counts reflect it
    st = {s["name"]: s for s in P.parts_stats(tbl)}
    assert all(st[n].get("skip") == ["A"] for n in cold)
    ps = {p["partition"]: p["n_parts"] for p in P.partition_stats(tbl)}
    assert ps == {"A": 1, "B": 3}
    # pre-merge version still reads whole (time travel across the merge)
    assert P.read_parts(spark, tbl, version=pre_ver).count() == pre_rows


def test_optimize_partitions_compose_to_full_answer(spark, tbl):
    """Property (r8 verdict): partition-scoped merges COMPOSE — merging
    every partition one at a time equals the never-merged FINAL, and a
    later full OPTIMIZE over the skip-carrying parts still agrees."""
    _partitioned_replacing(spark, tbl)
    want = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .select("o_status", "o_custkey", "o_orderkey", "o_total")
        .collect()
    }

    def _final():
        return {
            tuple(r)
            for r in P.read_parts(spark, tbl, final=True)
            .select("o_status", "o_custkey", "o_orderkey", "o_total")
            .collect()
        }

    P.optimize_partitions(spark, tbl, ["A"])
    assert _final() == want
    P.optimize_partitions(spark, tbl, ["B"])
    assert _final() == want
    # originals fully skipped -> dropped from the live version
    assert {len(s.get("skip", [])) for s in P.parts_stats(tbl)} == {0}
    assert {p["n_parts"] for p in P.partition_stats(tbl)} == {1}
    # an insert then a FULL optimize over the mixed part set still agrees
    P.insert_into_parts(
        _orders(spark, [(999, 10, "A", 9.0), (998, 11, "B", 9.0)]), tbl
    )
    want2 = _final()
    P.optimize_parts(spark, tbl)
    assert _final() == want2


def test_maintain_merges_hot_partition_only(spark, tbl):
    """Partitioned maintain policy: only the partition whose own part
    count exceeds the threshold merges; the cold partition's files stay
    byte-identical."""
    P.create_parts_table(
        tbl,
        engine="replacing",
        key_cols=("o_custkey",),
        version_col="o_orderkey",
        partition_col="o_status",
    )
    P.insert_into_parts(_orders(spark, [(1, 10, "B", 1.0)]), tbl)  # cold
    for k in range(4):  # hot partition A: 4 parts
        P.insert_into_parts(_orders(spark, [(10 + k, 20 + k, "A", 1.0)]), tbl)
    cold_dir = None
    for s in P.parts_stats(tbl):
        d = os.path.join(tbl, P.PARTS_DIR, s["name"], "o_status=B")
        if os.path.isdir(d):
            cold_dir = d
    snap = _file_snapshot(cold_dir)
    res = P.maintain_parts(spark, tbl, max_parts=2, keep_versions=10)
    assert res["optimized"] and res["optimize"]["partitions"] == ["A"]
    assert _file_snapshot(cold_dir) == snap
    ps = {p["partition"]: p["n_parts"] for p in P.partition_stats(tbl)}
    assert ps == {"A": 1, "B": 1}
    # now under threshold everywhere: metadata-only no-op
    ver = P.current_version(tbl)
    res = P.maintain_parts(spark, tbl, max_parts=2, keep_versions=10)
    assert not res["optimized"] and P.current_version(tbl) == ver


def test_optimize_partitions_rejects_unpartitioned_and_projections(spark, tbl):
    P.create_parts_table(tbl, engine="append")
    with pytest.raises(ValueError, match="partition_col"):
        P.optimize_partitions(spark, tbl, ["A"])
    tbl2 = tbl + "_proj"
    projs = {"p": {"key_cols": ("o_status",), "agg_spec": {"n": "sum"}}}
    P.create_parts_table(tbl2, engine="append", partition_col="o_status", projections=projs)
    with pytest.raises(ValueError, match="projections"):
        P.optimize_partitions(spark, tbl2, ["A"])


def test_mutation_respects_partition_skip(spark, tbl):
    """A mutation after a partition-scoped merge must not resurrect the
    merged-away partition slices living in skip-carrying parts."""
    _partitioned_replacing(spark, tbl)
    P.optimize_partitions(spark, tbl, ["A"])
    want = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .filter("o_custkey % 2 = 1")
        .select("o_status", "o_custkey", "o_orderkey")
        .collect()
    }
    P.mutate_parts(spark, tbl, delete_where="o_custkey % 2 = 0")
    got = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .select("o_status", "o_custkey", "o_orderkey")
        .collect()
    }
    assert got == want


def test_projection_states_computed_from_written_part(spark, tbl):
    """Regression (r8 advice): projection states must be computed from
    the JUST-WRITTEN part files, not by re-executing the caller's plan —
    for a non-deterministic input (rand()-derived column) a re-execution
    would commit states that disagree with the base rows."""
    from pyspark.sql import functions as F

    projs = {"by_g": {"key_cols": ("g",), "agg_spec": {"v": "sum", "n": "sum"}}}
    P.create_parts_table(tbl, engine="append", projections=projs)
    df = (
        spark.range(0, 200)
        .select(
            (F.col("id") % 4).alias("g"),
            (F.rand(seed=None) * 1000).cast("long").alias("v"),
            F.lit(1).cast("long").alias("n"),
        )
    )
    P.insert_into_parts(df, tbl)
    base = {
        (r.g, r.v, r.n)
        for r in P.read_parts(spark, tbl)
        .groupBy("g")
        .agg(F.sum("v").alias("v"), F.sum("n").alias("n"))
        .collect()
    }
    proj = {(r.g, r.v, r.n) for r in P.read_projection(spark, tbl, "by_g").collect()}
    assert proj == base


def test_maintain_noop_optimize_reports_not_optimized(spark, tbl):
    """Regression (r8 advice): a 1-part append table with as_of set makes
    optimize_parts a no-op ({'merged': 0}); maintain must report
    optimized=False, not mistake the missing 'part' key for a vanished
    merge output."""
    P.create_parts_table(tbl, engine="append")
    P.insert_into_parts(_orders(spark, [(1, 10, "O", 1.0)]), tbl)
    res = P.maintain_parts(spark, tbl, max_parts=8, as_of=123.0)
    assert not res["optimized"]
    assert res["optimize"]["merged"] == 0


def test_vanished_merge_output_does_not_mark_collapsed(spark, tbl):
    """Regression (hypothesis-found): merging a prefix whose rows ALL
    cancel leaves an UNMERGED survivor part — the version must NOT be
    marked collapsed, or FINAL would skip the collapse and resurrect a
    cancelled pair living in that survivor."""
    P.create_parts_table(
        tbl, engine="collapsing", key_cols=("uid",), sign_col="sign", version_col="ver"
    )
    # part 1: a fully-cancelling pair; part 2: another fully-cancelling pair
    P.insert_into_parts(_cstate(spark, [(0, 2, 1, "x"), (0, 2, -1, "x")]), tbl)
    P.insert_into_parts(_cstate(spark, [(0, 1, 1, "y"), (0, 1, -1, "y")]), tbl)
    res = P.optimize_parts(spark, tbl, max_seq=1)  # merge only part 1 -> vanishes
    assert res["part"] is None
    hist = {h["version"]: h for h in P.table_history(tbl)}
    assert not hist[res["version"]]["collapsed"]
    assert P.read_parts(spark, tbl, final=True).count() == 0


def test_parts_stats_and_maintain_policy(spark, tbl):
    """system.parts introspection + the merge-policy loop: stats are
    metadata-only per-part (seq, bytes, files); maintain optimizes past
    the part threshold and vacuums, and is a no-op under it."""
    P.create_parts_table(
        tbl, engine="replacing", key_cols=("o_custkey",), version_col="o_orderkey"
    )
    for k in range(4):
        P.insert_into_parts(_orders(spark, [(k, 10 + k % 2, "O", float(k))]), tbl)
    st = P.parts_stats(tbl)
    assert [s["seq"] for s in st] == [1, 2, 3, 4]
    assert all(s["bytes"] > 0 and s["files"] >= 1 for s in st)

    # under threshold: nothing merges
    res = P.maintain_parts(spark, tbl, max_parts=8)
    assert not res["optimized"] and res["parts_before"] == 4
    assert len(P.parts_stats(tbl)) == 4

    # over threshold: full merge + vacuum to the retained window
    res = P.maintain_parts(spark, tbl, max_parts=2, keep_versions=1)
    assert res["optimized"]
    st = P.parts_stats(tbl)
    assert len(st) == 1
    fin = {(r.o_custkey, r.o_orderkey) for r in P.read_parts(spark, tbl, final=True).collect()}
    assert fin == {(10, 2), (11, 3)}
    # vacuum dropped the superseded part dirs
    assert len(os.listdir(os.path.join(tbl, P.PARTS_DIR))) == 1


def test_projection_with_hll_states(spark, tbl):
    """A uniqState projection: raw values sketch per part at insert,
    union at read, recompute-from-raw at OPTIMIZE — estimates stable."""
    from pyspark.sql import functions as F

    projs = {"u": {"key_cols": ("g",), "agg_spec": {"n": "sum", "uids": "hll"}}}
    P.create_parts_table(tbl, engine="append", projections=projs)
    df = spark.createDataFrame(
        [(i % 2, i % 53) for i in range(300)], "g long, uid long"
    ).selectExpr("g", "1 AS n", "uid AS uids")
    P.insert_into_parts(df.filter("uids % 2 = 0"), tbl)
    P.insert_into_parts(df.filter("uids % 2 = 1"), tbl)

    def _est():
        return {
            r.g: (r.n, r.est)
            for r in P.read_projection(spark, tbl, "u")
            .select("g", "n", F.hll_sketch_estimate("uids").alias("est"))
            .collect()
        }

    got = _est()
    for g, (n, est) in got.items():
        assert n == 150
        assert abs(est - 53) <= 0.05 * 53  # every residue appears in each g
    P.optimize_parts(spark, tbl)
    for g, (n, est) in _est().items():
        assert n == 150
        assert abs(est - 53) <= 0.05 * 53


def test_parts_table_cli_optimize_partitions(spark, tmpdir):
    """CLI twin of OPTIMIZE PARTITION: --partitions merges only the named
    partitions and reports them; the other partition's parts survive."""
    import subprocess
    import sys

    src = f"{tmpdir}/batch{{}}.parquet"
    for b in range(2):
        spark.createDataFrame(
            [(b * 10 + 1, "A", 5.0), (b * 10 + 2, "B", 7.0)],
            "id long, status string, total double",
        ).write.parquet(src.format(b))
    tbl = f"{tmpdir}/t"

    def _run(*argv):
        out = subprocess.run(
            [sys.executable, os.path.join(JOBS_DIR, "parts_table.py"), *argv],
            capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    _run("create", "--table", tbl, "--partition-col", "status")
    for b in range(2):
        _run("insert", "--table", tbl, "--src", src.format(b), "--batch-id", str(b))
    res = _run("optimize", "--table", tbl, "--partitions", "A")
    assert res["merged"] == 2 and res["partitions"] == ["A"]
    got = _run("read", "--table", tbl)
    assert got["rows"] == 4


def test_optimize_partitions_escaped_partition_values(spark, tbl):
    """Partition values Spark Hive-escapes on disk (':' -> '%3A') must
    round-trip through OPTIMIZE PARTITION: the merge reads the actual
    escaped directory names, and FINAL is unchanged afterwards."""
    P.create_parts_table(
        tbl,
        engine="replacing",
        key_cols=("o_custkey",),
        version_col="o_orderkey",
        partition_col="o_status",
    )
    for b in range(2):
        P.insert_into_parts(
            _orders(
                spark,
                [
                    (b * 10 + 1, 1, "A:B", 1.0),
                    (b * 10 + 2, 2, "C D", 2.0),
                ],
            ),
            tbl,
        )
    want = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .select("o_status", "o_custkey", "o_orderkey")
        .collect()
    }
    res = P.optimize_partitions(spark, tbl, ["A:B"])
    assert res["merged"] == 2 and res["part"] is not None
    got = {
        tuple(r)
        for r in P.read_parts(spark, tbl, final=True)
        .select("o_status", "o_custkey", "o_orderkey")
        .collect()
    }
    assert got == want


def test_maintain_ttl_sweep_is_partition_pruned(spark, tbl):
    """A TTL maintain on a partitioned table merges ONLY the partitions
    holding expired rows (plus part-count-hot ones); a clean partition's
    files stay byte-identical — ClickHouse's merge-time TTL never
    rewrites parts with nothing to expire."""
    P.create_parts_table(
        tbl,
        engine="append",
        partition_col="status",
        ttl_col="born",
        ttl_seconds=100.0,
    )
    rows = spark.createDataFrame(
        [
            (1, "A", 50),    # expires at as_of=200
            (2, "A", 260),
            (3, "B", 250),   # clean partition
            (4, "B", 260),
        ],
        "id long, status string, born long",
    )
    P.insert_into_parts(rows, tbl)
    cold = {
        s["name"]: _file_snapshot(os.path.join(tbl, P.PARTS_DIR, s["name"], "status=B"))
        for s in P.parts_stats(tbl)
    }
    res = P.maintain_parts(spark, tbl, max_parts=8, as_of=200.0)
    assert res["optimized"] is True
    assert res["optimize"]["partitions"] == ["A"]
    # expired row physically gone; clean partition untouched on disk
    assert {r.id for r in P.read_parts(spark, tbl).collect()} == {2, 3, 4}
    for name, snap in cold.items():
        d = os.path.join(tbl, P.PARTS_DIR, name, "status=B")
        if os.path.isdir(d):
            assert _file_snapshot(d) == snap
    # a second sweep at the same as_of finds nothing expired: no-op
    res2 = P.maintain_parts(spark, tbl, max_parts=8, as_of=200.0)
    assert res2["optimized"] is False


def test_partition_stats_escaped_partition_values(spark, tbl):
    """partition_stats must du the ACTUAL Hive-escaped directory names
    (':' -> '%3A', ' ' -> '%20'); reconstructing the path from the
    unescaped value reports (0 bytes, 0 files) on the local backend and
    raises FileNotFound on remote ones (r9 ADVICE #1). The maintain
    merge policy reads these sizes, so they must be real."""
    P.create_parts_table(tbl, engine="append", partition_col="o_status")
    for b in range(3):
        P.insert_into_parts(
            _orders(spark, [(b * 10 + 1, 1, "A:B", 1.0), (b * 10 + 2, 2, "C D", 2.0)]),
            tbl,
        )
    ps = {p["partition"]: p for p in P.partition_stats(tbl)}
    assert set(ps) == {"A:B", "C D"}
    for p in ps.values():
        assert p["n_parts"] == 3
        assert p["bytes"] > 0 and p["files"] > 0

    # and the policy loop that consumes those stats merges the escaped
    # partitions like any other
    res = P.maintain_parts(spark, tbl, max_parts=2)
    assert res["optimized"] is True
    assert sorted(res["optimize"]["partitions"]) == ["A:B", "C D"]
    assert {p["n_parts"] for p in P.partition_stats(tbl)} == {1}
    assert P.read_parts(spark, tbl).count() == 6


def test_ttl_probe_predicate_is_pushdown_eligible(spark, tbl):
    """The TTL expiry predicate must reach the parquet scan as a bare
    column-vs-literal PushedFilter (r9 ADVICE #2) — arithmetic on the
    column side disables row-group stats pruning, turning every maintain
    sweep into a full ttl-column scan."""
    P.create_parts_table(
        tbl, engine="append", ttl_col="o_total", ttl_seconds=100.0
    )
    P.insert_into_parts(_orders(spark, [(1, 1, "A", 50.0), (2, 2, "B", 260.0)]), tbl)
    df = P.read_parts(spark, tbl, as_of=200.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_total,100.0)" in plan, plan
    assert {r.o_orderkey for r in df.collect()} == {2}
