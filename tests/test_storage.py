"""Storage I/O (sources/storage.py): scheme routing, fail-closed remote
access, the ``file:`` fallback, the swap and create-exclusive commit
primitives on every backend, checkpoint query ids, and the layering rule
that keeps storage below streaming."""

import ast
import json
import os
import pathlib

import pytest

from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources import (
    parts as P,
)
from kickhouse_iti_graduate_project_kafka_spark_airflow_gcp_warehouse_powerbi_spark.sources import (
    storage as S,
)

PKG = pathlib.Path(S.__file__).resolve().parents[1]


@pytest.fixture()
def scheme_dir(scheme_root):
    root, local = scheme_root
    return f"{root}/d", os.path.join(local, "d")


def test_remote_scheme_routes_through_hadoop_backend(spark, tmp_path, monkeypatch):
    """Non-local schemes go to the Hadoop backend factory, never driver
    ``os`` I/O. The factory is swapped for a fake that records the paths
    it is handed and serves them from a local dir (no object store in the
    box): parts-table metadata, checkpoint reads and deletes must all
    work through the backend interface alone."""
    base = str(tmp_path / "mockstore")
    os.makedirs(base)
    seen: list[str] = []

    class _FakeRemoteIO(S.LocalIO):
        def _map(self, p):
            assert p.startswith("mock://bucket/"), p
            seen.append(p)
            return os.path.join(base, p[len("mock://bucket/"):])

        def isdir(self, p):
            return super().isdir(self._map(p))

        def mkdirs(self, p):
            super().mkdirs(self._map(p))

        def read_text(self, p):
            return super().read_text(self._map(p))

        def list_names(self, d):
            return super().list_names(self._map(d))

        def write_swap(self, d, name, text):
            super().write_swap(self._map(d), name, text)

        def write_exclusive(self, d, name, text):
            return super().write_exclusive(self._map(d), name, text)

        def rmtree(self, p):
            super().rmtree(self._map(p))

    monkeypatch.setattr(S, "_hadoop_io", lambda _spark: _FakeRemoteIO())
    io, path = S.io_for("mock://bucket/t")
    assert isinstance(io, _FakeRemoteIO) and path == "mock://bucket/t"

    meta = P.create_parts_table("mock://bucket/t", engine="append")
    assert P.create_parts_table("mock://bucket/t", engine="append") == meta
    assert P.current_version("mock://bucket/t") == 0
    assert os.path.isfile(os.path.join(base, "t", P.TABLE_META))

    os.makedirs(os.path.join(base, "ckpt"))
    with open(os.path.join(base, "ckpt", "metadata"), "w") as f:
        json.dump({"id": "q-remote"}, f)
    assert S.checkpoint_query_id("mock://bucket/ckpt") == "q-remote"
    S.rmtree("mock://bucket/ckpt")
    assert not os.path.exists(os.path.join(base, "ckpt"))
    assert seen and all(p.startswith("mock://bucket/") for p in seen)


def test_remote_uri_without_session_fails_closed_and_file_uri_falls_back(
    tmp_path, monkeypatch
):
    """No active SparkSession: a remote URI raises (no JVM, no Hadoop
    FileSystem — refusing beats skipping the commit protocol), while a
    ``file:`` URI falls back to the local backend on the same files."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    with pytest.raises(RuntimeError, match="active SparkSession"):
        S.io_for("s3a://bucket/table")
    with pytest.raises(RuntimeError, match="active SparkSession"):
        P.current_version("hdfs://nn/table")

    io, path = S.io_for(f"file:{tmp_path}/t")
    assert isinstance(io, S.LocalIO) and path == f"{tmp_path}/t"
    assert S.io_for("file:")[1] == "/"
    assert S.checkpoint_query_id("file:/nonexistent/ckpt") is None
    P.create_parts_table(f"file:{tmp_path}/t", engine="append")
    assert P.current_version(f"{tmp_path}/t") == 0


def test_backend_choice_by_scheme(spark, scheme_dir):
    d, _ = scheme_dir
    io, path = S.io_for(d)
    want = S.LocalIO if not d.startswith(("file:", "viewfs:")) else S.HadoopIO
    assert isinstance(io, want) and path == d


def test_file_stats_on_every_backend(spark, scheme_dir, monkeypatch):
    """Size and mtime of each file as Spark lists it (percent-encoded), None
    for a missing one, from one listing per parent directory; a ``file:``
    URI reads the same local file without the Hadoop backend."""
    d, local = scheme_dir
    os.makedirs(os.path.join(local, "p=x y"))
    for name in ("a b.bin", "c.bin", "p=x y/e.bin"):
        with open(os.path.join(local, name), "wb") as f:
            f.write(b"x" * 7)
    st = os.stat(os.path.join(local, "a b.bin"))
    uri = pathlib.Path(local, "a b.bin").as_uri()  # file:///.../a%20b.bin
    listed = []
    for cls in (S.LocalIO, S.HadoopIO):
        def counted(self, q, _orig=cls.list_stats):
            listed.append(q)
            return _orig(self, q)
        monkeypatch.setattr(cls, "list_stats", counted)
    got = S.file_stats([
        f"{d}/a%20b.bin", f"{d}/c.bin", f"{d}/missing", f"{d}/p=x%20y/e.bin",
        f"{d}/nodir/f.bin", uri,
    ])
    assert [g and g[0] for g in got] == [7, 7, None, 7, None, 7]
    assert abs(got[0][1] - st.st_mtime) < 1 and got[5][1] == st.st_mtime
    assert len(listed) == 4  # d, d/p=x y, d/nodir and the file: URI's dir


def test_write_swap_round_trip_leaves_no_temp_files(spark, scheme_dir):
    """Temp write + sync + atomic rename-overwrite: the second swap
    replaces the first in place and no ``.tmp`` litter survives."""
    d, local = scheme_dir
    io, base = S.io_for(d)
    io.mkdirs(base)
    io.write_swap(base, "meta.json", '{"v": 1}')
    io.write_swap(base, "meta.json", '{"v": 2}')  # swap over an existing file
    assert io.read_text(S.join(io, base, "meta.json")) == '{"v": 2}'
    assert io.read_text(S.join(io, base, "absent.json")) is None
    names = io.list_names(base)
    assert "meta.json" in names
    assert [n for n in names if n.endswith(".tmp")] == []
    assert [n for n in os.listdir(local) if n.endswith(".tmp")] == []


def test_write_exclusive_round_trip(spark, scheme_dir):
    """Create-if-absent: the first writer wins, the loser gets False and
    the winner's content stays; no temp file is left by either."""
    d, local = scheme_dir
    io, base = S.io_for(d)
    io.mkdirs(base)
    assert io.write_exclusive(base, "v1.json", "first")
    assert not io.write_exclusive(base, "v1.json", "second")
    assert io.read_text(S.join(io, base, "v1.json")) == "first"
    assert [n for n in os.listdir(local) if n.endswith(".tmp")] == []


def test_local_swap_drops_stale_hadoop_checksum(spark, tmp_path):
    """A Hadoop LocalFileSystem write leaves a ``.<name>.crc`` sibling; a
    later local swap of the same file must drop it, or the next Hadoop
    read fails its checksum on a healthy file."""
    d = str(tmp_path)
    hio, hbase = S.io_for(f"file:{d}")
    hio.write_swap(hbase, "meta.json", "hadoop-written")
    assert os.path.exists(os.path.join(d, ".meta.json.crc"))
    S.LocalIO().write_swap(d, "meta.json", "locally rewritten, longer text")
    assert not os.path.exists(os.path.join(d, ".meta.json.crc"))
    assert hio.read_text(S.join(hio, hbase, "meta.json")) == "locally rewritten, longer text"


def test_hadoop_exists_rename_and_rmtree(spark, scheme_dir):
    """The directory ops the index swaps use, on every scheme: exists, a
    directory rename onto an absent path, and the scheme-aware
    ``rmtree``."""
    d, local = scheme_dir
    fs = S.HadoopIO(spark)
    fs.mkdirs(f"{d}/b")
    assert fs.exists(f"{d}/b") and not fs.exists(f"{d}/c")
    fs.rename(f"{d}/b", f"{d}/c")
    assert not fs.exists(f"{d}/b") and os.path.isdir(os.path.join(local, "c"))
    S.rmtree(f"{d}/c")
    S.rmtree(f"{d}/never_existed")  # a missing path is not an error
    assert not os.path.exists(os.path.join(local, "c"))


def test_hadoop_rename_of_missing_source_raises_oserror(spark, scheme_dir):
    """A rename whose source is missing raises the backend's own OSError on
    every scheme, whether the filesystem returns false or throws."""
    d, local = scheme_dir
    fs = S.HadoopIO(spark)
    fs.mkdirs(d)
    with pytest.raises(OSError, match="rename failed"):
        fs.rename(f"{d}/missing", f"{d}/c")
    assert not os.path.exists(os.path.join(local, "c"))


def test_checkpoint_query_id_derivation(tmp_path):
    """The parts sinks' default app id: the streaming query id Spark
    persists at <checkpoint>/metadata — stable across restarts,
    regenerated when the checkpoint is reset; an unreadable file raises."""
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    assert S.checkpoint_query_id(str(ckpt)) is None  # not started yet
    (ckpt / "metadata").write_text(json.dumps({"id": "3f1d9c2a-query-id"}))
    assert S.checkpoint_query_id(str(ckpt)) == "3f1d9c2a-query-id"
    assert S.checkpoint_query_id(str(tmp_path / "never_existed")) is None
    (ckpt / "metadata").write_text("not json")
    with pytest.raises(RuntimeError, match="unreadable streaming checkpoint"):
        S.checkpoint_query_id(str(ckpt))


def _imported_modules(path: pathlib.Path):
    """Absolute names of every module ``path`` imports (relative imports
    resolved against its package), lazy function-level imports included."""
    pkg = [PKG.name, path.parent.name]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = ".".join(pkg[: len(pkg) - node.level + 1]) if node.level else ""
            mod = ".".join(p for p in (base, node.module) if p)
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def test_storage_and_operators_do_not_import_streaming():
    """Layering: ``sources/`` and ``operators/`` sit below ``streaming/``;
    none of their modules may import from it, lazily or not."""
    streaming = f"{PKG.name}.streaming"
    files = sorted((PKG / "sources").glob("*.py")) + sorted((PKG / "operators").glob("*.py"))
    assert len(files) > 10
    hits = [
        f"{f.parent.name}/{f.name}: {m}"
        for f in files
        for m in _imported_modules(f)
        if m == streaming or m.startswith(streaming + ".")
    ]
    assert hits == []
