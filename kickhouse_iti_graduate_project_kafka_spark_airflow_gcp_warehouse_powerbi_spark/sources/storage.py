"""Storage I/O — one filesystem interface for every table format.

Parts tables (``parts.py``), partition retention (``gold_layout.py``),
the dedup and semdedup index swaps, the forget path and the streaming
sketches all reach storage through the two backends here, picked by
path scheme:

- schemeless local paths → driver ``os`` I/O: write-temp + ``fsync`` +
  ``os.replace`` + directory fsync (rename survives power loss);
- any URI (``file:``, ``hdfs://``, ``s3a://``, ``gs://``, ...) → the
  Hadoop ``FileSystem`` API via ``spark._jvm``: write-temp + ``hsync``
  (``hflush`` fallback) + ``FileContext.rename(..., Rename.OVERWRITE)``,
  the same atomic-swap protocol HDFS guarantees and Delta's HDFSLogStore
  relies on. ``file:`` URIs exercise this path in tests through Hadoop's
  LocalFileSystem. On stores without atomic rename (raw S3A without a
  consistent-rename layer) the single-small-object PUT that the rename
  degrades into is still a whole-object swap on today's strongly
  consistent S3; for anything weaker, front the path with a rename-atomic
  layer as Delta requires. A ``file:`` URI with no active SparkSession
  falls back to the (identical-FS) local backend so driver-side tools can
  read metadata without a JVM.

The dedup and semdedup index swaps construct :class:`HadoopIO` directly
for every path (schemeless ones resolve to Hadoop's default filesystem):
they need its directory ``exists``/``rename``, which only that backend
has.
"""

from __future__ import annotations

import json
import os
import posixpath
import tempfile
import uuid
from urllib.parse import unquote, urlsplit

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


class LocalIO:
    """Driver-local ``os`` I/O for schemeless paths: the strongest local
    durability story (fsync file + fsync directory entry)."""

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def read_text(self, p: str) -> str | None:
        if not os.path.isfile(p):
            return None
        with open(p) as f:
            return f.read()

    def list_names(self, d: str) -> list[str]:
        return os.listdir(d)

    def write_swap(self, d: str, name: str, text: str) -> None:
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(d, name))
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        # a Hadoop LocalFileSystem writer may have left a checksum sibling
        # (.<name>.crc); replacing the data file without it would make the
        # next Hadoop-backend read fail ChecksumException on a healthy
        # file. A MISSING crc is fine (verification is skipped), a
        # stale one is not — drop it.
        crc = os.path.join(d, f".{name}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def rmtree(self, p: str) -> None:
        import shutil

        shutil.rmtree(p, ignore_errors=True)

    def write_exclusive(self, d: str, name: str, text: str) -> bool:
        """Create ``d/name`` with ``text`` iff it does not exist — the
        optimistic-concurrency commit primitive (two writers racing on the
        same version file: exactly one wins). Implemented as write-temp +
        fsync + ``os.link`` (an atomic create-exclusive that publishes the
        FULL content — a reader can never observe a torn file, unlike
        O_EXCL + incremental writes). Returns False when the loser should
        re-read state and retry."""
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, os.path.join(d, name))
            except FileExistsError:
                return False
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            return True
        finally:
            os.unlink(tmp)

    def mtime(self, p: str) -> float:
        return os.path.getmtime(p)

    def list_stats(self, d: str) -> dict[str, tuple[int, float]]:
        """name → (bytes, mtime) of every entry of directory ``d``; empty
        when it is absent."""
        try:
            with os.scandir(d) as it:
                return {e.name: (e.stat().st_size, e.stat().st_mtime) for e in it}
        except FileNotFoundError:
            return {}

    def du(self, p: str) -> tuple[int, int]:
        """(bytes, files) under a path — the system.parts size probe."""
        total = files = 0
        if os.path.isfile(p):
            return os.path.getsize(p), 1
        for root, _dirs, names in os.walk(p):
            for n in names:
                fp = os.path.join(root, n)
                if os.path.isfile(fp):
                    total += os.path.getsize(fp)
                    files += 1
        return total, files

    def delete(self, p: str) -> None:
        """Remove a file OR a directory tree (``rmtree`` silently no-ops
        on plain files under ``ignore_errors``)."""
        if os.path.isdir(p):
            self.rmtree(p)
        elif os.path.exists(p):
            os.unlink(p)


class HadoopIO:
    """Hadoop ``FileSystem`` I/O for URI paths, driven over py4j from the
    active SparkSession's JVM. The swap uses ``FileContext.rename`` with
    ``Options.Rename.OVERWRITE`` — the API whose atomicity HDFS
    guarantees (plain ``FileSystem.rename`` refuses an existing
    destination, and delete-then-rename would open a window in which
    readers find no file at all)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._gw = spark.sparkContext._gateway

    def _jpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._jpath(p).getFileSystem(self._conf)

    def exists(self, p: str) -> bool:
        return bool(self._fs(p).exists(self._jpath(p)))

    def isdir(self, p: str) -> bool:
        fs = self._fs(p)
        jp = self._jpath(p)
        return bool(fs.exists(jp)) and bool(fs.getFileStatus(jp).isDirectory())

    def mkdirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._jpath(p))

    def read_text(self, p: str) -> str | None:
        fs = self._fs(p)
        jp = self._jpath(p)
        if not fs.exists(jp):
            return None
        ins = fs.open(jp)
        try:
            # JDK InputStream.readAllBytes: the byte[] comes back by value
            # as Python bytes (py4j copies byte arrays across the bridge,
            # so filling a JVM-side buffer via readFully would not be
            # visible here)
            return bytes(ins.readAllBytes()).decode("utf-8")
        finally:
            ins.close()

    def list_names(self, d: str) -> list[str]:
        return [s.getPath().getName() for s in self._fs(d).listStatus(self._jpath(d))]

    def write_swap(self, d: str, name: str, text: str) -> None:
        tmp = f"{d.rstrip('/')}/.{name}.{uuid.uuid4().hex}.tmp"
        fs = self._fs(d)
        try:
            out = fs.create(self._jpath(tmp), True)
            try:
                out.write(bytearray(text.encode("utf-8")))
                try:
                    out.hsync()  # durable on HDFS; LocalFileSystem flushes
                except Exception:
                    out.hflush()
            finally:
                out.close()
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._jvm.java.net.URI(d), self._conf
            )
            rename_cls = getattr(self._jvm, "org.apache.hadoop.fs.Options$Rename")
            opts = self._gw.new_array(rename_cls, 1)
            opts[0] = rename_cls.OVERWRITE
            fc.rename(self._jpath(tmp), self._jpath(f"{d.rstrip('/')}/{name}"), opts)
        except Exception:
            # mirror the local backend: never leave temp litter behind a
            # failed swap (retrying streams would accumulate it forever)
            try:
                fs.delete(self._jpath(tmp), False)
            except Exception:
                pass
            raise

    def rename(self, src: str, dst: str) -> None:
        """Plain ``FileSystem.rename`` (an atomic directory move on
        HDFS/local) for callers that swap directories by renaming onto a
        path proven absent. A rename the filesystem reports as failed, or
        refuses with a Java exception (a missing source on LocalFileSystem
        throws ``FileNotFoundException``), raises ``OSError``."""
        try:
            ok = self._fs(src).rename(self._jpath(src), self._jpath(dst))
        except Py4JJavaError as e:
            raise OSError(f"rename failed: {src} -> {dst}") from e
        if not ok:
            raise OSError(f"rename failed: {src} -> {dst}")

    def rmtree(self, p: str) -> None:
        fs = self._fs(p)
        jp = self._jpath(p)
        if fs.exists(jp):
            fs.delete(jp, True)

    def write_exclusive(self, d: str, name: str, text: str) -> bool:
        """Create-if-absent commit primitive: write-temp + plain
        ``FileSystem.rename``, which REFUSES an existing destination (the
        exact opposite of ``write_swap``'s Rename.OVERWRITE) — on HDFS an
        atomic namespace operation, so exactly one of two racing committers
        wins and the loser's temp is cleaned up. Returns False to signal
        retry-with-next-version."""
        base = d.rstrip("/")
        tmp = f"{base}/.{name}.{uuid.uuid4().hex}.tmp"
        fs = self._fs(d)
        dst = self._jpath(f"{base}/{name}")
        try:
            if fs.exists(dst):
                return False
            out = fs.create(self._jpath(tmp), True)
            try:
                out.write(bytearray(text.encode("utf-8")))
                try:
                    out.hsync()
                except Exception:
                    out.hflush()
            finally:
                out.close()
            ok = bool(fs.rename(self._jpath(tmp), dst))
            if not ok:
                fs.delete(self._jpath(tmp), False)
            return ok
        except Exception:
            try:
                fs.delete(self._jpath(tmp), False)
            except Exception:
                pass
            raise

    def mtime(self, p: str) -> float:
        return self._fs(p).getFileStatus(self._jpath(p)).getModificationTime() / 1000.0

    def list_stats(self, d: str) -> dict[str, tuple[int, float]]:
        """name → (bytes, mtime) of every entry of directory ``d``, from
        one ``listStatus`` RPC; empty when it is absent."""
        fs, jp = self._fs(d), self._jpath(d)
        try:
            statuses = fs.listStatus(jp)
        except Py4JJavaError:
            if not fs.exists(jp):
                return {}
            raise
        return {
            st.getPath().getName(): (int(st.getLen()), st.getModificationTime() / 1000.0)
            for st in statuses
        }

    def du(self, p: str) -> tuple[int, int]:
        """(bytes, files) under a path — one ``getContentSummary`` RPC."""
        cs = self._fs(p).getContentSummary(self._jpath(p))
        return int(cs.getLength()), int(cs.getFileCount())

    def delete(self, p: str) -> None:
        """File-or-directory delete (``FileSystem.delete`` handles both)."""
        self.rmtree(p)


def _hadoop_io(spark: SparkSession) -> HadoopIO:
    """Factory, separate so tests can monkeypatch a fake backend to prove
    the routing of non-local schemes without an object store in the box."""
    return HadoopIO(spark)


def io_for(target_path: str):
    """Pick the storage backend for ``target_path`` and normalize the
    path the backend should use. Fails CLOSED: a remote URI with no active
    SparkSession raises rather than silently skipping the commit
    protocol."""
    if "://" not in target_path and not target_path.startswith("file:"):
        return LocalIO(), target_path
    spark = SparkSession.getActiveSession()
    if spark is not None:
        return _hadoop_io(spark), target_path
    if target_path.startswith("file:"):
        # same filesystem, same protocol — allow driver-side tools without
        # a JVM to read local table metadata
        local = target_path[len("file:"):] or "/"
        return LocalIO(), local
    raise RuntimeError(
        f"storage I/O for remote path {target_path!r} needs an "
        "active SparkSession (Hadoop FileSystem access); refusing to fail "
        "open without the commit protocol."
    )


def join(io, base: str, *parts: str) -> str:
    if isinstance(io, LocalIO):
        return os.path.join(base, *parts)
    return posixpath.join(base.rstrip("/"), *parts)


def file_stats(uris) -> list[tuple[int, float] | None]:
    """(bytes, mtime) of each file, None for an absent one: a
    metadata-only fingerprint of what a scan would read. ``uris`` are
    percent-encoded file URIs as Spark lists them (``inputFiles()``). Each
    distinct parent directory is listed once, so a Hadoop store pays one
    ``listStatus`` RPC per directory rather than one ``getFileStatus`` per
    file; a ``file:`` URI is the driver's own filesystem and is listed
    with ``os.scandir`` rather than over py4j."""
    listings: dict[str, dict] = {}
    out = []
    for uri in uris:
        d, _, name = uri.rpartition("/")
        if d not in listings:
            if d.startswith("file:"):
                listings[d] = LocalIO().list_stats(unquote(urlsplit(d).path) or "/")
            else:
                io, q = io_for(unquote(d))
                listings[d] = io.list_stats(q)
        out.append(listings[d].get(unquote(name)))
    return out


def rmtree(path: str) -> None:
    """Remove the directory tree at ``path`` on whichever backend serves
    its scheme — a plain ``shutil.rmtree`` silently no-ops on HDFS/S3/
    viewfs paths. A missing path is not an error."""
    io, p = io_for(path)
    io.rmtree(p)


def checkpoint_query_id(checkpoint: str) -> str | None:
    """The streaming query id Spark persists at ``<checkpoint>/metadata``
    on first start — stable across restarts of the same stream, freshly
    generated when the checkpoint is reset. This is the natural
    transaction app id for a parts-table sink: it changes exactly when
    batch-id sequences restart.

    Returns None ONLY when the metadata file does not exist (query not
    started / ad-hoc caller). Read or parse failures PROPAGATE: swallowing
    them would fall back to the shared empty app id, under which a reset
    stream's early batches would be skipped as replays — silent data
    loss."""
    io, path = io_for(checkpoint)
    text = io.read_text(join(io, path, "metadata"))
    if text is None:
        return None
    try:
        qid = json.loads(text).get("id")
    except (json.JSONDecodeError, AttributeError) as e:
        raise RuntimeError(
            f"unreadable streaming checkpoint metadata at {checkpoint!r}: {e}"
        ) from None
    return str(qid) if qid else None
