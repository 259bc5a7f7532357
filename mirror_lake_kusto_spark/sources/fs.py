"""Pluggable driver-side blob I/O — the object-store seam.

The reference talks to Azure Blob Storage for ALL of its metadata I/O:
commit-log listing and reads (Storage/DeltaLake/DeltaTableGateway.cs:
161-213), checkpoint append-blob writes + the temp-blob/atomic-rename
compaction dance (Storage/CheckpointGateway.cs:46,87-104,
GlobalTableStatus.cs:210-222).  This engine's DATA path already goes
through Spark (any Hadoop-compatible filesystem works transparently);
this module gives the DRIVER-side metadata path the same reach.

Three backends, dispatched purely on the path's scheme:

- bare paths          -> ``LocalFS``  (os/shutil, byte-for-byte the
                         original behavior — zero overhead, no JVM)
- ``memory://...``    -> ``MemoryFS`` (process-global in-memory store;
                         the test double for remote-blob semantics:
                         exclusive-create, rename, no Spark access)
- any other scheme    -> ``HadoopFS`` (``file://``, ``s3a://``,
                         ``abfss://``, ``hdfs://``, ... via the active
                         SparkSession's Hadoop FileSystem through py4j
                         — the cluster's own connectors + credentials,
                         nothing bundled here)

``file://`` intentionally routes through ``HadoopFS`` so the py4j
plumbing is exercisable (and tested) without object-store credentials:
the same calls that run against ``abfss://`` in production run against
``file://`` in CI.

Atomicity notes (same trade-offs as every Delta implementation):
``create_exclusive`` is the optimistic-concurrency commit point.
Local: ``open(x)`` (POSIX atomic).  Memory: dict setdefault under a
lock.  Hadoop: ``fs.create(path, overwrite=false)`` — atomic on HDFS /
ABFS / GCS; raw S3 needs an external coordinator exactly as
delta-io documents (S3A alone cannot do atomic create-if-absent).
"""

from __future__ import annotations

import io
import os
import posixpath
import re
import shutil
import threading
import time

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def scheme_of(path: str) -> str:
    m = _SCHEME_RE.match(path)
    return m.group(0)[:-3].lower() if m else ""


def get_fs(path: str):
    """Backend for ``path``, chosen by scheme (see module doc)."""
    s = scheme_of(path)
    if s == "":
        return _LOCAL
    if s == "memory":
        return _MEMORY
    return HadoopFS.instance()


def join(base: str, *parts: str) -> str:
    """Path join that is URI-safe: a part that is itself a full URI
    restarts the result (mirroring ``os.path.join``'s absolute-path
    pass-through — shallow clones store absolute file references)."""
    for part in parts:
        if scheme_of(part):
            base = part
        elif scheme_of(base):
            base = posixpath.join(base, part)
        else:
            base = os.path.join(base, part)
    return base


class LocalFS:
    """Plain os/shutil — the default for bare paths."""

    spark_readable = True

    def listdir(self, d: str) -> list[str]:
        if not os.path.isdir(d):
            return []
        return os.listdir(d)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def isfile(self, p: str) -> bool:
        return os.path.isfile(p)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def write_text(self, p: str, data: str) -> None:
        with open(p, "w") as f:
            f.write(data)

    def write_bytes(self, p: str, data: bytes) -> None:
        with open(p, "wb") as f:
            f.write(data)

    def create_exclusive(self, p: str, data: str) -> None:
        with open(p, "x") as f:
            f.write(data)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def move(self, src: str, dst: str) -> None:
        shutil.move(src, dst)

    def remove(self, p: str) -> None:
        os.remove(p)

    def rmtree(self, d: str) -> None:
        shutil.rmtree(d, ignore_errors=True)

    def makedirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def getsize(self, p: str) -> int:
        return os.path.getsize(p)

    def getmtime_ms(self, p: str) -> int:
        """File modification time in epoch millis — the clock Delta's
        timestamp-based time travel resolves against when commitInfo
        carries no timestamp."""
        return int(os.path.getmtime(p) * 1000)

    def walk(self, d: str):
        # normalize to '/' separators: callers split walk-relative
        # paths on '/' to derive partition directories, which would
        # mis-parse os.sep paths on Windows
        for dirpath, dirs, files in os.walk(d):
            yield dirpath.replace(os.sep, "/"), dirs, files

    def normalize(self, p: str) -> str:
        """Canonical form for equality tests against Spark's
        ``input_file_name()`` output (which is a ``file:`` URI,
        percent-encoded)."""
        import urllib.parse

        p = urllib.parse.unquote(p)
        if p.startswith("file://"):
            p = p[7:]
        elif p.startswith("file:"):
            p = p[5:]
        return os.path.abspath(p)

    def open_input(self, p: str):
        return open(p, "rb")


class MemoryFS:
    """Process-global in-memory blob store for ``memory://`` paths.

    Models remote-blob semantics (flat namespace + exclusive create +
    rename) without any disk: the test double for crash-recovery and
    concurrency suites.  Directories are implicit (a prefix with
    children "exists"), like S3/ABFS."""

    spark_readable = False

    def __init__(self):
        self._blobs: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self._dirs: set[str] = set()
        self._mtimes: dict[str, int] = {}

    def _norm(self, p: str) -> str:
        return p.rstrip("/")

    def clear(self) -> None:
        with self._lock:
            self._blobs.clear()
            self._dirs.clear()
            self._mtimes.clear()

    def listdir(self, d: str) -> list[str]:
        d = self._norm(d) + "/"
        seen: set[str] = set()
        with self._lock:
            universe = set(self._blobs) | self._dirs
        for p in universe:
            if p.startswith(d):
                seen.add(p[len(d):].split("/", 1)[0])
        return sorted(seen)

    def exists(self, p: str) -> bool:
        return self.isfile(p) or self.isdir(p)

    def isdir(self, p: str) -> bool:
        d = self._norm(p)
        with self._lock:
            return d in self._dirs or any(
                b.startswith(d + "/") for b in self._blobs
            )

    def isfile(self, p: str) -> bool:
        with self._lock:
            return self._norm(p) in self._blobs

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode()

    def read_bytes(self, p: str) -> bytes:
        with self._lock:
            try:
                return self._blobs[self._norm(p)]
            except KeyError:
                raise FileNotFoundError(p) from None

    def write_text(self, p: str, data: str) -> None:
        with self._lock:
            self._blobs[self._norm(p)] = data.encode()
            self._mtimes[self._norm(p)] = int(time.time() * 1000)

    def write_bytes(self, p: str, data: bytes) -> None:
        with self._lock:
            self._blobs[self._norm(p)] = bytes(data)
            self._mtimes[self._norm(p)] = int(time.time() * 1000)

    def create_exclusive(self, p: str, data: str) -> None:
        key = self._norm(p)
        with self._lock:
            if key in self._blobs:
                raise FileExistsError(p)
            self._blobs[key] = data.encode()
            self._mtimes[key] = int(time.time() * 1000)

    def rename(self, src: str, dst: str) -> None:
        with self._lock:
            try:
                self._blobs[self._norm(dst)] = self._blobs.pop(self._norm(src))
            except KeyError:
                raise FileNotFoundError(src) from None
            self._mtimes[self._norm(dst)] = self._mtimes.pop(
                self._norm(src), int(time.time() * 1000)
            )

    move = rename

    def remove(self, p: str) -> None:
        with self._lock:
            try:
                del self._blobs[self._norm(p)]
            except KeyError:
                raise FileNotFoundError(p) from None

    def rmtree(self, d: str) -> None:
        d = self._norm(d)
        with self._lock:
            for k in [k for k in self._blobs if k.startswith(d + "/") or k == d]:
                del self._blobs[k]
            self._dirs -= {x for x in self._dirs if x.startswith(d + "/") or x == d}

    def makedirs(self, d: str) -> None:
        with self._lock:
            self._dirs.add(self._norm(d))

    def getsize(self, p: str) -> int:
        return len(self.read_bytes(p))

    def getmtime_ms(self, p: str) -> int:
        with self._lock:
            try:
                return self._mtimes[self._norm(p)]
            except KeyError:
                raise FileNotFoundError(p) from None

    def walk(self, d: str):
        d = self._norm(d)
        with self._lock:
            blobs = [k for k in self._blobs if k.startswith(d + "/")]
        by_dir: dict[str, list[str]] = {}
        dirs: set[str] = {d}
        for b in blobs:
            parent, name = b.rsplit("/", 1)
            by_dir.setdefault(parent, []).append(name)
            while parent != d:
                dirs.add(parent)
                parent = parent.rsplit("/", 1)[0]
        for cur in sorted(dirs):
            kids = sorted(
                x[len(cur) + 1:].split("/", 1)[0]
                for x in dirs
                if x.startswith(cur + "/") and "/" not in x[len(cur) + 1:]
            )
            yield cur, kids, sorted(by_dir.get(cur, []))

    def normalize(self, p: str) -> str:
        return self._norm(p)

    def open_input(self, p: str):
        return io.BytesIO(self.read_bytes(p))


class HadoopFS:
    """Driver-side metadata I/O through the active SparkSession's
    Hadoop ``FileSystem`` (py4j) — whatever connectors + credentials
    the cluster is configured with (s3a, abfss, gs, hdfs, file, ...).

    Only METADATA flows through here (commit JSONs, ``_last_checkpoint``,
    state CSVs, staging renames) — O(files) small ops per batch; data
    files move through Spark jobs.  Mirrors DeltaTableGateway.cs's use
    of the Azure SDK for the same role."""

    spark_readable = True
    _inst: "HadoopFS | None" = None

    @classmethod
    def instance(cls) -> "HadoopFS":
        if cls._inst is None:
            cls._inst = cls()
        return cls._inst

    def __init__(self):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "HadoopFS needs an active SparkSession (the Hadoop "
                "FileSystem rides the session's JVM + configuration)"
            )
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def listdir(self, d: str) -> list[str]:
        jp = self._path(d)
        fs = jp.getFileSystem(self._conf)
        if not fs.exists(jp):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jp)]

    def exists(self, p: str) -> bool:
        return bool(self._fs(p).exists(self._path(p)))

    def isdir(self, p: str) -> bool:
        jp = self._path(p)
        fs = jp.getFileSystem(self._conf)
        return bool(fs.exists(jp) and fs.getFileStatus(jp).isDirectory())

    def isfile(self, p: str) -> bool:
        jp = self._path(p)
        fs = jp.getFileSystem(self._conf)
        return bool(fs.exists(jp) and fs.getFileStatus(jp).isFile())

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode()

    def read_bytes(self, p: str) -> bytes:
        jp = self._path(p)
        fs = jp.getFileSystem(self._conf)
        stream = fs.open(jp)
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return bytes(data)
        finally:
            stream.close()

    def _write(self, p: str, data: bytes, overwrite: bool) -> None:
        jp = self._path(p)
        fs = jp.getFileSystem(self._conf)
        out = fs.create(jp, overwrite)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def write_text(self, p: str, data: str) -> None:
        self._write(p, data.encode(), True)

    def write_bytes(self, p: str, data: bytes) -> None:
        self._write(p, data, True)

    def create_exclusive(self, p: str, data: str) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            self._write(p, data.encode(), False)
        except Py4JJavaError as e:
            cls = e.java_exception.getClass().getName()
            if "FileAlreadyExists" in cls or "AlreadyExists" in cls:
                raise FileExistsError(p) from None
            raise

    def rename(self, src: str, dst: str) -> None:
        fs = self._fs(src)
        if not fs.rename(self._path(src), self._path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    move = rename

    def remove(self, p: str) -> None:
        if not self._fs(p).delete(self._path(p), False):
            raise FileNotFoundError(p)

    def rmtree(self, d: str) -> None:
        jp = self._path(d)
        fs = jp.getFileSystem(self._conf)
        if fs.exists(jp):
            fs.delete(jp, True)

    def makedirs(self, d: str) -> None:
        self._fs(d).mkdirs(self._path(d))

    def getsize(self, p: str) -> int:
        return int(self._fs(p).getFileStatus(self._path(p)).getLen())

    def getmtime_ms(self, p: str) -> int:
        return int(
            self._fs(p).getFileStatus(self._path(p)).getModificationTime()
        )

    def walk(self, d: str):
        # paths are built from the CALLER'S root spelling (not Hadoop's
        # re-qualified form) so joins against yielded dirpaths resolve
        # on the same FileSystem instance
        fs = self._fs(d)
        if not fs.exists(self._path(d)):
            return

        def rec(cur: str):
            dirs, files = [], []
            for st in fs.listStatus(self._path(cur)):
                name = st.getPath().getName()
                (dirs if st.isDirectory() else files).append(name)
            yield cur, dirs, files
            for sub in dirs:
                yield from rec(posixpath.join(cur, sub))

        yield from rec(d.rstrip("/"))

    def normalize(self, p: str) -> str:
        import urllib.parse

        p = urllib.parse.unquote(p)
        return (
            self._fs(p)
            .makeQualified(self._path(p))
            .toString()
        )

    def open_input(self, p: str):
        """Seekable file-like over a remote blob — ranged reads through
        the FSDataInputStream, so parquet FOOTER reads never download
        the file (the add-action stats path at 100 TB must not pull
        data files to the driver)."""
        jp = self._path(p)
        fs = jp.getFileSystem(self._conf)
        return _HadoopInput(
            self._jvm, fs.open(jp), int(fs.getFileStatus(jp).getLen())
        )


class _HadoopInput(io.RawIOBase):
    def __init__(self, jvm, stream, size):
        self._jvm = jvm
        self._stream = stream
        self._size = size

    def readable(self):
        return True

    def seekable(self):
        return True

    def seek(self, pos, whence=0):
        if whence == 1:
            pos += self.tell()
        elif whence == 2:
            pos += self._size
        self._stream.seek(pos)
        return pos

    def tell(self):
        return int(self._stream.getPos())

    def read(self, n=-1):
        remaining = self._size - self.tell()
        if n is None or n < 0 or n > remaining:
            n = remaining
        if n <= 0:
            return b""
        data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
            self._stream, n
        )
        return bytes(data)

    def close(self):
        try:
            self._stream.close()
        finally:
            super().close()


def parquet_metadata(path: str):
    """Parquet footer metadata for ``path`` on any backend.  Local
    paths use pyarrow directly; remote ones go through a seekable
    ranged-read adapter (footer-only I/O)."""
    import pyarrow.parquet as pq

    f = get_fs(path)
    if f is _LOCAL:
        return pq.read_metadata(path)
    with f.open_input(path) as h:
        return pq.read_metadata(h)


_LOCAL = LocalFS()
_MEMORY = MemoryFS()


def spark_scan_path(col):
    """Spark-side twin of :func:`scan_path_spelling`: canonicalize a
    scan-time file identity (``input_file_name()`` /
    ``_metadata.file_path``) for equality joins against the
    Python-side spelling.  ``url_decode`` alone is
    application/x-www-form-urlencoded — it turns a literal ``+`` into
    a space, which ``urllib.parse.unquote`` (the Python side) does
    not, so a path containing ``+`` (e.g. partition value
    ``tz=UTC+8``) would silently miss every identity join.  Escaping
    ``+`` to ``%2B`` first makes both engines preserve it."""
    from pyspark.sql import functions as F

    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(col, "^file:(//)?", ""), r"\+", "%2B"
        )
    )


def scan_path_spelling(base: str, rel: str) -> str:
    """Exactly what :func:`spark_scan_path` yields for a scan of data
    file ``rel`` under table ``base``: the path the reader opened,
    absolute, ``file:`` scheme dropped, other schemes (s3a, abfss, ...)
    kept.  A literal ``%`` in a directory name (Spark escapes ``:`` in
    partition values as ``%3A``) stays as written."""
    import re as _re

    full = join(base, rel)
    if not scheme_of(full):
        return os.path.abspath(full)
    if full.startswith("file:"):
        return _re.sub(r"^file:/*", "/", full)
    return full


def data_path_spelling(base: str, rel: str) -> str:
    """Percent-decoded :func:`scan_path_spelling` — the per-file
    identity key the deletion-vector and DML paths share (payload
    frames, ``by_norm`` maps, ``__mlk_file`` from
    :func:`delta_log.read_files`)."""
    import urllib.parse as _up

    return _up.unquote(scan_path_spelling(base, rel))
