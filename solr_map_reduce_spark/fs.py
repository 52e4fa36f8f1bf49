"""Filesystem abstraction for artifact control-plane operations.

The reference performs all artifact management directly on HDFS — writing
shard indexes, renaming results into place, merging segment directories
(map-reduce/src/main/java/com/riskiq/solr/hadoop/SolrRecordWriter.java:124-191,
TreeMergeOutputFormat.java:131-234, MapReduceIndexerTool.java:818-836).  In
this engine Spark already reads/writes the parquet DATA on any
Hadoop-supported scheme; what needs abstracting is the control plane around
it — manifest/marker files, atomic directory swaps, segment listing — which
previously assumed a POSIX filesystem (``os``/``shutil``).

Two implementations behind one small interface:

- :class:`LocalFS` — plain ``os``/``shutil`` for scheme-less paths; no JVM
  round-trips (the hot path for tests and single-node runs).
- :class:`HadoopFS` — ``org.apache.hadoop.fs.FileSystem`` through the active
  session's JVM: one code path for ``hdfs://``, ``s3a://``, ``file://`` or
  anything else the cluster's Hadoop configuration supports.  Control-plane
  calls are driver-side and O(shards), never O(data).

``get_fs(path)`` picks by URI scheme.  All paths are passed through
verbatim — callers join with :func:`join` (URI-safe, unlike
``os.path.join``).

Serving lookups whose input is a handful of small files (ANN bucket
probes, BM25 df lookups) read them in the driver: :func:`data_files` lists
a dataset dir the way Spark's reader does, and :func:`read_parquet` decodes
one file's bytes with pyarrow, pinned to the schema its writer recorded.
:func:`read_footer` reads only a file's footer (point lookups take each
file's key span from its row-group statistics).  None of them runs a
Spark job, on any scheme.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse


def join(path: str, *names: str) -> str:
    """URI-safe path join (``os.path.join`` mangles scheme prefixes)."""
    out = path.rstrip("/")
    for n in names:
        out += "/" + n.strip("/")
    return out


class LocalFS:
    """POSIX control plane — the scheme-less fast path."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        shutil.move(src, dst)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    def copy_file(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def read_text(self, path: str) -> str:
        with open(path, encoding="utf-8") as f:
            return f.read()

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        """ATOMIC replace (same-dir temp + ``os.replace``): markers and
        meta files are the engine's commit points, and every crash-safety
        argument assumes a reader sees the OLD text, the NEW text, or no
        file — never a torn half-write.  A plain open-truncate-write
        leaves exactly that torn state on a crash (a half-written
        ``_SEARCH_STATS.json`` CRASHES readers with a JSON error instead
        of taking their designed marker-absent fallback)."""
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(text)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise

    def create_exclusive(self, path: str, text: str) -> bool:
        """Atomically create ``path`` with ``text`` iff it does not exist.
        Returns False when another writer already created it — the lock
        primitive (plain exists-then-write races: two mutators can both
        pass the exists check and both believe they hold the lock)."""
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(text)
        return True


class HadoopFS:
    """Hadoop FileSystem control plane via the session JVM (py4j).

    Each operation resolves the filesystem for its path's scheme from the
    session's Hadoop configuration, so one instance serves mixed schemes.
    """

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._gateway = spark.sparkContext._gateway

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._path(path)))

    def isdir(self, path: str) -> bool:
        fs = self._fs(path)
        p = self._path(path)
        return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())

    def listdir(self, path: str) -> list[str]:
        statuses = self._fs(path).listStatus(self._path(path))
        return sorted(st.getPath().getName() for st in statuses)

    def mkdirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._path(path))

    def rename(self, src: str, dst: str) -> None:
        if not self._fs(src).rename(self._path(src), self._path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        self._fs(path).delete(self._path(path), True)

    def copy_file(self, src: str, dst: str) -> None:
        self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs(src), self._path(src),
            self._fs(dst), self._path(dst),
            False,  # keep source
            True,   # overwrite
            self._conf,
        )

    def mtime(self, path: str) -> float:
        return (
            self._fs(path).getFileStatus(self._path(path)).getModificationTime()
            / 1000.0
        )

    def read_text(self, path: str) -> str:
        fs = self._fs(path)
        stream = fs.open(self._path(path))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()

    def read_bytes(self, path: str) -> bytes:
        fs = self._fs(path)
        stream = fs.open(self._path(path))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def parquet_tail(self, path: str) -> bytes:
        """A parquet file's tail: its footer, the footer's length and the
        closing magic.  Two positioned reads at the end of the file; the
        data pages are never read."""
        fs = self._fs(path)
        p = self._path(path)
        size = int(fs.getFileStatus(p).getLen())
        if size < 12:
            raise OSError(f"not a parquet file: {path}")
        io = self._jvm.org.apache.commons.io.IOUtils
        stream = fs.open(p)
        try:
            stream.seek(size - 8)
            trailer = bytes(io.toByteArray(stream, 8))
            n = int.from_bytes(trailer[:4], "little")
            if trailer[4:] != b"PAR1" or n > size - 12:
                raise OSError(f"not a parquet file: {path}")
            stream.seek(size - 8 - n)
            return bytes(io.toByteArray(stream, n)) + trailer
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        """Write-temp-then-ATOMIC-replace (the LocalFS ``os.replace``
        analog): ``FileContext.rename(..., Options.Rename.OVERWRITE)``
        is an atomic replace with NO absent-destination window on HDFS.
        The previous delete-then-``FileSystem.rename`` had two real
        holes: a crash between the delete and the rename lost the
        destination file ENTIRELY (not just left it stale), and a
        concurrent writer re-creating the destination inside the window
        turned the rename into an error where create(overwrite) used to
        succeed.  Schemes without an ``AbstractFileSystem`` binding
        (e.g. plain S3A) fall back to delete-then-rename, whose worst
        crash window is "marker ABSENT" — the designed reader-fallback
        state, never a torn half-write.  The temp file is deleted on
        any in-process failure (crash-orphaned temps are unreachable by
        definition; readers never look at ``*.tmp``)."""
        fs = self._fs(path)
        tmp_s = f"{path}.{os.getpid()}.tmp"
        tmp = self._path(tmp_s)
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dst = self._path(path)
        try:
            renamed = False
            try:
                fc = self._jvm.org.apache.hadoop.fs.FileContext \
                    .getFileContext(dst.toUri(), self._conf)
                ren = self._jvm.org.apache.hadoop.fs.Options.Rename
                opts = self._gateway.new_array(ren, 1)
                opts[0] = ren.OVERWRITE
                fc.rename(tmp, dst, opts)
                renamed = True
            except Exception as e:
                # fall back ONLY when the scheme has no FileContext
                # binding; a REAL rename failure must surface here —
                # falling through to delete-then-rename after one
                # would risk deleting dst and then failing again,
                # losing the live file the atomic path exists to keep
                if "UnsupportedFileSystem" not in str(e):
                    raise
            if not renamed:
                if fs.exists(dst):
                    fs.delete(dst, False)
                if not fs.rename(tmp, dst):
                    raise OSError(f"rename failed: {tmp_s} -> {path}")
        except BaseException:
            try:
                fs.delete(tmp, False)
            except Exception:
                pass
            raise

    def create_exclusive(self, path: str, text: str) -> bool:
        """Atomic create-if-absent via ``FileSystem.create(overwrite=false)``
        — atomic on HDFS (namenode-arbitrated); on stores without atomic
        create (S3A) callers should verify the written token after
        acquisition (``_mutation_lock`` does)."""
        try:
            out = self._fs(path).create(self._path(path), False)
        except Exception as e:  # py4j wraps FileAlreadyExistsException
            import re as _re

            s = str(e)
            # classify ONLY genuine already-exists contention; anything
            # else ('Parent path does not exist', permission errors, ...)
            # is a real filesystem failure and must surface, not read as
            # a phantom lock
            if "FileAlreadyExistsException" in s or _re.search(
                r"already\s+exists", s, _re.IGNORECASE
            ):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True


def get_fs(path: str, spark=None):
    """Control-plane filesystem for ``path``, chosen by URI scheme.

    Scheme-less paths use :class:`LocalFS`; anything with a scheme goes
    through :class:`HadoopFS` on the active session (which handles
    ``file://`` too, so behavior is uniform for URI callers)."""
    scheme = urlparse(str(path)).scheme
    if not scheme:
        return LocalFS()
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"path {path!r} has scheme {scheme!r} but no active SparkSession "
            "to reach the Hadoop filesystem through"
        )
    return HadoopFS(spark)


def data_files(fs, path: str) -> list[str]:
    """The data files directly under dataset dir ``path``, sorted; names
    starting with ``_`` or ``.`` (``_SUCCESS``, checksums) are skipped, as
    Spark's reader skips them.  Empty when ``path`` does not exist."""
    if not fs.exists(path):
        return []
    return [join(path, n) for n in fs.listdir(path) if not n.startswith(("_", "."))]


def read_parquet(fs, path: str, schema, columns=None, filters=None):
    """One parquet file as a ``pyarrow.Table``, decoded in the driver from
    the bytes ``fs`` reads — the engine's one driver-side parquet reader.
    ``schema`` is the schema the dataset's writer recorded (a Spark
    ``StructType`` or DDL string); the read is pinned to it, as every Spark
    read of an engine-written dataset is, and a recorded column the file
    does not hold (a partition column) reads as null.  ``columns`` and
    ``filters`` are pyarrow's: filters prune row groups by their
    statistics, then rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return pq.read_table(
        pa.BufferReader(fs.read_bytes(path)), schema=to_arrow_schema(schema),
        columns=columns, filters=filters,
    )


def read_footer(fs, path: str):
    """One parquet file's footer metadata (``pyarrow.parquet.FileMetaData``:
    row groups, their row counts and column statistics), read in the
    driver from the footer alone — the data pages are never read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(fs, LocalFS):
        return pq.read_metadata(path)
    return pq.read_metadata(pa.BufferReader(b"PAR1" + fs.parquet_tail(path)))
