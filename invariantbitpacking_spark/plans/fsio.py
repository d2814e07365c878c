"""Driver-side metadata I/O: the store's ONE metadata transport.

The pipeline's compute plans are object-store ready (everything rides
``spark.read``/``DataFrame.write``); its metadata — params JSON, the
FSST table, lineage files, tombstone markers, ``_SUCCESS`` probes,
directory listings, staging cleanup — goes through :class:`HadoopFS`,
bound to the ``org.apache.hadoop.fs.FileSystem`` that owns the store's
``output_dir``.  An object-store target is a config change, not a code
change.  (Reference analog: the one I/O surface we replaced,
``read_shared``'s mmap loader, src/ibp_api.cu:51-121.)

Whether the store is local is decided ONCE, from the scheme of the
RESOLVED FileSystem, never from the path string: a bare path under
``fs.defaultFS=hdfs://...`` resolves to HDFS, so its metadata lands
next to the data the executors write.  A local store takes the direct
``os`` route (no py4j round trip per call — ~0.5-1 ms each, and a
mutation verb makes dozens); every other store takes the Hadoop
streams.  The semantics of both routes are the same, and no caller
branches on which one is in use.

Only JDK / Hadoop classes are touched (no optional jars): streams are
drained with ``org.apache.hadoop.io.IOUtils.copyBytes`` into a
``java.io.ByteArrayOutputStream``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession


class HadoopFS:
    """Thin wrapper over the FileSystem owning a store's base path."""

    def __init__(self, spark: SparkSession, base_path: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(base_path).getFileSystem(self._conf)
        # the one locality decision: the resolved FileSystem's scheme
        self.local = str(self._fs.getUri().getScheme()) == "file"

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    @staticmethod
    def _os_path(p: str) -> str:
        """``file:/x`` and ``file:///x`` as the OS path ``/x``."""
        if p.startswith("file:"):
            p = p[len("file:"):]
            if p.startswith("//"):
                p = p[2:]
        return p

    def _drain(self, stream, pos: int = 0) -> bytes:
        """A Hadoop input stream from ``pos`` to its end, as bytes;
        closes the stream."""
        try:
            if pos:
                stream.seek(pos)
            out = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, out, 65536, False)
            return bytes(out.toByteArray())
        finally:
            stream.close()

    # -- predicates ------------------------------------------------------

    def exists(self, p: str) -> bool:
        if self.local:
            return os.path.exists(self._os_path(p))
        return bool(self._fs.exists(self._path(p)))

    # -- whole-file I/O ----------------------------------------------------

    def read_bytes(self, p: str) -> bytes:
        if self.local:
            with open(self._os_path(p), "rb") as fh:
                return fh.read()
        return self._drain(self._fs.open(self._path(p)))

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        """Write a hidden sibling tmp file, then rename it over ``p``.
        Object-store renames are not atomic in the POSIX sense, but no
        reader ever sees a partially written file at the final path, and
        the dot-prefixed tmp name is skipped by Spark's file listing and
        by every metadata reader."""
        if self.local:
            lp = self._os_path(p)
            d, name = os.path.split(lp)
            os.makedirs(d or ".", exist_ok=True)
            tmp = os.path.join(d, f".{name}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, lp)
            return
        target = self._path(p)
        parent = target.getParent()
        self._fs.mkdirs(parent)
        tmp = self._jvm.org.apache.hadoop.fs.Path(
            parent, f".{target.getName()}.tmp")
        stream = self._fs.create(tmp, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        # Delete the old target only once the tmp file verifiably
        # exists, and surface a failed rename loudly: swallowing a
        # false return here would silently lose the previous metadata
        # file (params JSON / FSST table), and a later append would
        # re-learn params and fork the snapshot's encoding.
        if not self._fs.exists(tmp):
            raise IOError(f"write_bytes_atomic: tmp file vanished: {tmp}")
        if self._fs.exists(target):
            self._fs.delete(target, False)
        if not self._fs.rename(tmp, target):
            raise IOError(f"write_bytes_atomic: rename failed: {tmp} -> {p}")

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def write_text_atomic(self, p: str, text: str) -> None:
        self.write_bytes_atomic(p, text.encode("utf-8"))

    def parquet_schema(self, p: str) -> pa.Schema:
        """Arrow schema of one parquet file, reading only its footer
        (``<metadata><u32 len>PAR1`` at the end of the file)."""
        if self.local:
            return pq.read_schema(self._os_path(p))
        path = self._path(p)
        size = int(self._fs.getFileStatus(path).getLen())

        def tail(n: int) -> bytes:
            return self._drain(self._fs.open(path), size - n)

        meta_len = int.from_bytes(tail(8)[:4], "little")
        return pq.read_schema(pa.BufferReader(b"PAR1" + tail(meta_len + 8)))

    # -- tree ops ----------------------------------------------------------

    def delete(self, p: str, recursive: bool = True) -> bool:
        if not self.local:
            return bool(self._fs.delete(self._path(p), recursive))
        lp = self._os_path(p)
        if not os.path.exists(lp):
            return False
        if not os.path.isdir(lp):
            os.remove(lp)
        elif recursive:
            shutil.rmtree(lp)
        else:
            try:
                os.rmdir(lp)
            except OSError:
                return False
        return True

    def rename(self, src: str, dst: str) -> None:
        """Rename ``src`` to a path that must not exist yet.  Both routes
        refuse an existing destination: Hadoop would move a directory
        INTO an existing one, and ``os.rename`` would replace an empty
        directory or a file."""
        if self.exists(dst):
            raise IOError(f"rename failed: {dst} exists")
        if self.local:
            os.rename(self._os_path(src), self._os_path(dst))
        elif not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def listdir(self, p: str) -> list[str]:
        """Child names (not paths) of a directory; [] if absent."""
        if self.local:
            lp = self._os_path(p)
            return os.listdir(lp) if os.path.isdir(lp) else []
        if not self.exists(p):
            return []
        return [str(s.getPath().getName())
                for s in self._fs.listStatus(self._path(p))]
