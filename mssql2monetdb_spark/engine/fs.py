"""Store abstraction for the versioned catalog's CONTROL PLANE.

``VersionedCatalog``'s data plane is Spark itself (``spark.read.parquet`` /
``df.write.parquet`` resolve any Hadoop-supported URI), but its control
plane — version listing, the atomic manifest swap, carry links/copies,
retention deletes — was bound to POSIX ``os.*`` calls. This module routes
those through a minimal interface so the same publish protocol runs
unmodified on HDFS / S3A / any Hadoop ``FileSystem``.

Required store primitives (the contract, also documented in SCALE.md):

- ``list`` of a directory (version discovery, carry enumeration);
- **atomic single-object publish** for the manifest file — POSIX
  ``os.replace``, HDFS ``FileContext.rename(OVERWRITE)``, S3's
  atomic PUT. This is the only operation whose atomicity the zero-downtime
  switch depends on;
- recursive delete (retention), mkdir, file copy;
- OPTIONAL hard links — on stores without them (all object stores) the
  incremental carry degrades to byte copies at the first ``OSError``.
"""

from __future__ import annotations

import logging
import os
import shutil

log = logging.getLogger(__name__)


class LocalFS:
    """POSIX-backed store (the default — local disk, NFS, fuse mounts)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def write_atomic(self, path: str, text: str) -> None:
        """tmp-write + ``os.replace`` — the POSIX atomic single-object PUT."""
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path)

    def rmtree_quiet(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def link(self, src: str, dst: str) -> None:
        """Hard link; raises OSError where the store has none (the carry
        ladder's capability probe)."""
        os.link(src, dst)

    def copy(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)


class HadoopFS:
    """Hadoop ``FileSystem``-backed store, driven through Spark's JVM —
    HDFS, S3A, GCS, ABFS, or ``file://`` (how the tests exercise it).

    The atomic manifest publish maps to ``FileContext.rename`` with
    ``Options.Rename.OVERWRITE`` — atomic on HDFS; on S3A the final object
    PUT is itself atomic, which is the property the manifest needs. Hard
    links do not exist on any Hadoop store, so ``link`` raises ``OSError``
    and the catalog's incremental carry degrades to copies.
    """

    def __init__(self, spark, base_uri: str):
        jvm = spark._jvm  # noqa: SLF001
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway  # noqa: SLF001
        self._conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(base_uri).getFileSystem(self._conf)

    def _p(self, path: str):
        return self._Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def isdir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(self._fs.getFileStatus(p).isDirectory())

    def listdir(self, path: str) -> list[str]:
        return [
            str(s.getPath().getName()) for s in self._fs.listStatus(self._p(path))
        ]

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()

    def write_atomic(self, path: str, text: str) -> None:
        tmp = self._p(path + ".tmp")
        dst = self._p(path)
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        # FileContext must resolve against the PATH's scheme, not the
        # default FS: schemes without an AbstractFileSystem binding —
        # notably S3A, whose fs.AbstractFileSystem.s3a.impl is not in
        # core-default — throw UnsupportedFileSystemException from the
        # default-context form even though the FileSystem API used
        # everywhere else works (ADVICE r10). Resolve per URI, and when no
        # AbstractFileSystem is bound at all, fall back to FileSystem
        # delete+rename — non-overwrite-atomic, but the manifest protocol
        # tolerates it: readers treat a missing manifest as "no published
        # version yet", the same visible state as mid-first-publish.
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dst.toUri(), self._conf
            )
        except Exception:  # noqa: BLE001 — no AbstractFileSystem for scheme
            log.warning(
                "no AbstractFileSystem bound for %s — atomic-rename manifest "
                "swap degrades to FileSystem delete+rename",
                path,
                exc_info=True,
            )
            self._fs.delete(dst, False)
            if not self._fs.rename(tmp, dst):
                raise OSError(f"rename {tmp} -> {dst} failed")
            return
        # rename(src, dst, Options.Rename...) is varargs: ship a Java array
        opts = self._gateway.new_array(self._jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = self._jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, dst, opts)

    def remove(self, path: str) -> None:
        self._fs.delete(self._p(path), False)

    def rmtree(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def rmtree_quiet(self, path: str) -> None:
        try:
            self._fs.delete(self._p(path), True)
        except Exception:  # noqa: BLE001 — best-effort clear, like ignore_errors
            pass

    def link(self, src: str, dst: str) -> None:
        raise OSError("hadoop stores have no hard links — the carry degrades to copies")

    def copy(self, src: str, dst: str) -> None:
        self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs, self._p(src), self._fs, self._p(dst), False, self._conf
        )
