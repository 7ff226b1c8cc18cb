"""Filesystem seam for the staged-publish / commit-marker protocols.

Two protocols own their file layout: the hive sink's staged append
(`partition_commit.PartitionCommitter._write_batch`) and the compaction
protocol every compacting state directory uses
(`compaction.publish_then_retire`, which states its crash argument).
On a laptop their file steps are `os`/`shutil`; where the 100 TB mandate
actually lives (S3/HDFS) they have to be the Hadoop FileSystem API. This
module is the one seam between the two — protocol code takes an `FSIO`
and never touches `os.*` directly (≙ the `decode_image_real` seam
pattern, multimodal.py).

Two implementations:

* `LocalFS` — exactly the pre-seam semantics (`os.replace` is an atomic
  overwrite on POSIX).
* `HadoopFS` — the same operations through `spark._jvm`'s
  `org.apache.hadoop.fs.FileSystem`, so the identical protocol code runs
  against HDFS, S3A, or Hadoop's local FS (`file:///...` URIs — the
  second implementation the contract test drives). `rename_overwrite`
  is delete-then-rename there, which is NOT atomic; both protocols
  publish deterministic names a replay regenerates, so a crash between
  the delete and the rename leaves a hole the replay refills, never a
  duplicate or a torn file.

Choosing: `fs_for_path(spark, path)` returns `LocalFS` for plain paths
and `HadoopFS` for anything with a URI scheme (`s3a://`, `hdfs://`,
`file://`); constructors also accept an explicit `fs=` for tests.

Reference tie-in: the reference delegates all of this to Flink's
FileSystem abstraction + S3 committers (Kafka2S3Hive.scala writes
`s3://.../data/` paths directly); this seam is the Spark-side
equivalent for the one component that owns its own file layout.
"""

from __future__ import annotations

import os
import posixpath
import shutil
from typing import Iterator


class FSIO:
    """Minimal filesystem contract the publish/compact protocols need."""

    # -- path math (URI-safe, always forward-slash) ------------------------
    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def basename(self, path: str) -> str:
        return posixpath.basename(path.rstrip("/"))

    def parent(self, path: str) -> str:
        return posixpath.dirname(path.rstrip("/"))

    def relpath(self, path: str, start: str) -> str:
        return posixpath.relpath(path, start)

    # -- queries ------------------------------------------------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def list_files(self, d: str) -> list[str]:
        """Names (not paths) of plain files directly under `d`, sorted."""
        raise NotImplementedError

    def list_dirs(self, d: str) -> list[str]:
        """Names of subdirectories directly under `d`, sorted."""
        raise NotImplementedError

    def walk_files(self, root: str) -> Iterator[tuple[str, list[str]]]:
        """(dirpath, sorted file names) for every directory under `root`
        that contains at least one plain file."""
        raise NotImplementedError

    # -- mutations ----------------------------------------------------------
    def makedirs(self, d: str) -> None:
        raise NotImplementedError

    def rename_overwrite(self, src: str, dst: str) -> None:
        """Move `src` over `dst` (replacing it if present)."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text_atomic(self, path: str, text: str) -> None:
        """Publish small control text (ledger/marker): write a sibling
        temp file, then rename over the final name."""
        tmp = path + ".tmp"
        self._write_text(tmp, text)
        self.rename_overwrite(tmp, path)

    def _write_text(self, path: str, text: str) -> None:
        raise NotImplementedError


_LOCAL_SCHEME = "local://"


class LocalFS(FSIO):
    """`os`/`shutil` implementation — byte-identical to the pre-seam code
    (atomic `os.replace` overwrites on POSIX). Accepts the `local://`
    URI alias (`fs_for_path` routes it here): the scheme is stripped
    before every `os.*` call, and `walk_files` yields dirpaths back in
    the caller's namespace (prefix re-attached) so `relpath(dir, root)`
    path math stays consistent."""

    @staticmethod
    def _p(path: str) -> str:
        if path.startswith(_LOCAL_SCHEME):
            return path[len(_LOCAL_SCHEME):]
        return path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._p(path))

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    def list_files(self, d: str) -> list[str]:
        d = self._p(d)
        return sorted(
            f for f in os.listdir(d) if os.path.isfile(os.path.join(d, f))
        )

    def list_dirs(self, d: str) -> list[str]:
        d = self._p(d)
        return sorted(
            f for f in os.listdir(d) if os.path.isdir(os.path.join(d, f))
        )

    def walk_files(self, root: str) -> Iterator[tuple[str, list[str]]]:
        bare = self._p(root)
        for dirpath, _dirnames, filenames in sorted(os.walk(bare)):
            if filenames:
                out = root + dirpath[len(bare):] if root != bare else dirpath
                yield out, sorted(filenames)

    def makedirs(self, d: str) -> None:
        os.makedirs(self._p(d), exist_ok=True)

    def rename_overwrite(self, src: str, dst: str) -> None:
        os.replace(self._p(src), self._p(dst))

    def remove(self, path: str) -> None:
        os.remove(self._p(path))

    def rmtree(self, path: str) -> None:
        shutil.rmtree(self._p(path), ignore_errors=True)

    def read_text(self, path: str) -> str:
        with open(self._p(path)) as f:
            return f.read()

    def _write_text(self, path: str, text: str) -> None:
        with open(self._p(path), "w") as f:
            f.write(text)


class HadoopFS(FSIO):
    """`org.apache.hadoop.fs.FileSystem` implementation via the session's
    JVM gateway — one FileSystem handle per URI scheme+authority, cached.
    Works against `file://`, `hdfs://`, `s3a://`, ... with whatever the
    Hadoop configuration of the running SparkSession provides.

    `rename_overwrite` = delete(dst) + rename(src, dst): not atomic, but
    recoverable by replay (module docstring).
    """

    def __init__(self, spark) -> None:
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs_cache: dict[str, object] = {}

    # path math through Hadoop Path, so "file:///x" and "file:/x" forms
    # (Path.toString collapses the authority slashes) compare correctly
    def basename(self, path: str) -> str:
        return str(self._path(path).getName())

    def parent(self, path: str) -> str:
        return str(self._path(path).getParent().toString())

    def relpath(self, path: str, start: str) -> str:
        return posixpath.relpath(
            str(self._path(path).toUri().getPath()),
            str(self._path(start).toUri().getPath()),
        )

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, jpath):
        key = str(jpath.toUri().getScheme()) + "|" + str(
            jpath.toUri().getAuthority()
        )
        fs = self._fs_cache.get(key)
        if fs is None:
            fs = jpath.getFileSystem(self._conf)
            self._fs_cache[key] = fs
        return fs

    def exists(self, path: str) -> bool:
        p = self._path(path)
        return bool(self._fs(p).exists(p))

    def is_dir(self, path: str) -> bool:
        p = self._path(path)
        fs = self._fs(p)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def size(self, path: str) -> int:
        p = self._path(path)
        return int(self._fs(p).getFileStatus(p).getLen())

    def _statuses(self, d: str):
        p = self._path(d)
        return self._fs(p).listStatus(p)

    def list_files(self, d: str) -> list[str]:
        return sorted(
            str(st.getPath().getName())
            for st in self._statuses(d)
            if st.isFile()
        )

    def list_dirs(self, d: str) -> list[str]:
        return sorted(
            str(st.getPath().getName())
            for st in self._statuses(d)
            if st.isDirectory()
        )

    def walk_files(self, root: str) -> Iterator[tuple[str, list[str]]]:
        # RemoteIterator of every file under root, grouped by parent dir.
        # One round-trip per file over py4j — fine for control-plane
        # listings (staging dirs, partition leaves), never data rows.
        p = self._path(root)
        it = self._fs(p).listFiles(p, True)
        by_dir: dict[str, list[str]] = {}
        while it.hasNext():
            st = it.next()
            fp = st.getPath()
            by_dir.setdefault(str(fp.getParent().toString()), []).append(
                str(fp.getName())
            )
        for d in sorted(by_dir):
            yield d, sorted(by_dir[d])

    def makedirs(self, d: str) -> None:
        p = self._path(d)
        self._fs(p).mkdirs(p)

    def rename_overwrite(self, src: str, dst: str) -> None:
        sp, dp = self._path(src), self._path(dst)
        fs = self._fs(dp)
        if fs.exists(dp):
            fs.delete(dp, False)
        if not fs.rename(sp, dp):
            raise IOError(f"hadoop rename failed: {src} -> {dst}")

    def remove(self, path: str) -> None:
        p = self._path(path)
        self._fs(p).delete(p, False)

    def rmtree(self, path: str) -> None:
        p = self._path(path)
        self._fs(p).delete(p, True)

    def read_text(self, path: str) -> str:
        p = self._path(path)
        stream = self._fs(p).open(p)
        try:
            return str(
                self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            )
        finally:
            stream.close()

    def _write_text(self, path: str, text: str) -> None:
        p = self._path(path)
        out = self._fs(p).create(p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()


def fs_for_path(spark, path: str) -> FSIO:
    """LocalFS for plain local paths and the `local://` alias (LocalFS
    strips the scheme before touching `os.*`), HadoopFS for anything
    with another URI scheme — the default wiring for PartitionCommitter
    and the compactors."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme in ("", "local"):
        return LocalFS()
    return HadoopFS(spark)
