"""The store's filesystem: every probe, rename, delete, listing and
small-file read/write of a store path goes through the JVM Hadoop
``FileSystem``, so the same code runs on file:, hdfs:, abfs:, ...

:func:`swap_in` is the one crash-safe rewrite of a store path (every
compaction, every whole-table upsert write, the refresh ledger and
marker); :func:`recover` repairs an interrupted swap of one path,
:func:`recover_swaps` of every path in a directory. The swap needs an
atomic rename; an object store whose rename is a copy (S3A) is out of
scope.

Each function takes a SparkSession, which resolves the FileSystem of
its path, or an :class:`FS` that one operation resolved with
:func:`resolve` and passes down: every call over py4j is a round trip,
and a swap resolved once makes about a third of the calls.
"""

from __future__ import annotations

import json
from typing import Callable

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

# swap siblings of <dir>/<name>: <dir>/.<name><suffix>. The leading dot
# hides them from Spark's partition discovery; a name with "=" and no
# dot would be read as a partition of the enclosing table.
_TMP = ".swap_tmp"
_OLD = ".swap_old"


def _jclass(client, name: str):
    # named in full: `spark._jvm.org.apache.hadoop.fs.Path` resolves
    # each package segment with a round trip of its own
    return JavaClass(f"org.apache.hadoop.fs.{name}", client)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any supported scheme via the JVM gateway."""
    jpath = _jclass(spark._jvm._gateway_client, "Path")(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


class FS:
    """One resolved Hadoop ``FileSystem`` (``jfs``) and the JVM paths
    made on it, each made once."""

    def __init__(self, jfs, client):
        self.jfs, self.client, self._paths = jfs, client, {}

    def path(self, path: str):
        if path not in self._paths:
            self._paths[path] = _jclass(self.client, "Path")(path)
        return self._paths[path]


def resolve(on: SparkSession | FS, path: str) -> FS:
    """``on`` itself if it is already resolved, else the FileSystem of
    ``path``."""
    if isinstance(on, FS):
        return on
    jfs, jpath = hadoop_fs(on, path)
    fs = FS(jfs, on._jvm._gateway_client)
    fs._paths[path] = jpath
    return fs


def path_exists(on: SparkSession | FS, path: str) -> bool:
    fs = resolve(on, path)
    return fs.jfs.exists(fs.path(path))


def _fs_must(ok: bool, op: str, *paths) -> None:
    """Hadoop FileSystem reports most rename/delete failures by
    returning ``false`` rather than raising — swallow that and a
    failed swap would report success while leaving the path absent.
    Raise with the paths instead."""
    if not ok:
        raise IOError(f"hadoop fs.{op} failed: {', '.join(str(p) for p in paths)}")


def rename(on: SparkSession | FS, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, which must not exist: Hadoop's rename
    onto an existing file fails, and on HDFS a rename onto an existing
    directory moves ``src`` INTO it."""
    fs = resolve(on, src)
    s, d = fs.path(src), fs.path(dst)
    _fs_must(not fs.jfs.exists(d), "rename (target exists)", s, d)
    _fs_must(fs.jfs.rename(s, d), "rename", s, d)


def delete(on: SparkSession | FS, path: str) -> None:
    """Delete ``path`` recursively. An absent path is a no-op (delete
    returns false for it too); a path still there afterwards raises."""
    fs = resolve(on, path)
    p = fs.path(path)
    if not fs.jfs.delete(p, True) and fs.jfs.exists(p):
        _fs_must(False, "delete", p)


def ls(on: SparkSession | FS, path: str) -> list[tuple[str, bool, int]]:
    """``(name, is_dir, length)`` of each entry directly under ``path``."""
    fs = resolve(on, path)
    return [
        (st.getPath().getName(), st.isDirectory(), st.getLen())
        for st in fs.jfs.listStatus(fs.path(path))
    ]


def read_json(on: SparkSession | FS, path: str, default):
    """The JSON value of the small file at ``path``; ``default`` if absent."""
    fs = resolve(on, path)
    p = fs.path(path)
    if not fs.jfs.exists(p):
        return default
    stream = fs.jfs.open(p)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def put_json(on: SparkSession | FS, path: str, value) -> None:
    """Write ``value`` as JSON to the new file ``path``, in place: for a
    file inside a directory that is itself being swapped in."""
    fs = resolve(on, path)
    out = fs.jfs.create(fs.path(path), True)
    try:
        out.write(bytearray(json.dumps(value, indent=0).encode("utf-8")))
    finally:
        out.close()


def write_json(on: SparkSession | FS, path: str, value) -> None:
    """Replace the small file at ``path`` with ``value`` as JSON,
    crash-safely (:func:`swap_in`)."""
    fs = resolve(on, path)
    swap_in(fs, path, lambda tmp: put_json(fs, tmp, value))


def swap_paths(live: str) -> tuple[str, str]:
    """The (tmp, old) swap siblings of ``live`` (a relative name's
    siblings are relative too)."""
    parent, sep, name = live.rstrip("/").rpartition("/")
    return f"{parent}{sep}.{name}{_TMP}", f"{parent}{sep}.{name}{_OLD}"


def recover(on: SparkSession | FS, live: str) -> None:
    """Repair an interrupted :func:`swap_in` of ``live`` (write tmp →
    rename live→old → rename tmp→live → delete old):

    - live missing, old present: crashed between the renames — restore
      old; the interrupted rewrite never happened.
    - live and old present: crashed before the delete — delete old.
    - tmp present: crashed before the swap — drop the tmp copy.

    Each leaves ``live`` with exactly its old or its new content."""
    fs = resolve(on, live)
    tmp, old = swap_paths(live)
    if path_exists(fs, old):
        if not path_exists(fs, live):
            rename(fs, old, live)
        else:
            delete(fs, old)
    delete(fs, tmp)


def recover_swaps(on: SparkSession | FS, directory: str) -> None:
    """Repair every interrupted :func:`swap_in` whose live path sits
    directly under ``directory`` (absent directory: no-op)."""
    directory = directory.rstrip("/")
    fs = resolve(on, directory)
    p = fs.path(directory)
    if not fs.jfs.exists(p):
        return
    # the name filter lists only hidden entries, not every bucket
    hidden = fs.jfs.listStatus(p, _jclass(fs.client, "GlobFilter")(".*"))
    for name in {st.getPath().getName() for st in hidden}:
        for suffix in (_TMP, _OLD):
            if name.endswith(suffix):
                recover(fs, f"{directory}/{name[1:-len(suffix)]}")


def swap_in(on: SparkSession | FS, live: str, write_tmp: Callable[[str], None]) -> None:
    """Replace ``live`` (file or directory; may be absent) with what
    ``write_tmp(tmp)`` writes to a hidden sibling: rename live aside,
    rename tmp in, delete the old copy. ``live`` is never the write
    target, so ``write_tmp`` may read it, and a crash at any point
    leaves a complete copy; an interrupted earlier swap of ``live`` is
    repaired first."""
    live = live.rstrip("/")
    fs = resolve(on, live)
    tmp, old = swap_paths(live)
    recover(fs, live)
    write_tmp(tmp)
    had_live = path_exists(fs, live)
    if had_live:
        rename(fs, live, old)
    rename(fs, tmp, live)
    if had_live:
        delete(fs, old)
