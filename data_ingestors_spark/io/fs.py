"""The store's filesystem: every probe, rename, delete, listing and
small-file read/write of a store path goes through the JVM Hadoop
``FileSystem``, so the same code runs on file:, hdfs:, abfs:, ...

:func:`swap_in` is the one crash-safe rewrite of a store path (every
compaction, the refresh ledger and marker); :func:`recover` repairs an
interrupted swap of one path, :func:`recover_swaps` of every path in a
directory. The swap needs an atomic rename; an object store whose
rename is a copy (S3A) is out of scope.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import SparkSession

# swap siblings of <dir>/<name>: <dir>/.<name><suffix>. The leading dot
# hides them from Spark's partition discovery; a name with "=" and no
# dot would be read as a partition of the enclosing table.
_TMP = ".swap_tmp"
_OLD = ".swap_old"


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any supported scheme via the JVM gateway."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = hadoop_fs(spark, path)
    return fs.exists(jpath)


def _fs_must(ok: bool, op: str, *paths) -> None:
    """Hadoop FileSystem reports most rename/delete failures by
    returning ``false`` rather than raising — swallow that and a
    failed swap would report success while leaving the path absent.
    Raise with the paths instead."""
    if not ok:
        raise IOError(f"hadoop fs.{op} failed: {', '.join(str(p) for p in paths)}")


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, which must not exist: Hadoop's rename
    onto an existing file fails, and on HDFS a rename onto an existing
    directory moves ``src`` INTO it."""
    fs, s = hadoop_fs(spark, src)
    d = spark._jvm.org.apache.hadoop.fs.Path(dst)
    _fs_must(not fs.exists(d), "rename (target exists)", s, d)
    _fs_must(fs.rename(s, d), "rename", s, d)


def delete(spark: SparkSession, path: str) -> None:
    """Delete ``path`` recursively. An absent path is a no-op (delete
    returns false for it too); a path still there afterwards raises."""
    fs, p = hadoop_fs(spark, path)
    if not fs.delete(p, True) and fs.exists(p):
        _fs_must(False, "delete", p)


def ls(spark: SparkSession, path: str) -> list[tuple[str, bool, int]]:
    """``(name, is_dir, length)`` of each entry directly under ``path``."""
    fs, p = hadoop_fs(spark, path)
    return [
        (st.getPath().getName(), st.isDirectory(), st.getLen()) for st in fs.listStatus(p)
    ]


def read_json(spark: SparkSession, path: str, default):
    """The JSON value of the small file at ``path``; ``default`` if absent."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return default
    stream = fs.open(p)
    try:
        return json.loads(spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def write_json(spark: SparkSession, path: str, value) -> None:
    """Replace the small file at ``path`` with ``value`` as JSON,
    crash-safely (:func:`swap_in`)."""

    def write(tmp: str) -> None:
        fs, p = hadoop_fs(spark, tmp)
        out = fs.create(p, True)
        try:
            out.write(bytearray(json.dumps(value, indent=0).encode("utf-8")))
        finally:
            out.close()

    swap_in(spark, path, write)


def swap_paths(live: str) -> tuple[str, str]:
    """The (tmp, old) swap siblings of ``live``."""
    parent, _, name = live.rstrip("/").rpartition("/")
    return f"{parent}/.{name}{_TMP}", f"{parent}/.{name}{_OLD}"


def recover(spark: SparkSession, live: str) -> None:
    """Repair an interrupted :func:`swap_in` of ``live`` (write tmp →
    rename live→old → rename tmp→live → delete old):

    - live missing, old present: crashed between the renames — restore
      old; the interrupted rewrite never happened.
    - live and old present: crashed before the delete — delete old.
    - tmp present: crashed before the swap — drop the tmp copy.

    Each leaves ``live`` with exactly its old or its new content."""
    tmp, old = swap_paths(live)
    if path_exists(spark, old):
        if not path_exists(spark, live):
            rename(spark, old, live)
        else:
            delete(spark, old)
    delete(spark, tmp)


def recover_swaps(spark: SparkSession, directory: str) -> None:
    """Repair every interrupted :func:`swap_in` whose live path sits
    directly under ``directory`` (absent directory: no-op)."""
    directory = directory.rstrip("/")
    fs, p = hadoop_fs(spark, directory)
    if not fs.exists(p):
        return
    # the name filter lists only hidden entries, not every bucket
    hidden = fs.listStatus(p, spark._jvm.org.apache.hadoop.fs.GlobFilter(".*"))
    for name in {st.getPath().getName() for st in hidden}:
        for suffix in (_TMP, _OLD):
            if name.endswith(suffix):
                recover(spark, f"{directory}/{name[1:-len(suffix)]}")


def swap_in(spark: SparkSession, live: str, write_tmp: Callable[[str], None]) -> None:
    """Replace ``live`` (file or directory; may be absent) with what
    ``write_tmp(tmp)`` writes to a hidden sibling: rename live aside,
    rename tmp in, delete the old copy. ``live`` is never the write
    target, so ``write_tmp`` may read it, and a crash at any point
    leaves a complete copy; an interrupted earlier swap of ``live`` is
    repaired first."""
    live = live.rstrip("/")
    tmp, old = swap_paths(live)
    recover(spark, live)
    write_tmp(tmp)
    had_live = path_exists(spark, live)
    if had_live:
        rename(spark, live, old)
    rename(spark, tmp, live)
    if had_live:
        delete(spark, old)
