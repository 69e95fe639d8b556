"""Driver-side filesystem access through the Hadoop FileSystem API.

Maintenance passes (small-file compaction, versioned-snapshot discovery)
need O(#files) listings of the SINK's filesystem — which in production is
an object store or HDFS, not the driver's local disk. `os.path`/`glob`
silently list nothing for `s3a://...` or `hdfs://...` URIs (a compaction
would see total=0 bytes, a CDC restart would see no prior snapshot), so
every listing here goes through `Path.getFileSystem(hadoopConf)`: the
same resolution Spark's own readers use, scheme-dispatched per-path, and
identical on local paths (tests run against file://). The same holds for
reading a source file's first line, the header check validated readers
run before their schema'd read, for reading the lines of a source file
that failed validation, for the file signature that keys a read's
inferred schema (catalog.read_inferred), and for the commit step that
gives a sink's part files stable names.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def file_signature(
    spark: SparkSession, path: str
) -> tuple[tuple[str, int, int], ...] | None:
    """Sorted (path, length, modification time) of every file a read of
    `path` covers: the file itself, every file under a directory, or every
    match of a glob, as Spark's readers resolve them. None if nothing is
    there. One listing on the path's own filesystem, so two reads of an
    unchanged s3a:// or hdfs:// input get the same signature, and a
    rewritten file gets a new one."""
    fs, jpath = _fs_and_path(spark, path)
    out: list[tuple[str, int, int]] = []

    def add(f) -> None:
        out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))

    for st in fs.globStatus(jpath) or []:
        if st.isDirectory():
            it = fs.listFiles(st.getPath(), True)
            while it.hasNext():
                add(it.next())
        else:
            add(st)
    return tuple(sorted(out)) or None


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete `path` on its own filesystem; False if it did
    not exist. Used by retention passes (snapshot vacuum) — same
    scheme-dispatch argument as the listings above."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, True))


class RawDir:
    """A directory on its raw filesystem, for a commit step that lists it
    once and then deletes and renames children by name. Hadoop's LOCAL
    filesystem is a ChecksumFileSystem whose listings HIDE the `.name.crc`
    sidecars (and whose renames silently move them); the raw filesystem
    under it shows them, so one listing sees every file a whole-directory
    release checksum would. Object stores and HDFS are not
    checksum-wrapped (no getRawFileSystem, no sidecars): their own
    filesystem is used as is. The FileSystem, the Path class and the
    children's paths are resolved once, not per operation."""

    def __init__(self, spark: SparkSession, path: str):
        self._path_cls = spark._jvm.org.apache.hadoop.fs.Path
        self._dir = self._path_cls(path)
        fs = self._dir.getFileSystem(spark._jsc.hadoopConfiguration())
        try:
            fs = fs.getRawFileSystem()
        except Py4JError:  # not a FilterFileSystem
            pass
        self._fs = fs
        self._children: dict = {}

    def files(self) -> list[str]:
        """Names of the child files, sidecars included; empty if the
        directory does not exist."""
        if self._fs.exists(self._dir):
            for st in self._fs.listStatus(self._dir):
                if st.isFile():
                    jpath = st.getPath()
                    self._children[jpath.getName()] = jpath
        return list(self._children)

    def delete(self, name: str) -> bool:
        """Delete the child file `name` that files() listed."""
        return bool(self._fs.delete(self._children[name], False))

    def rename(self, src: str, dst: str) -> bool:
        """Rename the child file `src` that files() listed to `dst` in the
        same directory. FileSystem.rename's result: False if `src` is
        missing or the filesystem refuses `dst` (os.replace silently
        no-ops for s3a:// URIs, so the scheme-dispatched call is the one
        to use)."""
        return bool(self._fs.rename(self._children[src], self._path_cls(self._dir, dst)))


@contextmanager
def _open(spark: SparkSession, path: str):
    """An input stream over the file at `path`, decompressed by file
    extension as Spark's text readers do; closed on exit."""
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        codec = spark._jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            spark._jsc.hadoopConfiguration()
        ).getCodec(jpath)
        if codec is not None:
            stream = codec.createInputStream(stream)
        yield stream
    finally:
        stream.close()


def first_line(spark: SparkSession, path: str, comment: str | None = None) -> str | None:
    """First line of the file at `path` that is neither blank nor starts
    with `comment`, without its line terminator; None if there is none.
    Streams only the head of the file on the driver, so a header check
    costs no Spark job."""
    jvm = spark._jvm
    with _open(spark, path) as stream:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        line = reader.readLine()
        # Hadoop's LineRecordReader drops a leading UTF-8 BOM from the
        # file's first line; Spark's data read does too, so must the peek.
        if line is not None and line.startswith("\ufeff"):
            line = line[1:]
        while line is not None:
            if line.strip() and not (comment and line.startswith(comment)):
                return line
            line = reader.readLine()
        return None


def read_lines(spark: SparkSession, path: str) -> list[str]:
    """Every line of the file at `path` in file order, split where
    Hadoop's LineRecordReader splits (\\n, \\r\\n or \\r) and without a
    leading UTF-8 BOM. The whole file comes to the driver in one transfer:
    for the diagnostics of a failing file, not for data."""
    with _open(spark, path) as stream:
        text = bytes(stream.readAllBytes()).decode("utf-8", errors="replace")
    lines = re.split(r"\r\n|\r|\n", text.removeprefix("\ufeff"))
    return lines[:-1] if lines[-1] == "" else lines


def list_child_dirs(spark: SparkSession, path: str) -> list[str]:
    """Immediate child directory NAMES (final path component) of `path`;
    empty if the path does not exist."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory()
    ]
