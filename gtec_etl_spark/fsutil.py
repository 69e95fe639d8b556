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
run before their schema'd read.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def list_files_recursive(
    spark: SparkSession, path: str, suffix: str | None = None
) -> list[tuple[str, int]]:
    """Recursive (path, length) listing under `path`; empty if the path
    does not exist. O(#files) driver-side metadata, like any compaction
    daemon's planning step."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if suffix is None or name.endswith(suffix):
            out.append((name, st.getLen()))
    return out


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete `path` on its own filesystem; False if it did
    not exist. Used by retention passes (snapshot vacuum) — same
    scheme-dispatch argument as the listings above."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, True))


def list_child_files(spark: SparkSession, path: str) -> list[str]:
    """Immediate child FILE names (final path component) of `path`,
    including dot-prefixed sidecars (.crc); empty if the path does not
    exist. The commit-step companion of list_child_dirs."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isFile()
    ]


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename `src` to `dst` on src's own filesystem; returns the
    FileSystem.rename result (False if src is missing or dst exists).
    On object stores this is the store's copy+delete, on HDFS/local a
    metadata move — either way the scheme-dispatched call the driver-side
    commit step needs (os.replace silently no-ops for s3a:// URIs)."""
    fs, jsrc = _fs_and_path(spark, src)
    jvm = spark._jvm
    return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)))


def delete_checksum_sidecars(spark: SparkSession, path: str) -> None:
    """Delete `.name.crc` sidecars under `path`. Hadoop's LOCAL
    filesystem is a ChecksumFileSystem whose listings HIDE the sidecars
    (and whose renames silently move them), so a stable-name commit step
    leaves stale-looking `.part-00000.ext.crc` files that break
    whole-directory release checksums; they are reachable only through
    getRawFileSystem(). Object stores and HDFS are not checksum-wrapped
    (no getRawFileSystem / no sidecars) — a no-op there."""
    fs, jpath = _fs_and_path(spark, path)
    try:
        raw = fs.getRawFileSystem()
    except Exception:  # not a FilterFileSystem: nothing to clean
        return
    if not raw.exists(jpath):
        return
    for st in raw.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(".") and name.endswith(".crc"):
            raw.delete(st.getPath(), False)


def first_line(spark: SparkSession, path: str, comment: str | None = None) -> str | None:
    """First line of the file at `path` that is neither blank nor starts
    with `comment`, without its line terminator; None if there is none.
    Streams only the head of the file on the driver (decompressing by
    file extension, as Spark's text readers do), so a header check
    costs no Spark job."""
    fs, jpath = _fs_and_path(spark, path)
    jvm = spark._jvm
    stream = fs.open(jpath)
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            spark._jsc.hadoopConfiguration()
        ).getCodec(jpath)
        if codec is not None:
            stream = codec.createInputStream(stream)
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
    finally:
        stream.close()


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
