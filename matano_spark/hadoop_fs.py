"""Existence probes and small metadata files through the Hadoop
FileSystem API.

Table paths may use any scheme the cluster can reach (`file://`,
`hdfs://`, `s3a://`). `os.path` sees only the local disk of the process
that calls it and reports such a path as missing, so every existence
probe, marker, manifest and schema record in the engine goes through
these helpers.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path`, resolved by its scheme."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = fs_path(spark, path)
    return bool(fs.exists(p))


def read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 content of the file at `path`, None when it is absent."""
    fs, p = fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # py4j cannot fill a Python buffer in place; commons-io (shipped
        # with Hadoop) drains the stream JVM-side in one call.
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(
    spark: SparkSession, path: str, text: str, overwrite: bool = True
) -> None:
    """Write `text` to `path`. With overwrite=False the create is atomic
    create-if-absent and raises when the file already exists."""
    fs, p = fs_path(spark, path)
    stream = fs.create(p, overwrite)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def delete(spark: SparkSession, path: str, recursive: bool = True) -> None:
    fs, p = fs_path(spark, path)
    fs.delete(p, recursive)


def modified(spark: SparkSession, path: str) -> float:
    """Modification time of `path`, in seconds since the epoch."""
    fs, p = fs_path(spark, path)
    return fs.getFileStatus(p).getModificationTime() / 1000


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """Paths matching the Hadoop glob `pattern` ([] when none does).
    The listing crosses py4j as one string, not as a call per entry."""
    fs, p = fs_path(spark, pattern)
    found = fs.globStatus(p)
    if found is None:
        return []
    jvm = spark._jvm
    paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(found)
    return jvm.scala.Predef.genericWrapArray(paths).mkString("\n").splitlines()


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move the file at `src` to `dst`, making `dst`'s parent first."""
    fs, d = fs_path(spark, dst)
    fs.mkdirs(d.getParent())
    if not fs.rename(fs_path(spark, src)[1], d):
        raise OSError(f"rename {src} -> {dst} failed")
