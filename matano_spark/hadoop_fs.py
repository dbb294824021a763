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
