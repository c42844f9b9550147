"""Filesystem-scheme-safe small-file IO via the Hadoop FileSystem API.

The checkpoint manifests (operators/checkpoint.py), the idempotent
corpus append (sources/corpus_io.py) and the contract's row-group probe
(``__spark_entry__._row_groups``) need tiny metadata operations — list a
directory, read/write a JSON file or a parquet footer, move staged parquet
parts — next to
DataFrame reads/writes that already go through Hadoop.  Doing those with
``os.path``/``os.listdir`` silently breaks the moment ``out_dir`` is an
``hdfs://``/``s3a://`` (or even explicit ``file:``) URI, which is exactly
where a 100 TB build lives.  This module routes them through the SAME
FileSystem the DataFrame reader resolves for the path, so local behavior is
unchanged and remote schemes work (the Iceberg-snapshot stand-ins remain
stand-ins, but scheme-portable ones).

All helpers take the SparkSession (for the JVM gateway + Hadoop conf) and
string paths; returned names/paths are plain strings.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) resolved for ``path``'s scheme.

    Local paths resolve to Hadoop's ChecksumFileSystem wrapper, which
    shadows every file with a ``.crc`` sidecar — so a manifest edited or
    replaced by anything else (tests, operators with a text editor) fails
    reads with ChecksumException.  These are tiny metadata files, not
    data: unwrap to the raw filesystem where a wrapper exists (HDFS/S3A
    expose no such method and pass through).
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        fs = fs.getRawFileSystem()
    except Exception:  # noqa: BLE001 — not a ChecksumFileSystem
        pass
    return fs, jpath, jvm


def join(base: str, *parts: str) -> str:
    """Scheme-preserving path join (os.path.join would mangle ``s3a://``
    on Windows-style separators; Hadoop paths are always ``/``)."""
    return "/".join([base.rstrip("/"), *[p.strip("/") for p in parts]])


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath, _ = _fs(spark, path)
    fs.mkdirs(jpath)


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child names (not full paths) of a directory; [] if absent."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(jpath))


def walk_files(spark: SparkSession, path: str) -> Iterator[str]:
    """Full paths of the files under ``path``, recursing into
    subdirectories (partitioned ``key=value/`` layouts), lazily so a
    caller can stop early; ``path`` itself if it is a file, nothing if
    absent.  Entries named ``_*`` or ``.*`` (commit markers, staging and
    checksum files) are skipped, as Spark's file index skips them."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return
    stack = [jpath]
    while stack:
        for st in fs.listStatus(stack.pop()):
            if st.getPath().getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                yield st.getPath().toString()


def parquet_row_groups(spark: SparkSession, path: str) -> int:
    """Row-group count of one parquet file, from its footer read by the
    JVM's parquet-hadoop reader on ``path``'s filesystem."""
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path),
            spark._jsc.hadoopConfiguration(),
        )
    )
    try:
        return int(reader.getRowGroups().size())
    finally:
        reader.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, jpath, jvm = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def read_text_or_none(spark: SparkSession, path: str) -> str | None:
    """``read_text`` that treats a vanished file as absent.

    :func:`write_text_atomic` commits with delete+rename (Hadoop rename
    does not overwrite); a reader that listed the file can race the
    sub-window between those two steps and find it missing.  The manifest
    protocol's correct reading of that state is "not committed" — so
    return None instead of surfacing FileNotFoundException.
    """
    try:
        return read_text(spark, path)
    except Exception as exc:  # noqa: BLE001 — py4j wraps the Java IOException
        if "FileNotFoundException" in str(exc):
            return None
        raise


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write-to-temp + rename commit (the manifest protocol).

    Hadoop rename does not overwrite, so an existing destination is deleted
    first — the delete+rename pair is the standard HDFS commit idiom.  (On
    HDFS each step is atomic; a crash between them loses only THIS manifest
    row, which the resume protocol treats as not-done and rebuilds.)
    """
    fs, jpath, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise IOError(f"rename failed: {path}.tmp -> {path}")


def move(spark: SparkSession, src: str, dst: str) -> None:
    fs, jsrc, jvm = _fs(spark, src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename failed: {src} -> {dst}")


def rmtree(spark: SparkSession, path: str) -> None:
    fs, jpath, _ = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
