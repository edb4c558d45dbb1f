"""JSON sidecar I/O beside parquet index directories.

Index builders (``minhash_index_build``, ``ivf_index_build``) ship a
small model/params artifact next to the partition directories as an
underscore-prefixed file (invisible to parquet discovery). The parquet
write itself accepts any Hadoop URI (s3a://, hdfs://, file:/, bare
local paths), so the sidecar must too — a plain ``open()`` crashes on
every non-local URI (flagged in round-5 review). These helpers go
through the Hadoop FileSystem API of the live session, which resolves
bare local paths to the local filesystem and remote URIs to their
scheme's FS, matching wherever the parquet just landed.
"""

from __future__ import annotations

import json
from typing import Any


def _fs_and_path(spark, dir_path: str, name: str):
    jvm = spark._jvm
    parent = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = parent.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path(parent, name)


def dir_summary(spark, dir_path: str) -> tuple[int, int]:
    """(total bytes, file count) under ``dir_path`` via the Hadoop FS
    content summary — one namenode RPC, no Spark job. The prebuilt
    index readers use this to auto-select pruned vs flat scans: both
    signals are already known to the filesystem, so the caller never
    has to guess the index's scale."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    s = fs.getContentSummary(p)
    return int(s.getLength()), int(s.getFileCount())


def success_marker_token(spark, dir_path: str) -> tuple[int, int] | None:
    """One-stat freshness token for a Spark-written directory: the
    (mtime_ms, length) of the root ``_SUCCESS`` marker, which Spark's
    commit protocol rewrites on EVERY successful write job into the
    directory — builds and appends alike, from any process. None when
    the marker is absent (committer configured with
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``, or a
    non-Spark writer): freshness cannot be proven. One stat, where
    ``dir_summary`` is a recursive listing."""
    fs, p = _fs_and_path(spark, dir_path, "_SUCCESS")
    if not fs.exists(p):
        return None
    st = fs.getFileStatus(p)
    return int(st.getModificationTime()), int(st.getLen())


def write_json_sidecar(spark, dir_path: str, name: str, obj: Any) -> None:
    """Write ``obj`` as JSON to ``dir_path/name`` (overwrite)."""
    fs, p = _fs_and_path(spark, dir_path, name)
    out = fs.create(p, True)
    try:
        out.write(json.dumps(obj).encode("utf-8"))
    finally:
        out.close()


def read_json_sidecar(spark, dir_path: str, name: str) -> Any | None:
    """Read ``dir_path/name`` as JSON; None when the file is absent
    (callers decide whether absence is an error — for sketch-param
    sidecars it is, unless every parameter was passed explicitly)."""
    fs, p = _fs_and_path(spark, dir_path, name)
    if not fs.exists(p):
        return None
    # hadoop-common's own IOUtils + java.io only: commons-io is a
    # TRANSITIVE Hadoop dependency that shaded/trimmed Spark distros
    # may drop, while org.apache.hadoop.io lives in the same jar as
    # the FileSystem API used above (ADVICE r6).
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 8192)
        data = bytes(bos.toByteArray())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))
