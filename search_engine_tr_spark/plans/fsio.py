"""Filesystem IO for index sidecar files (meta.json, ingest intent) that
works on any Hadoop-supported filesystem, not just the driver's local disk.

The index tables themselves are always read/written through Spark, so they
are scheme-agnostic for free; the *sidecars* were previously driver-local
``open()`` calls (the documented limitation in stream_ingest_index and
VERDICT r3 item 7). Here every sidecar operation goes through:

- a **local fast path** (plain ``os``/``open`` with atomic ``os.rename``
  publishes) when the path has no scheme or a ``file:`` scheme, and
- the **JVM Hadoop FileSystem API** (``Path.getFileSystem`` →
  create/open/delete/listStatus) otherwise, so an index rooted at
  ``hdfs://`` / ``s3a://`` works unchanged. Hadoop ``create(overwrite)``
  is not rename-atomic on every store; object stores publish on close,
  which is the same visibility contract Spark's own committers rely on.

No new dependency: the JVM classes ship with pyspark.

Two helpers serve the driver-side table IO: ``arrow_root`` resolves a root
for ``pyarrow`` (the driver regimes of the reader, the delta refresh and
the ingest), and ``column_stats`` reads a column's max and the row counts
of a parquet table from its file footers instead of with a Spark job;
``row_count`` reads only the row count, from the footers on any root.
"""

from __future__ import annotations

import json
import os
import uuid


def local_path(path: str) -> str | None:
    """The OS path if ``path`` is driver-local (no scheme or file:), else
    None. Windows drive letters are not a concern on cluster images."""
    if "://" not in path and not path.startswith("file:"):
        return path
    if path.startswith("file://"):
        rest = path[len("file://"):]
        if rest.startswith("/"):  # file:///path — empty authority
            return rest
        # file://HOST/path: only a literal localhost authority is the
        # driver's own filesystem; anything else goes to the Hadoop branch
        # (returning the host as a relative path would silently resolve
        # against the cwd)
        host, _sep, p = rest.partition("/")
        if host == "localhost":
            return "/" + p
        return None
    if path.startswith("file:"):
        return path[len("file:"):]
    return None


def _jfs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark, path: str) -> bool:
    lp = local_path(path)
    if lp is not None:
        return os.path.exists(lp)
    fs, jpath = _jfs(spark, path)
    return bool(fs.exists(jpath))


def read_text(spark, path: str) -> str:
    lp = local_path(path)
    if lp is not None:
        with open(lp) as f:
            return f.read()
    fs, jpath = _jfs(spark, path)
    stream = fs.open(jpath)
    try:
        # read fully JVM-side: py4j passes byte[] BY VALUE, so a
        # stream.read(python_bytearray) loop would never see the data
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Publish ``text`` at ``path``. Local: tmp-file + ``os.rename`` (an
    atomic all-or-nothing swap — readers never see a torn file). Remote:
    Hadoop ``create(overwrite=True)``; visibility on close. Missing parent
    directories are created on both branches."""
    lp = local_path(path)
    if lp is not None:
        os.makedirs(os.path.dirname(lp) or ".", exist_ok=True)
        tmp = f"{lp}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, lp)
        return
    fs, jpath = _jfs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def delete(spark, path: str, recursive: bool = False) -> bool:
    lp = local_path(path)
    if lp is not None:
        if not os.path.exists(lp):
            return False
        if os.path.isdir(lp):
            if not recursive:
                raise IsADirectoryError(lp)
            import shutil
            shutil.rmtree(lp)
        else:
            os.remove(lp)
        return True
    fs, jpath = _jfs(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, recursive))


def list_files(spark, path: str) -> list[str]:
    """Full paths of the regular files directly under ``path`` (no
    recursion); [] if the directory doesn't exist."""
    lp = local_path(path)
    if lp is not None:
        if not os.path.isdir(lp):
            return []
        return sorted(os.path.join(lp, n) for n in os.listdir(lp)
                      if os.path.isfile(os.path.join(lp, n)))
    fs, jpath = _jfs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        if st.isFile():
            out.append(st.getPath().toString())
    return sorted(out)


def list_files_recursive(spark, path: str) -> list[str]:
    """Full paths of all regular files under ``path``, recursively
    (partitioned parquet tables nest key=value dirs); [] if missing."""
    lp = local_path(path)
    if lp is not None:
        if not os.path.isdir(lp):
            return []
        out = []
        for root, _dirs, files in os.walk(lp):
            out.extend(os.path.join(root, f) for f in files)
        return sorted(out)
    fs, jpath = _jfs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return sorted(out)


def read_json(spark, path: str) -> dict:
    return json.loads(read_text(spark, path))


def write_json(spark, path: str, obj: dict) -> None:
    write_text(spark, path, json.dumps(obj, indent=2))


def arrow_root(root: str):
    """(pyarrow filesystem, path) of ``root``, or None when pyarrow cannot
    open it (``s3a://``, or ``hdfs://`` without libhdfs)."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    local = local_path(root)
    if local is not None:
        return pafs.LocalFileSystem(), local
    try:
        return pafs.FileSystem.from_uri(root)
    except (pa.ArrowInvalid, OSError):
        return None


def column_stats(spark, table_dir: str, col: str) -> dict:
    """{file: (max of ``col`` or None, row count)} over the parquet files
    under ``table_dir`` (recursive: partitioned tables nest) that Spark
    reads, i.e. not under a ``_`` or ``.`` name (``_temporary``, a hidden
    in-flight file).

    Local roots read the parquet FOOTERS only: O(#files), no data scan. A
    file without ``col`` has max None; a file without usable stats for it
    is read for that one column. Non-local roots run one column-pruned
    Spark aggregate per file."""
    files = [fp for fp in list_files_recursive(spark, table_dir)
             if fp.endswith(".parquet")]
    lp = local_path(table_dir)
    if lp is None:
        if not files:  # no table: nothing for Spark to read
            return {}
        from pyspark.sql import functions as F

        df = spark.read.option("mergeSchema", "true").parquet(table_dir)
        c = F.col(col) if col in df.columns else F.lit(None)
        rows = (df.groupBy(F.input_file_name().alias("f"))
                .agg(F.max(c).alias("mx"), F.count(F.lit(1)).alias("n"))
                .collect())
        return {r["f"]: (None if r["mx"] is None else int(r["mx"]), r["n"])
                for r in rows}
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = {}
    for fp in files:
        if any(p.startswith(("_", "."))
               for p in os.path.relpath(fp, lp).split(os.sep)):
            continue
        md = pq.ParquetFile(fp).metadata
        mx = None
        if col in md.schema.names:
            ci = md.schema.names.index(col)
            stats = [md.row_group(rg).column(ci).statistics
                     for rg in range(md.num_row_groups)]
            if all(st is not None and st.has_min_max for st in stats):
                mx = max((st.max for st in stats), default=None)
            else:  # stats missing: read the one column
                mx = pc.max(pq.read_table(fp, columns=[col])[col]).as_py()
        out[fp] = (None if mx is None else int(mx), md.num_rows)
    return out


def column_max_count(spark, table_dir: str, col: str) -> tuple:
    """(max of ``col`` or None, row count) of the parquet table under
    ``table_dir``, from ``column_stats``."""
    stats = column_stats(spark, table_dir, col)
    return (max((mx for mx, _ in stats.values() if mx is not None),
                default=None),
            sum(n for _, n in stats.values()))


def row_count(spark, table_dir: str) -> int:
    """Rows of the parquet table under ``table_dir`` (the files Spark
    reads, as in ``column_stats``) from the file footers alone: pyarrow on
    local roots, the JVM's parquet-hadoop reader on others. No Spark job."""
    if local_path(table_dir) is not None:
        return sum(n for _, n in column_stats(spark, table_dir, "").values())
    fs, jpath = _jfs(spark, table_dir)
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    root, n = fs.makeQualified(jpath).toString().rstrip("/"), 0
    for path in list_files_recursive(spark, table_dir):
        rel = path[len(root):]
        if rel.endswith(".parquet") and not any(
                p.startswith(("_", ".")) for p in rel.split("/")):
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    jvm.org.apache.hadoop.fs.Path(path), conf))
            n += reader.getRecordCount()
            reader.close()
    return n
