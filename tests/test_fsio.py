"""plans.fsio: sidecar IO must behave identically through the local fast
path and the JVM Hadoop FileSystem branch. No HDFS in the sandbox, so the
JVM branch is exercised against the local filesystem by disabling the
fast-path detection — the Hadoop API calls (create/open/delete/listStatus/
listFiles) are the same ones an hdfs:// or s3a:// root would hit."""

import os

import pytest

from search_engine_tr_spark.plans import fsio


def test_local_path_detection():
    assert fsio.local_path("/a/b") == "/a/b"
    assert fsio.local_path("file:///a/b") == "/a/b"
    assert fsio.local_path("file:/a/b") == "/a/b"
    assert fsio.local_path("hdfs://nn/a") is None
    assert fsio.local_path("s3a://bucket/k") is None


@pytest.mark.parametrize("branch", ["local", "jvm"])
def test_round_trip_both_branches(spark, tmp_path, monkeypatch, branch):
    if branch == "jvm":
        monkeypatch.setattr(fsio, "local_path", lambda p: None)
    root = str(tmp_path / branch)
    os.makedirs(root)
    p = os.path.join(root, "meta.json")
    assert not fsio.exists(spark, p)
    fsio.write_json(spark, p, {"a": 1, "türkçe": "çok iyi"})
    assert fsio.exists(spark, p)
    assert fsio.read_json(spark, p) == {"a": 1, "türkçe": "çok iyi"}
    fsio.write_json(spark, p, {"b": 2})  # overwrite publishes atomically
    assert fsio.read_json(spark, p) == {"b": 2}
    # listing: flat and recursive
    sub = os.path.join(root, "t", "k=1")
    os.makedirs(sub)
    with open(os.path.join(sub, "x.parquet"), "wb") as f:
        f.write(b"\x00")
    flat = fsio.list_files(spark, root)
    rec = fsio.list_files_recursive(spark, os.path.join(root, "t"))
    assert [os.path.basename(f) for f in flat] == ["meta.json"]
    assert [os.path.basename(f) for f in rec] == ["x.parquet"]
    assert fsio.list_files(spark, os.path.join(root, "missing")) == []
    assert fsio.delete(spark, p) is True
    assert fsio.delete(spark, p) is False
    assert not fsio.exists(spark, p)


def test_jvm_branch_large_payload(spark, tmp_path, monkeypatch):
    """The streamed JVM read must reassemble payloads larger than its
    64 KiB buffer without truncation or mojibake."""
    monkeypatch.setattr(fsio, "local_path", lambda p: None)
    p = str(tmp_path / "big.json")
    text = "ğüşiöç" * 40000  # ~480 KB utf-8
    fsio.write_text(spark, p, text)
    assert fsio.read_text(spark, p) == text


@pytest.mark.parametrize("branch", ["local", "jvm"])
def test_column_stats_both_branches(spark, tmp_path, monkeypatch, branch):
    """Per-file (max, rows) of a column, from footers on a local root and
    from one Spark aggregate otherwise: a file without statistics is read
    for the column, a file without the column has max None, and hidden or
    ``_temporary`` files, torn ones included, are not data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / branch
    os.makedirs(root / "_temporary" / "0")
    ids = pa.array(list(range(10)), pa.int64())
    pq.write_table(pa.table({"doc_id": ids}), str(root / "a.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array([20, None, 24], pa.int64())}),
                   str(root / "b.parquet"), write_statistics=False)
    pq.write_table(pa.table({"x": [1, 2, 3]}), str(root / "c.parquet"))
    for torn in (root / ".d.parquet.tmp", root / "_temporary/0/e.parquet"):
        torn.write_bytes(b"PAR1 torn")
    if branch == "jvm":
        monkeypatch.setattr(fsio, "local_path", lambda p: None)
    got = {os.path.basename(f): v
           for f, v in fsio.column_stats(spark, str(root), "doc_id").items()}
    assert got == {"a.parquet": (9, 10), "b.parquet": (24, 3),
                   "c.parquet": (None, 3)}
    assert fsio.column_max_count(spark, str(root), "doc_id") == (24, 16)
    assert fsio.column_stats(spark, str(tmp_path / "missing"), "doc_id") == {}
    # the footer-only row count: no Spark job on either branch
    sc, group = spark.sparkContext, f"row_count_{branch}"
    sc.setJobGroup(group, group)
    try:
        assert fsio.row_count(spark, str(root)) == 16
        assert fsio.row_count(spark, str(tmp_path / "missing")) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
