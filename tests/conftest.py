"""Shared pytest fixtures: one session-scoped SparkSession (local), tiny
deterministic pages fixture, and a prebuilt index for query tests."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
# python workers spawned by the JVM need the package importable
os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


@pytest.fixture(scope="session")
def spark():
    from search_engine_tr_spark.session import get_spark

    s = get_spark(app="pytest", cores=int(os.environ.get("PYTEST_SPARK_CORES", "8")),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pages():
    from search_engine_tr_spark.sources.synth import gen_pages

    return gen_pages(120, seed=42)


@pytest.fixture(scope="session")
def tiny_pages_df(spark, tiny_pages):
    from search_engine_tr_spark.sources.synth import pages_schema

    df = spark.createDataFrame(tiny_pages, schema=pages_schema())
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_pages_df, tmp_path_factory):
    """Built block index over the tiny fixture + its metrics."""
    from search_engine_tr_spark.plans.index_build import build_index

    out = str(tmp_path_factory.mktemp("index"))
    metrics = build_index(spark, tiny_pages_df, out, n_shards=4, term_buckets=8)
    return out, metrics


@pytest.fixture(scope="session")
def oracle_index(tiny_pages):
    """Oracle in-memory index over the same fixture (page insertion order)."""
    from search_engine_tr_spark.oracle.refscore import OracleIndex

    idx = OracleIndex()
    for p in tiny_pages:
        idx.add_page(p["url"], p["html"].decode("utf-8", errors="ignore"))
    return idx


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def refresh_regime(monkeypatch):
    """→ ``use(regime)``: send every delta refresh of the test to
    ``regime`` — "driver" (pyarrow and pandas, no Spark job) or "spark" —
    through the driver regime's postings cap. ``use`` returns the list of
    driver-regime writes the test then makes, so the test can check that
    the regime really ran."""
    from search_engine_tr_spark.streaming import incremental as inc

    def use(regime: str) -> list:
        cap = {"driver": 1 << 62, "spark": -1}[regime]
        monkeypatch.setattr(inc, "_DRIVER_MAX_DELTA_POSTINGS", cap)
        writes = []
        real = inc._write_delta_driver

        def spy(*args):
            writes.append(args)
            return real(*args)

        monkeypatch.setattr(inc, "_write_delta_driver", spy)
        return writes

    return use
