"""Shared pytest fixtures: one SparkSession per test session, plus
deterministic synthetic crawl fixtures (seed=42) written once to a tmp dir."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from commoncrawl_spark.fixtures import write_fixtures  # noqa: E402
from commoncrawl_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # the engine's 16g default heap suits one large job, not a session
    # that runs hundreds of small ones: ParallelGC grows the heap toward
    # its cap and never returns it, so the test JVM's resident memory
    # would climb past what a 16 GB host can give it. The fixtures are
    # small; the benchmark runs full-size crawls in a 2g driver.
    mem = os.environ.get("SPARK_DRIVER_MEM", "4g")
    s = get_spark("cc-spark-tests", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": mem})
    yield s


@pytest.fixture
def ckpt_dir(spark, tmp_path):
    """Temporarily configure a reliable checkpoint dir, restore after."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    d = str(tmp_path / "ckpt")
    sc.setCheckpointDir(d)
    yield d
    # there is no unsetCheckpointDir in the public API; clear via the
    # underlying scala option so other tests keep sandbox behavior
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


class FlakyTransport:
    """Fault injection at the crawl's transport seam: a row ``inner``
    fetched (``_fetch_error`` null) that matches ``predicate`` fails
    transiently — ``html`` null, ``_fetch_error`` 'transient_http_error'
    — as a live transport reports a timeout or 5xx. Misses keep their
    own error (``not_found``)."""

    def __init__(self, inner, predicate):
        self.inner, self.predicate = inner, predicate

    def fetch(self, batch, n_rows_hint=None):
        fetched = self.inner.fetch(batch, n_rows_hint)
        fail = F.col("_fetch_error").isNull() & self.predicate
        return fetched.withColumns({
            "html": F.when(fail, F.lit(None).cast("binary"))
            .otherwise(F.col("html")),
            "_fetch_error": F.when(fail, F.lit("transient_http_error"))
            .otherwise(F.col("_fetch_error")),
        })


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("cc_fixtures"))
    write_fixtures(out, n_pages=400, seed=42)
    return out


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TESTDATA
