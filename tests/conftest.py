from __future__ import annotations

import itertools
import os

import pytest

from astro_vectordb_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Two-tier suite (round-16 verdict item 1): the full suite's wall time
# (~76 min measured at the r15 HEAD, 617 tests) outgrew the driver's
# verify budget — the r15 driver run was truncated at ~40% with zero
# failures.  The default tier (`-m "not slow"`, set in pyproject
# addopts) deselects the measured-slowest tests — every nodeid in
# tests/slow_tests.txt, generated from a full `--durations=0` run as
# "call time >= 8 s" — which cuts ~3150 s of call time while keeping
# at least one default-tier test in every test file (verified when the
# manifest was generated).  The FULL suite still runs with
# `python -m pytest tests/ -q -m ""` and must stay green; the measured
# wall times of both tiers are in VERDICT.md ("What's wrong", item 5)
# and the ROADMAP.md "Round-16 snapshot".
_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_MANIFEST) as fh:
            slow = {ln.strip() for ln in fh if ln.strip()}
    except OSError:
        return
    for item in items:
        nid = item.nodeid
        if nid in slow or f"tests/{nid}" in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        "astro-vectordb-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture
def parquet_stream(spark, tmp_path):
    """``make(schema, *chunks)`` writes each chunk (a list of rows) as
    ONE parquet file under a fresh directory and returns a file stream
    over it reading one file per micro-batch: a finite, deterministic
    source — start the query, then ``q.processAllAvailable()``."""
    n = itertools.count()

    def make(schema: str, *chunks):
        src = str(tmp_path / f"stream_src_{next(n)}")
        for rows in chunks:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    return make
