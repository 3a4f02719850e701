from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from odl_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("ODL_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("odl-etl-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cc_path(spark):
    """``with cc_path(path):`` runs connected components on one path:
    "local" (the driver union-find, default conf) or "loop" (the
    distributed rounds, forced by turning auto-broadcast off)."""
    from contextlib import contextmanager

    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def use(path):
        assert path in ("local", "loop"), path
        old = spark.conf.get(key)
        if path == "loop":
            spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return use


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Emit PYTEST_SUMMARY.json at the repo root on every run, so the
    per-round test health is a diffable artifact (VERDICT.md r2 #9)
    without re-running minutes of Spark tests."""
    import json
    import time

    stats = terminalreporter.stats
    out = {
        "exitstatus": int(exitstatus),
        "passed": len(stats.get("passed", [])),
        "failed": len(stats.get("failed", [])),
        "error": len(stats.get("error", [])),
        "skipped": len(stats.get("skipped", [])),
        "duration_s": round(time.time() - terminalreporter._sessionstarttime, 1),
        "failed_nodeids": [r.nodeid for r in stats.get("failed", [])][:25],
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PYTEST_SUMMARY.json"), "w") as f:
        json.dump(out, f, indent=1)
