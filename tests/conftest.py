from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small + fast for unit tests
# Python workers run under tests/pyworker/worker_daemon.py, which stops every
# task from re-reading pyspark.zip (see that module's docstring); only that
# directory goes on the executors' PYTHONPATH
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS",
    "--conf spark.python.daemon.module=worker_daemon"
    " --conf spark.executorEnv.PYTHONPATH="
    + os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")
    + " pyspark-shell",
)


@pytest.fixture(scope="session")
def spark():
    from xmlschemavalidator_spark.session import get_spark

    s = get_spark(app_name="xmlschemavalidator-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def rows(df, *cols):
    """Collect to a sorted list of tuples for exact assertions."""
    if cols:
        df = df.select(*cols)
    return sorted(tuple(r) for r in df.collect())


class NullBelow100:
    """Custom rule whose verdict is NULL (not False) for values <= 100 —
    the case ``ExprRule`` cannot produce, since it coalesces to False."""

    def to_column(self, col, registry):
        from pyspark.sql import functions as F

        return F.when(col > 100, True)

    def sql_expr(self, col_sql, registry):
        raise NotImplementedError
