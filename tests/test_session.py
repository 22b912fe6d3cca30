"""The session factory: one Python worker pool per SparkSession, run by
the engine's worker daemon."""

from __future__ import annotations

import os

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F


def _children(pid: int) -> list[int]:
    """Pids whose parent is ``pid``, from /proc/<pid>/stat."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode().split("\0")
    except OSError:
        return []


def _worker_daemons() -> list[int]:
    """The engine's worker daemons (``python -m
    dart_xbrl_crawler_spark.daemon``) the session's JVM forked."""
    jvm = SparkContext._gateway.proc.pid
    return [
        p for p in _children(jvm)
        if "dart_xbrl_crawler_spark.daemon" in _cmdline(p)
    ]


def test_sql_and_rdd_runners_share_one_worker_daemon(spark):
    """A pandas UDF (SQL runner) and a DataFrame built from a local list
    (decoded by the RDD runner) run on the same worker daemon: the JVM
    forks exactly one."""

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    assert spark.range(4).select(plus_one("id")).collect()
    assert spark.createDataFrame([(1, "a")], "k int, v string").collect()
    daemons = _worker_daemons()
    assert len(daemons) == 1, daemons


def test_flagship_entry_runs_on_one_worker_daemon(spark):
    """``__spark_entry__.entry``, the flagship frontier job, touches both
    runners in one job (list-built robots, canonicalizer pandas UDF) and
    still leaves one daemon."""
    import __spark_entry__ as E

    assert E.entry(spark).collect()
    daemons = _worker_daemons()
    assert len(daemons) == 1, daemons


def test_pandas_udf_worker_runs_the_engine_invalidate_caches(spark):
    """The worker that runs a pandas UDF was forked from the engine's
    daemon, so the per-task ``importlib.invalidate_caches()`` reaches the
    engine's stamped zip-directory check, not the stock re-read."""
    from dart_xbrl_crawler_spark import daemon

    @F.pandas_udf("string")
    def invalidator(s: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return s.map(lambda _: f"{fn.__code__.co_filename}:{fn.__name__}")

    (got,) = {r[0] for r in spark.range(4).select(invalidator("id")).collect()}
    want = daemon.invalidate_caches.__code__
    assert got == f"{want.co_filename}:invalidate_caches"
    assert len(_worker_daemons()) == 1
