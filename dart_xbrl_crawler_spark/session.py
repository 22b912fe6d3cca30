"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a 1000-executor cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
to the parallelism level, Arrow enabled for every pandas-UDF boundary,
UTC session timezone so DuckDB oracle comparisons are stable.

One Python worker pool per session: PySpark keys its worker daemons by
the worker environment, and the SQL runners (pandas UDFs, mapInPandas)
add ``SPARK_SIMPLIFIED_TRACEBACK=1`` to it while the RDD runner that
decodes a DataFrame built from a local list does not.  With simplified
tracebacks on, a session that touches both forks a second daemon whose
fresh workers re-import pandas, pyarrow and the engine.  The flagship
frontier job ``__spark_entry__.entry`` is such a job: it gates the
canonicalizer pandas UDF's output with a list-built robots table.
So does any library caller that hands the engine list-built inputs.
Frames read from parquet are decoded in the JVM and start no worker.
So the setting is off; the price is that a failing UDF shows the full
worker traceback (its exception type and message are unchanged).

The pool runs the engine's daemon (``daemon.py``), not
``pyspark.daemon``.  Each Python task cost 0.13-0.35 s of worker CPU
before it touched a row: the worker calls ``importlib.invalidate_caches()``
per task, and on CPython 3.11 each of the 14-16 ``zipimporter``s cached
for ``pyspark.zip`` (first on every worker's path) re-reads the
archive's central directory.  The engine's daemon re-reads an archive
only when its mtime or size changed.  It must be importable on the
workers: the package root goes on ``spark.executorEnv.PYTHONPATH``, the
same requirement the UDFs already have (cloudpickle pickles them by
reference).

Driver heap: ``SPARK_DRIVER_MEM`` if set, else half the machine's
memory, at most 48g.  A heap allowed to grow past the machine's memory
is collected so lazily that a long-lived local JVM outgrows the machine
and is OOM-killed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from .operators.politeness import EXACT_RANK_MAX

# Arrow batch size: the extract UDF carries a BINARY html column; keep
# batches small enough that a batch of zipped payloads stays well under
# executor memory even at 100 TB scale (payloads up to ~10 MB each).
_ARROW_MAX_RECORDS = "2048"
# the directory that holds this package: on the workers' path for the daemon
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_dir() -> str:
    """Shuffle/spill scratch dir.  tmpfs is opt-in-ish: SPARK_GRAFT_TMPFS
    forces it on ('1') or off ('0'); unset, /dev/shm is used only when it
    has generous free space (≥16 GiB).  Unconditional tmpfs would make
    every shuffle spill consume RAM on any Linux host — a shuffle larger
    than tmpfs capacity fails the job, and 'spilling to disk' under
    memory pressure would consume MORE memory."""
    flag = os.environ.get("SPARK_GRAFT_TMPFS")
    if flag != "0" and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            free = st.f_bavail * st.f_frsize
        except OSError:
            free = 0
        if flag == "1" or free >= 16 * 1024**3:
            path = "/dev/shm/spark_local"
            os.makedirs(path, exist_ok=True)
            return path
    return tempfile.gettempdir()


def _driver_mem() -> str:
    """Driver heap (see the module docstring)."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(2, phys // 2**31))}g"


def get_spark(
    app_name: str = "dart_xbrl_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[*]``; otherwise ``local[cores]``.  On a real
    cluster the master comes from spark-submit and these local settings
    are ignored — everything else below applies unchanged.

    UDF tracebacks are not simplified, so SQL and RDD Python runners
    share one worker factory; the driver heap is capped at half the
    machine's memory (see the module docstring for both).
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32) if cores else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", _ARROW_MAX_RECORDS
        )
        # one worker environment for SQL and RDD runners → one daemon
        .config(
            "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false"
        )
        # the engine's daemon: no per-task re-read of pyspark.zip, and
        # importable on workers whatever the JVM's working directory
        .config("spark.python.daemon.module", f"{__package__}.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
        # no \r progress spam on stdout: harness output is parsed from
        # the process tail — progress bars can push the result line out
        .config("spark.ui.showConsoleProgress", "false")
        # keep partition-dir values as strings: corp_code=00000037 must
        # NOT read back as int 37 (zero-padded codes are an invariant,
        # /root/reference/xbrl_processor.py:274)
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a rank bound up to pop_round's exact budget still plants the
        # map-side WindowGroupLimit (Spark's default stops at 1 000)
        .config("spark.sql.optimizer.windowGroupLimitThreshold", str(EXACT_RANK_MAX))
        # the session catalog creates its warehouse dir on first use (a
        # temp view or a tableExists call is enough); keep it out of cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_warehouse"),
        )
        # shuffle/spill files on tmpfs when available: the sandbox's /tmp
        # sits on a ~270 MB/s virtual disk that serializes 32 concurrent
        # shuffle writers (measured: the whole crawl round anti-scaled
        # 8→32 cores on disk I/O).  On a real cluster local dirs are
        # NVMe; tmpfs is the local-mode equivalent.
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
