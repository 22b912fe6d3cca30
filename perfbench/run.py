"""Crawl-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_start --seed 1 --seconds 1 --trace 0

Run from the repository root.  The first run in a checkout builds a
JVM class-data archive (see ``class_archive``).  Set-up (session start,
inputs, warm-up) is untimed and reported as ``setup_s``.  Then ops run
one at a time from this single Python process (a closed loop) until
``--seconds`` have passed, at least one; each op's output is checked
outside the timed section.  The last stdout line is a JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 1``
reports the per-layer metrics instead (see spans.py) and prints the
per-layer table above that line.  The exit code is 1 if any check
failed, 2 if the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM_HEAP = "1g"
# per-checkout build outputs: the JVM class-data archive and the empty
# Spark conf dir it is built against
BUILD = ROOT / ".perfbench_build"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_start", "content"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the self-test")
    ap.add_argument("--build-archive", metavar="PATH", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def archive_key() -> str:
    """What the archive was built against; another value rebuilds it."""
    import pyspark

    java = os.path.realpath(os.environ.get("JAVA_HOME", ""))
    return f"pyspark {pyspark.__version__}, java {java}"


def class_archive() -> Path | None:
    """The checkout's JVM class-data archive (AppCDS), built on first use.

    Loading Spark's classes is most of a fresh JVM's start-up here, and
    every run starts one.  The first run in a checkout builds the archive
    in a child process (``build_archive``), whose JVM dumps the classes
    it loaded when it exits.  Later runs map them.  A failed build is
    remembered, and runs go on without the archive."""
    jsa, key, failed = BUILD / "spark.jsa", BUILD / "spark.jsa.key", BUILD / "spark.jsa.failed"
    if jsa.exists() and key.exists() and key.read_text() == archive_key():
        return jsa
    if failed.exists() and failed.read_text() == archive_key():
        return None
    (BUILD / "conf").mkdir(parents=True, exist_ok=True)
    tmp = BUILD / f"spark.jsa.{os.getpid()}"
    t0 = time.perf_counter()
    proc = subprocess.Popen([sys.executable, __file__, "--workload", "crawl_start", "--seed", "0",
                             "--seconds", "0", "--build-archive", str(tmp)],
                            cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        _, err = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        err = "timed out"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode == 0 and tmp.exists() and tmp.stat().st_size > 0:
        tmp.replace(jsa)
        key.write_text(archive_key())
        print(f"perfbench: built the class-data archive in {time.perf_counter() - t0:.0f} s",
              file=sys.stderr)
        return jsa
    tmp.unlink(missing_ok=True)
    failed.write_text(archive_key())
    print(f"perfbench: class-data archive build failed, running without it:\n{err[-2000:]}",
          file=sys.stderr)
    return None


def build_archive(out: str) -> int:
    """Child process of ``class_archive``: a session that starts its
    Python workers and runs a few small parquet, aggregate and join
    jobs, and whose JVM dumps the classes it loaded to ``out`` on exit.
    Most of Spark's classes load with the session, so a longer training
    run buys little here."""
    from workloads import warm_python_workers

    rundir = open_run_dir(f"build-{os.getpid()}")
    spark = None
    try:
        spark = start_session(rundir, trace=False, jvm_opts=f"-XX:ArchiveClassesAtExit={out}")
        warm_python_workers(spark)
        spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(f"{rundir}/t")
        t = spark.read.parquet(f"{rundir}/t")
        t.groupBy("k").count().join(t, "k").count()
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
    return 0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ..."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants() -> set[int]:
    """Every live descendant of this process: the JVM, the Python
    daemon and its workers."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))):
            parent[int(d)] = int(st[1])
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, each with its reaped children: the JVM's threads,
    the Python daemon and its workers."""
    ticks = 0
    for p in descendants() | {os.getpid()}:
        if st := _stat(p):
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over this process and every live
    descendant."""
    total_kb = 0
    for p in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def open_run_dir(name: str) -> Path:
    """Create the run's working dir inside the checkout and point every
    temp path at it; put the engine and the benchmark on the Python
    workers' path."""
    rundir = ROOT / ".perfbench_runs" / name
    (rundir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(rundir / "tmp")
    os.environ["SPARK_GRAFT_TMPFS"] = "0"  # keep shuffle files in the run dir
    # an empty conf dir: the class-data archive rejects a classpath with a
    # non-empty directory on it, and Spark puts its conf dir first
    os.environ["SPARK_CONF_DIR"] = str(BUILD / "conf")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    return rundir


def start_session(rundir: Path, trace: bool, jvm_opts: str = ""):
    """A session sized for this machine, configured only from here: all
    cores, an explicit JVM heap, working dirs inside the run dir, and
    the event log on in the traced run only.  JVM log lines go to
    stderr, so stdout keeps only the result line.

    The JIT stops at C1 (``TieredStopAtLevel=1``): a run's JVM lives for
    one op, and C2 compilation never paid back inside it.  On 4 cores
    it took half the op's CPU time and competed with the engine's tasks;
    C1 alone cut a crawl_start op from 18-20 s to 15-16 s of wall time."""
    from dart_xbrl_crawler_spark.session import get_spark

    tmp = rundir / "tmp"
    extra = {
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": str(rundir / "local"),
        "spark.sql.warehouse.dir": str(rundir / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{JVM_HEAP} -XX:+AlwaysPreTouch "
            f"-XX:TieredStopAtLevel=1 -Xlog:all=warning:stderr {jvm_opts}"
        ),
    }
    if trace:
        (rundir / "eventlog").mkdir()
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = f"file://{rundir / 'eventlog'}"
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=extra)


def stop_session(spark, flush: bool = True) -> None:
    """End the JVM and every process under it, and wait for each, so no
    process outlives the run.  With ``flush`` Spark stops first and the
    JVM exits on its own (the traced run needs its event log closed, the
    archive build needs a normal JVM exit); without, the JVM is killed at
    once, since everything it wrote is in the run dir."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    procs = descendants()
    try:
        if flush:
            spark.stop()
        else:
            # connections to the JVM end with it: not errors worth a traceback
            spark.sparkContext._accumulatorServer.handle_error = lambda *_: None
            logging.getLogger("py4j").setLevel(logging.CRITICAL)
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            if not flush:
                proc.kill()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the Python daemon and workers exit when the JVM does
        deadline = time.monotonic() + 20
        for pid in procs:
            while (st := _stat(pid)) and st[0] != "Z":
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                    deadline = time.monotonic() + 5
                time.sleep(0.02)


def timed_ops(wl, fn, seconds: float, max_ops: int, results: list, errors: list):
    """Closed loop: run ``fn`` until ``seconds`` pass, at least once and
    at most ``max_ops`` times; check each op outside the timed section."""
    t_end = time.perf_counter() + seconds
    n = 0
    while n < max_ops and (n == 0 or time.perf_counter() < t_end):
        n += 1
        try:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            items, info = fn()
            dt, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            errs = wl.check(info)
        except Exception:
            dt, cpu, items, errs = None, None, 0, [traceback.format_exc(limit=3)]
        results.append((dt, items, bool(errs), cpu))
        errors.extend(errs)
        yield n


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the session stops and the
    # run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    try:
        import dart_xbrl_crawler_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.build_archive:
        return build_archive(args.build_archive)
    import gen

    jsa = class_archive()
    t_start = time.perf_counter()
    rundir = open_run_dir(f"{gen.GEN_VERSION}-{args.workload}-s{args.seed}-{os.getpid()}")
    spark = None
    results: list = []
    errors: list = []
    try:
        spark = start_session(rundir, bool(args.trace),
                              f"-XX:SharedArchiveFile={jsa}" if jsa else "")
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](spark, str(rundir), args.seed, args.scale)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        if not args.trace:
            rss = [tree_rss_mb()]
            for _ in timed_ops(wl, wl.op, args.seconds, wl.max_ops, results, errors):
                rss.append(tree_rss_mb())
            metrics = end_to_end(results, setup_s, max(rss))
        else:
            metrics = traced(spark, wl, args.seconds, results, errors, rundir)
            spark = None
    except Exception:
        errors.append(traceback.format_exc(limit=5))
        metrics = {}
    finally:
        try:
            if spark is not None:
                stop_session(spark, flush=False)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
    failed = sum(1 for r in results if r[2]) + (0 if results else 1)
    for e in errors[:10]:
        print(f"check failed: {e}", file=sys.stderr)
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": max(1, len(results)),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def end_to_end(results: list, setup_s: float, peak_rss_mb: float) -> dict:
    """The op's cost is reported in CPU seconds of the whole process tree,
    not wall time: on a shared host, CPU steal moves wall time by a
    quarter across minutes while CPU time holds within a few percent.
    The median wall time goes to stderr."""
    ok = [(dt, cpu) for dt, _, _, cpu in results if dt is not None]
    if not ok:
        return {}
    wall = statistics.median(dt for dt, _ in ok)
    print(f"perfbench: median op wall time {wall:.3f} s over {len(ok)} ops", file=sys.stderr)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_s": {"value": statistics.median(cpu for _, cpu in ok), "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }


def traced(spark, wl, seconds: float, results: list, errors: list, rundir: Path) -> dict:
    """Half the time runs untraced ops, each under its own job group (to
    count Spark jobs per op); the other half runs decomposed, traced ops.
    The session is stopped here, which flushes the event log."""
    from spans import Tracer, layer_metrics

    sc = spark.sparkContext
    untraced: list = []
    i = 0

    def grouped_op():
        nonlocal i
        i += 1
        sc.setJobGroup(f"op{i}", "untraced op")
        try:
            return wl.op()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    half = max(1, wl.max_ops // 2)
    list(timed_ops(wl, grouped_op, seconds / 2, half, untraced, errors))
    tr = Tracer(spark)
    traced_res: list = []
    counts: list[dict] = []
    for _ in timed_ops(wl, lambda: _traced_once(wl, tr), seconds / 2, wl.max_ops - half,
                       traced_res, errors):
        counts.append(wl.counts())
    results.extend(untraced + traced_res)
    stop_session(spark)
    table, metrics = layer_metrics(tr, str(rundir / "eventlog"), untraced, traced_res, counts)
    print(table)
    return metrics


def _traced_once(wl, tr):
    out = wl.traced_op(tr)
    tr.op += 1
    return out


if __name__ == "__main__":
    sys.exit(main())
