"""Self-test of the benchmark itself (takes a few minutes).

    python3 perfbench/selftest.py

1. A tiny-size run of every workload, untraced and traced, exits 0 and
   emits exactly the metrics BENCHMARK.json names, each with its unit.
2. Deliberately corrupted outputs fail their checks: one fact row
   dropped from the extract sink, and one url dropped from a
   bootstrapped store's base.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_tiny(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metric_names(spec: dict) -> None:
    names = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in spec["workloads"]:
        for trace in (0, 1):
            out = run_tiny(w["name"], trace)
            assert out["correct"] and out["failed"] == 0, out
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == names[trace], (
                f"{w['name']} trace={trace}: missing {set(names[trace]) - set(got)}, "
                f"extra {set(got) - set(names[trace])}")
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics")


def check_corruption_is_caught() -> None:
    sys.path[:0] = [str(ROOT), str(HERE)]
    import run
    import workloads as W

    rundir = run.open_run_dir(f"selftest-{os.getpid()}")
    spark = run.start_session(rundir, trace=False)
    try:
        fx = W.FetchExtract(spark, str(rundir), seed=7, scale="tiny")
        fx.setup()
        _, info = fx.op()
        assert fx.check(info) == [], "the uncorrupted op must pass"
        sink = f"{rundir}/sink/op{info[0]}"
        facts = spark.read.parquet(sink)
        facts.limit(facts.count() - 1).write.mode("overwrite").parquet(sink + "_cut")
        fx._sink = lambda i: sink + "_cut"
        errs = fx.check(info)
        assert any("facts rows" in e for e in errs), errs
        print("ok   a dropped fact row fails the extract check")

        cs = W.CrawlStart(spark, f"{rundir}/crawl", seed=7, scale="tiny")
        cs.setup()
        _, (st, base, snap) = cs.op()
        assert cs._check_bootstrap(st, base) == [], "the uncorrupted op must pass"
        rows = st.table.table.read(spark, base)
        cut = st.table.commit_base(rows.limit(rows.count() - 1), note="corrupted")
        assert cs._check_bootstrap(st, cut), "a base missing a url must fail"
        print("ok   a url dropped from the store fails the bootstrap check")
    finally:
        run.stop_session(spark)
        shutil.rmtree(rundir, ignore_errors=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_corruption_is_caught()
    check_metric_names(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
