"""Span recorder and Spark event-log parser for the traced run.

A span wraps one public engine call whose output is materialized at the
span's end, so Spark's lazy plans run inside the span that owns them.
Each span sets the Spark job group to its own id; the event log then
names, for every stage, the job group (the span) it ran under.  Stage
task time, GC, shuffle writes and spill are attributed to that span, and
rolled up by layer: the name before the first '.' of the span name.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = [
    "urls", "dedup", "politeness", "checkpoint", "frontier",
    "extract", "pipeline", "catalog_text",
]

# physical operators that run rows through a Python worker
_PYTHON_SCOPES = ("Pandas", "Python", "Arrow")


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op: int
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``span`` nests and sets the job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None,
                 self.op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def self_time(self, s: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered


@dataclass
class StageStats:
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python: bool = False


def parse_event_log(
    log_dir: str,
) -> tuple[dict[int, str | None], dict[int, StageStats], dict[int, str | None]]:
    """(stage id → job group, stage id → stats, job id → job group) from
    the JSON event log(s) under ``log_dir``."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    stats: dict[int, StageStats] = defaultdict(StageStats)
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    # a later job lists a reused shuffle stage again (as
                    # skipped): the first job to list a stage ran it
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stats[ev["Stage ID"]]
                    st.task_s += m.get("Executor Run Time", 0) / 1000.0
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = " ".join(
                        r.get("Scope", "") + r.get("Name", "")
                        for r in info.get("RDD Info", [])
                    )
                    stats[info["Stage ID"]].python = any(p in scopes for p in _PYTHON_SCOPES)
    return stage_group, dict(stats), job_group


def layer_stage_totals(tracer: Tracer, stage_group: dict, stats: dict) -> dict:
    """Per (op, layer) sums of stage stats; python-stage task time goes
    to (op, "<layer>.python") as well.  Stages under no span are not
    attributed."""
    by_id = {s.id: s for s in tracer.spans}
    per_layer: dict[tuple[int, str], StageStats] = defaultdict(StageStats)
    for sid, st in stats.items():
        span = by_id.get(stage_group.get(sid) or "")
        if span is None:
            continue
        acc = per_layer[(span.op, span.layer)]
        acc.task_s += st.task_s
        acc.gc_s += st.gc_s
        acc.shuffle_write_bytes += st.shuffle_write_bytes
        acc.spill_bytes += st.spill_bytes
        if st.python:
            per_layer[(span.op, span.layer + ".python")].task_s += st.task_s
    return per_layer


# -- per-layer metrics ----------------------------------------------------
# Spans whose wall time is reported directly as "<span name>_s".
SPAN_METRICS = [
    "urls.canon", "dedup.first_wins", "dedup.filter_commit", "politeness.pop",
    "politeness.fetch_partition", "checkpoint.read", "checkpoint.commit",
    "checkpoint.compact", "frontier.fetch_join", "frontier.metrics_commit",
    "extract.kernel", "pipeline.meta_join", "pipeline.corp_join", "pipeline.sink",
    "catalog_text.q48_simhash_md5_pairs",
]
# Counts the workloads measure at layer boundaries (Workload.counts).
COUNT_METRICS = {
    "urls.fast_path_share": "ratio",
    "dedup.dup_share": "ratio",
    "politeness.ranked_rows": "count",
    "politeness.selected_rows": "count",
    "checkpoint.bytes_written": "B",
    "extract.facts_out": "count",
    "extract.parse_ok_share": "ratio",
    "pipeline.sink_files": "count",
    "pipeline.sink_bytes": "B",
}
# Stage metrics from the event log, per layer.
STAGE_METRICS = {
    "dedup.shuffle_write_bytes": ("dedup", "shuffle_write_bytes"),
    "politeness.shuffle_write_bytes": ("politeness", "shuffle_write_bytes"),
    "politeness.spill_bytes": ("politeness", "spill_bytes"),
    "catalog_text.shuffle_write_bytes": ("catalog_text", "shuffle_write_bytes"),
    "catalog_text.spill_bytes": ("catalog_text", "spill_bytes"),
    "extract.python_task_s": ("extract.python", "task_s"),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    units: dict[str, str] = {}
    for layer in LAYERS:
        for m in ("self_s", "task_s", "gc_s"):
            units[f"{layer}.{m}"] = "s"
    units.update({f"{n}_s": "s" for n in SPAN_METRICS})
    units.update(COUNT_METRICS)
    units.update({
        n: "s" if n.endswith("_s") else "B" for n in STAGE_METRICS
    })
    units.update({
        "trace.jobs_per_op": "count",
        "trace.untraced_op_s": "s",
        "trace.decomposed_op_s": "s",
        "trace.overhead_ratio": "ratio",
    })
    return units


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, log_dir: str, untraced: list, traced: list,
                  counts: list[dict]) -> tuple[str, dict]:
    """Median per traced op of every per-layer metric, and a printable
    table.  ``untraced``/``traced`` are (seconds, items, failed, cpu
    seconds) per op."""
    stage_group, stats, job_group = parse_event_log(log_dir)
    per_layer = layer_stage_totals(tracer, stage_group, stats)
    ops = range(tracer.op)
    vals: dict[str, float] = {}
    for layer in LAYERS:
        vals[f"{layer}.self_s"] = _median([
            sum(tracer.self_time(s) for s in tracer.spans if s.op == k and s.layer == layer)
            for k in ops])
        for m in ("task_s", "gc_s"):
            vals[f"{layer}.{m}"] = _median([
                getattr(per_layer.get((k, layer), StageStats()), m) for k in ops])
    for n in SPAN_METRICS:
        vals[f"{n}_s"] = _median([
            sum(s.dur for s in tracer.spans if s.op == k and s.name == n) for k in ops])
    for n in COUNT_METRICS:
        vals[n] = _median([c[n] for c in counts if n in c])
    for n, (key, m) in STAGE_METRICS.items():
        vals[n] = _median([getattr(per_layer.get((k, key), StageStats()), m) for k in ops])
    jobs = Counter(g for g in job_group.values() if g and g.startswith("op"))
    u = _median([r[0] for r in untraced if r[0] is not None])
    d = _median([r[0] for r in traced if r[0] is not None])
    vals.update({
        "trace.jobs_per_op": _median(list(jobs.values())),
        "trace.untraced_op_s": u,
        "trace.decomposed_op_s": d,
        "trace.overhead_ratio": d / u if u else 0.0,
    })
    units = per_layer_units()
    metrics = {n: {"value": vals[n], "unit": units[n]} for n in units}
    lines = [f"per-layer table: median per op over {tracer.op} traced ops, "
             f"{len(untraced)} untraced ops",
             f"{'layer':<14}{'self_s':>10}{'task_s':>10}{'gc_s':>10}"]
    for layer in LAYERS:
        lines.append(f"{layer:<14}" + "".join(
            f"{vals[f'{layer}.{m}']:>10.3f}" for m in ("self_s", "task_s", "gc_s")))
    lines += [f"{n:<40}{vals[n]:>16.4f} {units[n]}" for n in units
              if not any(n == f"{layer}.{m}" for layer in LAYERS
                         for m in ("self_s", "task_s", "gc_s"))]
    return "\n".join(lines), metrics
