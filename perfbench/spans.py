"""Per-layer spans for the traced run, measured from outside the program.

The tracer replaces public functions of the program's modules with wrappers
for the duration of one job. Each wrapper opens a span named
`<module>.<function>[.<table>]`, labels the Spark jobs started inside it
with `setJobGroup(<span name>)`, and reads the CPU of the Python workers
(the JVM's descendants) from /proc at both ends. Spans stay in memory; after
the session stops, the Spark event log's task metrics are attributed to the
span whose job group launched them.

Spark is lazy, so work lands in the span whose action triggers it: pass-2
template assignment, parse and validate run inside
`lineage.write_table.turns_parsed`; enrich, the route joins and the fanout
write inside `lineage.write_table.routed`; `pipeline.route` holds only the
count action that materializes the window-count cache.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

from log_analysis_ai_spark import job
from log_analysis_ai_spark.lineage import SinkStore
from log_analysis_ai_spark.operators import drain

from procstat import tree_cpu_s

# spans that get the full task-metric set, and spans that get time only
HEAVY = (
    "drain.mine_catalog",
    "lineage.write_table.turns_parsed",
    "lineage.write_table.routed",
    "pipeline.route",
    "curate.write.audit",
)
LIGHT = (
    "job.run_checkpointed",
    "curate.curate",
    "lineage.write_table.dead_letter",
    "lineage.write_table.templates",
    "lineage.write_table.agg_template_tool",
    "lineage.write_table.sink_counts",
    "lineage.read_table",
    "lineage.committed",
    "drain.templates_table",
    "curate.write.kept",
)
COUNTED = ("lineage.read_table", "lineage.committed")
# (metric, unit, better)
HEAVY_METRICS = (
    ("self_s", "s", "lower"),
    ("tasks", "count", "lower"),
    ("task_run_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("pyworker_cpu_s", "s", "lower"),
    ("task_max_over_median", "ratio", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("shuffle_read_bytes", "B", "lower"),
    ("shuffle_fetch_wait_s", "s", "lower"),
    ("spill_bytes", "B", "lower"),
    ("output_bytes", "B", "lower"),
)
LIGHT_METRICS = (("self_s", "s", "lower"), ("task_run_s", "s", "lower"))
RATIOS = (
    ("job.resume_skip_frac", "ratio", "higher"),
    ("drain.distinct_line_frac", "ratio", "lower"),
    ("drain.catalog_templates", "count", "lower"),
    ("pipeline.route.broadcast", "count", "higher"),
    ("lineage.files_written", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
TABLES_PER_RUN = 6
# Metrics that read 0 on every workload BENCHMARK.json judges, at its input
# sizes in local mode: no span spills, local shuffle reads never wait, the
# stage 0-1 write shuffles nothing, route and the routed write run no Python,
# mine_catalog and route write nothing, and nothing resumes. A traced run
# prints them; its JSON result and BENCHMARK.json leave them out.
UNJUDGED = frozenset(
    [f"{s}.spill_bytes" for s in HEAVY]
    + [f"{s}.shuffle_fetch_wait_s" for s in HEAVY]
    + [
        "drain.mine_catalog.output_bytes",
        "pipeline.route.output_bytes",
        "lineage.write_table.turns_parsed.shuffle_write_bytes",
        "lineage.write_table.turns_parsed.shuffle_read_bytes",
        "lineage.write_table.routed.pyworker_cpu_s",
        "pipeline.route.pyworker_cpu_s",
        "drain.templates_table.task_run_s",
        "lineage.committed.self_s",
        "lineage.committed.task_run_s",
        "lineage.committed.calls",
        "job.resume_skip_frac",
    ]
)


def per_layer_spec(all_spans: bool = False) -> list[tuple[str, str, str]]:
    """The per-layer metrics as (name, unit, better), in report order: all
    of them, or (the default) those BENCHMARK.json lists."""
    out = [(f"{s}.{m}", u, b) for s in HEAVY for m, u, b in HEAVY_METRICS]
    out += [(f"{s}.{m}", u, b) for s in LIGHT for m, u, b in LIGHT_METRICS]
    out += [(f"{s}.calls", "count", "lower") for s in COUNTED]
    out += list(RATIOS)
    return out if all_spans else [m for m in out if m[0] not in UNJUDGED]


class Tracer:
    def __init__(self, sc, jvm_pid: int):
        self.sc, self.jvm_pid = sc, jvm_pid
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.files_written = 0
        self.tables_written: set[str] = set()
        self.broadcast = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["id"] if parent else None, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        rec["py0"] = tree_cpu_s(self.jvm_pid)
        rec["t0"] = time.perf_counter()
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            rec["py1"] = tree_cpu_s(self.jvm_pid)
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, namer, after=None):
        def wrapper(*args, **kwargs):
            with self.span(namer(args, kwargs)):
                out = fn(*args, **kwargs)
            if after:
                after(args, out)
            return out

        return wrapper

    def _on_write(self, args, row):
        self.files_written += row["n_files"]
        self.tables_written.add(row["stage"])

    def _on_route(self, args, routed):
        # route adds two broadcast hints (window and global counts) to the
        # plan it receives when the count tables fit under the limit
        before = _broadcast_hints(args[0])
        self.broadcast = int(_broadcast_hints(routed) - before >= 2)

    @contextmanager
    def patched(self):
        """Wrap the program's layer functions for the duration of one job."""
        def fixed(name):
            return lambda args, kwargs: name

        patches = [
            (drain, "mine_catalog", fixed("drain.mine_catalog"), None),
            (drain, "templates_table", fixed("drain.templates_table"), None),
            (job, "route", fixed("pipeline.route"), self._on_route),
            (SinkStore, "write_table", lambda a, k: f"lineage.write_table.{a[2]}", self._on_write),
            (SinkStore, "read_table", fixed("lineage.read_table"), None),
            (SinkStore, "committed", fixed("lineage.committed"), None),
        ]
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in patches]
        for (owner, attr, namer, after), (_, _, fn) in zip(patches, saved):
            setattr(owner, attr, self._wrap(fn, namer, after))
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)


def _broadcast_hints(df) -> int:
    return df._jdf.queryExecution().logical().toString().count("strategy=broadcast")


def parse_event_log(path: str) -> tuple[dict[int, list[dict]], dict[int, str]]:
    """Task metrics per stage and the job group that first ran each stage."""
    tasks: dict[int, list[dict]] = defaultdict(list)
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks[ev["Stage ID"]].append(ev["Task Metrics"])
    return tasks, stage_group


def _task_row(m: dict) -> dict:
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    return {
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def task_metrics_by_span(path: str, groups: set[str]) -> dict[str, dict]:
    tasks, stage_group = parse_event_log(path)
    out: dict[str, dict] = {}
    heaviest: dict[str, tuple[float, float]] = {}
    for sid, ms in tasks.items():
        g = stage_group.get(sid)
        if g not in groups:
            continue
        rows = [_task_row(m) for m in ms]
        acc = out.setdefault(g, defaultdict(float))
        acc["tasks"] += len(rows)
        for r in rows:
            for k, v in r.items():
                acc[k] += v
        runs = [r["task_run_s"] for r in rows]
        # skew of the span's heaviest stage: max task over median task
        skew = max(runs) / median(runs) if median(runs) > 0 else 1.0
        if sum(runs) >= heaviest.get(g, (-1.0, 0.0))[0]:
            heaviest[g] = (sum(runs), skew)
    for g, (_, skew) in heaviest.items():
        out[g]["task_max_over_median"] = skew
    return out


def self_time_sum(tracer: Tracer) -> float:
    """Sum of every span's self time. It equals the root spans' wall, so
    against the job wall taken outside the tracer it shows the time no
    span covers."""
    child_t = defaultdict(float)
    for s in tracer.spans:
        if s["parent"] is not None:
            child_t[s["parent"]] += s["t1"] - s["t0"]
    return sum(s["t1"] - s["t0"] - child_t[s["id"]] for s in tracer.spans)


def span_metrics(tracer: Tracer, event_log: str | None) -> dict[str, float]:
    """Every per-layer metric of one traced job."""
    spans = tracer.spans
    child_t = defaultdict(float)
    child_py = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_t[s["parent"]] += s["t1"] - s["t0"]
            child_py[s["parent"]] += s["py1"] - s["py0"]
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        a = acc[s["name"]]
        a["self_s"] += s["t1"] - s["t0"] - child_t[s["id"]]
        a["pyworker_cpu_s"] += s["py1"] - s["py0"] - child_py[s["id"]]
        a["calls"] += 1
    names = {s["name"] for s in spans}
    if event_log:
        for g, m in task_metrics_by_span(event_log, names).items():
            acc[g].update(m)
    out: dict[str, float] = {}
    for name, _, _ in per_layer_spec(all_spans=True):
        span, _, metric = name.rpartition(".")
        if span in HEAVY or span in LIGHT:
            out[name] = float(acc[span][metric]) if span in acc else 0.0
    out["job.resume_skip_frac"] = (
        1 - len(tracer.tables_written) / TABLES_PER_RUN if "job.run_checkpointed" in names else 0.0
    )
    out["pipeline.route.broadcast"] = float(tracer.broadcast)
    out["lineage.files_written"] = float(tracer.files_written)
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
