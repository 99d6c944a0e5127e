"""Traced run: spans around every layer call, job groups, and the Spark
event log parsed into per-layer engine metrics.

The traced run never feeds the end-to-end metrics.  It measures the
workload twice, each time in a fresh JVM with the same set-up and window
as an end-to-end run (one set-up instead of three):

1. traced, with the Spark event log on: every layer call is wrapped in a
   span (name, start, end, parent, request id) and runs under job group
   ``layer:<layer>``, and each layer's output is pinned with an eager
   ``localCheckpoint`` inside its span, so the next layer starts from a
   materialized input and a span's time minus its children's is that
   layer's self time;
2. untraced.

The tracing overhead is (1) minus (2) for ``wall_s`` and
``latency_p50_ms``; it includes the materialization.  Spans are kept in
memory and written to ``.perfbench_traces/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

from perfbench import harness, metrics, pipeline

TRACES = Path(__file__).resolve().parent.parent / ".perfbench_traces"
GROUP = "layer:"   # job group prefix of traced layer calls
# layers the traced session runs only after its window (a second signature
# pass, plan/execution splits of the read path): they have their own
# per-layer metrics and are not part of the measured unit's totals
POST_WINDOW = frozenset({"signature", "sql_split"})


class Tracer(pipeline.Layers):
    """Records spans and runs each layer call under job group
    ``layer:<name>``; :meth:`step` pins each layer's output with an eager
    ``localCheckpoint`` inside the layer's span, so the next layer starts
    from a materialized input."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.frames: dict[str, list] = defaultdict(list)
        self.request: str | None = None
        self._local = threading.local()   # per-thread span stack

    @contextlib.contextmanager
    def layer(self, name: str, request: str | None = None):
        sc = self.spark.sparkContext
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        span = {"id": len(self.spans), "name": name,
                "request": request or self.request,
                "parent": parent["id"] if parent else None,
                "start": time.time()}
        self.spans.append(span)
        stack.append(span)
        sc.setJobGroup(GROUP + name, name)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            if parent:
                sc.setJobGroup(GROUP + parent["name"], parent["name"])
            else:
                # outside every span: jobs carry no group, so no layer's
                # counters include them
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def step(self, name: str, df):
        out = df.localCheckpoint(eager=True)
        self.frames[name].append((self.request, out))
        return out

    def self_s(self) -> dict[str, float]:
        """Per layer: span time minus the time covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# --- event log ------------------------------------------------------------------------

def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id → (node name, metric name), from a sparkPlanInfo tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _plan_metrics(c, out)


def parse_event_log(directory: Path) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task/GC/scheduler-delay seconds,
    shuffle/spill/input/output bytes, and SQL scan metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_names: dict[int, tuple] = {}
    stages_seen: dict[str, set] = defaultdict(set)
    driver_updates: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(p for p in directory.rglob("events_*") if p.is_file())
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "none"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "none")
                    stages_seen[g].add(ev.get("Stage ID"))
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    d = groups[g]
                    d["tasks"] += 1
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    run = tm.get("Executor Run Time", 0) / 1000.0
                    d["task_s"] += dur
                    d["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    d["scheduler_delay_s"] += max(0.0, dur - run - (
                        tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)) / 1000.0)
                    d["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    d["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get(
                        "Memory Bytes Spilled", 0)
                    inp = tm.get("Input Metrics") or {}
                    d["bytes_read"] += inp.get("Bytes Read", 0)
                    d["records_read"] += inp.get("Records Read", 0)
                    out = tm.get("Output Metrics") or {}
                    d["bytes_written"] += out.get("Bytes Written", 0)
                    d["records_written"] += out.get("Records Written", 0)
                    for acc in info.get("Accumulables", []):
                        node, name = accum_names.get(acc.get("ID"), ("", ""))
                        if node.startswith("Scan") and name == "number of output rows":
                            d["scan_rows"] += float(acc.get("Update") or 0)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, accum_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    upd = driver_updates[ev.get("executionId")]
                    for acc_id, value in ev.get("accumUpdates", []):
                        node, name = accum_names.get(acc_id, ("", ""))
                        if name == "number of files read":
                            upd["files_scanned"] += value
                        elif name == "size of files read":
                            upd["bytes_scanned"] += value
    for eid, upd in driver_updates.items():
        for k, v in upd.items():
            groups[exec_group.get(eid, "none")][k] += v
    for g, ids in stages_seen.items():
        groups[g]["stages"] = len(ids)
    return {g: dict(v) for g, v in groups.items()}


def totals(groups: dict[str, dict], layer: str | None = None) -> dict:
    """Counters summed over the job groups of the layers the measured units
    ran (or one layer's); jobs outside every span and the post-window
    layers are not counted."""
    out: dict[str, float] = defaultdict(float)
    for g, d in groups.items():
        if not g.startswith(GROUP):
            continue
        name = g[len(GROUP):]
        if (layer is None and name in POST_WINDOW) or (layer is not None and name != layer):
            continue
        for k, v in d.items():
            out[k] += v
    return out


# --- the traced run -----------------------------------------------------------------

def traced_run(workload, work: Path, seed: int, seconds: float,
               cores: int) -> tuple[dict, dict, dict]:
    """Both sessions of the traced run; returns (per-layer metric values,
    outcome, report extras)."""
    # 1. traced: fresh JVM with the event log on.  It runs first: the
    # second session starts with the OS file cache warm, so this order
    # biases the reported overhead up, not down.
    events = work / "events"
    events.mkdir(parents=True, exist_ok=True)
    spark = harness.session(work, cores, {
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": str(events),
        "spark.eventLog.compress": "false"})
    try:
        ctx = harness.Context(spark, work, seed, cores)
        state, _ = harness.set_up(workload, ctx, 1)
        workload.warm(ctx, state)
        tracer = Tracer(spark)
        ctx.layers = tracer
        traced = workload.measure(ctx, state, seconds)
        ctx.layers = None
        pass_values = workload.trace_layers(ctx, state, tracer, traced)
        failures = workload.check(ctx, state, traced)
    finally:
        harness.stop_session(spark)
    harness.restart_gateway()
    # 2. untraced, exactly as an end-to-end run measures (fresh JVM).  The
    # bytes its JVM writes are counted here, where no event log is written.
    spark = harness.session(work, cores)
    try:
        ctx = harness.Context(spark, work, seed, cores)
        state, _ = harness.set_up(workload, ctx, 1)
        write0 = harness.jvm_write_bytes(spark)
        plain = harness.measured(workload, ctx, state, seconds)
        written = harness.jvm_write_bytes(spark) - write0
        peak_rss = harness.peak_rss_mb(spark)
    finally:
        harness.stop_session(spark)
    digests = {"traced": traced.outputs.get("digests"), "untraced": plain.outputs.get("digests")}
    if digests["traced"] and digests["untraced"] and \
            set(digests["traced"]) != set(digests["untraced"]):
        failures = failures + ["output digest differs between the traced and untraced sessions"]
    outcome = {"attempted": plain.attempted + traced.attempted,
               "failed": plain.failed + traced.failed, "failures": failures}
    groups = parse_event_log(events)
    pending = {"plain": plain, "traced": traced, "write_bytes": written,
               "values": pass_values}
    values = dict.fromkeys((m.name for m in metrics.PER_LAYER), 0.0)
    exercised = workload.layer_metrics(pending, groups, tracer)
    values.update(exercised)
    values["driver.peak_rss_mb"] = peak_rss
    engine = totals(groups)
    for k in ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "scheduler_delay_s"):
        values[f"spark.{k}"] = engine.get(k, 0.0)
    overhead = {
        "untraced_wall_s": statistics.median(plain.unit_s),
        "traced_wall_s": statistics.median(traced.unit_s),
        "untraced_latency_p50_ms": harness.quantile(plain.latency_ms, 0.5),
        "traced_latency_p50_ms": harness.quantile(traced.latency_ms, 0.5),
    }
    values["trace.overhead_wall_s"] = overhead["traced_wall_s"] - overhead["untraced_wall_s"]
    values["trace.overhead_latency_ms"] = (overhead["traced_latency_p50_ms"]
                                           - overhead["untraced_latency_p50_ms"])
    TRACES.mkdir(exist_ok=True)
    trace_file = TRACES / f"{workload.name}-seed{seed}.json"
    trace_file.write_text(json.dumps({
        "workload": workload.name, "seed": seed,
        "spans": tracer.spans, "job_groups": groups,
    }, indent=1, sort_keys=True))
    tags = {m.name: {"moves": [{"metric": e, "workload": w} for e, w in m.moves],
                     "exercised": m.name in exercised
                     or m.name.startswith(("spark.", "trace.", "driver."))}
            for m in metrics.PER_LAYER}
    report = {"per_layer_tags": tags, "tracing_overhead": overhead,
              "output_digests": digests, "not_produced": metrics.NOT_PRODUCED,
              "trace_file": str(trace_file.relative_to(TRACES.parent))}
    return values, outcome, report
