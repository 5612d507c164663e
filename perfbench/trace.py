"""Outside-in tracing: spans around the benchmark's calls into each layer,
and layer counters read from public Spark surfaces.

- Spans are kept in memory (name, parent, start, end) and written out at
  the end; a span's self time is its duration minus its children's.
- Driver build cost: ``Py4jCounter`` wraps the py4j gateway client's
  ``send_command`` and counts commands.
- Catalyst: ``queryExecution().tracker().phases()``.
- Execution: ``statusStore().lastStageAttempt(id)`` for every stage of the
  query's job group, and WholeStageCodegen coverage of the final plan
  via ``plans.introspect.plan_summary``.
- Streaming: ``StreamingQuery.recentProgress``.

None of these needs the Spark UI.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import math
import re
import statistics
import time

MB = 1024 * 1024


def quantile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    if not sorted_vals:
        return math.nan
    return sorted_vals[min(len(sorted_vals) - 1, max(0, math.ceil(q * len(sorted_vals)) - 1))]


@dataclasses.dataclass
class Result:
    """What a workload hands back to run.py."""

    e2e: dict
    layers: dict
    attempted: int
    failed: int
    detail: dict
    notes: list


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class Py4jCounter:
    """Counts py4j gateway commands by wrapping the client's send_command
    while installed."""

    def __init__(self, spark):
        self.count = 0
        self.client = spark.sparkContext._gateway._gateway_client
        self.inner = self.client.send_command

    def install(self) -> None:
        def send_command(*args, **kwargs):
            self.count += 1
            return self.inner(*args, **kwargs)

        self.client.send_command = send_command

    def remove(self) -> None:
        self.client.send_command = self.inner


def catalyst_phases(jdf) -> dict[str, float]:
    """Catalyst phase durations (s) of an executed Dataset."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum stage metrics over every job of a job group."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tot = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
           "spill_mb": 0.0, "scan_mb": 0.0, "tasks": 0.0}
    stages = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never submitted (skipped): no attempt
            continue
        tot["run_s"] += s.executorRunTime() / 1000
        tot["cpu_s"] += s.executorCpuTime() / 1e9
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
        tot["shuffle_read_mb"] += (s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()) / MB
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        tot["scan_mb"] += s.inputBytes() / MB
        tot["tasks"] += s.numCompleteTasks()
    return tot


def codegen_fraction(df) -> float:
    """Share of the final plan's operators that run inside
    WholeStageCodegen, from the formatted explain of an executed plan."""
    from anti_ddos_spark.plans.introspect import plan_summary

    text = plan_summary(df)["text"]
    nodes = re.findall(r"^\(\d+\) (.*)$", text, re.M)
    if not nodes:
        return 0.0
    return sum("[codegen id" in n for n in nodes) / len(nodes)


def _sum(progress, key: str) -> float:
    return sum(p["durationMs"].get(key, 0) for p in progress) / 1000


def stream_layers(progress: list, scored_rows: int) -> dict[str, float]:
    """Per-layer stream numbers from a query's progress records, plus the
    number of rows the sink received."""
    batches = [p for p in progress if p["durationMs"].get("triggerExecution")]
    state = [op for p in batches for op in p["stateOperators"]]
    # how stale the newest input is when a batch starts
    lags = [iso_seconds(p["timestamp"]) - iso_seconds(p["eventTime"]["max"])
            for p in batches if p["eventTime"].get("max")]
    dur = [p["durationMs"]["triggerExecution"] / 1000 for p in batches]
    return {
        "sources.input_rows": float(sum(p["numInputRows"] for p in batches)),
        "sources.fetch_s": _sum(batches, "latestOffset") + _sum(batches, "getBatch"),
        "sources.lag_s": statistics.median(lags) if lags else 0.0,
        "streaming.batches": float(len(batches)),
        "streaming.batch_s_p50": statistics.median(dur) if dur else 0.0,
        "streaming.plan_s": _sum(batches, "queryPlanning"),
        "streaming.add_batch_s": _sum(batches, "addBatch"),
        "streaming.checkpoint_s": _sum(batches, "walCommit") + _sum(batches, "commitOffsets"),
        "streaming.state.commit_s": sum(op["commitTimeMs"] for op in state) / 1000,
        "streaming.state.update_s": sum(op["allUpdatesTimeMs"] for op in state) / 1000,
        "streaming.state.removal_s": sum(op["allRemovalsTimeMs"] for op in state) / 1000,
        "streaming.state.rows_peak": float(max((op["numRowsTotal"] for op in state), default=0)),
        "streaming.state.memory_mb_peak":
            max((op["memoryUsedBytes"] for op in state), default=0) / MB,
        "streaming.state.late_rows_dropped":
            float(sum(op.get("numRowsDroppedByWatermark", 0) for op in state)),
        "ml.scored_rows": float(scored_rows),
    }


def iso_seconds(ts: str) -> float:
    import datetime as _dt

    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


FAMILIES = ("core", "flow", "textops", "similarity")
_QUERY_LAYER = ("queries.{f}.build_s", "queries.{f}.py4j_calls",
                "catalyst.{f}.analysis_s", "catalyst.{f}.optimization_s",
                "catalyst.{f}.planning_s", "exec.{f}.wall_s", "exec.{f}.run_s",
                "exec.{f}.cpu_s", "exec.{f}.shuffle_write_mb", "exec.{f}.shuffle_read_mb",
                "exec.{f}.spill_mb", "exec.{f}.scan_mb", "exec.{f}.tasks",
                "exec.{f}.codegen_fraction")


def zero_layers() -> dict[str, float]:
    """Every per-layer metric at 0: a layer the workload never calls."""
    out = {m.format(f=f): 0.0 for f in FAMILIES for m in _QUERY_LAYER}
    out.update(stream_layers([], 0))
    out.update({"generator.late_s_max": 0.0, "process.peak_rss_mb": 0.0,
                "trace.pass_s": 0.0, "trace.overhead_s": 0.0})
    return out
