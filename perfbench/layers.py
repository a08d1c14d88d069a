"""Per-layer probes used only by the traced pass: a streaming progress
listener, a timed sink wrapper, operator-prefix probes and an event-log
reader.  Everything here sits outside the engine and calls only its
public functions."""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

from riko_spark.streaming.sink import UpsertSink

PHASES = {"addBatch": "add_batch", "queryPlanning": "query_planning",
          "walCommit": "wal_commit", "commitOffsets": "commit_offsets",
          "latestOffset": "latest_offset"}


def progress_time(p: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one micro-batch progress record."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


class ProgressListener(StreamingQueryListener):
    """Keeps every progress record as parsed JSON (phase durations and
    state-operator metrics included)."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def stream_layers(progress: list[dict], tracer) -> dict[str, float]:
    """Streaming and state-store layer metrics from progress records:
    per data batch medians of the phase durations and state commit,
    peak state rows and memory, and total late drops.  Each micro-batch
    is also recorded as a span."""
    for p in progress:
        tracer.add("streaming.batch", *progress_time(p), batch=p["batchId"],
                   rows=p.get("numInputRows", 0))
    data = [p for p in progress if p.get("numInputRows")]
    out: dict[str, float] = {}
    if not data:
        return out
    for key, name in PHASES.items():
        out[f"streaming.{name}_ms"] = statistics.median(
            p["durationMs"].get(key, 0) for p in data)
    out["streaming.batch_ms"] = statistics.median(
        p["durationMs"].get("triggerExecution", 0) for p in data)
    out["streaming.batches"] = len(data)
    ops = [p.get("stateOperators") or [] for p in progress]
    out["streaming.state.commit_ms"] = statistics.median(
        sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators") or [])
        for p in data)
    out["streaming.state.rows_total"] = max(
        (sum(o.get("numRowsTotal", 0) for o in os_) for os_ in ops), default=0)
    out["streaming.state.memory_bytes"] = max(
        (sum(o.get("memoryUsedBytes", 0) for o in os_) for os_ in ops), default=0)
    out["streaming.state.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for os_ in ops for o in os_)
    return out


class TracedSink(UpsertSink):
    """UpsertSink whose call is split into compute and write: the batch
    is persisted and counted first (the stateful plan runs), then the
    engine's merge runs on the cached rows and is timed alone."""

    def __init__(self, *args, tracer=None, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.rows = 0
        self.partitions = 0
        self.upsert_s: list[float] = []

    def __call__(self, batch, batch_id: int) -> None:
        cached = batch.persist()
        try:
            with self.tracer.span("sink.compute", batch=batch_id):
                n = cached.count()
            before = self._read_manifest()
            with self.tracer.span("sink.upsert", batch=batch_id) as sp:
                super().__call__(cached, batch_id)
            self.upsert_s.append(sp["end"] - sp["start"])
            after = self._read_manifest()
            self.rows += n
            self.partitions += sum(1 for k, v in after.items() if before.get(k) != v)
        finally:
            cached.unpersist()


def sink_layers(sinks) -> dict[str, float]:
    """Sink metrics per query: median upsert time per batch, and rows
    written and partitions rewritten per drain."""
    sinks = sinks if isinstance(sinks, list) else [sinks]
    return {"sink.upsert_s": statistics.median(s for k in sinks for s in k.upsert_s),
            "sink.rows_written": statistics.median(k.rows for k in sinks),
            "sink.partitions_rewritten": statistics.median(k.partitions for k in sinks)}


def prefix_probe(spark, tracer, steps: list[tuple[str, object]], prefix: str,
                 repeats: int = 3) -> dict[str, float]:
    """Materialize each operator prefix to Spark's ``noop`` sink,
    ``repeats`` times, and count its rows once.  ``steps`` is
    ``[(op_name, build_fn)]`` where ``build_fn()`` returns the DataFrame
    after that operator (built once per prefix: some operators run jobs
    while the plan is built); an operator's self time is the median time
    of its prefix minus that of the previous prefix."""
    out: dict[str, float] = {}
    prev = 0.0
    sc = spark.sparkContext
    for name, build in steps:
        tag = f"probe-{name}"
        sc.addJobTag(tag)
        sc.setJobDescription(f"{prefix} prefix through {name}")
        try:
            took = []
            df = build()
            for _ in range(repeats):
                with tracer.span(f"probe.{name}") as sp:
                    df.write.format("noop").mode("overwrite").save()
                took.append(sp["end"] - sp["start"])
            out[f"operators.{name}.self_s"] = statistics.median(took) - prev
            out[f"operators.{name}.rows_out"] = df.count()
            prev = statistics.median(took)
        finally:
            sc.removeJobTag(tag)
            sc.setJobDescription(None)
    return out


# ---------------------------------------------------------------- event log

_PY_NODES = ("Python", "Pandas", "Arrow")
_PY_METRICS = {"data sent to Python workers": "functions.python_bytes_sent",
               "data returned from Python workers": "functions.python_bytes_returned"}


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _events(files):
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def event_log_layers(log_dir: Path, window: tuple[float, float],
                     n_cores: int) -> dict[str, float]:
    """Spark and Python-boundary layer metrics for the jobs submitted
    inside ``window`` (epoch seconds), read from an uncompressed event
    log with the standard library."""
    # rolling logs (the default) are a directory of events_<n>_<app> files
    files = sorted((p for p in log_dir.rglob("*") if p.is_file()
                    and p.name.startswith(("events_", "local-", "app-"))),
                   key=lambda p: (len(p.name), p.name))
    if not files:
        return {}
    lo, hi = window[0] * 1000, window[1] * 1000
    stage_ok: set[int] = set()
    py_acc: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _events(files):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", 0) <= hi:
                stage_ok.update(ev.get("Stage IDs", []))
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _walk(ev.get("sparkPlanInfo", {})):
                if any(t in node.get("nodeName", "") for t in _PY_NODES):
                    for m in node.get("metrics", []):
                        if m["name"] in _PY_METRICS:
                            py_acc[m["accumulatorId"]] = _PY_METRICS[m["name"]]
                        elif m["name"] == "number of output rows":
                            py_acc[m["accumulatorId"]] = "functions.python_rows"
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    out = {"spark.shuffle_read_bytes": 0.0, "spark.shuffle_write_bytes": 0.0,
           "spark.spill_bytes": 0.0, "spark.executor_run_s": 0.0,
           "functions.python_bytes_sent": 0.0,
           "functions.python_bytes_returned": 0.0,
           "functions.python_rows": 0.0}
    skews: list[tuple[float, float]] = []
    for sid, evs in tasks.items():
        if sid not in stage_ok:
            continue
        runs = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
            out["spark.shuffle_write_bytes"] += m.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            runs.append(m.get("Executor Run Time", 0) / 1000.0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = py_acc.get(acc.get("ID"))
                if name:
                    out[name] += float(acc.get("Update") or 0)
        out["spark.executor_run_s"] += sum(runs)
        if len(runs) > 1 and sum(runs) > 0:
            skews.append((max(runs) / (sum(runs) / len(runs)), sum(runs)))
    wall = max(window[1] - window[0], 1e-9)
    out["spark.core_busy_frac"] = out["spark.executor_run_s"] / (wall * n_cores)
    # executor-time-weighted mean of per-stage max/mean task time
    total = sum(w for _, w in skews)
    out["spark.task_skew"] = (sum(s * w for s, w in skews) / total) if total else 1.0
    return out


def event_log_conf(log_dir: Path) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false"}

