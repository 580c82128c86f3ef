"""Spans, the Spark event-log fold and streaming progress capture.

A span is (id, name, parent, op, start, end). Each span sets a Spark job
group, so every job it triggers carries the span id. Spans live in
memory and are written out once, at the end of a traced run.

The event log (uncompressed, turned on only in traced runs) is folded
into per-span counters: task run/CPU/GC time, spill, shuffle and output
bytes, peak execution memory, per-stage task-time skew, and the SQL
metrics of Python-worker operators, aggregations and scans. A job is
attributed to the span named by its job group; a job without one (a
streaming micro-batch runs under the query's own group) goes to the
innermost span whose time window holds its submission.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict

# SQL-metric names (Spark 4.1) folded into span counters
PY_RUN = "time to run Python workers"
PY_OUT = "data returned from Python workers"
AGG_BUILD = "time in aggregation build"
SCAN_ROWS = "number of output rows"
FILES_READ = "number of files read"
SIZE_READ = "size of files read"


class Tracer:
    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def on(self) -> bool:
        return self.spark is not None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.on:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def dur(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def dump(self, path: str, counters: dict) -> None:
        """Write the spans, each with its own event-log counters."""
        with open(path, "w") as f:
            json.dump([dict(s, counters=counters.get(s["id"], {})) for s in self.spans], f)


class StreamCapture:
    """StreamingQueryListener that keeps every progress report (as JSON)
    with its trigger start time, for attribution to spans by time."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                reports.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def for_window(self, t0: float, t1: float) -> dict:
        """Sum a span's trigger reports: durations, state size, drops."""
        from datetime import datetime

        out = defaultdict(float)
        for r in self.reports:
            ts = datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00")).timestamp()
            if not t0 <= ts <= t1:
                continue
            out["triggers"] += 1
            for k in ("addBatch", "queryPlanning", "walCommit"):
                out[f"{k}_ms"] += r["durationMs"].get(k, 0)
            ops = r.get("stateOperators", [])
            out["state_rows"] = max(out["state_rows"], sum(o["numRowsTotal"] for o in ops))
            out["state_mem_bytes"] = max(
                out["state_mem_bytes"], sum(o["memoryUsedBytes"] for o in ops))
            out["late_rows_dropped"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        return out


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _walk_plan(info: dict, acc_meta: dict) -> None:
    for m in info.get("metrics", []):
        acc_meta[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for c in info.get("children", []):
        _walk_plan(c, acc_meta)


def _has_node(info: dict, text: str) -> bool:
    return text in info["nodeName"] or any(_has_node(c, text) for c in info.get("children", []))


def _acc_value(meta, update) -> float:
    """Normalize one accumulator update: times to seconds, rest as is."""
    v = float(update)
    kind = meta[2]
    if kind == "nsTiming":
        return v / 1e9
    if kind == "timing":
        return v / 1e3
    return v


def fold_event_log(log_dir: str, tracer: Tracer) -> tuple[dict, dict]:
    """Per-span counters, and SQL executions (start, end, is-a-write),
    from the event log in ``log_dir``."""
    spans = tracer.spans
    acc_meta: dict[int, tuple] = {}
    stage_span: dict[int, int] = {}
    executions: dict[int, dict] = {}
    task_times: dict[int, list[float]] = defaultdict(list)
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))

    def by_time(t_ms: float) -> int | None:
        t, best = t_ms / 1000.0, None
        for s in spans:
            if s["start"] <= t <= (s["end"] or t):
                if best is None or s["start"] >= spans[best]["start"]:
                    best = s["id"]
        return best

    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev["sparkPlanInfo"], acc_meta)
                    if kind == "SparkListenerSQLExecutionStart":
                        executions[ev["executionId"]] = {
                            "span": by_time(ev["time"]), "start": ev["time"] / 1e3,
                            "end": ev["time"] / 1e3,
                            "write": _has_node(ev["sparkPlanInfo"], "InsertIntoHadoopFsRelation")}
                elif kind == "SparkListenerSQLExecutionEnd":
                    if ev["executionId"] in executions:
                        executions[ev["executionId"]]["end"] = ev["time"] / 1e3
                elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev.get("sqlPlanMetrics", []):
                        acc_meta[m["accumulatorId"]] = ("", m["name"], m["metricType"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    sid = executions.get(ev["executionId"], {}).get("span")
                    for acc_id, val in ev["accumUpdates"]:
                        meta = acc_meta.get(acc_id)
                        if sid is not None and meta and meta[1] in (FILES_READ, SIZE_READ):
                            out[sid][meta[1]] += float(val)
                elif kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    sid = int(grp[5:]) if grp.startswith("span-") else by_time(
                        ev["Submission Time"])
                    for st in ev["Stage IDs"]:
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    if sid is None:
                        continue
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    o = out[sid]
                    task_times[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
                    o["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    o["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    o["peak_exec_mem_bytes"] = max(o["peak_exec_mem_bytes"],
                                                   tm.get("Peak Execution Memory", 0))
                    o["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    o["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for a in info.get("Accumulables", []):
                        meta = acc_meta.get(a["ID"])
                        if meta is None or "Update" not in a:
                            continue
                        node, name = meta[0], meta[1]
                        if name in (PY_RUN, PY_OUT, AGG_BUILD):
                            o[name] += _acc_value(meta, a["Update"])
                        elif name == SCAN_ROWS and node.startswith("Scan"):
                            o["scan_rows"] += float(a["Update"])
    for st, times in task_times.items():
        sid, med = stage_span[st], statistics.median(times)
        if med > 0:
            out[sid]["skew_ratio"] = max(out[sid]["skew_ratio"], max(times) / med)
    return out, executions


def rollup(counters: dict[int, dict], tracer: Tracer, sid: int) -> dict:
    """A span's counters plus those of every span below it."""
    kids = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    tot: dict = defaultdict(float)
    todo = [sid]
    while todo:
        cur = todo.pop()
        for k, v in counters.get(cur, {}).items():
            if k in ("skew_ratio", "peak_exec_mem_bytes"):
                tot[k] = max(tot[k], v)
            else:
                tot[k] += v
        todo.extend(kids[cur])
    return tot
