"""Benchmark-side tracing: spans around engine calls, row counts at the same
boundaries, and Spark's own metrics read back from the event log.

A span is (id, name, start, end, parent, run id).  Spans stay in memory and
are written out once at the end.  With tracing on, each span also sets the
Spark job group to its id, so every job, task and SQL metric in the event
log can be attributed to the innermost span that ran it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Records spans and counts; `on=False` makes every call a no-op."""

    def __init__(self, spark=None, on: bool = False, run_id: str = "run"):
        self.on = on
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "wall_start": time.time(), "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"span-{self._stack[-1]}",
                               self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def rows(self, name: str, n: float) -> None:
        """Add a count (rows, bytes, ...) recorded at a span boundary."""
        if self.on:
            self.counts[name] += n

    def boundary(self, df):
        """Materialize a layer's output where it leaves the layer, so the
        layer's work lands in its own span.  Untraced runs stay lazy."""
        return df.localCheckpoint(eager=True) if self.on else df


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (children may overlap each other)."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids[s["id"]]):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def totals_by_name(spans: list[dict]) -> dict[str, dict]:
    """Wall, self time and call count summed per span name."""
    st = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {"wall_s": 0.0, "self_s": 0.0,
                                                "calls": 0})
    for s in spans:
        o = out[s["name"]]
        o["wall_s"] += s["end"] - s["start"]
        o["self_s"] += st[s["id"]]
        o["calls"] += 1
    return dict(out)


# ------------------------------------------------------------ event log

# SQL metric names (as Spark 4.1 labels them) that the parser keeps.
SQL_METRICS = {
    "ArrowEvalPython": {
        "time to start Python workers": "py_start_ms",
        "time to initialize Python workers": "py_init_ms",
        "time to run Python workers": "py_run_ms",
        "data sent to Python workers": "py_bytes_in",
        "data returned from Python workers": "py_bytes_out",
        "number of output rows": "py_rows",
    },
    "Exchange": {
        "shuffle bytes written": "shuffle_bytes",
        "shuffle write time": "shuffle_write_ns",
    },
}
SQL_METRICS["Scan parquet"] = {"number of files read": "files_read",
                               "number of output rows": "scan_rows"}
SPILL_METRIC = "spill size"


def _plan_metrics(node: dict, acc_to_key: dict) -> None:
    """Map SQL metric accumulator ids to (operator kind, key) over a
    SparkPlanInfo tree."""
    name = node.get("nodeName", "")
    kind = next((k for k in SQL_METRICS if name == k or name.startswith(k)),
                None)
    for m in node.get("metrics", []):
        if kind and m["name"] in SQL_METRICS[kind]:
            acc_to_key[m["accumulatorId"]] = SQL_METRICS[kind][m["name"]]
        elif m["name"] == SPILL_METRIC:
            acc_to_key[m["accumulatorId"]] = "spill_bytes"
    for c in node.get("children", []):
        _plan_metrics(c, acc_to_key)


def _event_files(log_dir: str) -> list[str]:
    """Every uncompressed event file under `log_dir` (plain files and the
    rolling eventlog_v2_* directories)."""
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "events_*")))
        elif not p.endswith(".inprogress") or os.path.getsize(p) > 0:
            files.append(p)
    return files


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: task metrics summed from TaskEnd events, the SQL
    metrics of ArrowEvalPython, Exchange and parquet scan operators (task
    and driver side), spill bytes, and
    job/stage/task counts, the first job's submission time (epoch s) and
    each job's delay from submission to its first task launch
    (`job_delays`).  Events of jobs without a group land under ''."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    job_first_task: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    acc_to_key: dict[int, str] = {}
    acc_group_seen: dict[tuple, float] = {}
    exec_group: dict[int, str] = {}
    driver_updates: list = []

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                        stage_job[sid] = jid
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    groups[g]["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        key = acc_to_key.get(acc.get("ID"))
                        if key is None:
                            continue
                        seen = (g, acc["ID"], info["Stage ID"])
                        if seen not in acc_group_seen:
                            acc_group_seen[seen] = 1
                            groups[g][key] += float(acc.get("Value") or 0)
                elif kind == "SparkListenerTaskStart":
                    jid = stage_job.get(ev["Stage ID"])
                    t = ev["Task Info"]["Launch Time"] / 1000.0
                    if jid is not None and jid not in job_first_task:
                        job_first_task[jid] = t
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    m = ev.get("Task Metrics") or {}
                    gg = groups[g]
                    gg["tasks"] += 1
                    gg["task_run_ms"] += m.get("Executor Run Time", 0)
                    gg["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                    gg["gc_ms"] += m.get("JVM GC Time", 0)
                    gg["task_spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    gg["task_shuffle_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    gg["task_shuffle_write_ns"] += sw.get(
                        "Shuffle Write Time", 0)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_to_key)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    # driver-side SQL metrics, e.g. the files a scan read
                    driver_updates.append(ev)

    for ev in driver_updates:
        g = exec_group.get(ev["executionId"], "")
        for acc_id, value in ev["accumUpdates"]:
            key = acc_to_key.get(acc_id)
            if key is not None:
                groups[g][key] += float(value)
    for jid, g in job_group.items():
        gg = groups[g]
        sub = job_submit.get(jid)
        if sub is not None:
            gg["first_submit"] = min(gg.get("first_submit", sub), sub)
            if jid in job_first_task:
                gg.setdefault("job_delays", []).append(
                    max(job_first_task[jid] - sub, 0.0))
    return {g: dict(v) for g, v in groups.items()}


def by_span_name(spans: list[dict], per_group: dict[str, dict]
                 ) -> dict[str, dict]:
    """Fold per-job-group event-log metrics onto span names (a job group is
    `span-<id>`)."""
    names = {f"span-{s['id']}": s["name"] for s in spans}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for g, m in per_group.items():
        n = names.get(g, "(no span)")
        for k, v in m.items():
            out[n][k] += v
    return {k: dict(v) for k, v in out.items()}
