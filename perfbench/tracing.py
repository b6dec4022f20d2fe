"""Spans around calls into the program, and Spark counters per span.

A span is (id, name, parent, start, end, job group).  Entering a span
sets a Spark job group unique to it, so every Spark job the span's
calls issue is tagged with it; the Spark event log of the traced run
then attributes jobs, stages, tasks and task metrics to spans.

``instrument_runner`` wraps, for the duration of one traced call, the
calls ``runner.run`` makes into the ledger and into Spark's writer and
``count`` -- it changes none of them.  Spans are kept in memory and
written out by the caller when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict

from sparkotel import ledger as L

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def _set_group(self) -> None:
        if self.stack:
            s = self.spans[self.stack[-1]]
            self.sc.setJobGroup(s["group"], s["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def current(self) -> dict | None:
        return self.spans[self.stack[-1]] if self.stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "group": f"{GROUP_PREFIX}{sid}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._set_group()

    def subtree(self, sid: int) -> list[dict]:
        out = [self.spans[sid]]
        for s in self.spans[sid + 1 :]:
            if s["parent"] is not None and any(s["parent"] == o["id"] for o in out):
                out.append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - _covered(kids[s["id"]], s["start"], s["end"])
            for s in self.spans
        }


def _covered(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


_WRITE_SPANS = {
    "routed": "ledger.bucket_write",
    "metrics": "operators.aggregate.metrics",
    "lineage": "ledger.lineage",
}


@contextlib.contextmanager
def instrument_runner(tracer: Tracer, df_cls, writer_cls):
    """Spans around the calls ``runner.run`` makes (only while a
    ``runner.run`` span is the innermost span):

    - ``ledger.committed_buckets``   -> ledger.resume_read
    - ``ledger.commit_bucket``       -> ledger.commit
    - parquet write to .../routed    -> ledger.bucket_write
    - ``count()`` after that write   -> ledger.bucket_count
    - parquet write to .../metrics   -> operators.aggregate.metrics
    - parquet write to .../lineage   -> ledger.lineage
    - ``count()`` after the lineage  -> runner.final_count
    """
    orig = {
        "committed": L.committed_buckets,
        "commit": L.commit_bucket,
        "parquet": writer_cls.parquet,
        "count": df_cls.count,
    }
    last_write: list[str] = [""]

    def in_runner() -> bool:
        cur = tracer.current
        return cur is not None and cur["name"] == "runner.run"

    def wrap(name, fn):
        def inner(*a, **k):
            if not in_runner():
                return fn(*a, **k)
            with tracer.span(name):
                return fn(*a, **k)

        return inner

    def parquet(self, path, *a, **k):
        kind = path.rstrip("/").rsplit("/", 1)[-1]
        if not in_runner() or kind not in _WRITE_SPANS:
            return orig["parquet"](self, path, *a, **k)
        last_write[0] = kind
        with tracer.span(_WRITE_SPANS[kind]):
            return orig["parquet"](self, path, *a, **k)

    def count(self):
        if not in_runner():
            return orig["count"](self)
        name = "runner.final_count" if last_write[0] == "lineage" else "ledger.bucket_count"
        with tracer.span(name):
            return orig["count"](self)

    L.committed_buckets = wrap("ledger.resume_read", orig["committed"])
    L.commit_bucket = wrap("ledger.commit", orig["commit"])
    writer_cls.parquet = parquet
    df_cls.count = count
    try:
        yield
    finally:
        L.committed_buckets = orig["committed"]
        L.commit_bucket = orig["commit"]
        writer_cls.parquet = orig["parquet"]
        df_cls.count = orig["count"]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_s", "executor_cpu_s", "executor_run_s", "source_rows",
)


def _scan_metric_ids(plan: dict, source: str, out: set) -> None:
    """Accumulator ids of 'number of output rows' on scans of ``source``."""
    if plan.get("nodeName", "").startswith("Scan") and source in plan.get("metadata", {}).get(
        "Location", ""
    ):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _scan_metric_ids(c, source, out)


def parse_event_logs(log_dir: str, source: str) -> tuple[dict, list]:
    """Per job group: the COUNTERS above, and every job's (group,
    submit s, end s) interval.  ``source_rows`` counts rows output by
    parquet scans of the ``source`` path.  One file per application;
    job and stage ids restart in each."""
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    jobs: list[tuple[str, float, float]] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            jobs += _parse_app((json.loads(line) for line in f), source, groups)
    return dict(groups), jobs


def _parse_app(events, source: str, groups: dict) -> list[tuple[str, float, float]]:
    job_group: dict[int, str] = {}
    job_times: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    scan_ids: set[int] = set()
    stage_accs: dict[int, dict] = {}

    def group_of_stage(sid: int) -> str:
        return job_group.get(stage_job.get(sid), "")

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_times[jid] = [ev["Submission Time"] / 1000.0, None]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            groups[job_group[jid]]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            groups[group_of_stage(info["Stage ID"])]["stages"] += 1
            stage_accs[info["Stage ID"]] = {
                a["ID"]: a.get("Value") for a in info.get("Accumulables", [])
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            c = groups[group_of_stage(ev["Stage ID"])]
            c["tasks"] += 1
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _scan_metric_ids(ev.get("sparkPlanInfo", {}), source, scan_ids)
    for sid, accs in stage_accs.items():
        for aid, v in accs.items():
            if aid in scan_ids and v is not None:
                groups[group_of_stage(sid)]["source_rows"] += int(v)
    return [(job_group[j], a, b if b is not None else a) for j, (a, b) in job_times.items()]


def busy_time(jobs: list, lo: float, hi: float, groups: set[str] | None = None) -> float:
    """Wall time within [lo, hi] during which at least one job ran."""
    return _covered(
        [(a, b) for g, a, b in jobs if groups is None or g in groups], lo, hi
    )
