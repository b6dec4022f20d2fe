"""One benchmark run: set-up, timed operations, output checks, metrics."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

import duckdb

from perfbench import oracle, tracing, workloads
from sparkotel.session import get_spark

SETUPS = 3
LADDER_REPS = 3
LADDER = (
    "pages.scan_s", "operators.parse.self_s", "operators.enrich.self_s",
    "expr.self_s", "operators.route.self_s",
)
RUNNER_SPANS = (
    "ledger.bucket_write", "ledger.bucket_count", "ledger.commit", "ledger.resume_read",
    "ledger.lineage", "operators.aggregate.metrics", "runner.final_count",
)
RUNNER_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"), ("gc_s", "s"), ("executor_cpu_s", "s"),
)
_NOT_LAYERS = ("op", "runner.run")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(root, "sparkotel"))):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _steal_s() -> float | None:
    """CPU time the hypervisor took from this host so far (Linux), a
    diagnostic for run-to-run noise."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else None


def _shutdown_gateway() -> None:
    """Shut the py4j gateway down and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, root: str, args, work: str):
        self.root = root
        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.wl = workloads.make(args.workload, root)
        self.in_dir = f"{work}/in"
        self.log_dir = f"{work}/eventlog"
        tmp = f"{work}/tmp"
        self.extra = {
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        }
        if args.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            self.extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = None
        self.oracle = None
        self.ops: list[dict] = []
        self.spans: list[dict] = []

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """Write the seeded inputs (untimed), then ``SETUPS`` timed
        set-ups: create the session, answer a trivial query, build the
        frames.  The first set-up launches the JVM; the others stop and
        re-create the session in it, because a JVM launch per set-up
        (about 10 s on 4 vCPUs) does not fit the run budget.  The oracle
        is untimed."""
        self.wl.write_inputs(self.in_dir, self.args.seed, files=2 * self.nproc)
        self.setup_times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app="perfbench", master=self.master, extra=self.extra)
            self.spark.sql("SELECT 1").collect()
            self.wl.setup(self.spark)
            self.setup_times.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.provenance = self._provenance()
        t0 = time.perf_counter()
        self.oracle = oracle.Oracle(self.nproc, self.wl.docs_dir, getattr(self.wl, "emb_dir", None))
        self.wl.oracle_check(self.oracle)
        print(f"oracle built in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    def _provenance(self) -> dict:
        conf = self.spark.conf
        return {
            "nproc": self.nproc,
            "master": self.master,
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "spark": self.spark.version,
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "git_commit": _git_commit(self.root),
            "source_sha256": _source_digest(self.root),
            "seed": self.args.seed,
            "run_seconds": self.args.seconds,
            "input_records": self.wl.records,
            "setup_times_s": self.setup_times,
        }

    # -- operations -------------------------------------------------------------

    def op(self, tracer: tracing.Tracer | None = None) -> dict:
        """One timed operation, then its output check (untimed)."""
        k = len(self.ops)
        out = f"{self.work}/out/op{k}"
        sc = self.spark.sparkContext
        group = f"op{k}"
        rec = {"op": k, "traced": tracer is not None, "ok": True, "problems": []}
        if tracer is None:
            sc.setJobGroup(group, "perfbench operation")
        rec["start"] = time.time()
        steal0 = _steal_s()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                self.wl.op(self.spark, out)
            else:
                with tracer.span("op") as root:
                    self.wl.op(self.spark, out, tracer)
                rec["span"] = root["id"]
        except Exception:  # an operation that raises is a failed operation
            rec["ok"] = False
            rec["problems"].append(traceback.format_exc(limit=5))
        rec["wall_s"] = time.perf_counter() - t0
        rec["end"] = time.time()
        if steal0 is not None:
            rec["host_steal_s"] = _steal_s() - steal0
        if tracer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        if rec["ok"]:
            try:
                rec["problems"] = self.wl.check(self.oracle.con, out)
            except Exception:  # an unreadable output is a wrong output
                rec["problems"] = [traceback.format_exc(limit=3)]
            rec["ok"] = not rec["problems"]
            rec["sink_files"], rec["sink_bytes"] = self.wl.sink_stats(out)
            if tracer is not None and self.wl.kind == "ingest":
                rec["counts"] = self.wl.output_counts(self.oracle.con, out)
        for p in rec["problems"]:
            print(f"operation {k} FAILED: {p}", file=sys.stderr)
        print(
            f"op {k}: {rec['wall_s']:.2f}s ok={rec['ok']} steal={rec.get('host_steal_s')}",
            file=sys.stderr,
        )
        workloads.clear(out)
        self.ops.append(rec)
        return rec

    def measure(self) -> dict:
        """Operations until ``--seconds`` of operation time (at least
        one); the end-to-end metrics as medians over them."""
        spent = 0.0
        while spent < self.args.seconds:
            spent += self.op()["wall_s"]
        good = [o for o in self.ops if o["ok"]] or self.ops
        recs = self.wl.records
        return {
            "docs_per_s": (_median([recs / o["wall_s"] for o in good]), "docs/s"),
            "setup_s": (_median(self.setup_times), "s"),
            "spark_jobs": (_median([o["jobs"] for o in good]), "count"),
            "sink_files": (_median([o.get("sink_files", 0) for o in good]), "count"),
            "sink_bytes_per_doc": (_median([o.get("sink_bytes", 0) for o in good]) / recs, "B"),
        }

    def traced(self) -> dict:
        """One traced operation, then the layer ladder; the per-layer
        metrics from the spans and the event log.  The traced operation
        is the run's first, as in an untraced run, so the tracing
        overhead is this run's ``trace.docs_per_s`` minus an untraced
        run's ``docs_per_s`` at the same seed."""
        spark = self.spark
        tracer = tracing.Tracer(spark.sparkContext)
        probe = spark.range(1)
        with tracing.instrument_runner(tracer, type(probe), type(probe.write)):
            traced = self.op(tracer)
        ladder = {}
        if self.wl.kind == "ingest":
            for name, df in self.wl.ladder(spark):
                times = []
                for _ in range(LADDER_REPS):
                    with tracer.span("ladder." + name.removesuffix("_s").removesuffix(".self")):
                        t0 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        times.append(time.perf_counter() - t0)
                ladder[name] = _median(times)
        spark.stop()  # flushes the event log
        self.spark = None
        groups, jobs = tracing.parse_event_logs(self.log_dir, self.in_dir)
        self.spans = tracer.spans
        return self._layer_metrics(tracer, groups, jobs, traced, ladder)

    def _layer_metrics(self, tracer, groups, jobs, traced, ladder) -> dict:
        recs = self.wl.records
        selfs = tracer.self_times()
        zero = dict.fromkeys(tracing.COUNTERS, 0)
        for s in tracer.spans:
            s["self_s"] = selfs[s["id"]]
            s["counters"] = groups.get(s["group"], zero)
        op_spans = tracer.subtree(traced["span"]) if "span" in traced else []
        op_groups = {s["group"] for s in op_spans}
        total = {c: sum(groups.get(g, zero)[c] for g in op_groups) for c in tracing.COUNTERS}
        wall = traced["wall_s"]
        busy = tracing.busy_time(jobs, traced["start"], traced["end"], op_groups)
        # outermost layer spans: children of the operation or of runner.run
        busy_in_layers = sum(
            tracing.busy_time(jobs, s["start"], s["end"], op_groups)
            for s in op_spans
            if s["name"] not in _NOT_LAYERS and tracer.spans[s["parent"]]["name"] in _NOT_LAYERS
        )

        def span_sum(name: str, key: str = "self_s"):
            return sum(s[key] if key == "self_s" else s["counters"][key]
                       for s in op_spans if s["name"] == name)

        m = {}
        prev = 0.0
        for name in LADDER:
            m[name] = (ladder.get(name, 0.0) - prev, "s")
            prev = ladder.get(name, 0.0)
        counts = traced.get("counts", {})
        for name in ("operators.parse.match_ratio", "operators.enrich.geo_hit_ratio"):
            m[name] = (counts.get(name, 0.0), "ratio")
        for sink in ("errors_en", "de", "errors_other", "other"):
            name = f"operators.route.rows.{sink}"
            m[name] = (counts.get(name, 0), "count")
        for name in RUNNER_SPANS:
            m[f"{name}_s"] = (span_sum(name), "s")
        m["runner.self_s"] = (span_sum("runner.run"), "s")
        m["ledger.commits"] = (sum(1 for s in op_spans if s["name"] == "ledger.commit"), "count")
        m["operators.aggregate.metric_rows"] = (
            counts.get("operators.aggregate.metric_rows", 0), "count",
        )
        for c, unit in RUNNER_COUNTERS:
            m[f"runner.{c}"] = (total[c], unit)
        m["runner.scan_amplification"] = (total["source_rows"] / recs, "ratio")
        m["runner.core_util"] = (total["executor_run_s"] / (wall * self.nproc), "ratio")
        m["runner.driver_gap_s"] = (wall - busy, "s")
        for span, _ in workloads.CORPUS_STEPS:
            m[f"{span}_s"] = (span_sum(span), "s")
            m[f"{span}_jobs"] = (span_sum(span, "jobs"), "count")
        m["trace.wall_s"] = (wall, "s")
        m["trace.remainder_s"] = (busy - busy_in_layers, "s")
        m["trace.docs_per_s"] = (recs / wall, "docs/s")
        return m

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if "pyspark" in sys.modules:
            _shutdown_gateway()
        if self.oracle is not None:
            self.oracle.close()
