#!/usr/bin/env python3
"""sparkotel benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_resume --seed 1 --seconds 10 --trace 0

Run from the root of a sparkotel checkout.  The run writes the
workload's seeded inputs once, then sets up the Spark session and the
input frames three times (``setup_s`` is the median): the first set-up
launches the JVM, the other two re-create the session in it.  It then runs the workload's operation until
``--seconds`` of operation time have passed (at least once), checking
every operation's output against the DuckDB oracles outside the timed
interval.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
traced operation plus the layer ladder with the Spark event log on, and
prints the per-layer metrics (see LAYERS.md).  The
last line of stdout is the result object; the line before it repeats
the metrics with the run's provenance and error rate.  Everything the
run writes stays under ``.perfbench_work/`` in the checkout; the spans
of a traced run are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_resume", "corpus_prep")
DRIVER_MEM = "3g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    needed = [
        os.path.join(ROOT, "sparkotel", "runner.py"),
        os.path.join(ROOT, "tests", "fixtures", "pipeline_m1.json"),
    ]
    if not all(os.path.isfile(p) for p in needed):
        print(f"perfbench: no sparkotel sources under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    sys.path.insert(0, ROOT)
    from perfbench.measure import Run

    run = Run(ROOT, args, work)
    try:
        run.setup()
        metrics = run.traced() if args.trace else run.measure()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": run.spans, "ops": run.ops}, f, indent=1)

    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    row = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "error_rate": failed / attempted,
        "ops": [
            {k: o.get(k) for k in ("op", "traced", "wall_s", "host_steal_s", "ok")} for o in run.ops
        ],
        "provenance": run.provenance,
        "metrics": metrics,
    }
    print(json.dumps(row))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
