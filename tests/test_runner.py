"""Spec-driven runner: end-to-end run, kill/resume, outputs."""

from __future__ import annotations

import dataclasses
import os

from conftest import SF_DIR

from sparkotel import ledger as L
from sparkotel import pages as P
from sparkotel.config import PipelineSpec
from sparkotel.runner import run

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "pipeline_m1.json")


def test_spec_roundtrip():
    spec = PipelineSpec.from_json(FIXTURE)
    assert spec.parse.groups[0] == "ip"
    assert [r.sink for r in spec.routes] == ["errors_en", "de", "errors_other"]
    assert spec.metrics["errors_other"][1].conditions == ["nbytes > 4096"]
    assert spec.n_buckets == 8


def test_runner_kill_resume(spark, tmp_path):
    spec = PipelineSpec.from_json(FIXTURE)
    src = P.pages(spark, SF_DIR).drop("html")
    out = str(tmp_path / "out")

    s1 = run(spark, src, spec, out, fail_after=3)
    assert s1 == {"committed": 3, "resumed_from": 0, "complete": False}

    s2 = run(spark, src, spec, out)
    assert s2["complete"] and s2["resumed_from"] == 3 and s2["committed"] == 5
    assert s2["rows"] == src.count()

    routed = spark.read.parquet(f"{out}/routed")
    assert routed.select("url").distinct().count() == s2["rows"]

    # one `routed` ledger row per bucket, counting that bucket's rows
    per_bucket = {r["bucket"]: r["count"] for r in routed.groupBy("bucket").count().collect()}
    ledger = spark.read.schema(L.LEDGER_SCHEMA).parquet(f"{out}/_ledger").filter(
        "stage = 'routed'"
    ).collect()
    assert sorted(r["bucket"] for r in ledger) == list(range(spec.n_buckets))
    assert {r["bucket"]: r["rows"] for r in ledger} == {
        b: per_bucket.get(b, 0) for b in range(spec.n_buckets)
    }

    # routes present and disjoint for moves
    routes = {r["route"] for r in routed.select("route").distinct().collect()}
    assert routes == {"errors_en", "errors_other", "other"}

    # metrics: sum of page.count.all over move sinks == rows with a
    # non-null status dim (missing-dim exclusion, counter.go:64-67)
    metrics = spark.read.parquet(f"{out}/metrics")
    total = sum(
        r["value"]
        for r in metrics.filter(
            "metric_name = 'page.count.all' AND sink <> 'de'"
        ).collect()
    )
    assert total == routed.filter("status IS NOT NULL").count()

    # copy-sink metrics counted independently
    de = metrics.filter("sink = 'de' AND metric_name = 'page.count.all'")
    assert sum(r["value"] for r in de.collect()) == routed.filter(
        "geo_country = 'DE'"
    ).count()

    # lineage table: per-partition rows for the routed stage (north
    # rule: per-partition lineage), one global row for the source
    lin = spark.read.parquet(f"{out}/lineage").collect()
    routed_rows = [r for r in lin if r["stage"] == "routed"]
    src_rows = [r for r in lin if r["stage"] == "source"]
    assert len(routed_rows) == spec.n_buckets
    assert sum(r["rows"] for r in routed_rows) == sum(r["rows"] for r in src_rows)
    assert sum(r["errors"] for r in routed_rows) > 0

    # transform statement applied (host_hash only on parsed rows)
    ok = routed.filter("NOT _error").limit(5).collect()
    assert all(len(r["host_hash"]) == 64 for r in ok)


def test_runner_start_over_replaces_ledger(spark, tmp_path):
    """resume=False starts a new ledger: a killed fresh run is resumed
    from its own commits, not from the earlier complete run's."""
    spec = PipelineSpec.from_json(FIXTURE)
    src = P.pages(spark, SF_DIR).drop("html")
    out = str(tmp_path / "out")

    assert run(spark, src, spec, out)["complete"]
    s1 = run(spark, src, spec, out, resume=False, fail_after=3)
    assert s1 == {"committed": 3, "resumed_from": 0, "complete": False}
    s2 = run(spark, src, spec, out)
    assert s2["complete"] and s2["resumed_from"] == 3 and s2["committed"] == 5

    ledger = spark.read.schema(L.LEDGER_SCHEMA).parquet(f"{out}/_ledger").collect()
    assert sorted(r["bucket"] for r in ledger) == list(range(spec.n_buckets))
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == routed.select("url").distinct().count() == src.count()


def test_runner_jobs_follow_batches(spark, tmp_path):
    """Spark jobs grow with the number of bucket batches, not buckets:
    3 and 4 buckets are both one batch, so both runs issue as many jobs."""
    sc = spark.sparkContext
    src = P.pages(spark, SF_DIR).drop("html")
    jobs = {}
    for n in (3, 4):
        spec = dataclasses.replace(PipelineSpec.from_json(FIXTURE), n_buckets=n)
        group = f"test-runner-jobs-{n}"
        sc.setJobGroup(group, "runner job count")
        try:
            assert run(spark, src, spec, str(tmp_path / f"out{n}"))["complete"]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[3] == jobs[4], jobs


def test_correctness_window_is_oracle_checked():
    """the driver records the first 50 registry queries; every one of
    those slots must carry a DuckDB oracle, except an explicit
    allowlist of rows-only-BY-DESIGN queries rotated in so they get at
    least one (weaker, rows-only) driver row — VERDICT r3 item #2.  A
    typo'd window entry still fails loudly."""
    from sparkotel.registry import build_registry

    # isolation_forest: model training, not SQL-expressible (iforest.py
    # docstring); pytest carries determinism/recall evidence instead.
    rows_only_by_design = {"isolation_forest"}
    reg = build_registry()
    window = list(reg)[:50]
    missing = [
        n for n in window if reg[n].oracle is None and n not in rows_only_by_design
    ]
    assert not missing, missing
