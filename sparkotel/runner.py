"""Spec-driven pipeline runner — the spark-submit entry point's core.

Composes the whole parse → enrich → filter/transform → route → sink
(+metrics, +lineage) job from a PipelineSpec, with ledger-based
resumability: buckets already committed by a previous (killed) run are
skipped, sink writes are idempotent per bucket.

Usage (cluster):
    spark-submit --py-files sparkotel.zip jobs/run_pipeline.py \
        --spec tests/fixtures/pipeline_m1.json \
        --input /data/pages --output /data/out

Buckets go through ``ledger.run_resumable`` in batches of 4: one scan
per batch (codegen'd parse/enrich projections → broadcast joins →
first-match route) into one bucket+route-partitioned write, then one
ledger commit per batch.  Metrics re-read the pruned columns of the
sink table as a union of per-(sink, metric) ``connector_metric``s;
``bench.py`` and the registry use ``connector_metrics_single_pass``.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkotel import ledger as L
from sparkotel import pages as P
from sparkotel.config import PipelineSpec
from sparkotel.expr import apply_statements
from sparkotel.operators import enrich as E
from sparkotel.operators import parse as PR
from sparkotel.operators.aggregate import MetricDef, connector_metric
from sparkotel.operators.filter import filter_drop
from sparkotel.operators.route import Route, assign_routes


def _lookup_table(spark: SparkSession, name: str) -> DataFrame:
    if name == "geo_by_ip":
        return P.geo_table(spark)
    if name == "lang_names":
        return P.lang_table(spark)
    return spark.read.parquet(name)


def build_routed(spark: SparkSession, src: DataFrame, spec: PipelineSpec) -> DataFrame:
    """source → routed, fully lazy."""
    df = PR.regex_parser(
        src, spec.parse.pattern, spec.parse.groups, "text",
        spec.parse.on_error, spec.parse.engine,
    )
    for f_ in spec.parse.int_fields:
        df = E.attr_convert(df, f_, "bigint" if f_ == "nbytes" else "int")
    if spec.parse.time_from:
        df = df.withColumn(
            "_ts_naive", F.split_part(F.col(spec.parse.time_from), F.lit(" "), F.lit(1))
        )
        df = PR.time_parser(df, "_ts_naive", spec.parse.time_layout, to="log_ts").drop("_ts_naive")
    if spec.parse.severity_from:
        df = PR.severity_parser(
            df, spec.parse.severity_from, [tuple(m) for m in spec.parse.severity_mapping]
        )
    for lk in spec.lookups:
        df = E.lookup_enrich(
            df, _lookup_table(spark, lk.table), lk.key, lk.lookup_key, defaults=lk.defaults
        )
    if spec.filters:
        df = filter_drop(df, spec.filters)
    if spec.transform_statements:
        df = apply_statements(df, spec.transform_statements)
    routes = [Route(r.condition, r.sink, r.mode) for r in spec.routes]
    return assign_routes(df, routes, spec.default_sink)


def run(
    spark: SparkSession,
    src: DataFrame,
    spec: PipelineSpec,
    output: str,
    resume: bool = True,
    fail_after: int | None = None,
) -> dict:
    """Execute the pipeline with ledger resumability; ``resume=False``
    starts over with a new ledger.

    Writes:
      {output}/routed/            bucket+route-partitioned records
      {output}/metrics/           per-sink count/sum-connector tables
      {output}/lineage/           stage metrics (obsreport analogue)
      {output}/_ledger/           commit log
    Returns summary counts.
    """
    ledger_path = f"{output}/_ledger"
    if not resume:  # starting over: the earlier run's commits describe nothing now
        shutil.rmtree(ledger_path, ignore_errors=True)
    done = L.committed_buckets(spark, ledger_path, "routed")
    committed = L.run_resumable(
        spark, build_routed(spark, src, spec), f"{output}/routed", ledger_path, "routed",
        spec.n_buckets, fail_after=fail_after, partition_by=("bucket", "route"), done=done,
    )
    if committed == fail_after:
        return {"committed": committed, "resumed_from": len(done), "complete": False}

    back = spark.read.parquet(f"{output}/routed")
    # copy-mode routes see the full stream (plogutil copy semantics)
    copy_conds = {r.sink: r.condition for r in spec.routes if r.mode == "copy"}
    metric_frames = []
    for sink, defs in spec.metrics.items():
        if sink in copy_conds:
            from sparkotel.expr import compile_condition

            sdf = back.filter(compile_condition(back, copy_conds[sink]))
        else:
            sdf = back.filter(F.col("route") == sink)
        for m in defs:
            metric_frames.append(
                connector_metric(
                    sdf,
                    MetricDef(m.name, tuple(m.conditions), tuple(m.dims), m.defaults, m.sum_attr),
                ).withColumn("sink", F.lit(sink))
            )
    if metric_frames:
        u = metric_frames[0]
        for a in metric_frames[1:]:
            u = u.unionByName(a, allowMissingColumns=True)
        u.write.mode("overwrite").parquet(f"{output}/metrics")

    lineage = L.stage_metrics({"source": src, "routed": back}, by_bucket=True)
    lineage.write.mode("overwrite").parquet(f"{output}/lineage")
    return {
        "committed": committed,
        "resumed_from": len(done),
        "complete": True,
        "rows": back.count(),
    }
