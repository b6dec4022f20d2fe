"""Commit ledger — checkpoint-based resumability for batch runs.

Mirrors the reference's persistence contract: stanza operators persist
offsets through a scoped Persister (pkg/stanza/operator/persister.go,
pipeline/directed.go:54-68) and the fileconsumer restores reader
offsets on start so a restart continues where it stopped without
re-emitting committed data (fileconsumer/design.md:84-96, 180-207).

Batch-Spark design (SURVEY §7.4):
- the input is split into P deterministic buckets:
  ``bucket = pmod(xxhash64(url), P)`` — stable across runs and cluster
  sizes (the fingerprint analogue);
- the job processes buckets in batches; after a batch's sink write
  lands, its ledger rows ``(bucket, stage, rows, ts)`` are appended as
  ONE parquet file (a crash mid-append leaves the whole commit or
  nothing); ``rows`` comes from the footers of the files just written;
- on restart, committed buckets are read back once and each batch
  filters the input to its pending buckets (``bucket IN (...)`` on the
  computed bucket, so every batch scans the source once);
- sink writes are idempotent per bucket (dynamic partition overwrite,
  bucket-led partitions), so a bucket killed mid-write or written but
  not committed is safely rewritten.

Lineage/metrics: ``stage_metrics`` records rows in/out/errors per stage
per bucket — the obsreport analogue (adapter/receiver.go:55-66).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = "bucket INT, stage STRING, rows BIGINT, committed_at DOUBLE"


def with_file_attrs(df: DataFrame, include_offset: bool = True) -> DataFrame:
    """fileconsumer resolved attributes
    (pkg/stanza/fileconsumer/attrs/attrs.go): ``log.file.path`` /
    ``log.file.name`` from the scan's actual file, plus a per-record
    offset.  All native: ``input_file_name()`` is free at the scan;
    the offset is ``monotonically_increasing_id`` — unique and ordered
    within a file-partition but intentionally NOT dense (a dense rank
    would force a global sort; the reference's byte offset is likewise
    only monotone per file).

    Apply DIRECTLY over the scan: ``input_file_name()`` evaluates empty
    once a limit/exchange boundary separates it from the file source."""
    df = df.withColumn("log_file_path", F.input_file_name()).withColumn(
        "log_file_name", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    if include_offset:
        df = df.withColumn("record_offset", F.monotonically_increasing_id())
    return df


def with_bucket(df: DataFrame, key: str = "url", n_buckets: int = 16) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def committed_buckets(spark: SparkSession, ledger_path: str, stage: str) -> set[int]:
    if not os.path.exists(ledger_path):
        return set()
    df = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    return {
        r["bucket"] for r in df.filter(F.col("stage") == stage).select("bucket").distinct().collect()
    }


def commit_bucket(
    spark: SparkSession, ledger_path: str, stage: str, rows: dict[int, int]
) -> None:
    """Commit a batch: one ledger row per ``{bucket: rows}`` entry, one file."""
    spark.createDataFrame(
        [(b, stage, n, time.time()) for b, n in rows.items()], LEDGER_SCHEMA
    ).coalesce(1).write.mode("append").parquet(ledger_path)


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    ledger_path: str,
    stage: str = "sink",
    n_buckets: int = 16,
    batch_size: int = 4,
    fail_after: int | None = None,
    partition_by: tuple[str, ...] = ("bucket",),
    done: set[int] | None = None,
) -> int:
    """Process buckets in batches: per batch one dynamic-overwrite write
    partitioned by ``partition_by`` and one ledger commit.

    ``done`` holds the already-committed buckets (read from the ledger
    when None).  ``fail_after`` stops after N committed buckets (the
    kill/resume test hook): the batch reaching N is written in full but
    committed only up to N.  Returns the buckets committed in THIS run.
    """
    df = with_bucket(df, n_buckets=n_buckets)
    if done is None:
        done = committed_buckets(spark, ledger_path, stage)
    todo = [b for b in range(n_buckets) if b not in done]
    committed = 0
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        (
            df.filter(F.col("bucket").isin(batch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(out_path)
        )
        # per-bucket row counts from the files just written: partition
        # pruning limits the scan to this batch's directories and a
        # no-column count(*) is read from parquet footers.
        counts = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(out_path)
            .filter(F.col("bucket").isin(batch))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if fail_after is not None:
            batch = batch[: fail_after - committed]
        commit_bucket(spark, ledger_path, stage, {b: counts.get(b, 0) for b in batch})
        committed += len(batch)
        if committed == fail_after:
            break
    return committed


def stage_metrics(
    frames: dict[str, DataFrame], error_col: str = "_error", by_bucket: bool = False
) -> DataFrame:
    """Lineage table: rows in/out/errors per stage — and per partition
    bucket when ``by_bucket`` (the obsreport analogue, per-partition as
    the north rule requires; frames lacking a bucket column report as
    bucket -1)."""
    out = None
    for stage, df in frames.items():
        has_err = error_col in df.columns
        if by_bucket and "bucket" in df.columns:
            grouped = df.groupBy(F.col("bucket"))
        else:
            grouped = df.groupBy(F.lit(-1).alias("bucket"))
        m = grouped.agg(
            F.count(F.lit(1)).alias("rows"),
            (
                F.sum(F.col(error_col).cast("int")) if has_err else F.lit(0)
            ).alias("errors"),
        ).withColumn("stage", F.lit(stage))
        out = m if out is None else out.unionByName(m)
    return out.select("stage", "bucket", "rows", "errors")
