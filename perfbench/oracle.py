"""Output checks: every operation's output against a DuckDB oracle.

The oracles read the same generated parquet the Spark side reads.  The
Spark outputs are read back from the files the operation wrote, so a
check never re-runs the operation.  Each check returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import math
import os
import re
from decimal import Decimal

import duckdb

from sparkotel import pages as P
from sparkotel.registry import duck_pipeline_cte


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, Decimal):
        return round(float(v), 9)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent hash) of normalized row tuples."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.sha256(repr(tuple(_norm(v) for v in r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:16], "big")) % (1 << 128)
        n += 1
    return n, f"{acc:032x}"


def _dict_rows(rel: duckdb.DuckDBPyRelation) -> list[dict]:
    cols = rel.columns
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def _union_digest(rows: list[dict]) -> tuple[int, str]:
    cols = sorted({c for r in rows for c in r})
    return digest(tuple(r.get(c) for c in cols) for r in rows)


def _sql_condition(cond: str) -> str:
    """The spec's OTTL-style condition as DuckDB SQL."""
    return re.sub(r'"([^"]*)"', r"'\1'", cond).replace("==", "=")


def parquet_scan(path: str) -> str:
    return f"read_parquet('{path}', hive_partitioning = true)"


class Oracle:
    """A DuckDB connection with the run's inputs loaded as tables."""

    def __init__(self, threads: int, docs_dir: str, emb_dir: str | None = None):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute(
            f"CREATE TABLE documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')"
        )
        if emb_dir:
            self.con.execute(
                f"CREATE TABLE embeddings AS SELECT * FROM read_parquet('{emb_dir}/*.parquet')"
            )

    def close(self) -> None:
        self.con.close()


class IngestCheck:
    """``runner.run`` output against ``registry.duck_pipeline_cte``:
    per-route row counts, every per-sink metric table, and exactly-once
    (each input url once in ``routed``, one ledger row per bucket whose
    row count matches the bucket's routed rows)."""

    def __init__(self, oracle: Oracle, spec):
        con = oracle.con
        con.execute(f"CREATE TABLE routed AS {duck_pipeline_cte()} SELECT * FROM routed")
        self.n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
        self.n_buckets = spec.n_buckets
        self.routes = dict(con.sql("SELECT route, count(*) FROM routed GROUP BY route").fetchall())
        copy_conds = {r.sink: r.condition for r in spec.routes if r.mode == "copy"}
        self.metric_sqls = []
        for sink, defs in spec.metrics.items():
            where = (
                _sql_condition(copy_conds[sink]) if sink in copy_conds else f"route = '{sink}'"
            )
            for m in defs:
                conds = [f"({where})"]
                if m.conditions:
                    conds.append("(" + " OR ".join(f"({c})" for c in m.conditions) + ")")
                dims = []
                for d in m.dims:
                    if d in m.defaults:
                        dims.append(f"coalesce({d}, '{m.defaults[d]}') AS {d}")
                    else:
                        conds.append(f"{d} IS NOT NULL")
                        dims.append(d)
                group = ", ".join(str(i + 1) for i in range(len(dims)))
                self.metric_sqls.append(
                    f"SELECT {', '.join(dims)}, count(*) AS value, "
                    "min(warc_ts) AS start_ts, max(warc_ts) AS end_ts, "
                    f"'{m.name}' AS metric_name, '{sink}' AS sink "
                    f"FROM routed WHERE {' AND '.join(conds)} GROUP BY {group}"
                )
        self.metrics = _union_digest([r for q in self.metric_sqls for r in _dict_rows(con.sql(q))])

    def check(self, con: duckdb.DuckDBPyConnection, output: str) -> list[str]:
        problems = []
        routed = parquet_scan(f"{output}/routed/*/*/*.parquet")
        got = dict(con.sql(f"SELECT route, count(*) FROM {routed} GROUP BY route").fetchall())
        if got != self.routes:
            problems.append(f"route counts {got} != oracle {self.routes}")
        n, n_urls = con.sql(f"SELECT count(*), count(DISTINCT url) FROM {routed}").fetchone()
        if not n == n_urls == self.n_docs:
            problems.append(f"routed rows {n}, distinct urls {n_urls}, input docs {self.n_docs}")
        per_bucket = dict(
            con.sql(f"SELECT bucket, count(*) FROM {routed} GROUP BY bucket").fetchall()
        )
        ledger = con.sql(
            f"SELECT bucket, count(*), sum(rows) FROM {parquet_scan(output + '/_ledger/*.parquet')} "
            "WHERE stage = 'routed' GROUP BY bucket"
        ).fetchall()
        if sorted(b for b, _, _ in ledger) != list(range(self.n_buckets)):
            problems.append(f"ledger buckets {sorted(b for b, _, _ in ledger)}")
        for b, commits, rows in ledger:
            if commits != 1 or rows != per_bucket.get(b, 0):
                problems.append(
                    f"bucket {b}: {commits} ledger rows for {rows} rows, "
                    f"{per_bucket.get(b, 0)} routed"
                )
        metrics = _union_digest(
            _dict_rows(con.sql(f"SELECT * FROM {parquet_scan(output + '/metrics/*.parquet')}"))
        )
        if metrics != self.metrics:
            problems.append(f"metric tables {metrics} != oracle {self.metrics}")
        return problems


class TableCheck:
    """One query's written output against its registry DuckDB twin:
    row count and an order-independent hash over the twin's columns."""

    def __init__(self, oracle: Oracle, name: str, sql: str):
        rel = oracle.con.sql(materialized(sql))
        self.name = name
        self.cols = sorted(rel.columns)
        self.expected = digest(rel.select(*[f'"{c}"' for c in self.cols]).fetchall())

    def check(self, con: duckdb.DuckDBPyConnection, path: str) -> list[str]:
        cols = ", ".join(f'"{c}"' for c in self.cols)
        got = digest(con.sql(f"SELECT {cols} FROM {parquet_scan(path + '/*.parquet')}").fetchall())
        if got != self.expected:
            return [f"{self.name}: {got} != oracle {self.expected}"]
        return []


def materialized(sql: str) -> str:
    """Mark every CTE that starts a line of ``sql`` MATERIALIZED.  DuckDB
    inlines CTEs, and the unrolled k-round BPE twins reference each
    round's vocabulary twice, so inlined they re-evaluate 2^k times.
    Materializing does not change a result, only how often it is
    computed."""
    return re.sub(r"^(WITH )?(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql, flags=re.M)


def html_text_sql() -> str:
    """Twin of ``htmltext.main_text`` over pages (registry
    ``html_extract_text``): the text the page synthesis escaped."""
    return f"SELECT url, text AS main_text FROM ({P.duckdb_pages_sql()}) p"


def files_and_bytes(path: str, pattern: str = "**/*.parquet") -> tuple[int, int]:
    """(parquet data files matching ``pattern``, bytes of every
    non-checksum file) under ``path``."""
    n_files = len(glob.glob(os.path.join(path, pattern), recursive=True))
    size = 0
    for root, _, files in os.walk(path):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.endswith(".crc"))
    return n_files, size
