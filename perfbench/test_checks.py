"""The output checks must pass on a correct output and fail on one with a
row removed.  DuckDB only, no Spark: the "program output" is written
from the oracle itself in the layout ``runner.run`` writes.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, workloads  # noqa: E402
from sparkotel.registry import duck_pipeline_cte  # noqa: E402

N_DOCS = 600


@pytest.fixture(scope="module")
def ingest(tmp_path_factory):
    base = tmp_path_factory.mktemp("ingest")
    inputs.write_documents(f"{base}/docs", N_DOCS, seed=3, files=2)
    wl = workloads.make("ingest_resume", ROOT)
    orc = oracle.Oracle(2, f"{base}/docs")
    wl.oracle_check(orc)
    yield wl, orc, str(base)
    orc.close()


def _write_runner_output(con, wl, out: str) -> None:
    """routed/bucket=b/route=r, metrics, and one ledger row per bucket."""
    n = wl.spec.n_buckets
    os.makedirs(out)
    con.execute(
        f"COPY ({duck_pipeline_cte()} SELECT *, CAST(hash(url) % {n} AS INT) AS bucket"
        f" FROM routed) TO '{out}/routed' (FORMAT PARQUET, PARTITION_BY (bucket, route))"
    )
    os.makedirs(f"{out}/metrics")
    metrics = " UNION ALL BY NAME ".join(f"({q})" for q in wl.checker.metric_sqls)
    con.execute(f"COPY ({metrics}) TO '{out}/metrics/part-0.parquet' (FORMAT PARQUET)")
    os.makedirs(f"{out}/_ledger")
    con.execute(
        f"COPY (SELECT bucket, 'routed' AS stage, count(*) AS rows, 0.0 AS committed_at"
        f" FROM read_parquet('{out}/routed/*/*/*.parquet', hive_partitioning = true)"
        f" GROUP BY bucket) TO '{out}/_ledger/part-0.parquet' (FORMAT PARQUET)"
    )


def test_ingest_check_passes_then_fails_on_a_dropped_row(ingest):
    wl, orc, base = ingest
    out = f"{base}/out"
    _write_runner_output(orc.con, wl, out)
    assert wl.check(orc.con, out) == []
    wl.corrupt(out)
    after = wl.check(orc.con, out)
    assert any(p.startswith("route counts") for p in after)
    assert any(p.startswith("routed rows") for p in after)


def test_table_check_passes_then_fails_on_a_dropped_row(tmp_path):
    inputs.write_documents(f"{tmp_path}/docs", N_DOCS, seed=4, files=2)
    orc = oracle.Oracle(2, f"{tmp_path}/docs")
    sql = oracle.html_text_sql()
    check = oracle.TableCheck(orc, "main_text", sql)
    out = tmp_path / "out"
    (out / "main_text").mkdir(parents=True)
    orc.con.execute(f"COPY ({sql}) TO '{out}/main_text/part-0.parquet' (FORMAT PARQUET)")
    assert check.check(orc.con, f"{out}/main_text") == []
    workloads.Corpus.corrupt(str(out))
    assert check.check(orc.con, f"{out}/main_text")
    orc.close()
