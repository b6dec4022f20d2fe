"""The benchmark workloads.

Each workload writes its seeded inputs in ``write_inputs`` (untimed),
builds its input frames from them in ``setup`` (timed as set-up),
runs one operation per ``op`` call into a fresh output directory, and
checks that output in ``check`` (outside the timed interval).

- ``ingest_resume``: ``runner.run`` with the m1 spec (8 buckets) over
  100,000 docs, killed after 4 committed buckets and resumed to
  completion.  Per-row scan/parse/enrich/route work multiplied by the
  per-bucket re-execution, per-bucket jobs, ledger commits and the
  ledger read on restart.
- ``corpus_prep``: six corpus queries, each written to parquet, over
  documents and perturbed embeddings; ``bpe_train`` runs k=32 merge
  rounds, ``bpe_encode_stats`` the registry's default k.  Shuffle-heavy self-joins and
  driver-loop rounds the ingest path never touches.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs, oracle
from perfbench.tracing import Tracer
from sparkotel import pages as P
from sparkotel import runner
from sparkotel.config import PipelineSpec
from sparkotel.expr import apply_statements
from sparkotel.functions import dedup as D
from sparkotel.functions import htmltext as HT
from sparkotel.functions import similarity as SIM
from sparkotel.functions import text as TX
from sparkotel.operators import enrich as E
from sparkotel.operators import parse as PR
from sparkotel.operators.filter import filter_drop
from sparkotel.operators.route import Route, assign_routes

SPEC_PATH = "tests/fixtures/pipeline_m1.json"


class Ingest:
    kind = "ingest"

    def __init__(self, root: str, n_docs: int, fail_after: int):
        self.spec = PipelineSpec.from_json(os.path.join(root, SPEC_PATH))
        self.n_docs = n_docs
        self.fail_after = fail_after

    @property
    def records(self) -> int:
        return self.n_docs

    def write_inputs(self, in_dir: str, seed: int, files: int) -> None:
        self.docs_dir = f"{in_dir}/docs"
        self.pages_dir = f"{in_dir}/pages"
        inputs.write_documents(self.docs_dir, self.n_docs, seed, files)

    def setup(self, spark) -> None:
        spark.read.parquet(self.docs_dir).createOrReplaceTempView("documents")
        spark.sql(P.spark_pages_sql()).drop("html").write.mode("overwrite").parquet(
            self.pages_dir
        )
        self.src = spark.read.parquet(self.pages_dir)

    def op(self, spark, out: str, tracer: Tracer | None = None) -> None:
        def call(**kw):
            if tracer is None:
                return runner.run(spark, self.src, self.spec, out, **kw)
            with tracer.span("runner.run"):
                return runner.run(spark, self.src, self.spec, out, **kw)

        killed = call(fail_after=self.fail_after)
        if killed["complete"] or killed["committed"] != self.fail_after:
            raise RuntimeError(f"killed run did not stop as asked: {killed}")
        summary = call()
        if not summary["complete"] or summary["rows"] != self.n_docs:
            raise RuntimeError(f"run incomplete: {summary}")

    def oracle_check(self, orc: oracle.Oracle) -> None:
        self.checker = oracle.IngestCheck(orc, self.spec)

    def check(self, con, out: str) -> list[str]:
        return self.checker.check(con, out)

    def sink_stats(self, out: str) -> tuple[int, int]:
        files, _ = oracle.files_and_bytes(f"{out}/routed")
        _, size = oracle.files_and_bytes(out)
        return files, size

    @staticmethod
    def corrupt(out: str) -> None:
        """Drop one row from one routed data file."""
        path = sorted(glob.glob(f"{out}/routed/*/*/*.parquet"))[0]
        t = pq.read_table(path)
        pq.write_table(t.slice(1), path)

    # -- traced-run extras -------------------------------------------------

    def ladder(self, spark) -> list[tuple[str, object]]:
        """The frames ``runner.build_routed`` composes, one layer added
        per step over the same input, each named by the metric its
        marginal noop-write time is reported as."""
        spec = self.spec
        df = self.src
        steps = [("pages.scan_s", df)]
        df = PR.regex_parser(
            df, spec.parse.pattern, spec.parse.groups, "text",
            spec.parse.on_error, spec.parse.engine,
        )
        for f_ in spec.parse.int_fields:
            df = E.attr_convert(df, f_, "bigint" if f_ == "nbytes" else "int")
        if spec.parse.time_from:
            df = df.withColumn(
                "_ts_naive", F.split_part(F.col(spec.parse.time_from), F.lit(" "), F.lit(1))
            )
            df = PR.time_parser(df, "_ts_naive", spec.parse.time_layout, to="log_ts").drop(
                "_ts_naive"
            )
        if spec.parse.severity_from:
            df = PR.severity_parser(
                df, spec.parse.severity_from, [tuple(m) for m in spec.parse.severity_mapping]
            )
        steps.append(("operators.parse.self_s", df))
        for lk in spec.lookups:
            df = E.lookup_enrich(
                df, runner._lookup_table(spark, lk.table), lk.key, lk.lookup_key,
                defaults=lk.defaults,
            )
        steps.append(("operators.enrich.self_s", df))
        if spec.filters:
            df = filter_drop(df, spec.filters)
        if spec.transform_statements:
            df = apply_statements(df, spec.transform_statements)
        steps.append(("expr.self_s", df))
        routes = [Route(r.condition, r.sink, r.mode) for r in spec.routes]
        steps.append(("operators.route.self_s", assign_routes(df, routes, spec.default_sink)))
        return steps

    def output_counts(self, con, out: str) -> dict[str, float]:
        routed = oracle.parquet_scan(f"{out}/routed/*/*/*.parquet")
        n, parsed, geo_hits, de = con.sql(
            f"SELECT count(*), count(*) FILTER (NOT _error),"
            f" count(*) FILTER (NOT _error AND geo_lat IS NOT NULL),"
            f" count(*) FILTER (geo_country = 'DE') FROM {routed}"
        ).fetchone()
        routes = dict(con.sql(f"SELECT route, count(*) FROM {routed} GROUP BY route").fetchall())
        metric_rows = con.sql(
            f"SELECT count(*) FROM {oracle.parquet_scan(out + '/metrics/*.parquet')}"
        ).fetchone()[0]
        counts = {
            "operators.parse.match_ratio": parsed / n,
            "operators.enrich.geo_hit_ratio": geo_hits / parsed,
            "operators.aggregate.metric_rows": metric_rows,
        }
        for r in self.spec.routes:
            if r.mode == "copy":
                routes[r.sink] = de
        for sink in [r.sink for r in self.spec.routes] + [self.spec.default_sink]:
            counts[f"operators.route.rows.{sink}"] = routes.get(sink, 0)
        return counts


# corpus_prep: (span name, output directory)
CORPUS_STEPS = [
    ("functions.htmltext.main_text", "main_text"),
    ("functions.text.corpus_keep", "corpus_keep"),
    ("functions.dedup.minhash_lsh_pairs", "minhash_lsh_pairs"),
    ("functions.similarity.semdedup", "semdedup"),
    ("functions.text.bpe_train", "bpe_train"),
    ("functions.text.bpe_encode_stats", "bpe_encode_stats"),
]


class Corpus:
    kind = "corpus"

    def __init__(self, n_docs: int, emb_copies: int, train_k: int):
        self.n_docs = n_docs
        self.n_vecs = inputs.BASE_VECS * emb_copies
        self.emb_copies = emb_copies
        self.train_k = train_k

    @property
    def records(self) -> int:
        return self.n_docs + self.n_vecs

    def write_inputs(self, in_dir: str, seed: int, files: int) -> None:
        self.docs_dir = f"{in_dir}/docs"
        self.emb_dir = f"{in_dir}/emb"
        self.pages_dir = f"{in_dir}/pages"
        inputs.write_documents(self.docs_dir, self.n_docs, seed, files)
        inputs.write_embeddings(self.emb_dir, self.emb_copies, seed)

    def setup(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_dir)
        self.docs.createOrReplaceTempView("documents")
        spark.sql(P.spark_pages_sql()).select("url", "html").write.mode("overwrite").parquet(
            self.pages_dir
        )
        self.pages = spark.read.parquet(self.pages_dir)
        self.emb = spark.read.parquet(self.emb_dir)

    def _frame(self, name: str):
        if name == "main_text":
            return self.pages.select("url", HT.main_text("html").alias("main_text"))
        if name == "corpus_keep":
            return TX.corpus_keep(self.docs)
        if name == "minhash_lsh_pairs":
            return D.minhash_lsh_pairs(self.docs)
        if name == "semdedup":
            return SIM.semdedup(self.emb)
        if name == "bpe_train":
            return TX.bpe_train(self.docs, k=self.train_k)
        return TX.bpe_encode_stats(self.docs)

    def op(self, spark, out: str, tracer: Tracer | None = None) -> None:
        for span, name in CORPUS_STEPS:
            if tracer is None:
                self._frame(name).write.mode("overwrite").parquet(f"{out}/{name}")
            else:
                with tracer.span(span):
                    self._frame(name).write.mode("overwrite").parquet(f"{out}/{name}")

    def oracle_check(self, orc: oracle.Oracle) -> None:
        twins = {
            "main_text": oracle.html_text_sql(),
            "corpus_keep": TX.duck_corpus_keep("documents"),
            "minhash_lsh_pairs": D.duck_minhash_lsh_pairs("documents"),
            "semdedup": SIM.duck_semdedup(table="embeddings"),
            "bpe_train": TX.duck_bpe_train("documents", k=self.train_k),
            "bpe_encode_stats": TX.duck_bpe_encode_stats("documents"),
        }
        self.checkers = [oracle.TableCheck(orc, n, sql) for n, sql in twins.items()]

    def check(self, con, out: str) -> list[str]:
        return [p for c in self.checkers for p in c.check(con, f"{out}/{c.name}")]

    def sink_stats(self, out: str) -> tuple[int, int]:
        return oracle.files_and_bytes(out)

    @staticmethod
    def corrupt(out: str) -> None:
        """Drop one row from the first non-empty data file of an output."""
        for path in sorted(glob.glob(f"{out}/*/*.parquet")):
            t = pq.read_table(path)
            if t.num_rows:
                pq.write_table(t.slice(1), path)
                return


def make(name: str, root: str):
    if name == "ingest_resume":
        return Ingest(root, n_docs=20 * inputs.BASE_DOCS, fail_after=4)
    if name == "corpus_prep":
        return Corpus(n_docs=inputs.BASE_DOCS // 2, emb_copies=1, train_k=32)
    raise KeyError(name)


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
