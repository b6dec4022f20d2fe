"""Query registry: every implemented operator as a (Spark, DuckDB-oracle)
pair, consumed by ``__spark_entry__.py``.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
the oracle is ANSI-ish SQL DuckDB runs on the same parquet views.  All
computed columns are aliased identically on both sides (the driver's
compare hashes values under sorted column names).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkotel import pages as P
from sparkotel import pipeline as PL
from sparkotel.functions import dedup as D
from sparkotel.functions import htmltext as HT
from sparkotel.functions import multimodal as MM
from sparkotel.functions import similarity as SIM
from sparkotel.functions import text as TX
from sparkotel.functions import warc as WC
from sparkotel.functions import weburl as WU
from sparkotel.operators import aggregate as A
from sparkotel.operators import parse as PR
from sparkotel.operators import recombine as RC
from sparkotel.operators import route as R
from sparkotel.operators import transform as T
from sparkotel.operators.filter import filter_drop, probabilistic_sampler

# ---------------------------------------------------------------------------
# DuckDB mirror of the flagship pipeline (pages → parsed → enriched → routed)
# ---------------------------------------------------------------------------

_PAT = P.LOG_PATTERN  # backslashes are literal inside DuckDB '...' strings


def duck_pipeline_cte() -> str:
    sev_num = "CASE severity_text WHEN 'error' THEN 17 WHEN 'warn' THEN 13 WHEN 'info' THEN 9 ELSE 0 END"
    return f"""
WITH pages AS ({P.duckdb_pages_sql()}),
geo AS ({P.duckdb_geo_sql()}),
langs AS ({P.LANG_NAMES_SQL}),
lines AS (
  SELECT url, warc_ts, text, lang, host, doc_id,
         split_part(text, chr(10), 1) AS _line,
         regexp_matches(split_part(text, chr(10), 1), '{_PAT}') AS _m
  FROM pages
),
parsed0 AS (
  SELECT url, warc_ts, lang, host, doc_id, text,
    NOT _m AS _error,
    CASE WHEN _m THEN regexp_extract(_line, '{_PAT}', 1) END AS ip,
    CASE WHEN _m AND regexp_extract(_line, '{_PAT}', 2) <> '-'
         THEN regexp_extract(_line, '{_PAT}', 2) END AS "user",
    CASE WHEN _m THEN regexp_extract(_line, '{_PAT}', 3) END AS ts_str,
    CASE WHEN _m THEN regexp_extract(_line, '{_PAT}', 4) END AS method,
    CASE WHEN _m THEN regexp_extract(_line, '{_PAT}', 5) END AS path,
    CASE WHEN _m THEN CAST(regexp_extract(_line, '{_PAT}', 6) AS INT) END AS status,
    CASE WHEN _m THEN CAST(regexp_extract(_line, '{_PAT}', 7) AS BIGINT) END AS nbytes
  FROM lines
),
parsed AS (
  SELECT *,
    CASE WHEN _error THEN NULL
         ELSE strptime(split_part(ts_str, ' ', 1), '%d/%b/%Y:%H:%M:%S') END AS log_ts,
    CASE WHEN status >= 500 AND status < 600 THEN 'error'
         WHEN status >= 400 AND status < 500 THEN 'warn'
         WHEN status >= 200 AND status < 300 THEN 'info'
         WHEN status >= 300 AND status < 400 THEN 'info'
         ELSE 'default' END AS severity_text
  FROM parsed0
),
parsed_sev AS (
  SELECT *, {sev_num} AS severity_number FROM parsed
),
enriched AS (
  SELECT p.*,
    coalesce(g.geo_country, '--') AS geo_country,
    coalesce(g.geo_city, '--') AS geo_city,
    g.geo_lat, g.geo_lon,
    l.lang_name, l.lang_family
  FROM parsed_sev p
  LEFT JOIN geo g ON p.ip = g.ip
  LEFT JOIN langs l ON p.lang = l.lang
),
routed AS (
  SELECT *,
    CASE WHEN lang = 'en' AND status >= 500 THEN 'errors_en'
         WHEN status >= 400 THEN 'errors_other'
         ELSE 'other' END AS route
  FROM enriched
)
"""


PARSED_COLS = [
    "url", "warc_ts", "lang", "host", "doc_id", "_error", "ip", "user",
    "ts_str", "method", "path", "status", "nbytes", "log_ts",
    "severity_text", "severity_number",
]
ENRICHED_COLS = PARSED_COLS + [
    "geo_country", "geo_city", "geo_lat", "geo_lon", "lang_name", "lang_family",
]
ROUTED_COLS = ENRICHED_COLS + ["route"]


@dataclass
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None → rows-only check


def _pages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.pages(spark, sf_dir).select("url", "warc_ts", "text", "lang", "host", "doc_id")


def _stage(name: str, cols: list[str]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return PL.build(spark, sf_dir)[name].select(*cols)

    return fn


def _sink(sink: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return PL.build(spark, sf_dir)["sinks"][sink].select(*ROUTED_COLS)

    return fn


def _metric(sink: str, idx: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return PL.build(spark, sf_dir)["metrics"][sink][idx]

    return fn


def _sink_sql(cond: str) -> str:
    cols = ", ".join(f'"{c}"' if c == "user" else c for c in ROUTED_COLS)
    return f"{duck_pipeline_cte()} SELECT {cols} FROM routed WHERE {cond}"


def _agg_sql(src_cond: str, metric: str, dims: str, group: str, extra: str = "") -> str:
    return (
        f"{duck_pipeline_cte()} SELECT {dims}, count(*) AS value, "
        f"min(warc_ts) AS start_ts, max(warc_ts) AS end_ts, '{metric}' AS metric_name "
        f"FROM routed WHERE {src_cond} {extra} GROUP BY {group}"
    )


def build_registry() -> dict[str, Query]:
    q: dict[str, Query] = {}

    sel = lambda cols: ", ".join(f'"{c}"' if c == "user" else c for c in cols)  # noqa: E731

    q["pages_gen"] = Query(
        _pages_q,
        f"{duck_pipeline_cte()} SELECT url, warc_ts, text, lang, host, doc_id FROM pages",
    )
    q["parse_regex"] = Query(
        _stage("parsed", PARSED_COLS),
        f"{duck_pipeline_cte()} SELECT {sel(PARSED_COLS)} FROM parsed_sev",
    )
    q["parse_onerror_drop"] = Query(
        lambda spark, sf: PL.parse_stage(P.pages(spark, sf).drop("html"), on_error="drop").select(
            "url", "ip", "status", "nbytes", "method", "path"
        ),
        f"{duck_pipeline_cte()} SELECT url, ip, status, nbytes, method, path FROM parsed_sev WHERE NOT _error",
    )
    q["enrich_lookup"] = Query(
        _stage("enriched", ENRICHED_COLS),
        f"{duck_pipeline_cte()} SELECT {sel(ENRICHED_COLS)} FROM enriched",
    )

    # geoip CIDR range semantics (SURVEY §2.5 escalation path,
    # processor/geoipprocessor/geoip_processor.go:57-126): resolve each
    # parsed ip WITHIN an overlapping block table, longest prefix wins,
    # gaps take the miss default.  Spark side is a stack of per-prefix-
    # length broadcast equi-joins (operators/enrich.py:geoip_cidr_enrich);
    # the oracle is the naive BETWEEN range join + argmax-by-plen.
    def _geoip_cidr(spark: SparkSession, sf: str) -> DataFrame:
        from sparkotel.operators import enrich as E

        parsed = PL.parse_stage(P.pages(spark, sf).drop("html"), on_error="drop")
        return E.geoip_cidr_enrich(
            parsed.select("url", "ip"),
            P.cidr_table(spark),
            defaults={"cidr_country": "--"},
        )

    _ip_long = (
        "CAST(split_part({c},'.',1) AS BIGINT)*16777216"
        " + CAST(split_part({c},'.',2) AS BIGINT)*65536"
        " + CAST(split_part({c},'.',3) AS BIGINT)*256"
        " + CAST(split_part({c},'.',4) AS BIGINT)"
    )
    q["enrich_geoip_cidr"] = Query(
        _geoip_cidr,
        f"""{duck_pipeline_cte()},
cidr AS ({P.duckdb_cidr_sql()}),
cb AS (
  SELECT cidr_country, cidr_asn,
         CAST(split_part(cidr, '/', 2) AS INT) AS plen,
         {_ip_long.format(c="split_part(cidr, '/', 1)")} AS net
  FROM cidr),
cbb AS (
  SELECT cidr_country, cidr_asn, plen,
         (net >> (32 - plen)) << (32 - plen) AS lo,
         ((net >> (32 - plen)) << (32 - plen))
           + (CAST(1 AS BIGINT) << (32 - plen)) - 1 AS hi
  FROM cb),
ips AS (
  SELECT url, ip, {_ip_long.format(c="ip")} AS ip_long
  FROM parsed_sev WHERE NOT _error),
m AS (
  SELECT i.url, cbb.cidr_country, cbb.cidr_asn,
         row_number() OVER (PARTITION BY i.url ORDER BY cbb.plen DESC) AS rn
  FROM ips i JOIN cbb ON i.ip_long BETWEEN cbb.lo AND cbb.hi)
SELECT i.url, i.ip,
       coalesce(m.cidr_country, '--') AS cidr_country, m.cidr_asn
FROM ips i
LEFT JOIN (SELECT url, cidr_country, cidr_asn FROM m WHERE rn = 1) m
  USING (url)""",
    )
    q["route_assign"] = Query(
        _stage("routed", ROUTED_COLS),
        f"{duck_pipeline_cte()} SELECT {sel(ROUTED_COLS)} FROM routed",
    )
    # WET ingestion: the whole DAG from the RAW html bytes alone — the
    # ground-truth text column is dropped, main-content extraction
    # recovers it (byte-identical, functions/htmltext.py), then
    # parse→enrich→route runs on the recovered text.  The oracle routes
    # the ground-truth text: only byte-exact extraction makes the
    # per-route counts match.
    def _wet(spark: SparkSession, sf: str) -> DataFrame:
        src = (
            P.pages(spark, sf)
            .drop("text")
            .withColumn("text", HT.main_text("html"))
            .drop("html")
        )
        routed = R.assign_routes(
            PL.enrich_stage(spark, PL.parse_stage(src)), PL.ROUTES, "other"
        )
        return routed.groupBy("route").agg(F.count(F.lit(1)).alias("n"))

    q["wet_route_counts"] = Query(
        _wet,
        f"{duck_pipeline_cte()} SELECT route, count(*) AS n FROM routed GROUP BY route",
    )
    q["sink_errors_en"] = Query(_sink("errors_en"), _sink_sql("route = 'errors_en'"))
    q["sink_errors_other"] = Query(_sink("errors_other"), _sink_sql("route = 'errors_other'"))
    q["sink_other"] = Query(_sink("other"), _sink_sql("route = 'other'"))
    # copy routes see the post-earlier-moves stream (logs.go:66-160): a row
    # moved by route 1 (errors_en) never reaches the route-2 copy.
    q["sink_de_copy"] = Query(
        _sink("de"),
        _sink_sql("geo_country = 'DE' AND NOT (lang = 'en' AND status >= 500)"),
    )
    # resource-context routing (router.go:230-259, plogutil.MoveResourcesIf):
    # the condition evaluates once per resource (= host) and moves the WHOLE
    # host's records — including rows that individually fail the predicate.
    # A record-context route follows, seeing only unconsumed rows.
    q["route_resource_ctx"] = Query(
        lambda spark, sf: R.assign_routes(
            PL.build(spark, sf)["enriched"],
            [
                R.Route("status >= 500", "incident", "move", context="resource"),
                R.Route("status >= 400", "errors", "move"),
            ],
            "ok",
            resource_keys=["host"],
        ).select("url", "host", "doc_id", "status", "route"),
        f"""{duck_pipeline_cte()},
res AS (
  SELECT *, coalesce(bool_or(status >= 500) OVER (PARTITION BY host), FALSE) AS host_5xx
  FROM enriched
)
SELECT url, host, doc_id, status,
  CASE WHEN host_5xx THEN 'incident'
       WHEN status >= 400 THEN 'errors'
       ELSE 'ok' END AS route
FROM res""",
    )

    q["agg_count_all_errors_other"] = Query(
        _metric("errors_other", 0),
        _agg_sql("route = 'errors_other'", "page.count.all", "geo_country, status", "1, 2"),
    )
    q["agg_count_cond_big"] = Query(
        _metric("errors_other", 1),
        _agg_sql("route = 'errors_other'", "page.count.big", "host", "1", "AND nbytes > 4096"),
    )
    q["agg_count_default_dim"] = Query(
        _metric("other", 1),
        f"{duck_pipeline_cte()} SELECT coalesce(lang_name, 'unknown') AS lang_name, "
        f"count(*) AS value, min(warc_ts) AS start_ts, max(warc_ts) AS end_ts, "
        f"'page.count.by_lang_name' AS metric_name FROM routed WHERE route = 'other' GROUP BY 1",
    )
    q["agg_count_missing_dim"] = Query(
        _metric("other", 2),
        f'{duck_pipeline_cte()} SELECT "user", count(*) AS value, '
        f"min(warc_ts) AS start_ts, max(warc_ts) AS end_ts, "
        f"'page.count.matched_user' AS metric_name FROM routed "
        f'WHERE route = \'other\' AND "user" IS NOT NULL GROUP BY 1',
    )
    # Training-data (dedup/ANN/multimodal/text) queries register FIRST so the
    # flagship LLM-pipeline family falls inside the driver's 50-query
    # correctness window; the long-tail operator queries (multi-round green)
    # occupy the tail.  (VERDICT r2 item #1.)
    _add_trainingdata_queries(q)
    _add_tailsampling_queries(q)
    _add_otlpjson_queries(q)
    _add_spanconnect_queries(q)
    _add_signaltometrics_queries(q)
    _add_spanproc_queries(q)
    _add_operator_queries(q)
    # The driver's correctness pass records the FIRST 50 queries, in
    # dict order.  The r4 window is explicit: (A) queries added or whose
    # implementation changed this round, (B) queries that have never had
    # a driver row in any round (VERDICT r3 item #2), (C) queries with
    # only one green row, oldest evidence first, (D+E) the flagship
    # training-data family and the big r3 processors for continued
    # coverage.  Everything else moves behind the window — every one of
    # those has at least one green driver row from r1-r3.
    window = [
        # The r5 window.  A: queries NEW this round — the geoip CIDR
        # range arm and the fileexporter proto arm (their first driver
        # rows), plus the three formerly rows-only queries whose
        # golden-fixture / FNV-in-SQL oracles are new this round, so
        # their first HASH-CHECKED rows land now.
        "enrich_geoip_cidr",
        "otlpproto_roundtrip",
        "otlpproto_traces_roundtrip",
        "otlpproto_metrics_roundtrip",
        "otlpproto_exp_roundtrip",
        "isolation_forest",
        "drain_tree_templates",
        "sampler_hash_seed",
        # A (cont.): implementation changed this round — the unhinted
        # decontaminate join-back, the zero-area image-patch guard, the
        # cardinality-gated dynsample broadcast, the sub-second
        # sessionize epoch, the schema rename validation, the shared
        # otlpjson flat-rows builder (both roundtrips re-checked), and
        # corpus_keep's optional precomputed-repetition parameter.
        "decontaminate",
        "multimodal_image_patches",
        "dynamic_sampling",
        # (sessionize_ip's slot: its epoch-cast change is re-verified
        # by this session's sf0.01 gates and its r4 row is green; the
        # slot goes to bpe_encode_stats, NEW in the final r5 session —
        # a never-recorded query outranks a re-check in the last round)
        "bpe_encode_stats",
        "schema_migrate",
        "otlpjson_roundtrip",
        "corpus_keep_decision",
        "text_repetition",
        # A (late r5): implementation changed in the final session — the
        # Arrow repetition engine feeds corpus_keep/corpus_prep_shards,
        # try_divide landed in the quality/lang projections (text_quality,
        # text_lang_id, corpus_stats, host_quality_filter), try_cast in
        # the otlpjson numeric parse paths (the traces and exp-histogram
        # round trips re-check those paths end to end; the logs/metrics/
        # hist/summary round trips below already sit in the window), and
        # cosine's try_divide touches the ANN family (ann_cosine_topk,
        # ann_ivf_topk here; embedding_near_dup and ann_ivf_kmeans_topk
        # below).  These displace seven unchanged single-green r4
        # second-row pins (vocab_topk, doc_keywords, train_shards,
        # stratified_sample, stanza_router_attrs, stanza_filter_ratio,
        # group_by_attrs_promote).
        "text_quality",
        # (text_lang_id's pin — its try_divide path is equally covered
        # by text_quality and corpus_stats — yields its slot to
        # corpus_keep_neardup, the near-dup-aware corpus gate NEW in
        # the final r5 session)
        "corpus_keep_neardup",
        # (corpus_stats' pin — it composes the same try_divide quality
        # projection text_quality already pins — yields its slot to
        # embedding_label_centroids, NEW in the final r5 session)
        "embedding_label_centroids",
        # (ann_cosine_topk's multi-green pin — unchanged code, and the
        # recall query drives the same brute-force path internally —
        # yields its slot to ann_ivf_recall, NEW in the final r5
        # session)
        "ann_ivf_recall",
        "ann_ivf_topk",
        "otlpjson_traces_roundtrip",
        "otlpjson_exp_roundtrip",
        "host_quality_filter",
        # (corpus_prep_shards' pin — its components corpus_keep_decision
        # and decontaminate are pinned above and corpus_keep_neardup
        # keeps a composed-DAG row — yields its slot to bpe_train, the
        # BPE tokenizer-induction trainer NEW in the final r5 session)
        "bpe_train",
        # A (late r5): explicit-histogram + summary marshal round trips
        # (both formats) — first driver rows for the r5-new fileexporter
        # arms.  They take the slots of single-green r4 queries whose
        # code did not change (url_canonicalize, crawl_latest_snapshot,
        # multimodal_audio_windows); corpus_stats later rotated back IN
        # (the try_divide quality change touches it — see the final-
        # session block above).
        "otlpjson_hist_roundtrip",
        "otlpproto_hist_roundtrip",
        "otlpjson_summary_roundtrip",
        "otlpproto_summary_roundtrip",
        # (unroll_words' second-row pin yields its slot to the unhinted
        # cardinality_guardian join-back, changed this round)
        "cardinality_guardian",
        # (round_robin_shards' r4-upgrade pin — green r4, unchanged code
        # — yields its slot to host_boilerplate_scrub, the CCNet-style
        # host-scoped boilerplate line scrub NEW in the final r5 session)
        "host_boilerplate_scrub",
        # (dedup_ngram_jaccard's r4-green pin — unchanged code — yields
        # its slot to semdedup, the SemDeDup semantic-dedup operator
        # NEW in the final r5 session)
        "semdedup",
        # (dedup_clusters' r4-green pin — unchanged code — yields its
        # slot to bm25_topk, the integer-exact BM25 retrieval query
        # NEW in the final r5 session)
        "bm25_topk",
        # (text_scrub_spans' r4 single-green pin — unchanged code —
        # yields its slot to warc_roundtrip, the WARC framing round
        # trip NEW in the final r5 session)
        "warc_roundtrip",
        # (wet_route_counts' second-row pin yields its slot to
        # span_pruning, whose execution shape changed in the final r5
        # session — per-trace applyInPandas → batched mapInPandas)
        "span_pruning",
        # (html_extract_text's r4-green pin — unchanged code, and
        # wet_route_counts covers the extraction chain end-to-end in
        # earlier rounds — yields its slot to posting_lists, the
        # inverted-index build NEW in the final r5 session)
        "posting_lists",
        # C: flagship pipeline + training-data family, every round
        # (route_resource_ctx's multi-green pin — unchanged code —
        # yields its slot to paragraph_dedup, the Dolma-style
        # corpus-global paragraph dedup NEW in the final r5 session)
        "paragraph_dedup",
        # (text_pii_scrub's r4 single-green pin — unchanged code —
        # yields its slot to source_mix_sample, the pretraining
        # source-mixing sampler NEW in the final r5 session)
        "source_mix_sample",
        # (text_chunks' r4 single-green pin — unchanged code — yields
        # its slot to dedup_normalized, the CCNet-normalized dedup key
        # NEW in the final r5 session)
        "dedup_normalized",
        # (pack_sequences' r4 single-green pin — unchanged code, strong
        # pytest — yields its slot to gopher_rules, the complete Gopher
        # Table-A1 battery NEW in the final r5 session)
        "gopher_rules",
        # (embedding_near_dup's r4-green pin — unchanged code — yields
        # its slot to c4_line_scrub, C4's line/page cleaning battery
        # NEW in the final r5 session)
        "c4_line_scrub",
        "ann_ivf_kmeans_topk",
        # (multimodal_sniff's flagship pin — multi-round green, unchanged
        # code — yields its slot to text_line_dup, the Gopher duplicate-
        # line/paragraph query NEW in the final r5 session)
        "text_line_dup",
        # (multimodal_features' flagship pin yields its slot to
        # text_lm_score, the unigram-LM quality query NEW in the final
        # r5 session — a new query needs its first driver row, and
        # multimodal_features is multi-round green with unchanged code)
        "text_lm_score",
        # D: the big r4 processors keep a trailing slot (double-green
        # r4 queries with unchanged code rotate out: the otlpjson exp
        # family, s2m_*, metrics_transform*, span_name_ops,
        # spanmetrics_exp_datapoint, agg_count_*)
        # A (late r5): the rate_limiting / bytes_limiting / composite
        # tail-sampling policies land this round — first driver rows
        # (they displace double-green unchanged r4 queries:
        # s2m_sum_duration, s2m_exp_histogram; text_quality later
        # rotated back IN via the final-session try_divide block above).
        "tailsample_rate_limit",
        "tailsample_bytes_limit",
        "tailsample_composite",
        # (metrics_transform_labels' r4 single-green pin — unchanged
        # code — yields its slot to dedup_simhash_pairs, the Manku
        # banded SimHash pairing NEW in the final r5 session)
        "dedup_simhash_pairs",
        # (otlpjson_metrics_roundtrip's r4 double-green pin — unchanged
        # code — yields its slot to url_blocklist_filter, the
        # RefinedWeb URL filter NEW in the final r5 session)
        "url_blocklist_filter",
        # (span_name_ops' second-row pin yields its slot to the unhinted
        # metric_start_time join, changed this round)
        "metric_start_time",
    ]
    assert len(window) == 50, len(window)
    unknown = set(window) - set(q)
    if unknown:  # a typo here would silently drop driver coverage
        raise KeyError(f"window lists name unknown queries: {sorted(unknown)}")
    order = window + [n for n in q if n not in window]
    return {n: q[n] for n in order}


# ---------------------------------------------------------------------------
# tail-sampling queries (processor/tailsamplingprocessor)
# ---------------------------------------------------------------------------

# Span fixture derived deterministically from the events table: one trace per
# (user, day), span duration = `value` milliseconds, status from event_type
# (2=ERROR, 1=OK, 0=UNSET like ptrace.StatusCode).  Mirrored verbatim in the
# DuckDB oracle below.
_SPANS_SQL = (
    "spans AS ("
    " SELECT md5('trace-' || CAST(user_id AS VARCHAR) || '-' || strftime(ts, '%Y-%m-%d')) AS trace_id,"
    "  event_id AS span_id, ts AS start_ts,"
    "  ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT)) AS end_ts,"
    "  CASE event_type WHEN 'error' THEN 2 WHEN 'purchase' THEN 1 ELSE 0 END AS status_code,"
    "  event_type,"
    "  CAST(json_extract(props, '$.k') AS BIGINT) AS k"
    " FROM events)"
)

# FNV-1a-64 state after hashing the default salt "default-hash-seed"
# (probabilistic.go:19-21); FNV has no finalization so folding the trace-id
# bytes from this state equals hashing salt‖bytes from the offset basis.
_FNV64_POST_SALT = 4177246886410171645
_FNV64_TRACE_SQL = (
    "list_reduce([{state}::HUGEINT] || list_transform(range(0, 16), i ->"
    " ((strpos('0123456789abcdef', substr(trace_id, 2*i+1, 1))-1)*16"
    "  + strpos('0123456789abcdef', substr(trace_id, 2*i+2, 1))-1)::HUGEINT),"
    " (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT)"
    " % 18446744073709551616::HUGEINT)"
).format(state=_FNV64_POST_SALT)


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        F.md5(
            F.concat(
                F.lit("trace-"),
                F.col("user_id").cast("string"),
                F.lit("-"),
                F.date_format("ts", "yyyy-MM-dd"),
            )
        ).alias("trace_id"),
        F.col("event_id").alias("span_id"),
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.round(F.col("value") * 1000, 0).try_cast("long")
        )
        .cast("timestamp_ntz")
        .alias("end_ts"),
        F.when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("status_code"),
        F.col("event_type"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def _add_tailsampling_queries(q: dict[str, Query]) -> None:
    from sparkotel.operators.tailsample import TailPolicy, sampled_spans, tail_sample

    policies = [
        TailPolicy(
            "drop-tiny",
            "drop",
            sub=(TailPolicy("tiny", "numeric_attribute", key="k", min_value=0, max_value=4),),
        ),
        TailPolicy("errors", "status_code", status_codes=(2,)),
        TailPolicy(
            "buyers",
            "and",
            sub=(
                TailPolicy("bought", "string_attribute", key="event_type", values=("purchase",)),
                TailPolicy("multi", "span_count", min_spans=2),
            ),
        ),
        TailPolicy("slow", "latency", threshold_ms=36_000_000),
        TailPolicy(
            "no-signup",
            "string_attribute",
            key="event_type",
            values=("signup",),
            invert_match=True,
        ),
        TailPolicy("big-traces", "span_count", min_spans=5),
    ]

    def decisions(spark, sf):
        return tail_sample(_spans(spark, sf), policies)

    q["tailsampling_policies"] = Query(
        decisions,
        f"""WITH {_SPANS_SQL},
t AS (
  SELECT trace_id, count(*) AS span_count,
    round((epoch_us(max(end_ts)) - epoch_us(min(start_ts))) / 1000.0, 6) AS duration_ms,
    coalesce(bool_or(k BETWEEN 0 AND 4), FALSE) AS any_tiny,
    coalesce(bool_or(status_code = 2), FALSE) AS any_error,
    coalesce(bool_or(event_type = 'purchase'), FALSE) AS any_purchase,
    coalesce(bool_or(event_type = 'signup'), FALSE) AS any_signup
  FROM spans GROUP BY 1),
d AS (
  SELECT *, any_tiny AS d_drop, any_error AS d_err,
    (any_purchase AND span_count >= 2) AS d_buy,
    duration_ms >= 36000000 AS d_slow,
    NOT any_signup AS d_nosig, span_count >= 5 AS d_big
  FROM t)
SELECT trace_id,
  CASE WHEN d_drop THEN 'dropped'
       WHEN d_err OR d_buy OR d_slow OR d_nosig OR d_big THEN 'sampled'
       ELSE 'not_sampled' END AS final_decision,
  CASE WHEN d_drop THEN 'drop-tiny'
       WHEN d_err THEN 'errors' WHEN d_buy THEN 'buyers' WHEN d_slow THEN 'slow'
       WHEN d_nosig THEN 'no-signup' WHEN d_big THEN 'big-traces' END AS policy,
  span_count, duration_ms
FROM d""",
    )

    def prob_spans(spark, sf):
        spans = _spans(spark, sf)
        dec = tail_sample(
            spans, [TailPolicy("prob", "probabilistic", sampling_percentage=25.0)]
        )
        return sampled_spans(spans, dec).select(
            "trace_id", "span_id", "event_type", "status_code"
        )

    q["tailsampling_prob_spans"] = Query(
        prob_spans,
        f"""WITH {_SPANS_SQL},
tids AS (SELECT DISTINCT trace_id FROM spans),
h AS (SELECT trace_id, {_FNV64_TRACE_SQL} AS h FROM tids)
SELECT s.trace_id, s.span_id, s.event_type, s.status_code
FROM spans s JOIN h USING (trace_id) WHERE h.h <= 4611686018427387903""",
    )

    # --- rate_limiting / bytes_limiting (token bucket over completion
    # order; internal/sampling/rate_limiting.go:28-53, bytes_limiting.go:
    # 26-73).  Integer-exact replay (see token_bucket_admit): the oracle is
    # a recursive CTE folding the identical integer bucket per limiter
    # shard (substr(trace_id,1,1) = a 16-collector fleet, one limiter
    # each).  rate: 1/4800 span/s, burst 6 (≈72% admitted at sf0.01, and
    # every trace with >6 spans exercises the n>burst always-deny path);
    # bytes: 1/60 B/s, burst 600 B over the real proto-marshal sizes.
    from sparkotel.operators.tailsample import (
        bytes_limiting_decisions,
        rate_limiting_decisions,
    )
    from sparkotel.otlpproto import trace_proto_sizes

    def _bucket_sql(per_trace: str, n_col: str, num: int, den: int, burst: int) -> str:
        cap = burst * 1_000_000 * den
        unit = 1_000_000 * den
        adv = f"least({cap}, b.tok + (o.arrival_us - b.arrival_us)*{num})"
        return f"""o AS (SELECT *, row_number() OVER (
    PARTITION BY limiter_key ORDER BY arrival_us, trace_id) AS seq FROM {per_trace}),
b AS (
  SELECT limiter_key, seq, trace_id, arrival_us, {n_col},
         {n_col}*{unit} <= {cap} AS adm,
         CASE WHEN {n_col}*{unit} <= {cap}
              THEN {cap} - {n_col}*{unit} ELSE {cap} END AS tok
  FROM o WHERE seq = 1
  UNION ALL
  SELECT o.limiter_key, o.seq, o.trace_id, o.arrival_us, o.{n_col},
         o.{n_col}*{unit} <= {adv},
         CASE WHEN o.{n_col}*{unit} <= {adv}
              THEN {adv} - o.{n_col}*{unit} ELSE {adv} END
  FROM b JOIN o ON o.limiter_key = b.limiter_key AND o.seq = b.seq + 1)
SELECT limiter_key, trace_id, arrival_us, {n_col},
       CASE WHEN adm THEN 'sampled' ELSE 'not_sampled' END AS final_decision
FROM b"""

    def rate_limit(spark, sf):
        return rate_limiting_decisions(
            _spans(spark, sf), 1, 4800, 6, key=F.substring("trace_id", 1, 1)
        ).withColumnRenamed("n", "n_spans")

    q["tailsample_rate_limit"] = Query(
        rate_limit,
        f"""WITH RECURSIVE {_SPANS_SQL},
t AS (
  SELECT substr(trace_id, 1, 1) AS limiter_key, trace_id,
         epoch_us(max(end_ts)) AS arrival_us,
         CAST(count(*) AS BIGINT) AS n_spans
  FROM spans GROUP BY 1, 2),
{_bucket_sql('t', 'n_spans', 1, 4800, 6)}""",
    )

    def bytes_limit(spark, sf):
        spans = _spans(spark, sf).select(
            "trace_id",
            F.lpad(F.lower(F.hex("span_id")), 16, "0").alias("span_id"),
            F.lit("").alias("trace_state"),
            F.lit("").alias("parent_span_id"),
            F.col("event_type").alias("name"),
            F.lit(2).alias("kind"),
            "start_ts",
            "end_ts",
            F.create_map(F.lit("service.name"), F.lit("svc")).alias("resource"),
            F.create_map().cast("map<string,string>").alias("attributes"),
            F.lit("app").alias("scope_name"),
            F.lit("").alias("status_message"),
            "status_code",
        )
        # size + arrival in ONE pass over the span stream (with_arrival
        # folds max(end_ts) into the encoder's groupBy) — no second
        # aggregation, no join
        sizes = trace_proto_sizes(spans, with_arrival=True)
        per = sizes.select(
            F.substring("trace_id", 1, 1).alias("limiter_key"),
            "trace_id",
            "arrival_us",
            F.col("proto_bytes").alias("n"),
        )
        return bytes_limiting_decisions(per, 1, 60, 600).withColumnRenamed(
            "n", "proto_bytes"
        )

    # The oracle sizes each trace arithmetically from the wire format —
    # an independent closed-form model of the marshal (span body =
    # 50+len(name), +4 when status_code≠0, for this fixture's
    # constant-width fields; proto3 default values are omitted on the
    # wire), so a green row cross-checks the real encoder's bytes
    # against first principles.
    q["tailsample_bytes_limit"] = Query(
        bytes_limit,
        f"""WITH RECURSIVE {_SPANS_SQL},
t AS (
  SELECT substr(trace_id, 1, 1) AS limiter_key, trace_id,
         epoch_us(max(end_ts)) AS arrival_us,
         7 + sum(52 + length(event_type)
                 + CASE WHEN status_code = 0 THEN 0 ELSE 4 END) AS inn
  FROM spans GROUP BY 1, 2),
t2 AS (
  SELECT limiter_key, trace_id, arrival_us,
         26 + (CASE WHEN inn < 128 THEN 1 WHEN inn < 16384 THEN 2
                    WHEN inn < 2097152 THEN 3 WHEN inn < 268435456 THEN 4
                    ELSE 5 END) + inn AS rs
  FROM t),
sz AS (
  SELECT limiter_key, trace_id, arrival_us,
         CAST(1 + (CASE WHEN rs < 128 THEN 1 WHEN rs < 16384 THEN 2
                        WHEN rs < 2097152 THEN 3 WHEN rs < 268435456 THEN 4
                        ELSE 5 END) + rs AS BIGINT) AS proto_bytes
  FROM t2),
{_bucket_sql('sz', 'proto_bytes', 1, 60, 600)}""",
    )

    # --- composite rate allocation (internal/sampling/composite.go:86-136):
    # ordered subs errors→buyers→always with per-day (FakeTimeProvider-style
    # coarse clock) span budgets 4/6/8 under max_total 10, one composite
    # instance per trace-prefix shard.  ≈68% admitted at sf0.01 with all
    # three subs and the over-budget deny path exercised.
    from sparkotel.operators.tailsample import composite_sample

    def composite(spark, sf):
        return composite_sample(
            _spans(spark, sf),
            subs=[
                (TailPolicy("errors", "status_code", status_codes=(2,)), 4),
                (
                    TailPolicy(
                        "buyers",
                        "string_attribute",
                        key="event_type",
                        values=("purchase",),
                    ),
                    6,
                ),
                (TailPolicy("always", "always_sample"), 8),
            ],
            max_total_sps=10,
            key=F.substring("trace_id", 1, 1),
            clock_us=86_400_000_000,
        )

    q["tailsample_composite"] = Query(
        composite,
        f"""WITH RECURSIVE {_SPANS_SQL},
t AS (
  SELECT substr(trace_id, 1, 1) AS limiter_key, trace_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         epoch_us(max(end_ts)) AS arrival_us,
         epoch_us(max(end_ts)) // 86400000000 AS d,
         coalesce(bool_or(status_code = 2), FALSE) AS m1,
         coalesce(bool_or(event_type = 'purchase'), FALSE) AS m2
  FROM spans GROUP BY 1, 2),
o AS (SELECT *, row_number() OVER (
    PARTITION BY limiter_key ORDER BY arrival_us, trace_id) AS seq FROM t),
b AS (
  SELECT limiter_key, seq, trace_id, arrival_us, n_spans, d, m1, m2,
    CASE WHEN m1 THEN (n_spans <= 4 AND n_spans <= 10)
         WHEN m2 THEN (n_spans <= 6 AND n_spans <= 10)
         ELSE (n_spans <= 8 AND n_spans <= 10) END AS adm,
    CASE WHEN m1 AND n_spans <= 4 AND n_spans <= 10 THEN n_spans ELSE 0 END AS c1,
    CASE WHEN NOT m1 AND m2 AND n_spans <= 6 AND n_spans <= 10 THEN n_spans ELSE 0 END AS c2,
    CASE WHEN NOT m1 AND NOT m2 AND n_spans <= 8 AND n_spans <= 10 THEN n_spans ELSE 0 END AS c3
  FROM o WHERE seq = 1
  UNION ALL
  SELECT o.limiter_key, o.seq, o.trace_id, o.arrival_us, o.n_spans, o.d, o.m1, o.m2,
    CASE WHEN o.m1 THEN (x.b1 + o.n_spans <= 4 AND x.b1 + o.n_spans <= 10)
         WHEN o.m2 THEN (x.b2 + o.n_spans <= 6 AND x.b2 + o.n_spans <= 10)
         ELSE (x.b3 + o.n_spans <= 8 AND x.b3 + o.n_spans <= 10) END,
    x.b1 + CASE WHEN o.m1 AND x.b1 + o.n_spans <= 4 AND x.b1 + o.n_spans <= 10
                THEN o.n_spans ELSE 0 END,
    x.b2 + CASE WHEN NOT o.m1 AND o.m2 AND x.b2 + o.n_spans <= 6 AND x.b2 + o.n_spans <= 10
                THEN o.n_spans ELSE 0 END,
    x.b3 + CASE WHEN NOT o.m1 AND NOT o.m2 AND x.b3 + o.n_spans <= 8 AND x.b3 + o.n_spans <= 10
                THEN o.n_spans ELSE 0 END
  FROM b JOIN o ON o.limiter_key = b.limiter_key AND o.seq = b.seq + 1,
  LATERAL (SELECT CASE WHEN o.d <> b.d THEN 0 ELSE b.c1 END AS b1,
                  CASE WHEN o.d <> b.d THEN 0 ELSE b.c2 END AS b2,
                  CASE WHEN o.d <> b.d THEN 0 ELSE b.c3 END AS b3) x)
SELECT limiter_key, trace_id, arrival_us, n_spans,
  CASE WHEN adm THEN 'sampled' ELSE 'not_sampled' END AS final_decision,
  CASE WHEN adm THEN (CASE WHEN m1 THEN 'errors' WHEN m2 THEN 'buyers'
                           ELSE 'always' END) END AS policy
FROM b""",
    )


# ---------------------------------------------------------------------------
# OTLP/JSON file source + sink (receiver/otlpjsonfilereceiver,
# fileexporter JSON-lines mode) — sparkotel/otlpjson.py
# ---------------------------------------------------------------------------

# Record fixture derived deterministically from the events table; the
# oracle computes the SAME fields straight from events, so the Spark
# side must survive its OTLP/JSON detour (build line → parse, or
# marshal → unmarshal) without losing or mangling anything.
_OTLP_ORACLE_SQL = """SELECT ts,
  CASE event_type WHEN 'error' THEN 17 WHEN 'purchase' THEN 9 ELSE 5 END AS severity_number,
  CASE event_type WHEN 'error' THEN 'ERROR' WHEN 'purchase' THEN 'INFO' ELSE 'DEBUG' END AS severity_text,
  'evt ' || event_type || ' ' || CAST(event_id AS VARCHAR) AS body,
  event_type AS attr_event_type,
  json_extract_string(props, '$.k') AS attr_k,
  'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name,
  'gen' AS scope_name, '1' AS scope_version,
  md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
  printf('%016x', event_id) AS span_id,
  CAST(event_id % 3 AS INT) AS flags
FROM events"""


def _otlp_flat_select(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "ts",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["event.type"].alias("attr_event_type"),
        F.col("attributes")["k"].alias("attr_k"),
        F.col("resource")["service.name"].alias("service_name"),
        F.col("resource")["host.name"].alias("host_name"),
        "scope_name",
        "scope_version",
        "trace_id",
        "span_id",
        "flags",
    )


def _add_otlpjson_queries(q: dict[str, Query]) -> None:
    from sparkotel.otlpjson import parse_otlp_logs, to_otlp_logs_json

    # --- source: parse textual OTLP/JSON lines (built with format_string,
    # a path independent of the from_json parser under test) --------------
    _LINE_FMT = (
        '{"resourceLogs":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"svc-%d"}},'
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeLogs":[{"scope":{"name":"gen","version":"1"},"logRecords":['
        '{"timeUnixNano":"%d","severityNumber":%d,"severityText":"%s",'
        '"body":{"stringValue":"evt %s %d"},"attributes":['
        '{"key":"event.type","value":{"stringValue":"%s"}},'
        '{"key":"k","value":{"intValue":"%s"}}],'
        '"traceId":"%s","spanId":"%016x","flags":%d}]}]}]}'
    )

    def _sev_num():
        return (
            F.when(F.col("event_type") == "error", 17)
            .when(F.col("event_type") == "purchase", 9)
            .otherwise(5)
        )

    def _sev_text():
        return (
            F.when(F.col("event_type") == "error", "ERROR")
            .when(F.col("event_type") == "purchase", "INFO")
            .otherwise("DEBUG")
        )

    def parse_q(spark, sf):
        lines = _events(spark, sf).select(
            F.format_string(
                _LINE_FMT,
                F.col("user_id") % 5,
                F.col("user_id") % 7,
                F.unix_micros(F.col("ts").cast("timestamp")) * 1000,
                _sev_num(),
                _sev_text(),
                F.col("event_type"),
                F.col("event_id"),
                F.col("event_type"),
                F.get_json_object("props", "$.k"),
                F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))),
                F.col("event_id"),
                F.col("event_id") % 3,
            ).alias("line")
        )
        return _otlp_flat_select(parse_otlp_logs(lines))

    q["otlpjson_parse"] = Query(parse_q, _OTLP_ORACLE_SQL)

    # --- sink→source roundtrip: marshal per-resource requests, read back --
    def _flat_events(ev: DataFrame) -> DataFrame:
        return ev.select(
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            F.col("ts").cast("timestamp_ntz").alias("observed_ts"),
            _sev_num().alias("severity_number"),
            _sev_text().alias("severity_text"),
            F.format_string("evt %s %d", "event_type", "event_id").alias("body"),
            F.map_from_arrays(
                F.array(F.lit("event.type"), F.lit("k")),
                F.array(F.col("event_type"), F.get_json_object("props", "$.k")),
            ).alias("attributes"),
            F.map_from_arrays(
                F.array(F.lit("service.name"), F.lit("host.name")),
                F.array(
                    F.format_string("svc-%d", F.col("user_id") % 5),
                    F.format_string("host-%d", F.col("user_id") % 7),
                ),
            ).alias("resource"),
            F.lit("gen").alias("scope_name"),
            F.lit("1").alias("scope_version"),
            F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))).alias("trace_id"),
            F.format_string("%016x", "event_id").alias("span_id"),
            (F.col("event_id") % 3).cast("int").alias("flags"),
            F.lit(0).alias("dropped_attributes_count"),
        )

    def roundtrip_q(spark, sf):
        flat = _flat_events(_events(spark, sf))
        return _otlp_flat_select(parse_otlp_logs(to_otlp_logs_json(flat)))

    q["otlpjson_roundtrip"] = Query(roundtrip_q, _OTLP_ORACLE_SQL)

    # --- proto arm of the same roundtrip: LogsData wire format + 4-byte
    # big-endian framing (exporter/fileexporter/marshaller.go:20-44,
    # file_writer.go:43-52), hand-rolled encoder — sparkotel/otlpproto.py
    def proto_roundtrip_q(spark, sf):
        from sparkotel.otlpproto import (
            frame_messages,
            parse_otlp_proto_logs,
            to_otlp_logs_proto,
        )

        flat = _flat_events(_events(spark, sf))
        framed = frame_messages(to_otlp_logs_proto(flat))
        return _otlp_flat_select(parse_otlp_proto_logs(framed))

    q["otlpproto_roundtrip"] = Query(proto_roundtrip_q, _OTLP_ORACLE_SQL)

    # --- traces signal: span rows in exactly the shape servicegraph /
    # spanmetrics / tailsampling consume -----------------------------------
    from sparkotel.otlpjson import parse_otlp_metrics, parse_otlp_traces

    _TRACE_FMT = (
        '{"resourceSpans":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"svc-%d"}}]},'
        '"scopeSpans":[{"scope":{"name":"tracer"},"spans":['
        '{"traceId":"%s","spanId":"%016x","parentSpanId":"%016x",'
        '"name":"op-%s","kind":%d,'
        '"startTimeUnixNano":"%d","endTimeUnixNano":"%d",'
        '"attributes":[{"key":"user.id","value":{"intValue":"%d"}}],'
        '"status":{"code":%d%s}}]}]}]}'
    )

    def _span_frame(spark, sf):
        ev = _events(spark, sf)
        start_us = F.unix_micros(F.col("ts").cast("timestamp"))
        end_us = start_us + F.round(F.col("value") * 1000, 0).try_cast("long")
        status = (
            F.when(F.col("event_type") == "error", 2)
            .when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
        )
        lines = ev.select(
            F.format_string(
                _TRACE_FMT,
                F.col("user_id") % 5,
                F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))),
                F.col("event_id"),
                F.expr("event_id div 7"),
                F.col("event_type"),
                F.col("event_id") % 6,
                start_us * 1000,
                end_us * 1000,
                F.col("user_id"),
                status,
                F.when(status == 2, ',"message":"boom"').otherwise(""),
            ).alias("line")
        )
        return parse_otlp_traces(lines)

    def traces_q(spark, sf):
        t = _span_frame(spark, sf)
        return t.select(
            "trace_id",
            "span_id",
            "parent_span_id",
            "name",
            "kind",
            "start_ts",
            "end_ts",
            "status_code",
            "status_message",
            F.col("attributes")["user.id"].alias("attr_user"),
            F.col("resource")["service.name"].alias("service_name"),
            "scope_name",
        )

    def traces_roundtrip_q(spark, sf):
        from sparkotel.otlpjson import to_otlp_traces_json

        # marshal → unmarshal must be lossless: same flat fields as the
        # direct parse (otlpjson_traces), same oracle
        t = parse_otlp_traces(to_otlp_traces_json(_span_frame(spark, sf)))
        return t.select(
            "trace_id",
            "span_id",
            "parent_span_id",
            "name",
            "kind",
            "start_ts",
            "end_ts",
            "status_code",
            "status_message",
            F.col("attributes")["user.id"].alias("attr_user"),
            F.col("resource")["service.name"].alias("service_name"),
            "scope_name",
        )

    q["otlpjson_traces"] = Query(
        traces_q,
        """SELECT md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
  printf('%016x', event_id) AS span_id,
  printf('%016x', event_id // 7) AS parent_span_id,
  'op-' || event_type AS name,
  CAST(event_id % 6 AS INT) AS kind,
  ts AS start_ts,
  ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT)) AS end_ts,
  CASE event_type WHEN 'error' THEN 2 WHEN 'purchase' THEN 1 ELSE 0 END AS status_code,
  CASE event_type WHEN 'error' THEN 'boom' ELSE '' END AS status_message,
  CAST(user_id AS VARCHAR) AS attr_user,
  'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
  'tracer' AS scope_name
FROM events""",
    )

    q["otlpjson_traces_roundtrip"] = Query(traces_roundtrip_q, q["otlpjson_traces"].oracle)

    # proto arm of the traces roundtrip (TracesData wire format +
    # framing, sparkotel/otlpproto.py) — same flat fields, same oracle
    def proto_traces_roundtrip_q(spark, sf):
        from sparkotel.otlpproto import (
            frame_messages,
            parse_otlp_proto_traces,
            to_otlp_traces_proto,
        )

        framed = frame_messages(to_otlp_traces_proto(_span_frame(spark, sf)))
        return parse_otlp_proto_traces(framed).select(
            "trace_id",
            "span_id",
            "parent_span_id",
            "name",
            "kind",
            "start_ts",
            "end_ts",
            "status_code",
            "status_message",
            F.col("attributes")["user.id"].alias("attr_user"),
            F.col("resource")["service.name"].alias("service_name"),
            "scope_name",
        )

    q["otlpproto_traces_roundtrip"] = Query(
        proto_traces_roundtrip_q, q["otlpjson_traces"].oracle
    )

    # --- metrics signal: number data points (gauge + monotonic sum arms) --
    _GAUGE_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"m.%s","unit":"ms","gauge":{"dataPoints":['
        '{"timeUnixNano":"%d","asDouble":%s,'
        '"attributes":[{"key":"k","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )
    _SUM_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"m.%s","unit":"ms","sum":{"aggregationTemporality":2,"isMonotonic":true,'
        '"dataPoints":[{"startTimeUnixNano":"%d","timeUnixNano":"%d","asInt":"%s",'
        '"attributes":[{"key":"k","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def _point_frame(spark, sf):
        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        k = F.get_json_object("props", "$.k")
        gauge = F.format_string(
            _GAUGE_FMT, F.col("user_id") % 7, F.col("event_type"), tus * 1000,
            F.col("value").cast("string"), k,
        )
        asum = F.format_string(
            _SUM_FMT, F.col("user_id") % 7, F.col("event_type"), (tus - 1_000_000) * 1000,
            tus * 1000, k, k,
        )
        lines = ev.select(
            F.when(F.col("event_type") == "purchase", asum).otherwise(gauge).alias("line")
        )
        return parse_otlp_metrics(lines)

    def metrics_q(spark, sf):
        m = _point_frame(spark, sf)
        return m.select(
            "metric_name",
            "unit",
            "metric_type",
            "aggregation_temporality",
            "is_monotonic",
            "start_ts",
            "ts",
            "value",
            F.col("attributes")["k"].alias("attr_k"),
            F.col("resource")["host.name"].alias("host_name"),
            "scope_name",
        )

    def metrics_roundtrip_q(spark, sf):
        from sparkotel.otlpjson import to_otlp_metrics_json

        m = parse_otlp_metrics(to_otlp_metrics_json(_point_frame(spark, sf)))
        return m.select(
            "metric_name",
            "unit",
            "metric_type",
            "aggregation_temporality",
            "is_monotonic",
            "start_ts",
            "ts",
            "value",
            F.col("attributes")["k"].alias("attr_k"),
            F.col("resource")["host.name"].alias("host_name"),
            "scope_name",
        )

    q["otlpjson_metrics"] = Query(
        metrics_q,
        """SELECT 'm.' || event_type AS metric_name, 'ms' AS unit,
  CASE WHEN event_type = 'purchase' THEN 'sum' ELSE 'gauge' END AS metric_type,
  CASE WHEN event_type = 'purchase' THEN 2 ELSE 0 END AS aggregation_temporality,
  event_type = 'purchase' AS is_monotonic,
  CASE WHEN event_type = 'purchase' THEN ts - INTERVAL 1 SECOND END AS start_ts,
  ts,
  CASE WHEN event_type = 'purchase'
       THEN CAST(json_extract_string(props, '$.k') AS DOUBLE) ELSE value END AS value,
  json_extract_string(props, '$.k') AS attr_k,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name,
  'meter' AS scope_name
FROM events""",
    )

    q["otlpjson_metrics_roundtrip"] = Query(
        metrics_roundtrip_q, q["otlpjson_metrics"].oracle
    )

    # proto arm of the metrics roundtrip (MetricsData wire format +
    # framing, sparkotel/otlpproto.py) — same flat fields, same oracle
    def proto_metrics_roundtrip_q(spark, sf):
        from sparkotel.otlpproto import (
            frame_messages,
            parse_otlp_proto_metrics,
            to_otlp_metrics_proto,
        )

        framed = frame_messages(to_otlp_metrics_proto(_point_frame(spark, sf)))
        return parse_otlp_proto_metrics(framed).select(
            "metric_name",
            "unit",
            "metric_type",
            "aggregation_temporality",
            "is_monotonic",
            "start_ts",
            "ts",
            "value",
            F.col("attributes")["k"].alias("attr_k"),
            F.col("resource")["host.name"].alias("host_name"),
            "scope_name",
        )

    q["otlpproto_metrics_roundtrip"] = Query(
        proto_metrics_roundtrip_q, q["otlpjson_metrics"].oracle
    )

    # --- metrics signal: exponentialHistogram data points ------------------
    # proto3-JSON ExponentialHistogramDataPoint (metrics.proto): uint64
    # fields as strings, positive/negative Buckets halves; the negative
    # half appears only on error rows so absent-half normalization
    # (offset 0 / empty counts) is exercised on the rest.
    _EXPH_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"e.latency","unit":"ms","exponentialHistogram":'
        '{"aggregationTemporality":1,"dataPoints":['
        '{"startTimeUnixNano":"%d","timeUnixNano":"%d",'
        '"count":"%d","sum":%s,"min":%s,"max":%s,'
        '"scale":%d,"zeroCount":"%d","zeroThreshold":%s,'
        '"positive":{"offset":%d,"bucketCounts":["%d","%d","%d"]}%s,'
        '"attributes":[{"key":"k","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def _exph_lines(spark, sf):
        from sparkotel.otlpjson import parse_otlp_exp_histograms

        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        neg = F.when(
            F.col("event_type") == "error",
            F.format_string(
                ',"negative":{"offset":%d,"bucketCounts":["%d"]}',
                F.col("user_id") % 3,
                F.col("event_id") % 2 + 1,
            ),
        ).otherwise(F.lit(""))
        lines = ev.select(
            F.format_string(
                _EXPH_FMT,
                F.col("user_id") % 7,
                (tus - 1_000_000) * 1000,
                tus * 1000,
                F.col("event_id") % 10,
                F.col("value").cast("string"),
                (F.col("value") - 1).cast("string"),
                (F.col("value") + 1).cast("string"),
                F.col("user_id") % 4 - 1,
                F.col("user_id") % 3,
                ((F.col("event_id") % 2).cast("double") / 2).cast("string"),
                F.col("event_id") % 6 - 1,
                F.col("event_id") % 4,
                F.col("user_id") % 5,
                F.col("event_id") % 3,
                neg,
                F.col("event_type"),
            ).alias("line")
        )
        return parse_otlp_exp_histograms(lines)

    def _exph_flat(m):
        return m.select(
            "metric_name",
            "aggregation_temporality",
            "start_ts",
            "ts",
            "count",
            "sum",
            "min",
            "max",
            "scale",
            "zero_count",
            "zero_threshold",
            "positive_offset",
            F.array_join(
                F.col("positive_bucket_counts").cast("array<string>"), ","
            ).alias("positive_counts"),
            "negative_offset",
            F.array_join(
                F.col("negative_bucket_counts").cast("array<string>"), ","
            ).alias("negative_counts"),
            F.col("attributes")["k"].alias("attr_k"),
            F.col("resource")["host.name"].alias("host_name"),
        )

    _EXPH_ORACLE = """SELECT 'e.latency' AS metric_name,
  CAST(1 AS INT) AS aggregation_temporality,
  ts - INTERVAL 1 SECOND AS start_ts,
  ts,
  CAST(event_id % 10 AS BIGINT) AS count,
  value AS sum,
  value - 1 AS min,
  value + 1 AS max,
  CAST(user_id % 4 - 1 AS INT) AS scale,
  CAST(user_id % 3 AS BIGINT) AS zero_count,
  CAST(event_id % 2 AS DOUBLE) / 2 AS zero_threshold,
  CAST(event_id % 6 - 1 AS INT) AS positive_offset,
  CAST(event_id % 4 AS VARCHAR) || ',' || CAST(user_id % 5 AS VARCHAR) || ',' ||
    CAST(event_id % 3 AS VARCHAR) AS positive_counts,
  CAST(CASE WHEN event_type = 'error' THEN user_id % 3 ELSE 0 END AS INT)
    AS negative_offset,
  CASE WHEN event_type = 'error' THEN CAST(event_id % 2 + 1 AS VARCHAR)
       ELSE '' END AS negative_counts,
  event_type AS attr_k,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name
FROM events"""

    def exph_ingest_q(spark, sf):
        return _exph_flat(_exph_lines(spark, sf))

    q["otlpjson_exp_histogram"] = Query(exph_ingest_q, _EXPH_ORACLE)

    def exph_roundtrip_q(spark, sf):
        from sparkotel.otlpjson import (
            parse_otlp_exp_histograms,
            to_otlp_exp_histograms_json,
        )

        m = parse_otlp_exp_histograms(
            to_otlp_exp_histograms_json(_exph_lines(spark, sf))
        )
        return _exph_flat(m)

    q["otlpjson_exp_roundtrip"] = Query(exph_roundtrip_q, _EXPH_ORACLE)

    # proto arm of the exp-histogram roundtrip (zigzag sints, packed
    # varint bucket counts, optional sum/min/max presence) — same flat
    # fields, same oracle
    def proto_exph_roundtrip_q(spark, sf):
        from sparkotel.otlpproto import (
            frame_messages,
            parse_otlp_proto_exp_histograms,
            to_otlp_exp_histograms_proto,
        )

        framed = frame_messages(
            to_otlp_exp_histograms_proto(_exph_lines(spark, sf))
        )
        return _exph_flat(parse_otlp_proto_exp_histograms(framed))

    q["otlpproto_exp_roundtrip"] = Query(proto_exph_roundtrip_q, _EXPH_ORACLE)

    # --- explicit-histogram + summary marshal round trips (r5: these
    # two metric shapes were parse-only in both formats — the last
    # fileexporter marshal gap).  Fixture histogram points carry
    # conditional min/max so the optional-presence arms (JSON omission,
    # proto presence bit) are exercised, not just NULL-everywhere.
    _HRT_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{},"metrics":['
        '{"name":"h.latency","histogram":{"aggregationTemporality":2,'
        '"dataPoints":[{"startTimeUnixNano":"%d","timeUnixNano":"%d",'
        '"count":"%d","sum":%s%s,'
        '"bucketCounts":["%d","%d","%d"],"explicitBounds":[1.0,5.0],'
        '"attributes":[{"key":"et","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def _hist_rt_frame(spark, sf):
        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        minmax = F.when(
            F.col("event_type") == "error",
            F.format_string(
                ',"min":%s,"max":%s',
                (F.col("value") - 2).cast("string"),
                (F.col("value") + 2).cast("string"),
            ),
        ).otherwise(F.lit(""))
        lines = ev.select(
            F.format_string(
                _HRT_FMT,
                F.col("user_id") % 7,
                (tus - 1_000_000) * 1000,
                tus * 1000,
                F.col("event_id") % 9,
                F.col("value").cast("string"),
                minmax,
                F.col("event_id") % 3,
                F.col("user_id") % 4,
                F.col("event_id") % 5,
                F.col("event_type"),
            ).alias("line")
        )
        return parse_otlp_histograms(lines)

    def _hist_rt_flat(m):
        return m.select(
            "metric_name",
            "aggregation_temporality",
            "start_ts",
            "ts",
            "count",
            "sum",
            "min",
            "max",
            F.array_join(F.col("bucket_counts").cast("array<string>"), ",").alias(
                "buckets"
            ),
            F.array_join(F.col("explicit_bounds").cast("array<string>"), ",").alias(
                "bounds"
            ),
            F.col("attributes")["et"].alias("attr_et"),
            F.col("resource")["host.name"].alias("host_name"),
        )

    _HIST_RT_ORACLE = """SELECT 'h.latency' AS metric_name,
  CAST(2 AS INT) AS aggregation_temporality,
  ts - INTERVAL 1 SECOND AS start_ts,
  ts,
  CAST(event_id % 9 AS BIGINT) AS count,
  value AS sum,
  CASE WHEN event_type = 'error' THEN value - 2 END AS min,
  CASE WHEN event_type = 'error' THEN value + 2 END AS max,
  CAST(event_id % 3 AS VARCHAR) || ',' || CAST(user_id % 4 AS VARCHAR) || ',' ||
    CAST(event_id % 5 AS VARCHAR) AS buckets,
  '1.0,5.0' AS bounds,
  event_type AS attr_et,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name
FROM events"""

    def hist_json_roundtrip_q(spark, sf):
        from sparkotel.otlpjson import to_otlp_histograms_json

        return _hist_rt_flat(
            parse_otlp_histograms(to_otlp_histograms_json(_hist_rt_frame(spark, sf)))
        )

    q["otlpjson_hist_roundtrip"] = Query(hist_json_roundtrip_q, _HIST_RT_ORACLE)

    def hist_proto_roundtrip_q(spark, sf):
        from sparkotel.otlpproto import (
            frame_messages,
            parse_otlp_proto_histograms,
            to_otlp_histograms_proto,
        )

        framed = frame_messages(to_otlp_histograms_proto(_hist_rt_frame(spark, sf)))
        return _hist_rt_flat(parse_otlp_proto_histograms(framed))

    q["otlpproto_hist_roundtrip"] = Query(hist_proto_roundtrip_q, _HIST_RT_ORACLE)

    _SUMM_RT_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"s.latency","unit":"ms","summary":{'
        '"dataPoints":[{"startTimeUnixNano":"%d","timeUnixNano":"%d",'
        '"count":"%d","sum":%s,'
        '"quantileValues":[{"quantile":0.5,"value":%s},'
        '{"quantile":0.99,"value":%s}],'
        '"attributes":[{"key":"et","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def _summ_rt_frame(spark, sf):
        from sparkotel.otlpjson import parse_otlp_summaries

        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        lines = ev.select(
            F.format_string(
                _SUMM_RT_FMT,
                F.col("user_id") % 7,
                (tus - 1_000_000) * 1000,
                tus * 1000,
                F.col("event_id") % 12,
                F.col("value").cast("string"),
                (F.col("value") / 2).cast("string"),
                (F.col("value") * 2).cast("string"),
                F.col("event_type"),
            ).alias("line")
        )
        return parse_otlp_summaries(lines)

    def _summ_rt_flat(m):
        qs = F.col("quantiles")
        return m.select(
            "metric_name",
            "unit",
            "start_ts",
            "ts",
            "count",
            "sum",
            qs[0]["quantile"].alias("p_lo"),
            qs[0]["value"].alias("q50"),
            qs[1]["quantile"].alias("p_hi"),
            qs[1]["value"].alias("q99"),
            F.col("attributes")["et"].alias("attr_et"),
            F.col("resource")["host.name"].alias("host_name"),
            "scope_name",
        )

    _SUMM_RT_ORACLE = """SELECT 's.latency' AS metric_name, 'ms' AS unit,
  ts - INTERVAL 1 SECOND AS start_ts,
  ts,
  CAST(event_id % 12 AS BIGINT) AS count,
  value AS sum,
  0.5 AS p_lo, value / 2 AS q50,
  0.99 AS p_hi, value * 2 AS q99,
  event_type AS attr_et,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name,
  'meter' AS scope_name
FROM events"""

    def summ_json_roundtrip_q(spark, sf):
        from sparkotel.otlpjson import parse_otlp_summaries, to_otlp_summaries_json

        return _summ_rt_flat(
            parse_otlp_summaries(to_otlp_summaries_json(_summ_rt_frame(spark, sf)))
        )

    q["otlpjson_summary_roundtrip"] = Query(summ_json_roundtrip_q, _SUMM_RT_ORACLE)

    def summ_proto_roundtrip_q(spark, sf):
        from sparkotel.otlpproto import (
            frame_messages,
            parse_otlp_proto_summaries,
            to_otlp_summaries_proto,
        )

        framed = frame_messages(to_otlp_summaries_proto(_summ_rt_frame(spark, sf)))
        return _summ_rt_flat(parse_otlp_proto_summaries(framed))

    q["otlpproto_summary_roundtrip"] = Query(summ_proto_roundtrip_q, _SUMM_RT_ORACLE)

    # --- ingested exp-histogram points feeding the transformprocessor
    # exp→explicit converter (func_convert_exponential_hist_to_explicit_
    # hist.go) — the full source→transform path, per-row varying scale.
    # Oracle mirrors metric_exphist_convert's unrolled midpoint CASE but
    # generalizes the bucket-edge factor to ln(2)·2^-scale; the inner
    # parens mirror the engine's factor grouping (scaling by a power of
    # two is exact, so the grouping is rounding-neutral — kept identical
    # anyway).  Bounds sit far from every base-2/4/√2/⁴√2 bucket edge in
    # the generated scale range [-1,2] so 1-ulp exp() differences
    # between engines cannot flip a comparison.
    _EXPH_TGT_S = """CASE
      WHEN exp((off + {i}) * (ln(2) * power(2.0, -s))) > 7.7 THEN 3
      WHEN exp((off + {i}) * (ln(2) * power(2.0, -s))) > 0.0
           AND exp((off + {i} + 1) * (ln(2) * power(2.0, -s))) <= 1.5 THEN 0
      WHEN exp((off + {i}) * (ln(2) * power(2.0, -s))) > 1.5
           AND exp((off + {i} + 1) * (ln(2) * power(2.0, -s))) <= 3.3 THEN 1
      WHEN exp((off + {i}) * (ln(2) * power(2.0, -s))) > 3.3
           AND exp((off + {i} + 1) * (ln(2) * power(2.0, -s))) <= 7.7 THEN 2
      WHEN (exp((off + {i}) * (ln(2) * power(2.0, -s)))
            + exp((off + {i} + 1) * (ln(2) * power(2.0, -s)))) / 2 <= 1.5 THEN 0
      WHEN (exp((off + {i}) * (ln(2) * power(2.0, -s)))
            + exp((off + {i} + 1) * (ln(2) * power(2.0, -s)))) / 2 <= 3.3 THEN 1
      WHEN (exp((off + {i}) * (ln(2) * power(2.0, -s)))
            + exp((off + {i} + 1) * (ln(2) * power(2.0, -s)))) / 2 <= 7.7 THEN 2
      ELSE 3 END"""

    def exph_ingest_convert_q(spark, sf):
        from sparkotel.operators import metricfuncs as MF

        out = MF.convert_exponential_hist_to_explicit_hist(
            _exph_lines(spark, sf), "midpoint", [0.0, 1.5, 3.3, 7.7]
        )
        return out.select(
            "metric_name",
            "ts",
            F.array_join(F.col("bucket_counts").cast("array<string>"), ",").alias(
                "buckets"
            ),
            F.col("attributes")["k"].alias("attr_k"),
        )

    q["otlpjson_exp_convert"] = Query(
        exph_ingest_convert_q,
        f"""WITH e AS (
  SELECT ts, event_type AS attr_k,
    CAST(user_id % 4 - 1 AS INT) AS s,
    CAST(event_id % 6 - 1 AS INT) AS off,
    CAST(event_id % 4 AS BIGINT) AS b0, CAST(user_id % 5 AS BIGINT) AS b1,
    CAST(event_id % 3 AS BIGINT) AS b2, CAST(user_id % 3 AS BIGINT) AS zc
  FROM events),
t AS (SELECT *, {_EXPH_TGT_S.format(i=0)} AS t0, {_EXPH_TGT_S.format(i=1)} AS t1,
  {_EXPH_TGT_S.format(i=2)} AS t2 FROM e)
SELECT 'e.latency' AS metric_name, ts,
  CAST(zc + CASE WHEN t0=0 THEN b0 ELSE 0 END + CASE WHEN t1=0 THEN b1 ELSE 0 END
       + CASE WHEN t2=0 THEN b2 ELSE 0 END AS VARCHAR) || ',' ||
  CAST(CASE WHEN t0=1 THEN b0 ELSE 0 END + CASE WHEN t1=1 THEN b1 ELSE 0 END
       + CASE WHEN t2=1 THEN b2 ELSE 0 END AS VARCHAR) || ',' ||
  CAST(CASE WHEN t0=2 THEN b0 ELSE 0 END + CASE WHEN t1=2 THEN b1 ELSE 0 END
       + CASE WHEN t2=2 THEN b2 ELSE 0 END AS VARCHAR) || ',' ||
  CAST(CASE WHEN t0=3 THEN b0 ELSE 0 END + CASE WHEN t1=3 THEN b1 ELSE 0 END
       + CASE WHEN t2=3 THEN b2 ELSE 0 END AS VARCHAR) AS buckets,
  attr_k
FROM t""",
    )

    # --- transformprocessor over the span context --------------------------
    # ottlspan paths (pkg/ottl/contexts/ottlspan/span.go: status.code,
    # status.message, instrumentation_scope.name two-segment paths) via
    # apply_statements(ctx="span"); statements mirror the shape of
    # processor/transformprocessor trace_statements configs.
    from sparkotel.expr import apply_statements

    def span_transform_q(spark, sf):
        t = _span_frame(spark, sf)
        out = apply_statements(
            t,
            [
                'set(span.status.message, "exploded") where span.status.code == 2',
                'set(span.attributes["svc"], resource.attributes["service.name"])',
                'set(span.name, Concat([instrumentation_scope.name, span.name], "/"))'
                " where span.kind == 2",
                "set(span.kind, 3) where span.kind == 5",
            ],
            ctx="span",
        )
        return out.select(
            "trace_id",
            "span_id",
            "name",
            F.col("kind").cast("int").alias("kind"),
            "status_code",
            "status_message",
            F.col("svc").alias("svc"),
            F.col("attributes")["user.id"].alias("attr_user"),
        )

    q["ottl_span_transform"] = Query(
        span_transform_q,
        """SELECT md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
  printf('%016x', event_id) AS span_id,
  CASE WHEN event_id % 6 = 2 THEN 'tracer/op-' || event_type
       ELSE 'op-' || event_type END AS name,
  CAST(CASE WHEN event_id % 6 = 5 THEN 3 ELSE event_id % 6 END AS INT) AS kind,
  CASE event_type WHEN 'error' THEN 2 WHEN 'purchase' THEN 1 ELSE 0 END AS status_code,
  CASE event_type WHEN 'error' THEN 'exploded' ELSE '' END AS status_message,
  'svc-' || CAST(user_id % 5 AS VARCHAR) AS svc,
  CAST(user_id AS VARCHAR) AS attr_user
FROM events""",
    )

    # --- transformprocessor over the datapoint context ----------------------
    # ottldatapoint paths (value_double → canonical value column, metric.*
    # header columns) via apply_statements(ctx="datapoint").
    def dp_transform_q(spark, sf):
        m = _point_frame(spark, sf)
        out = apply_statements(
            m,
            [
                "set(datapoint.value_double, datapoint.value_double * 1000)"
                ' where metric.unit == "ms"',
                'set(metric.unit, "us") where metric.unit == "ms"',
                'set(datapoint.attributes["mtype"], metric.type)',
                'set(datapoint.attributes["cumulative_sum"], "true")'
                " where metric.aggregation_temporality == 2 and metric.is_monotonic",
            ],
            ctx="datapoint",
        )
        return out.select(
            "metric_name",
            "unit",
            "value",
            F.col("attributes")["k"].alias("attr_k"),
            F.col("mtype").alias("mtype"),
            F.col("cumulative_sum").alias("cumulative_sum"),
            F.col("resource")["host.name"].alias("host_name"),
        )

    q["ottl_datapoint_transform"] = Query(
        dp_transform_q,
        """SELECT 'm.' || event_type AS metric_name, 'us' AS unit,
  CASE WHEN event_type = 'purchase'
       THEN CAST(json_extract_string(props, '$.k') AS DOUBLE)
       ELSE value END * 1000 AS value,
  json_extract_string(props, '$.k') AS attr_k,
  CASE WHEN event_type = 'purchase' THEN 'sum' ELSE 'gauge' END AS mtype,
  CASE WHEN event_type = 'purchase' THEN 'true' END AS cumulative_sum,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name
FROM events""",
    )

    # --- transformprocessor metric-context functions ------------------------
    # (processor/transformprocessor/internal/metrics/func_*.go) over the
    # number-point and histogram-point frames.
    from sparkotel.operators import metricfuncs as MF
    from sparkotel.otlpjson import parse_otlp_histograms

    def metric_chain_q(spark, sf):
        m = _point_frame(spark, sf)
        out = MF.convert_gauge_to_sum(m, "delta", True)
        out = MF.scale_metric(out, 2.0, unit="2x")
        out = MF.copy_metric(out, name="m.extra", where=F.col("metric_name") == "m.error")
        return out.select(
            "metric_name",
            "unit",
            "metric_type",
            F.col("aggregation_temporality").cast("int").alias("aggregation_temporality"),
            "is_monotonic",
            "ts",
            "value",
            F.col("attributes")["k"].alias("attr_k"),
        )

    q["metric_funcs_chain"] = Query(
        metric_chain_q,
        """WITH base AS (
  SELECT 'm.' || event_type AS metric_name, '2x' AS unit, 'sum' AS metric_type,
    CAST(CASE WHEN event_type = 'purchase' THEN 2 ELSE 1 END AS INT) AS aggregation_temporality,
    TRUE AS is_monotonic, ts,
    (CASE WHEN event_type = 'purchase'
          THEN CAST(json_extract_string(props, '$.k') AS DOUBLE)
          ELSE value END) * 2 AS value,
    json_extract_string(props, '$.k') AS attr_k
  FROM events)
SELECT * FROM base
UNION ALL
SELECT 'm.extra', unit, metric_type, aggregation_temporality, is_monotonic, ts, value, attr_k
FROM base WHERE metric_name = 'm.error'""",
    )

    def metric_agg_q(spark, sf):
        m = _point_frame(spark, sf)
        out = MF.aggregate_on_attributes(m, "mean", ["k"])
        return out.select(
            "metric_name",
            "unit",
            "metric_type",
            "aggregation_temporality",
            "is_monotonic",
            "ts",
            "value",
            F.col("attributes")["k"].alias("attr_k"),
            F.col("resource")["host.name"].alias("host_name"),
        )

    q["metric_aggregate_on_attrs"] = Query(
        metric_agg_q,
        """SELECT 'm.' || event_type AS metric_name, 'ms' AS unit,
  CASE WHEN event_type = 'purchase' THEN 'sum' ELSE 'gauge' END AS metric_type,
  CASE WHEN event_type = 'purchase' THEN 2 ELSE 0 END AS aggregation_temporality,
  event_type = 'purchase' AS is_monotonic,
  ts,
  avg(CASE WHEN event_type = 'purchase'
      THEN CAST(json_extract_string(props, '$.k') AS DOUBLE)
      ELSE value END) AS value,
  json_extract_string(props, '$.k') AS attr_k,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name
FROM events GROUP BY 1, 2, 3, 4, 5, 6, 8, 9""",
    )

    # histogram-point frame derived deterministically from events: five
    # buckets with bounds [1,2,5,10], counts from event/user id residues
    _HISTO_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"h.latency","unit":"ms","histogram":{"aggregationTemporality":1,'
        '"dataPoints":[{"startTimeUnixNano":"%d","timeUnixNano":"%d",'
        '"count":"%d","sum":%d,'
        '"bucketCounts":["%d","%d","%d","%d","%d"],'
        '"explicitBounds":[1.0,2.0,5.0,10.0],'
        '"attributes":[{"key":"et","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def _hist_frame(spark, sf):
        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        cs = [
            F.col("event_id") % 3,
            F.col("user_id") % 4,
            F.col("event_id") % 5,
            F.col("user_id") % 6,
            F.col("event_id") % 7,
        ]
        total = cs[0] + cs[1] + cs[2] + cs[3] + cs[4]
        lines = ev.select(
            F.format_string(
                _HISTO_FMT,
                F.col("user_id") % 7,
                (tus - 1_000_000) * 1000,
                tus * 1000,
                total,
                F.col("event_id") % 100,
                *cs,
                F.col("event_type"),
            ).alias("line")
        )
        return parse_otlp_histograms(lines)

    def metric_extract_q(spark, sf):
        h = _hist_frame(spark, sf)
        out = MF.extract_sum_metric(h, False).unionByName(
            MF.extract_count_metric(h, True)
        )
        return out.select(
            "metric_name",
            "metric_type",
            "aggregation_temporality",
            "is_monotonic",
            "ts",
            "value",
            F.col("attributes")["et"].alias("et"),
        )

    q["metric_extract_hist"] = Query(
        metric_extract_q,
        """WITH h AS (
  SELECT ts, event_type AS et,
    CAST(event_id % 100 AS DOUBLE) AS hsum,
    CAST(event_id % 3 + user_id % 4 + event_id % 5 + user_id % 6 + event_id % 7
         AS DOUBLE) AS hcount
  FROM events)
SELECT 'h.latency_sum' AS metric_name, 'sum' AS metric_type,
  1 AS aggregation_temporality, FALSE AS is_monotonic, ts, hsum AS value, et FROM h
UNION ALL
SELECT 'h.latency_count', 'sum', 1, TRUE, ts, hcount, et FROM h""",
    )

    def metric_merge_q(spark, sf):
        h = _hist_frame(spark, sf)
        out = MF.merge_histogram_buckets(h, 2.0, "remove_explicit_bound")
        out = MF.merge_histogram_buckets(out, 2, "limit_buckets")
        return out.select(
            "metric_name",
            "ts",
            F.array_join(F.col("bucket_counts").cast("array<string>"), ",").alias("buckets"),
            F.array_join(
                F.col("explicit_bounds").cast("array<int>").cast("array<string>"), ","
            ).alias("bounds"),
            F.col("attributes")["et"].alias("et"),
        )

    q["metric_merge_buckets"] = Query(
        metric_merge_q,
        """SELECT 'h.latency' AS metric_name, ts,
  CAST(event_id % 3 + user_id % 4 + event_id % 5 AS VARCHAR) || ',' ||
    CAST(user_id % 6 + event_id % 7 AS VARCHAR) AS buckets,
  '5' AS bounds,
  event_type AS et
FROM events""",
    )

    def metric_pct_q(spark, sf):
        h = _hist_frame(spark, sf)
        out = MF.extract_percentile_metric(h, 90.0)
        return out.select(
            "metric_name", "ts", "value", F.col("attributes")["et"].alias("et")
        )

    # mirror of the reference's bucket scan + linear interpolation
    # (func_extract_percentile_metric.go:125-185) unrolled over the five
    # known buckets; rows with zero total are skipped on both sides
    q["metric_extract_percentile"] = Query(
        metric_pct_q,
        """WITH h AS (
  SELECT ts, event_type AS et,
    CAST(event_id % 3 AS BIGINT) AS c0, CAST(user_id % 4 AS BIGINT) AS c1,
    CAST(event_id % 5 AS BIGINT) AS c2, CAST(user_id % 6 AS BIGINT) AS c3,
    CAST(event_id % 7 AS BIGINT) AS c4
  FROM events),
t AS (SELECT *, c0+c1+c2+c3+c4 AS total,
  CAST(ceil((c0+c1+c2+c3+c4) * 0.9) AS BIGINT) AS tgt FROM h)
SELECT 'h.latency_p90' AS metric_name, ts,
  CASE
    WHEN tgt <= c0 THEN CAST(tgt AS DOUBLE) / c0 * 1.0
    WHEN tgt <= c0+c1 THEN 1.0 + CAST(tgt-c0 AS DOUBLE) / c1 * 1.0
    WHEN tgt <= c0+c1+c2 THEN 2.0 + CAST(tgt-c0-c1 AS DOUBLE) / c2 * 3.0
    WHEN tgt <= c0+c1+c2+c3 THEN 5.0 + CAST(tgt-c0-c1-c2 AS DOUBLE) / c3 * 5.0
    ELSE 10.0 END AS value,
  et
FROM t WHERE total > 0""",
    )

    # --- dynamicsamplingprocessor (keep-errors + deterministic catch-all) ---
    from sparkotel.operators.dynsample import RULE_ATTR, dynamic_sampling

    def dynsample_q(spark, sf):
        ev = _events(spark, sf)
        status = (
            F.when(F.col("event_type") == "error", 2).otherwise(0)
        )
        spans = ev.select(
            F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))).alias(
                "trace_id"
            ),
            F.printf(F.lit("%016x"), F.col("event_id")).alias("span_id"),
            F.lit("").alias("parent_span_id"),
            F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
            F.lit(2).alias("kind"),
            F.col("ts").cast("timestamp_ntz").alias("start_ts"),
            F.col("ts").cast("timestamp_ntz").alias("end_ts"),
            status.alias("status_code"),
            F.lit("").alias("status_message"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("attributes"),
            F.map_from_arrays(
                F.array(F.lit("service.name")),
                F.array(F.concat(F.lit("svc-"), (F.col("user_id") % 5).cast("string"))),
            ).alias("resource"),
            F.lit("tracer").alias("scope_name"),
        )
        out = dynamic_sampling(
            spans,
            [
                {"name": "keep-errors", "conditions": ["status.code == 2"],
                 "sampler": {"type": "always_sample"}},
                {"name": "default",
                 "sampler": {"type": "deterministic", "sampling_percentage": 25}},
            ],
        )
        return out.select(
            "trace_id",
            "name",
            F.col("attributes")[RULE_ATTR].alias("rule"),
            "trace_state",
        )

    # threshold for 1-in-4 = 2^56 − 2^54 = 0xc0000000000000 → th:c;
    # randomness = low 56 bits of the md5 trace id
    q["dynamic_sampling"] = Query(
        dynsample_q,
        """WITH sp AS (
  SELECT md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
    'op-' || event_type AS name,
    CASE event_type WHEN 'error' THEN 2 ELSE 0 END AS status
  FROM events),
r AS (SELECT *, list_reduce(list_transform(range(0, 14),
        i -> (strpos('0123456789abcdef', substr(trace_id, 19 + i, 1)) - 1)::HUGEINT),
        (acc, d) -> acc * 16 + d) AS rnd
      FROM sp)
SELECT trace_id, name, 'keep-errors' AS rule, 'ot=th:0' AS trace_state
FROM r WHERE status = 2
UNION ALL
SELECT trace_id, name, 'default', 'ot=th:c'
FROM r WHERE status <> 2 AND rnd >= 54043195528445952""",
    )

    # --- spanpruningprocessor (leaf-only config → SQL-expressible;
    # parent recursion + outliers covered in tests/test_spanprune.py) --------
    from sparkotel.operators.spanprune import span_pruning

    def spanprune_q(spark, sf):
        ev = _events(spark, sf)
        spans = ev.select(
            F.concat(F.lit("tr-"), (F.col("user_id") % 50).cast("string")).alias(
                "trace_id"
            ),
            F.printf(F.lit("%016x"), F.col("event_id")).alias("span_id"),
            F.lit("").alias("parent_span_id"),
            F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
            F.lit(3).alias("kind"),
            F.col("ts").cast("timestamp_ntz").alias("start_ts"),
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp")) + F.col("event_id")
            ).cast("timestamp_ntz").alias("end_ts"),
            F.lit(0).alias("status_code"),
            F.lit("").alias("status_message"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("attributes"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("resource"),
            F.lit("tracer").alias("scope_name"),
        )
        out = span_pruning(spans, min_spans_to_aggregate=5, max_parent_depth=0)
        a = F.col("attributes")
        return out.select(
            "trace_id",
            "name",
            a["pruning.is_summary"].alias("is_summary"),
            a["pruning.span_count"].alias("span_count"),
            a["pruning.duration_total_ns"].alias("duration_total_ns"),
            "start_ts",
            "end_ts",
        )

    q["span_pruning"] = Query(
        spanprune_q,
        """WITH spans AS (
  SELECT 'tr-' || CAST(user_id % 50 AS VARCHAR) AS trace_id,
    'op-' || event_type AS name, ts AS start_ts,
    ts + to_microseconds(CAST(event_id AS BIGINT)) AS end_ts,
    CAST(event_id AS BIGINT) * 1000 AS dur_ns
  FROM events),
g AS (SELECT trace_id, name, count(*) AS n, min(start_ts) AS s,
        max(end_ts) AS e, sum(dur_ns) AS dtot
      FROM spans GROUP BY 1, 2)
SELECT trace_id, name, 'true' AS is_summary, CAST(n AS VARCHAR) AS span_count,
  CAST(dtot AS VARCHAR) AS duration_total_ns, s AS start_ts, e AS end_ts
FROM g WHERE n >= 5
UNION ALL
SELECT sp.trace_id, sp.name, NULL, NULL, NULL, sp.start_ts, sp.end_ts
FROM spans sp JOIN g ON g.trace_id = sp.trace_id AND g.name = sp.name
WHERE g.n < 5""",
    )

    # --- isolationforestprocessor: RNG-grown trees have no SQL mirror,
    # but the query is a deterministic pure function of the input, so
    # the oracle is a golden fixture computed by a single-process
    # python twin (sparkotel/golden.py — catches distribution bugs;
    # algorithm-level recall/determinism evidence stays in
    # tests/test_iforest.py).  The md5 window rank makes the training
    # window replayable outside Spark.
    from sparkotel import golden as G
    from sparkotel.functions.iforest import isolation_forest

    def iforest_q(spark, sf):
        ev = _events(spark, sf)
        pts = ev.select(
            "event_id",
            F.col("value").alias("x"),
            # try_cast: under ANSI (Spark 4 default) a plain cast THROWS on
            # a non-numeric k (JSON booleans render 'true'/'false') — one
            # malformed prop row must not kill the job; NULL → 0.0 instead
            F.coalesce(
                F.get_json_object("props", "$.k").try_cast("double"), F.lit(0.0)
            ).alias("y"),
        )
        out = isolation_forest(
            pts, ["x", "y"], num_trees=50, subsample=128, seed=11,
            contamination_rate=0.02,
            rank_expr=F.md5(F.col("event_id").cast("string")),
        )
        G.iforest_golden(sf)  # expected output, written before the oracle runs
        return out.where(F.col("anomaly_is_anomaly")).select(
            "event_id", "x", "y",
            F.round("anomaly_isolation_score", 6).alias("score"),
        )

    q["isolation_forest"] = Query(
        iforest_q,
        f"SELECT event_id, x, y, score FROM read_parquet('{G.IFOREST_PARQUET}')",
    )

    # --- cardinalityguardianprocessor (strip_and_reaggregate) ---------------
    # alternating hours explode the `path` label (one unique value per
    # event) vs a stable 5-value set; the guardian strips the exploding
    # label in offending epochs and reaggregates the delta sums.
    from sparkotel.operators.cardinality import cardinality_guardian

    def cardinality_q(spark, sf):
        ev = _events(spark, sf)
        ep = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600)
        path = F.when(
            ep % 2 == 1, F.concat(F.lit("p-"), F.col("event_id").cast("string"))
        ).otherwise(F.concat(F.lit("p-"), (F.col("event_id") % 5).cast("string")))
        pts = ev.select(
            F.lit("req").alias("metric_name"),
            F.lit("").alias("unit"),
            F.lit("sum").alias("metric_type"),
            F.lit(1).alias("aggregation_temporality"),
            F.lit(True).alias("is_monotonic"),
            (F.col("ts").cast("timestamp") - F.expr("INTERVAL 1 SECOND"))
            .cast("timestamp_ntz")
            .alias("start_ts"),
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            F.lit(1.0).alias("value"),
            F.map_from_arrays(
                F.array(F.lit("path"), F.lit("region")),
                F.array(
                    path,
                    F.concat(F.lit("r-"), (F.col("user_id") % 3).cast("string")),
                ),
            ).alias("attributes"),
            F.map_from_arrays(F.array(F.lit("h")), F.array(F.lit("1"))).alias(
                "resource"
            ),
            F.lit("meter").alias("scope_name"),
        )
        out = cardinality_guardian(
            pts,
            max_cardinality_delta_per_epoch=50,
            epoch_seconds=3600,
            enforcement_mode="strip_and_reaggregate",
            never_drop_labels=("region",),
        )
        return out.select(
            "metric_name",
            F.col("attributes")["path"].alias("path"),
            F.col("attributes")["region"].alias("region"),
            "start_ts",
            "ts",
            "value",
        )

    q["cardinality_guardian"] = Query(
        cardinality_q,
        """WITH pts AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS ep,
    CASE WHEN CAST(floor(epoch(ts) / 3600) AS BIGINT) % 2 = 1
         THEN 'p-' || CAST(event_id AS VARCHAR)
         ELSE 'p-' || CAST(event_id % 5 AS VARCHAR) END AS path,
    'r-' || CAST(user_id % 3 AS VARCHAR) AS region,
    ts - INTERVAL 1 SECOND AS start_ts, ts, 1.0 AS value
  FROM events),
cnts AS (SELECT ep, count(DISTINCT path) AS c FROM pts GROUP BY ep),
offend AS (SELECT c.ep FROM cnts c LEFT JOIN cnts p ON p.ep = c.ep - 1
           WHERE c.c - coalesce(p.c, 0) > 50),
mutated AS (
  SELECT CASE WHEN ep IN (SELECT ep FROM offend) THEN NULL ELSE path END AS path,
         region, start_ts, ts, value FROM pts)
SELECT 'req' AS metric_name, path, region,
  min(start_ts) AS start_ts, max(ts) AS ts, sum(value) AS value
FROM mutated GROUP BY 1, 2, 3""",
    )

    # --- metricstarttimeprocessor (subtract_initial_point strategy) ---------
    from sparkotel.operators.starttime import adjust_start_time

    def start_time_q(spark, sf):
        ev = _events(spark, sf)
        pts = ev.select(
            F.concat(F.lit("s."), (F.col("user_id") % 40).cast("string")).alias(
                "metric_name"
            ),
            F.lit("").alias("unit"),
            F.lit("sum").alias("metric_type"),
            F.lit(2).alias("aggregation_temporality"),
            F.lit(True).alias("is_monotonic"),
            F.lit(None).cast("timestamp_ntz").alias("start_ts"),
            F.timestamp_micros(
                F.lit(1700000000000000) + F.col("event_id") * 1000
            ).cast("timestamp_ntz").alias("ts"),
            ((F.col("event_id") * 7) % 97).cast("double").alias("value"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("attributes"),
            F.map_from_arrays(
                F.array(F.lit("h")), F.array(F.lit("1"))
            ).alias("resource"),
            F.lit("meter").alias("scope_name"),
        )
        out = adjust_start_time(pts, "subtract_initial_point")
        return out.select("metric_name", "ts", "start_ts", "value")

    # mirror of the subtract-initial segmentation: reset heads (value
    # decrease) re-anchor at ts − 1 ms, first point per series is the
    # dropped reference (subtractinitial/adjuster.go:209-257)
    q["metric_start_time"] = Query(
        start_time_q,
        """WITH pts AS (
  SELECT 's.' || CAST(user_id % 40 AS VARCHAR) AS metric_name,
    make_timestamp(1700000000000000 + event_id * 1000) AS ts,
    CAST((event_id * 7) % 97 AS DOUBLE) AS value
  FROM events),
seg AS (
  SELECT *, CASE WHEN lag(value) OVER w IS NULL OR value < lag(value) OVER w
    THEN 1 ELSE 0 END AS head
  FROM pts WINDOW w AS (PARTITION BY metric_name ORDER BY ts)),
runs AS (
  SELECT *,
    last_value(CASE WHEN head = 1 THEN ts END IGNORE NULLS) OVER w2 AS seg_ts,
    last_value(CASE WHEN head = 1 THEN value END IGNORE NULLS) OVER w2 AS seg_val,
    SUM(head) OVER w2 AS seg_n,
    row_number() OVER (PARTITION BY metric_name ORDER BY ts) AS rn
  FROM seg
  WINDOW w2 AS (PARTITION BY metric_name ORDER BY ts ROWS UNBOUNDED PRECEDING))
SELECT metric_name, ts,
  CASE WHEN seg_n = 1 THEN seg_ts
       ELSE seg_ts - INTERVAL 1 MILLISECOND END AS start_ts,
  CASE WHEN seg_n = 1 THEN value - seg_val ELSE value END AS value
FROM runs WHERE rn > 1""",
    )

    # --- genainormalizerprocessor (openllmetry source, pure column path) ----
    from sparkotel.operators.genai import genai_normalizer

    def genai_q(spark, sf):
        ev = _events(spark, sf)
        rtype = (
            F.when(F.col("event_type") == "purchase", "chat")
            .when(F.col("event_type") == "error", "completion")
            .otherwise(F.lit("embedding"))
        )
        tokens = F.when(
            F.col("event_id") % 10 == 0, F.lit("NaN-tokens")
        ).otherwise(F.col("user_id").cast("string"))
        attrs = F.map_from_arrays(
            F.array(
                F.lit("gen_ai.usage.prompt_tokens"),
                F.lit("llm.request.type"),
                F.lit("llm.response.finish_reason"),
                F.lit("llm.request.temperature"),
                F.lit("traceloop.entity.name"),
            ),
            F.array(
                tokens,
                rtype,
                F.lit("stop"),
                F.round(F.col("value"), 3).cast("string"),
                F.concat(F.lit("agent-"), (F.col("user_id") % 5).cast("string")),
            ),
        )
        spans = ev.select(F.col("event_id"), attrs.alias("attributes"))
        out = genai_normalizer(
            spans, [{"name": "openllmetry", "remove_originals": True}]
        )
        a = F.col("attributes")
        return out.select(
            "event_id",
            a["gen_ai.operation.name"].alias("op_name"),
            a["gen_ai.usage.input_tokens"].alias("in_tokens"),
            a["gen_ai.response.finish_reasons"].alias("finish"),
            a["gen_ai.request.temperature"].alias("temperature"),
            a["gen_ai.agent.name"].alias("agent"),
            a["gen_ai.usage.prompt_tokens"].alias("left_src"),
            "schema_url",
        )

    q["genai_normalize"] = Query(
        genai_q,
        """SELECT event_id,
  CASE event_type WHEN 'purchase' THEN 'chat'
       WHEN 'error' THEN 'text_completion'
       ELSE 'embeddings' END AS op_name,
  CASE WHEN event_id % 10 = 0 THEN NULL
       ELSE CAST(user_id AS VARCHAR) END AS in_tokens,
  '["stop"]' AS finish,
  CAST(round(value, 3) AS VARCHAR) AS temperature,
  'agent-' || CAST(user_id % 5 AS VARCHAR) AS agent,
  CASE WHEN event_id % 10 = 0 THEN 'NaN-tokens' END AS left_src,
  'https://opentelemetry.io/schemas/1.40.0' AS schema_url
FROM events""",
    )

    # --- transformprocessor over the spanevent context ----------------------
    # ottlspanevent paths (event_index, span.* parent paths) via
    # apply_statements(ctx="spanevent") over parse_otlp_spanevents.
    from sparkotel.otlpjson import parse_otlp_spanevents

    _SE_LINE_FMT = (
        '{"resourceSpans":[{"resource":{"attributes":['
        '{"key":"service.name","value":{"stringValue":"svc-%d"}}]},'
        '"scopeSpans":[{"scope":{"name":"tracer"},"spans":['
        '{"traceId":"%s","spanId":"%016x","name":"op-%s","kind":%d,'
        '"startTimeUnixNano":"%d","endTimeUnixNano":"%d",'
        '"status":{"code":%d},'
        '"events":[{"timeUnixNano":"%d","name":"enqueue",'
        '"attributes":[{"key":"queue","value":{"stringValue":"q-%d"}}]},'
        '{"timeUnixNano":"%d","name":"dequeue"}]}]}]}]}'
    )

    def spanevent_q(spark, sf):
        ev = _events(spark, sf)
        start_us = F.unix_micros(F.col("ts").cast("timestamp"))
        end_us = start_us + F.round(F.col("value") * 1000, 0).try_cast("long")
        status = (
            F.when(F.col("event_type") == "error", 2)
            .when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
        )
        lines = ev.select(
            F.format_string(
                _SE_LINE_FMT,
                F.col("user_id") % 5,
                F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))),
                F.col("event_id"),
                F.col("event_type"),
                F.col("event_id") % 6,
                start_us * 1000,
                end_us * 1000,
                status,
                start_us * 1000,
                F.col("user_id") % 3,
                end_us * 1000,
            ).alias("line")
        )
        se = parse_otlp_spanevents(lines)
        out = apply_statements(
            se,
            [
                'set(spanevent.attributes["svc"], resource.attributes["service.name"])',
                'set(spanevent.name, Concat([span.name, spanevent.name], ":"))'
                " where event_index == 1",
                'set(spanevent.attributes["err"], "yes") where span.status.code == 2',
            ],
            ctx="spanevent",
        )
        return out.select(
            "trace_id",
            "span_id",
            "event_index",
            "event_name",
            "ts",
            F.col("svc").alias("svc"),
            F.col("err").alias("err"),
            F.col("attributes")["queue"].alias("queue"),
        )

    q["ottl_spanevent_transform"] = Query(
        spanevent_q,
        """SELECT md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
  printf('%016x', event_id) AS span_id, 0 AS event_index,
  'enqueue' AS event_name, ts,
  'svc-' || CAST(user_id % 5 AS VARCHAR) AS svc,
  CASE WHEN event_type = 'error' THEN 'yes' END AS err,
  'q-' || CAST(user_id % 3 AS VARCHAR) AS queue
FROM events
UNION ALL
SELECT md5('t' || CAST(event_id AS VARCHAR)),
  printf('%016x', event_id), 1,
  'op-' || event_type || ':dequeue',
  ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT)),
  'svc-' || CAST(user_id % 5 AS VARCHAR),
  CASE WHEN event_type = 'error' THEN 'yes' END,
  NULL
FROM events""",
    )

    # --- set_semconv_span_name over a semconv-attributed span frame --------
    from sparkotel.operators.spanfuncs import set_semconv_span_name

    def semconv_span_q(spark, sf):
        ev = _events(spark, sf)
        grp = F.col("event_id") % 4
        attrs = (
            F.when(grp == 0, F.map_from_arrays(
                F.array(F.lit("http.request.method"), F.lit("http.route")),
                F.array(F.lit("GET"), F.concat(F.lit("/t/"), F.col("event_type"))),
            ))
            .when(grp == 1, F.map_from_arrays(
                F.array(F.lit("rpc.system"), F.lit("rpc.grpc.method"),
                        F.lit("rpc.grpc.service")),
                F.array(F.lit("grpc"), F.lit("Do"), F.lit("svc.E")),
            ))
            .when(grp == 2, F.map_from_arrays(
                F.array(F.lit("db.system.name"), F.lit("db.namespace"),
                        F.lit("db.operation.name"), F.lit("db.collection.name")),
                F.array(F.lit("postgresql"), F.lit("shop"),
                        F.lit("INSERT"), F.lit("orders")),
            ))
            .otherwise(F.map_from_arrays(
                F.array(F.lit("messaging.system"), F.lit("messaging.operation"),
                        F.lit("messaging.destination.name")),
                F.array(F.lit("kafka"), F.lit("send"),
                        F.concat(F.lit("m-"), F.col("event_type"))),
            ))
        )
        spans = ev.select(
            F.col("event_id"),
            F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
            (F.col("event_id") % 6).cast("int").alias("kind"),
            attrs.alias("attributes"),
        )
        out = set_semconv_span_name(spans, "1.40.0", "orig")
        return out.select(
            "event_id",
            "name",
            "kind",
            F.col("attributes")["orig"].alias("orig"),
        )

    q["semconv_span_name"] = Query(
        semconv_span_q,
        """SELECT event_id,
  CASE
    WHEN event_id % 4 = 0 AND event_id % 6 IN (2, 3)
      THEN 'GET /t/' || event_type
    WHEN event_id % 4 = 1 AND event_id % 6 IN (2, 3) THEN 'svc.E/Do'
    WHEN event_id % 4 = 2 AND event_id % 6 = 3 THEN 'INSERT shop.orders'
    WHEN event_id % 4 = 3 AND event_id % 6 IN (2, 3, 4, 5)
      THEN 'send m-' || event_type
    ELSE 'op-' || event_type END AS name,
  CAST(event_id % 6 AS INT) AS kind,
  CASE
    WHEN (event_id % 4 = 0 AND event_id % 6 IN (2, 3))
      OR (event_id % 4 = 1 AND event_id % 6 IN (2, 3))
      OR (event_id % 4 = 2 AND event_id % 6 = 3)
      OR (event_id % 4 = 3 AND event_id % 6 IN (2, 3, 4, 5))
    THEN 'op-' || event_type END AS orig
FROM events""",
    )

    def metric_exphist_q(spark, sf):
        ev = _events(spark, sf)
        exp_pts = ev.select(
            F.lit("e.latency").alias("metric_name"),
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            F.lit(1).alias("scale"),
            (F.col("user_id") % 3).cast("long").alias("zero_count"),
            ((F.col("event_id") % 6) - 1).cast("int").alias("positive_offset"),
            F.array(
                (F.col("event_id") % 4).cast("long"),
                (F.col("user_id") % 5).cast("long"),
                (F.col("event_id") % 3).cast("long"),
            ).alias("positive_bucket_counts"),
            F.col("event_type").alias("et"),
        )
        out = MF.convert_exponential_hist_to_explicit_hist(
            exp_pts, "midpoint", [0.0, 1.5, 3.3, 7.7]
        )
        return out.select(
            "metric_name",
            "ts",
            F.array_join(F.col("bucket_counts").cast("array<string>"), ",").alias(
                "buckets"
            ),
            "et",
        )

    # unrolled mirror of calculateBucketCounts + midpointAlgorithm
    # (func_convert_exponential_hist_to_explicit_hist.go:109-148,183-199):
    # per source bucket i, overflow → last cell, exact-fit between adjacent
    # boundaries, else midpoint placement; zero_count lands in cell 0
    # because boundaries start at 0.  Bounds sit far from every base-2
    # bucket edge so 1-ulp exp() differences between engines cannot flip
    # a comparison.
    _EXPH_TGT = """CASE
      WHEN exp((off + {i}) * ln(2) / 2) > 7.7 THEN 3
      WHEN exp((off + {i}) * ln(2) / 2) > 0.0
           AND exp((off + {i} + 1) * ln(2) / 2) <= 1.5 THEN 0
      WHEN exp((off + {i}) * ln(2) / 2) > 1.5
           AND exp((off + {i} + 1) * ln(2) / 2) <= 3.3 THEN 1
      WHEN exp((off + {i}) * ln(2) / 2) > 3.3
           AND exp((off + {i} + 1) * ln(2) / 2) <= 7.7 THEN 2
      WHEN (exp((off + {i}) * ln(2) / 2) + exp((off + {i} + 1) * ln(2) / 2)) / 2 <= 1.5 THEN 0
      WHEN (exp((off + {i}) * ln(2) / 2) + exp((off + {i} + 1) * ln(2) / 2)) / 2 <= 3.3 THEN 1
      WHEN (exp((off + {i}) * ln(2) / 2) + exp((off + {i} + 1) * ln(2) / 2)) / 2 <= 7.7 THEN 2
      ELSE 3 END"""

    q["metric_exphist_convert"] = Query(
        metric_exphist_q,
        f"""WITH e AS (
  SELECT ts, event_type AS et,
    CAST(event_id % 6 - 1 AS INT) AS off,
    CAST(event_id % 4 AS BIGINT) AS b0, CAST(user_id % 5 AS BIGINT) AS b1,
    CAST(event_id % 3 AS BIGINT) AS b2, CAST(user_id % 3 AS BIGINT) AS zc
  FROM events),
t AS (SELECT *, {_EXPH_TGT.format(i=0)} AS t0, {_EXPH_TGT.format(i=1)} AS t1,
  {_EXPH_TGT.format(i=2)} AS t2 FROM e)
SELECT 'e.latency' AS metric_name, ts,
  CAST(zc + CASE WHEN t0=0 THEN b0 ELSE 0 END + CASE WHEN t1=0 THEN b1 ELSE 0 END
       + CASE WHEN t2=0 THEN b2 ELSE 0 END AS VARCHAR) || ',' ||
  CAST(CASE WHEN t0=1 THEN b0 ELSE 0 END + CASE WHEN t1=1 THEN b1 ELSE 0 END
       + CASE WHEN t2=1 THEN b2 ELSE 0 END AS VARCHAR) || ',' ||
  CAST(CASE WHEN t0=2 THEN b0 ELSE 0 END + CASE WHEN t1=2 THEN b1 ELSE 0 END
       + CASE WHEN t2=2 THEN b2 ELSE 0 END AS VARCHAR) || ',' ||
  CAST(CASE WHEN t0=3 THEN b0 ELSE 0 END + CASE WHEN t1=3 THEN b1 ELSE 0 END
       + CASE WHEN t2=3 THEN b2 ELSE 0 END AS VARCHAR) AS buckets,
  et
FROM t""",
    )

    # summary-point frame derived deterministically from events
    _SUMM_FMT = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"s.val","unit":"ms","summary":{"dataPoints":['
        '{"startTimeUnixNano":"%d","timeUnixNano":"%d",'
        '"count":"%d","sum":%d,'
        '"quantileValues":[{"quantile":0.5,"value":%d},'
        '{"quantile":0.9,"value":%d}],'
        '"attributes":[{"key":"et","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def _summ_frame(spark, sf):
        from sparkotel.otlpjson import parse_otlp_summaries

        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        lines = ev.select(
            F.format_string(
                _SUMM_FMT,
                F.col("user_id") % 7,
                (tus - 1_000_000) * 1000,
                tus * 1000,
                F.col("user_id") % 10,
                F.col("event_id") % 50,
                F.col("event_id") % 7,
                F.col("event_id") % 9,
                F.col("event_type"),
            ).alias("line")
        )
        return parse_otlp_summaries(lines)

    def metric_summary_q(spark, sf):
        s = _summ_frame(spark, sf)
        out = (
            MF.convert_summary_count_val_to_sum(s, "delta", True)
            .unionByName(MF.convert_summary_sum_val_to_sum(s, "cumulative", False))
            .unionByName(MF.convert_summary_quantile_val_to_gauge(s))
        )
        return out.select(
            "metric_name",
            "metric_type",
            F.col("aggregation_temporality").cast("int").alias("aggregation_temporality"),
            "is_monotonic",
            "ts",
            "value",
            F.col("attributes")["et"].alias("et"),
            F.col("attributes")["quantile"].alias("quantile"),
        )

    q["metric_summary_convert"] = Query(
        metric_summary_q,
        """SELECT 's.val_count' AS metric_name, 'sum' AS metric_type,
  CAST(1 AS INT) AS aggregation_temporality, TRUE AS is_monotonic, ts,
  CAST(user_id % 10 AS DOUBLE) AS value, event_type AS et,
  CAST(NULL AS VARCHAR) AS quantile
FROM events
UNION ALL
SELECT 's.val_sum', 'sum', CAST(2 AS INT), FALSE, ts,
  CAST(event_id % 50 AS DOUBLE), event_type, NULL
FROM events
UNION ALL
SELECT 's.val.quantiles', 'gauge', CAST(0 AS INT), FALSE, ts,
  CAST(event_id % 7 AS DOUBLE), event_type, '0.5'
FROM events
UNION ALL
SELECT 's.val.quantiles', 'gauge', CAST(0 AS INT), FALSE, ts,
  CAST(event_id % 9 AS DOUBLE), event_type, '0.9'
FROM events""",
    )


# ---------------------------------------------------------------------------
# operator-coverage queries (SURVEY §2 long tail)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    P.load_tables(spark, sf_dir, ["documents"])
    return spark.table("documents")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    P.load_tables(spark, sf_dir, ["events"])
    return spark.table("events")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    P.load_tables(spark, sf_dir, ["embeddings"])
    return spark.table("embeddings")


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PL.parse_stage(P.pages(spark, sf_dir).drop("html"))


# ---------------------------------------------------------------------------
# spanprocessor + metricsaslogsconnector + otlpjsonconnector
# ---------------------------------------------------------------------------


def _add_spanproc_queries(q: dict[str, Query]) -> None:
    from sparkotel.otlpjson import route_otlpjson_bodies

    # otlpjsonconnector: mixed log bodies → per-signal pipelines.  One
    # line per event: click/view → embedded resourceLogs payload,
    # purchase → resourceMetrics, error → resourceSpans, signup →
    # invalid junk (the connector's "Invalid otlp payload" arm).
    def otlpjson_route_q(spark, sf):
        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        k = F.get_json_object("props", "$.k")
        log_line = F.format_string(
            '{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":['
            '{"scope":{"name":"g"},"logRecords":[{"timeUnixNano":"%d",'
            '"body":{"stringValue":"evt %d"}}]}]}]}',
            tus * 1000,
            F.col("event_id"),
        )
        metric_line = F.format_string(
            '{"resourceMetrics":[{"resource":{"attributes":[]},"scopeMetrics":['
            '{"scope":{"name":"g"},"metrics":[{"name":"m.%s","gauge":{"dataPoints":['
            '{"timeUnixNano":"%d","asDouble":%s}]}}]}]}]}',
            k,
            tus * 1000,
            F.col("value").cast("string"),
        )
        trace_line = F.format_string(
            '{"resourceSpans":[{"resource":{"attributes":[]},"scopeSpans":['
            '{"scope":{"name":"g"},"spans":[{"traceId":"%s","spanId":"%016x",'
            '"name":"s","kind":1,"startTimeUnixNano":"%d","endTimeUnixNano":"%d",'
            '"status":{"code":0}}]}]}]}',
            F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))),
            F.col("event_id"),
            tus * 1000,
            tus * 1000,
        )
        body = (
            F.when(F.col("event_type") == "purchase", metric_line)
            .when(F.col("event_type") == "error", trace_line)
            .when(F.col("event_type") == "signup",
                  F.format_string("not otlp %d", F.col("event_id")))
            .otherwise(log_line)
        )
        arms = route_otlpjson_bodies(ev.select(body.alias("body")))
        logs = arms["logs"].select(F.lit("logs").alias("signal"), F.col("body").alias("ident"))
        mets = arms["metrics"].select(
            F.lit("metrics").alias("signal"), F.col("metric_name").alias("ident")
        )
        trcs = arms["traces"].select(
            F.lit("traces").alias("signal"), F.col("trace_id").alias("ident")
        )
        return logs.unionByName(mets).unionByName(trcs)

    q["otlpjson_route"] = Query(
        otlpjson_route_q,
        """SELECT CASE WHEN event_type = 'purchase' THEN 'metrics'
            WHEN event_type = 'error' THEN 'traces' ELSE 'logs' END AS signal,
  CASE WHEN event_type = 'purchase'
         THEN 'm.' || json_extract_string(props, '$.k')
       WHEN event_type = 'error' THEN md5('t' || CAST(event_id AS VARCHAR))
       ELSE 'evt ' || CAST(event_id AS VARCHAR) END AS ident
FROM events WHERE event_type <> 'signup'""",
    )
    from sparkotel.operators.metricsaslogs import number_points_as_logs
    from sparkotel.operators.spanproc import (
        span_name_from_attributes,
        span_name_to_attributes,
        span_set_status,
    )
    from sparkotel.otlpjson import parse_otlp_metrics, parse_otlp_traces

    # spanprocessor chain in the reference's execution order
    # (span.go:89-92): from_attributes → to_attributes → status
    def span_ops_q(spark, sf):
        spans = parse_otlp_traces(_conn_trace_lines(spark, sf))
        spans = span_name_from_attributes(
            spans, ["user.id", "event.kind"], separator=":", where="span.kind == 3"
        )  # event.kind never exists → any-miss means NO rename anywhere
        spans = span_name_from_attributes(
            spans, ["user.id"], separator=":", where="span.kind == 3"
        )
        spans = span_name_to_attributes(spans, [r"^op-(?P<etype>[a-z]+)$"])
        spans = span_set_status(
            spans, "Error", "bad", where='span.attributes["etype"] == "error"'
        )
        return spans.select(
            "span_id",
            "name",
            F.col("attributes")["etype"].alias("etype"),
            "status_code",
            "status_message",
        )

    q["span_name_ops"] = Query(
        span_ops_q,
        """SELECT printf('%016x', event_id) AS span_id,
  CASE WHEN event_id % 6 = 3 THEN CAST(user_id AS VARCHAR)
       ELSE 'op-{etype}' END AS name,
  CASE WHEN event_id % 6 = 3 THEN NULL ELSE event_type END AS etype,
  CASE WHEN event_id % 6 <> 3 AND event_type = 'error' THEN 2
       WHEN event_type = 'error' THEN 2 WHEN event_type = 'purchase' THEN 1
       ELSE 0 END AS status_code,
  CASE WHEN event_id % 6 <> 3 AND event_type = 'error' THEN 'bad'
       ELSE '' END AS status_message
FROM events""",
    )

    # metricsaslogs over the number-point frame (gauge + sum arms)
    _MAL_GAUGE = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"g.%s","unit":"ms","gauge":{"dataPoints":['
        '{"timeUnixNano":"%d","asDouble":%s,'
        '"attributes":[{"key":"k","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )
    _MAL_SUM = (
        '{"resourceMetrics":[{"resource":{"attributes":['
        '{"key":"host.name","value":{"stringValue":"host-%d"}}]},'
        '"scopeMetrics":[{"scope":{"name":"meter"},"metrics":['
        '{"name":"s.%s","unit":"ms","sum":{"aggregationTemporality":2,'
        '"isMonotonic":true,"dataPoints":['
        '{"startTimeUnixNano":"%d","timeUnixNano":"%d","asInt":"%s",'
        '"attributes":[{"key":"k","value":{"stringValue":"%s"}}]}]}}]}]}]}'
    )

    def mal_q(spark, sf):
        ev = _events(spark, sf)
        tus = F.unix_micros(F.col("ts").cast("timestamp"))
        k = F.get_json_object("props", "$.k")
        gauge = F.format_string(
            _MAL_GAUGE, F.col("user_id") % 7, F.col("event_type"), tus * 1000,
            F.col("value").cast("string"), k,
        )
        asum = F.format_string(
            _MAL_SUM, F.col("user_id") % 7, F.col("event_type"),
            (tus - 1_000_000) * 1000, tus * 1000, k, k,
        )
        lines = ev.select(
            F.when(F.col("event_type") == "purchase", asum).otherwise(gauge).alias("line")
        )
        out = number_points_as_logs(parse_otlp_metrics(lines))
        a = F.col("attributes")
        return out.select(
            "ts",
            "observed_ts",
            "body",
            a["metric.name"].alias("metric_name"),
            a["metric.type"].alias("metric_type"),
            a["metric.unit"].alias("unit"),
            a["metric.is_monotonic"].alias("is_monotonic"),
            a["metric.aggregation_temporality"].alias("temporality"),
            a["gauge.value"].alias("gauge_value"),
            a["sum.value"].alias("sum_value"),
            a["k"].alias("attr_k"),
            F.col("resource")["host.name"].alias("host_name"),
            "scope_name",
        )

    q["metrics_as_logs"] = Query(
        mal_q,
        """SELECT ts,
  CASE WHEN event_type = 'purchase' THEN ts - INTERVAL 1 SECOND END AS observed_ts,
  'metric converted to log' AS body,
  CASE WHEN event_type = 'purchase' THEN 's.' ELSE 'g.' END || event_type AS metric_name,
  CASE WHEN event_type = 'purchase' THEN 'Sum' ELSE 'Gauge' END AS metric_type,
  'ms' AS unit,
  CASE WHEN event_type = 'purchase' THEN 'true' END AS is_monotonic,
  CASE WHEN event_type = 'purchase' THEN 'Cumulative' END AS temporality,
  CASE WHEN event_type <> 'purchase' THEN CAST(value AS VARCHAR) END AS gauge_value,
  CASE WHEN event_type = 'purchase'
       THEN CAST(CAST(json_extract_string(props, '$.k') AS DOUBLE) AS VARCHAR)
  END AS sum_value,
  json_extract_string(props, '$.k') AS attr_k,
  'host-' || CAST(user_id % 7 AS VARCHAR) AS host_name,
  'meter' AS scope_name
FROM events""",
    )


# ---------------------------------------------------------------------------
# signaltometricsconnector — sparkotel/operators/signaltometrics.py
# ---------------------------------------------------------------------------

_S2M_BOUNDS = (
    "[2.0,4.0,6.0,8.0,10.0,50.0,100.0,200.0,400.0,800.0,"
    "1000.0,1400.0,2000.0,5000.0,10000.0,15000.0]"
)
# duration ms mirrored from the fixture: dur_us = round(value*1000)
_S2M_V = "round(value * 1000, 0) / 1000.0"
# Int(AdjustedCount()): even event ids carry ot=th:8 → adjusted count 2
_S2M_CNT = "CASE WHEN event_id % 2 = 0 THEN 2 ELSE 1 END"
_S2M_SVC = "'svc-' || CAST(user_id % 5 AS VARCHAR)"


def _add_signaltometrics_queries(q: dict[str, Query]) -> None:
    from sparkotel.operators.signaltometrics import Attr, MetricDef, signal_to_metrics
    from sparkotel.otlpjson import parse_otlp_traces

    def _spans_fx(spark, sf):
        return parse_otlp_traces(_conn_trace_lines(spark, sf))

    # sum arm: OR-ed conditions + attribute default_value + resource attr
    def s2m_sum_q(spark, sf):
        d = MetricDef(
            name="span.duration.sum",
            metric_type="sum",
            value="Int(Seconds(span.end_time - span.start_time) * 1000)",
            monotonic=True,
            attributes=(Attr("db.system.name", default_value="none"),),
            include_resource_attributes=(Attr("service.name"),),
            conditions=("span.status.code == 2", "span.kind == 3"),
        )
        return signal_to_metrics(_spans_fx(spark, sf), d, ctx="span")

    q["s2m_sum_duration"] = Query(
        s2m_sum_q,
        f"""SELECT 'span.duration.sum' AS metric_name,
  {_S2M_SVC} AS "service_name",
  CASE WHEN event_id % 3 = 0 THEN
    CASE user_id % 4 WHEN 0 THEN 'mysql' WHEN 1 THEN 'postgresql'
         WHEN 2 THEN 'redis' ELSE 'mongodb' END
  ELSE 'none' END AS "db_system_name",
  CAST(sum(CAST(trunc({_S2M_V}) AS BIGINT)) AS BIGINT) AS value
FROM events WHERE event_type = 'error' OR event_id % 6 = 3
GROUP BY 1, 2, 3""",
    )

    # gauge arm: last value per group (order = span start, value tiebreak)
    def s2m_gauge_q(spark, sf):
        d = MetricDef(
            name="user.gauge",
            metric_type="gauge",
            value='Int(span.attributes["user.id"])',
            include_resource_attributes=(Attr("service.name"),),
        )
        return signal_to_metrics(_spans_fx(spark, sf), d, ctx="span")

    q["s2m_gauge_last"] = Query(
        s2m_gauge_q,
        f"""SELECT 'user.gauge' AS metric_name, {_S2M_SVC} AS "service_name",
  user_id AS value
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id % 5 ORDER BY ts DESC, user_id DESC) = 1""",
    )

    # histogram arm: explicit default bounds, AdjustedCount() weights
    def s2m_hist_q(spark, sf):
        d = MetricDef(
            name="span.duration.hist",
            metric_type="histogram",
            value="Seconds(span.end_time - span.start_time) * 1000",
            count="Int(AdjustedCount())",
            include_resource_attributes=(Attr("service.name"),),
        )
        out = signal_to_metrics(_spans_fx(spark, sf), d, ctx="span")
        # long format for the driver compare: one row per bucket index
        # (array-valued columns don't survive the pandas value-hash)
        return out.select(
            "metric_name",
            "service_name",
            F.col("count").alias("count_value"),
            F.round("sum", 6).alias("sum_value"),
            F.posexplode("bucket_counts").alias("bucket_index", "bucket_count"),
        )

    q["s2m_histogram"] = Query(
        s2m_hist_q,
        f"""WITH rows AS (
  SELECT {_S2M_SVC} AS service_name, {_S2M_V} AS v, {_S2M_CNT} AS cnt
  FROM events),
idx AS (
  SELECT service_name,
    length(list_filter({_S2M_BOUNDS}, b -> b < v)) AS i, v, cnt
  FROM rows),
grid AS (
  SELECT service_name, gi.i AS i,
    coalesce(sum(CASE WHEN idx.i = gi.i THEN cnt END), 0) AS bc
  FROM idx CROSS JOIN (SELECT unnest(range(17)) AS i) gi
  GROUP BY 1, 2),
tot AS (
  SELECT service_name, CAST(sum(cnt) AS BIGINT) AS count_value,
    round(sum(v * cnt), 6) AS sum_value
  FROM idx GROUP BY 1)
SELECT 'span.duration.hist' AS metric_name, t.service_name AS "service_name",
  t.count_value, t.sum_value,
  CAST(g.i AS INT) AS bucket_index, CAST(g.bc AS BIGINT) AS bucket_count
FROM tot t JOIN grid g USING (service_name)""",
    )

    # exponential-histogram arm: base-2 halves at fixed scale 2, weighted
    def s2m_exph_q(spark, sf):
        d = MetricDef(
            name="span.duration.exph",
            metric_type="exponential_histogram",
            value="Seconds(span.end_time - span.start_time) * 1000",
            count="Int(AdjustedCount())",
            scale=2,
            include_resource_attributes=(Attr("service.name"),),
        )
        return signal_to_metrics(_spans_fx(spark, sf), d, ctx="span")

    q["s2m_exp_histogram"] = Query(
        s2m_exph_q,
        f"""WITH rows AS (
  SELECT {_S2M_SVC} AS service_name, {_S2M_V} AS v, {_S2M_CNT} AS cnt
  FROM events)
SELECT 'span.duration.exph' AS metric_name, service_name AS "service_name",
  CASE WHEN v = 0.0 THEN 'zero' WHEN v < 0 THEN 'negative'
       ELSE 'positive' END AS sign,
  CASE WHEN v = 0.0 THEN NULL
       ELSE CAST(CEIL(log2(abs(v)) * 4) AS INT) - 1 END AS bucket_index,
  CAST(sum(cnt) AS BIGINT) AS bucket_count,
  round(min(v), 6) AS min_value, round(max(v), 6) AS max_value,
  2 AS scale
FROM rows GROUP BY 1, 2, 3, 4""",
    )


# ---------------------------------------------------------------------------
# trace-to-logs/metrics connectors (slowsqlconnector, exceptionsconnector)
# — sparkotel/operators/spanconnect.py
# ---------------------------------------------------------------------------

# CASE mirror of traceutil.SpanKindStr over our kind = event_id % 6 fixture.
_KIND_SQL = (
    "CASE event_id % 6 WHEN 0 THEN 'SPAN_KIND_UNSPECIFIED'"
    " WHEN 1 THEN 'SPAN_KIND_INTERNAL' WHEN 2 THEN 'SPAN_KIND_SERVER'"
    " WHEN 3 THEN 'SPAN_KIND_CLIENT' WHEN 4 THEN 'SPAN_KIND_PRODUCER'"
    " ELSE 'SPAN_KIND_CONSUMER' END"
)
_STATUS_SQL = (
    "CASE event_type WHEN 'error' THEN 'STATUS_CODE_ERROR'"
    " WHEN 'purchase' THEN 'STATUS_CODE_OK' ELSE 'STATUS_CODE_UNSET' END"
)
_K_SQL = "CAST(json_extract(props, '$.k') AS BIGINT)"


def _conn_trace_lines(spark, sf):
    ev = _events(spark, sf)
    start_us = F.unix_micros(F.col("ts").cast("timestamp"))
    end_us = start_us + F.round(F.col("value") * 1000, 0).try_cast("long")
    k = F.get_json_object("props", "$.k").cast("long")
    status = (
        F.when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
    )
    db_sys = (
        F.when(F.col("user_id") % 4 == 0, "mysql")
        .when(F.col("user_id") % 4 == 1, "postgresql")
        .when(F.col("user_id") % 4 == 2, "redis")
        .otherwise("mongodb")
    )
    db_frag = F.when(
        F.col("event_id") % 3 == 0,
        F.format_string(
            ',{"key":"db.system.name","value":{"stringValue":"%s"}},'
            '{"key":"db.statement","value":{"stringValue":"SELECT %d"}}',
            db_sys,
            k,
        ),
    ).otherwise("")
    st_frag = F.when(
        k % 2 == 0,
        F.format_string(
            ',{"key":"exception.stacktrace","value":{"stringValue":"st-%d"}}',
            F.col("event_id"),
        ),
    ).otherwise("")
    exc_frag = F.when(
        F.col("event_type") == "error",
        F.format_string(
            '{"timeUnixNano":"%d","name":"exception","attributes":['
            '{"key":"exception.type","value":{"stringValue":"E%d"}},'
            '{"key":"exception.message","value":{"stringValue":"boom error"}}'
            "%s]},",
            end_us * 1000,
            k % 7,
            st_frag,
        ),
    ).otherwise("")
    # even event ids carry a consistent-probability tracestate of
    # th:8 (threshold 2^55 → sampling probability 1/2 → adjusted
    # count 2); odd ids have no tracestate (adjusted count 1)
    ts_frag = F.when(
        F.col("event_id") % 2 == 0, '"traceState":"ot=th:8",'
    ).otherwise("")
    return ev.select(
        F.concat(
            F.format_string(
                '{"resourceSpans":[{"resource":{"attributes":['
                '{"key":"service.name","value":{"stringValue":"svc-%d"}}]},'
                '"scopeSpans":[{"scope":{"name":"tracer"},"spans":['
                '{"traceId":"%s","spanId":"%016x",%s"name":"op-%s","kind":%d,'
                '"startTimeUnixNano":"%d","endTimeUnixNano":"%d",'
                '"attributes":[{"key":"user.id","value":{"intValue":"%d"}}',
                F.col("user_id") % 5,
                F.md5(F.concat(F.lit("t"), F.col("event_id").cast("string"))),
                F.col("event_id"),
                ts_frag,
                F.col("event_type"),
                F.col("event_id") % 6,
                start_us * 1000,
                end_us * 1000,
                F.col("user_id"),
            ),
            db_frag,
            F.format_string('],"status":{"code":%d},"events":[', status),
            exc_frag,
            F.format_string(
                '{"timeUnixNano":"%d","name":"note"}]}]}]}]}', start_us * 1000
            ),
        ).alias("line")
    )


def _add_spanconnect_queries(q: dict[str, Query]) -> None:
    from sparkotel.operators.spanconnect import (
        exceptions_logs,
        exceptions_metrics,
        slow_sql_logs,
    )
    from sparkotel.otlpjson import parse_otlp_spanevents, parse_otlp_traces

    # Span fixture with db-client attributes and exception span events,
    # serialized through OTLP/JSON so the connectors are exercised over the
    # exact frame shape the file receiver produces.  Per event row:
    # kind = event_id % 6 (CLIENT iff 3); db.system.name/db.statement on
    # event_id % 3 == 0 rows cycling mysql/postgresql/redis/mongodb by
    # user_id % 4 (redis is OUTSIDE the connector's default allow-list);
    # error rows carry an 'exception' span event (type E<k%7>, constant
    # message, stacktrace only when k is even); every span has a 'note'
    # event that both connectors must ignore.
    def slow_sql_q(spark, sf):
        spans = parse_otlp_traces(_conn_trace_lines(spark, sf))
        out = slow_sql_logs(
            spans,
            threshold_ms=30.0,
            dimensions=[("user.id", None), ("region", "unknown")],
        )
        a = F.col("attributes")
        return out.select(
            "ts",
            "trace_id",
            "span_id",
            "severity_number",
            "severity_text",
            a["service.name"].alias("service_name"),
            a["span.name"].alias("span_name"),
            a["span.kind"].alias("span_kind"),
            a["status.code"].alias("status_code"),
            a["db.system.name"].alias("db_system"),
            a["db.statement"].alias("db_statement"),
            a["db.client.operation.duration"].cast("long").alias("duration_ns"),
            a["user.id"].alias("user_id_dim"),
            a["region"].alias("region"),
        )

    q["slow_sql_logs"] = Query(
        slow_sql_q,
        f"""SELECT ts,
  md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
  printf('%016x', event_id) AS span_id,
  17 AS severity_number, 'SLOW' AS severity_text,
  'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
  'op-' || event_type AS span_name,
  'SPAN_KIND_CLIENT' AS span_kind,
  {_STATUS_SQL} AS status_code,
  CASE user_id % 4 WHEN 0 THEN 'mysql' WHEN 1 THEN 'postgresql' ELSE 'mongodb' END AS db_system,
  'SELECT ' || CAST({_K_SQL} AS VARCHAR) AS db_statement,
  TRY_CAST(round(value * 1000, 0) AS BIGINT) * 1000 AS duration_ns,
  CAST(user_id AS VARCHAR) AS user_id_dim,
  'unknown' AS region
FROM events
WHERE event_id % 3 = 0 AND event_id % 6 = 3 AND user_id % 4 <> 2
  AND TRY_CAST(round(value * 1000, 0) AS BIGINT) * 1000 >= 30000000""",
    )

    # countconnector over the TRACES signal (connector.go:167-189
    # ConsumeTraces — same counter machinery as logs, dims from span
    # attrs, missing-dim drop): spans with user.id, grouped by
    # service + db system (defaulted), counting only CLIENT spans
    def count_spans_q(spark, sf):
        spans = parse_otlp_traces(_conn_trace_lines(spark, sf)).select(
            "start_ts",
            F.col("kind"),
            F.col("resource")["service.name"].alias("svc"),
            F.coalesce(F.col("attributes")["db.system.name"], F.lit("none")).alias(
                "dbsys"
            ),
            F.col("attributes")["user.id"].alias("uid"),
        )
        return A.connector_metric(
            spans,
            A.MetricDef(
                name="span.count.db_clients",
                conditions=("kind = 3",),
                dims=("svc", "dbsys", "uid"),
            ),
            ts_col="start_ts",
        )

    q["agg_count_spans"] = Query(
        count_spans_q,
        """SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR) AS svc,
  CASE WHEN event_id % 3 = 0 THEN
    CASE user_id % 4 WHEN 0 THEN 'mysql' WHEN 1 THEN 'postgresql'
         WHEN 2 THEN 'redis' ELSE 'mongodb' END
  ELSE 'none' END AS dbsys,
  CAST(user_id AS VARCHAR) AS uid,
  count(*) AS value, min(ts) AS start_ts, max(ts) AS end_ts,
  'span.count.db_clients' AS metric_name
FROM events WHERE event_id % 6 = 3
GROUP BY 1, 2, 3""",
    )

    # countconnector over SPAN EVENTS (connector.go ConsumeTraces event
    # branch: per-event counting with event-attr dims)
    def count_spanevents_q(spark, sf):
        se = parse_otlp_spanevents(_conn_trace_lines(spark, sf)).select(
            "ts",
            F.col("event_name"),
            F.col("resource")["service.name"].alias("svc"),
            F.col("attributes")["exception.type"].alias("exc_type"),
        )
        return A.connector_metric(
            se,
            A.MetricDef(
                name="spanevent.count.exceptions",
                conditions=("event_name = 'exception'",),
                dims=("svc", "exc_type"),
            ),
            ts_col="ts",
        )

    q["agg_count_spanevents"] = Query(
        count_spanevents_q,
        f"""SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR) AS svc,
  'E' || CAST({_K_SQL} % 7 AS VARCHAR) AS exc_type,
  count(*) AS value,
  min(ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT))) AS start_ts,
  max(ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT))) AS end_ts,
  'spanevent.count.exceptions' AS metric_name
FROM events WHERE event_type = 'error'
GROUP BY 1, 2""",
    )

    def exc_logs_q(spark, sf):
        se = parse_otlp_spanevents(_conn_trace_lines(spark, sf))
        out = exceptions_logs(
            se, dimensions=[("exception.type", None), ("exception.message", None)]
        )
        a = F.col("attributes")
        return out.select(
            "ts",
            "trace_id",
            "span_id",
            "severity_number",
            "severity_text",
            a["service.name"].alias("service_name"),
            a["span.name"].alias("span_name"),
            a["span.kind"].alias("span_kind"),
            a["status.code"].alias("status_code"),
            a["exception.type"].alias("exception_type"),
            a["exception.message"].alias("exception_message"),
            a["exception.stacktrace"].alias("exception_stacktrace"),
            a["user.id"].alias("span_attr_user"),
        )

    q["exceptions_logs"] = Query(
        exc_logs_q,
        f"""SELECT ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT)) AS ts,
  md5('t' || CAST(event_id AS VARCHAR)) AS trace_id,
  printf('%016x', event_id) AS span_id,
  17 AS severity_number, 'ERROR' AS severity_text,
  'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
  'op-error' AS span_name,
  {_KIND_SQL} AS span_kind,
  'STATUS_CODE_ERROR' AS status_code,
  'E' || CAST({_K_SQL} % 7 AS VARCHAR) AS exception_type,
  'boom error' AS exception_message,
  CASE WHEN {_K_SQL} % 2 = 0 THEN 'st-' || CAST(event_id AS VARCHAR) ELSE '' END
    AS exception_stacktrace,
  CAST(user_id AS VARCHAR) AS span_attr_user
FROM events WHERE event_type = 'error'""",
    )

    # spanmetrics 'events' metric: every span event counts (notes on all
    # spans, exceptions on error spans); exception.type resolves from
    # the event side of the merged resource+event map, NULL for notes
    def sm_events_q(spark, sf):
        from sparkotel.operators.spanconnect import spanmetrics_events

        se = parse_otlp_spanevents(_conn_trace_lines(spark, sf))
        return spanmetrics_events(se, event_dimensions=[("exception.type", None)])

    q["spanmetrics_events"] = Query(
        sm_events_q,
        f"""WITH ev AS (
  SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
    'op-' || event_type AS span_name, {_KIND_SQL} AS span_kind,
    {_STATUS_SQL} AS status_code,
    CAST(NULL AS VARCHAR) AS exception_type, ts AS ets
  FROM events
  UNION ALL
  SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR), 'op-error', {_KIND_SQL},
    'STATUS_CODE_ERROR', 'E' || CAST({_K_SQL} % 7 AS VARCHAR),
    ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT))
  FROM events WHERE event_type = 'error')
SELECT service_name, span_name, span_kind, status_code, "exception_type",
  count(*) AS events_total, min(ets) AS first_seen, max(ets) AS last_seen
FROM ev GROUP BY 1, 2, 3, 4, 5""",
    )

    def exc_metrics_q(spark, sf):
        se = parse_otlp_spanevents(_conn_trace_lines(spark, sf))
        return exceptions_metrics(se, exemplars=True)

    q["exceptions_metrics"] = Query(
        exc_metrics_q,
        f"""SELECT 'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
  'op-error' AS span_name,
  {_KIND_SQL} AS span_kind,
  'STATUS_CODE_ERROR' AS status_code,
  'E' || CAST({_K_SQL} % 7 AS VARCHAR) AS "exception_type",
  'boom error' AS "exception_message",
  count(*) AS exceptions_total,
  min(ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT))) AS first_seen,
  max(ts + to_microseconds(TRY_CAST(round(value * 1000, 0) AS BIGINT))) AS last_seen,
  arg_min(md5('t' || CAST(event_id AS VARCHAR)),
          md5(md5('t' || CAST(event_id AS VARCHAR)) || printf('%016x', event_id)))
    AS exemplar_trace_id,
  arg_min(printf('%016x', event_id),
          md5(md5('t' || CAST(event_id AS VARCHAR)) || printf('%016x', event_id)))
    AS exemplar_span_id
FROM events WHERE event_type = 'error'
GROUP BY 1, 2, 3, 4, 5, 6""",
    )


def _add_operator_queries(q: dict[str, Query]) -> None:
    cte = duck_pipeline_cte

    # --- stanza filter transformer with drop_ratio --------------------------
    # DROP matching entries, but only a deterministic-hash fraction of
    # them (transformer.go:26-99's rand draw, seeded form).
    def stanza_ratio(spark, sf):
        from sparkotel.operators.filter import stanza_filter

        ev = _events(spark, sf)
        out = stanza_filter(
            ev, 'event_type == "error"', drop_ratio=0.5, key="event_id"
        )
        return out.select("event_id", "event_type", "value")

    q["stanza_filter_ratio"] = Query(
        stanza_ratio,
        """SELECT event_id, event_type, value FROM events
WHERE NOT (event_type = 'error' AND (event_id * 2654435761) % 10000 < 5000)""",
    )

    # --- groupbyattrsprocessor ----------------------------------------------
    # promote record attrs to resource identity; the regrouping
    # materializes in the downstream groupBy over the promoted column.
    def gba(spark, sf):
        df = _events(spark, sf).select("event_type", "user_id")
        out = A.group_by_attrs(df, ["event_type"])
        return out.groupBy("resource_event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("users"),
        )

    q["group_by_attrs_promote"] = Query(
        gba,
        """SELECT event_type AS resource_event_type, count(*) AS n,
  count(DISTINCT user_id) AS users FROM events GROUP BY 1""",
    )

    # --- unrollprocessor -----------------------------------------------------
    # slice-bodied record → N records inheriting metadata
    def unroll_q(spark, sf):
        from sparkotel.operators.transform import unroll

        d = _docs(spark, sf).select(
            "doc_id", F.split(F.col("text"), " ").alias("words")
        )
        out = unroll(d, "words", "word")
        return out.where(F.col("word") != "")

    q["unroll_words"] = Query(
        unroll_q,
        """SELECT doc_id, word FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word != ''""",
    )

    # --- stanza router attach-attrs + assign_keys + noop ---------------------
    # the three remaining pytest-only stanza transformers in one
    # oracle-checked path: positional keys from the first three words,
    # routed per-output with route-local attached attributes, noop'd.
    def router_attrs(spark, sf):
        from sparkotel.operators.route import Route, route_outputs
        from sparkotel.operators.transform import assign_keys, noop

        d = _docs(spark, sf).select(
            "doc_id", "lang", F.slice(F.split(F.col("text"), " "), 1, 3).alias("_warr")
        )
        d = assign_keys(d, "_warr", ["w1", "w2", "w3"])
        outs = route_outputs(
            noop(d),
            [
                Route("lang = 'en'", "en_sink", "move", {"region": "us", "tier": "hot"}),
                Route("w1 = 'the'", "the_sink", "move", {"tier": "cold"}),
            ],
        )
        parts = []
        for sink, part in outs.items():
            for col in ("region", "tier"):
                if col not in part.columns:
                    part = part.withColumn(col, F.lit(None).cast("string"))
            parts.append(
                part.select("doc_id", "w1", "w2", "w3", "region", "tier",
                            F.lit(sink).alias("sink"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    q["stanza_router_attrs"] = Query(
        router_attrs,
        """WITH d AS (
  SELECT doc_id, lang,
    string_split(text, ' ')[1] AS w1,
    string_split(text, ' ')[2] AS w2,
    string_split(text, ' ')[3] AS w3
  FROM documents
)
SELECT doc_id, w1, w2, w3,
  CASE WHEN lang = 'en' THEN 'us' END AS region,
  CASE WHEN lang = 'en' THEN 'hot' WHEN w1 = 'the' THEN 'cold' END AS tier,
  CASE WHEN lang = 'en' THEN 'en_sink'
       WHEN w1 = 'the' THEN 'the_sink'
       ELSE '__default__' END AS sink
FROM d""",
    )

    # --- roundrobinconnector --------------------------------------------------
    def rr(spark, sf):
        from sparkotel.operators.route import round_robin

        return round_robin(_docs(spark, sf).select("doc_id"), 4).select(
            "doc_id", "shard"
        )

    q["round_robin_shards"] = Query(
        rr,
        "SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard FROM documents",
    )

    # --- sumconnector (connector/sumconnector/) ---------------------------
    def sum_conn(spark, sf):
        return A.connector_metric(
            _parsed(spark, sf).filter("NOT _error"),
            A.MetricDef("page.bytes.sum", dims=("host",), sum_attr="nbytes"),
        )

    q["agg_sum_connector"] = Query(
        sum_conn,
        f"{cte()} SELECT host, CAST(sum(nbytes) AS BIGINT) AS value, min(warc_ts) AS start_ts, "
        f"max(warc_ts) AS end_ts, 'page.bytes.sum' AS metric_name "
        f"FROM parsed_sev WHERE NOT _error GROUP BY 1",
    )

    # --- logdedupprocessor -------------------------------------------------
    def logdedup(spark, sf):
        df = _parsed(spark, sf).select("host", "lang", "status", "warc_ts", "url")
        return A.log_dedup(df, ["host", "lang", "status"], "warc_ts", "url")

    q["logdedup"] = Query(
        logdedup,
        f"{cte()} SELECT host, lang, status, count(*) AS log_count, "
        f"min(warc_ts) AS first_observed, max(warc_ts) AS last_observed, "
        f"min(url) AS url FROM parsed_sev GROUP BY 1, 2, 3",
    )

    # --- intervalprocessor --------------------------------------------------
    def interval(spark, sf):
        return A.interval_agg(_parsed(spark, sf), "1 hour", dims=("host",), value_col="nbytes")

    q["agg_interval_hour"] = Query(
        interval,
        f"{cte()} SELECT date_trunc('hour', warc_ts) AS interval_start, host, "
        f"count(*) AS n, CAST(sum(nbytes) AS BIGINT) AS sum_value, min(nbytes) AS min_value, "
        f"max(nbytes) AS max_value FROM parsed_sev GROUP BY 1, 2",
    )

    # --- deltatocumulative / cumulativetodelta ------------------------------
    def d2c(spark, sf):
        df = A.delta_to_cumulative(
            _events(spark, sf), ["user_id"], ["ts", "event_id"], "value"
        )
        return df.select("event_id", "user_id", "ts", F.round("cumulative", 6).alias("cumulative"))

    q["delta_to_cumulative"] = Query(
        d2c,
        "SELECT event_id, user_id, ts, round(sum(value) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative FROM events",
    )

    def c2d(spark, sf):
        df = A.cumulative_to_delta(
            _events(spark, sf), ["user_id"], ["ts", "event_id"], "value"
        )
        return df.select("event_id", "user_id", F.round("delta", 6).alias("delta"))

    q["cumulative_to_delta"] = Query(
        c2d,
        "SELECT event_id, user_id, round(value - lag(value) OVER ("
        "PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta FROM events",
    )

    # --- deltatorateprocessor -----------------------------------------------
    def d2r(spark, sf):
        df = A.delta_to_rate(
            _events(spark, sf), ["user_id"], ["ts", "event_id"], "value"
        )
        return df.select("event_id", "user_id", F.round("rate", 6).alias("rate"))

    q["delta_to_rate"] = Query(
        d2r,
        "SELECT event_id, user_id, round(value / ((epoch_us(ts) - epoch_us(lag(ts) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0), 6) AS rate "
        "FROM events",
    )

    # --- metricstransformprocessor (rename + scale rules) -------------------
    def mtrans(spark, sf):
        df = _events(spark, sf).select(
            F.col("event_type").alias("metric"), "event_id", "value"
        )
        out = A.metrics_transform(
            df,
            [
                {"match": "purchase", "scale": 0.01, "new_name": "purchase_dollars"},
                {"match": "click", "new_name": "interaction.click"},
            ],
        )
        return out.select("event_id", "metric", F.round("value", 6).alias("value"))

    q["metrics_transform"] = Query(
        mtrans,
        "SELECT event_id, "
        "CASE WHEN event_type = 'purchase' THEN 'purchase_dollars' "
        "     WHEN event_type = 'click' THEN 'interaction.click' "
        "     ELSE event_type END AS metric, "
        "round(CASE WHEN event_type = 'purchase' THEN value * 0.01 ELSE value END, 6) AS value "
        "FROM events",
    )

    # --- metricstransform label operations ----------------------------------
    # update_label (+value_actions) → aggregate_labels(sum);
    # delete_label_value → add_label → aggregate_labels(mean);
    # combine with a submatch label → aggregate_labels(count);
    # unmatched metrics (signup) pass through untouched.
    def mtrans_labels(spark, sf):
        df = _events(spark, sf).select(
            F.col("event_type").alias("metric"),
            F.col("value"),
            F.create_map(
                F.lit("svc"),
                F.concat(F.lit("svc-"), (F.col("user_id") % 5).cast("string")),
                F.lit("host"),
                F.concat(F.lit("h"), (F.col("user_id") % 7).cast("string")),
                F.lit("state"),
                F.when(F.col("event_id") % 2 == 0, "used").otherwise("free"),
            ).alias("attributes"),
        )
        out = A.metrics_transform(
            df,
            [
                {
                    "match": "view",
                    "new_name": "views_by_svc",
                    "operations": [
                        {
                            "action": "update_label",
                            "label": "state",
                            "new_label": "status",
                            "value_actions": [
                                {"value": "used", "new_value": "busy"}
                            ],
                        },
                        {
                            "action": "aggregate_labels",
                            "label_set": ["svc", "status"],
                            "aggregation_type": "sum",
                        },
                    ],
                },
                {
                    "match": "error",
                    "operations": [
                        {
                            "action": "delete_label_value",
                            "label": "state",
                            "label_value": "used",
                        },
                        {"action": "add_label", "label": "env", "new_value": "prod"},
                        {
                            "action": "aggregate_labels",
                            "label_set": ["env", "host"],
                            "aggregation_type": "mean",
                        },
                    ],
                },
                {
                    "action": "combine",
                    "match": r"(?P<kind>click|purchase)",
                    "new_name": "interaction",
                    "operations": [
                        {
                            "action": "aggregate_labels",
                            "label_set": ["kind", "svc"],
                            "aggregation_type": "count",
                        }
                    ],
                },
            ],
        )
        a = F.col("attributes")
        return out.select(
            "metric",
            F.round("value", 6).alias("value"),
            a["svc"].alias("svc"),
            a["status"].alias("status"),
            a["host"].alias("host"),
            a["env"].alias("env"),
            a["kind"].alias("kind"),
        )

    q["metrics_transform_labels"] = Query(
        mtrans_labels,
        """WITH base AS (
  SELECT event_type AS metric, value,
    'svc-' || CAST(user_id % 5 AS VARCHAR) AS svc,
    'h' || CAST(user_id % 7 AS VARCHAR) AS host,
    CASE WHEN event_id % 2 = 0 THEN 'used' ELSE 'free' END AS state
  FROM events)
SELECT 'views_by_svc' AS metric, round(sum(value), 6) AS value, svc,
  CASE WHEN state = 'used' THEN 'busy' ELSE state END AS status,
  CAST(NULL AS VARCHAR) AS host, CAST(NULL AS VARCHAR) AS env,
  CAST(NULL AS VARCHAR) AS kind
FROM base WHERE metric = 'view' GROUP BY svc, status
UNION ALL
SELECT 'error', round(avg(value), 6), CAST(NULL AS VARCHAR),
  CAST(NULL AS VARCHAR), host, 'prod', CAST(NULL AS VARCHAR)
FROM base WHERE metric = 'error' AND state != 'used' GROUP BY host
UNION ALL
SELECT 'interaction', CAST(count(*) AS DOUBLE), svc, CAST(NULL AS VARCHAR),
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), metric
FROM base WHERE metric IN ('click', 'purchase') GROUP BY svc, metric
UNION ALL
SELECT metric, round(value, 6), svc, CAST(NULL AS VARCHAR), host,
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM base WHERE metric = 'signup'""",
    )

    # --- metricsgenerationprocessor (derived ratio metric) ------------------
    def mgen(spark, sf):
        df = _events(spark, sf).select(
            F.col("event_type").alias("metric"),
            (F.col("user_id") % 10).alias("cohort"),
            "value",
        )
        out = A.metrics_generate(
            df, "purchase_per_view", "purchase", "view", "divide", dims=("cohort",)
        )
        return out.groupBy("cohort", "metric").agg(
            F.round(F.sum("value"), 6).alias("total")
        )

    q["metrics_generate"] = Query(
        mgen,
        """
WITH base AS (SELECT user_id % 10 AS cohort, event_type AS metric, value FROM events),
derived AS (
  SELECT cohort, 'purchase_per_view' AS metric,
    CASE WHEN sum(CASE WHEN metric = 'view' THEN value END) != 0
         THEN sum(CASE WHEN metric = 'purchase' THEN value END)
              / sum(CASE WHEN metric = 'view' THEN value END) END AS value
  FROM base GROUP BY cohort),
unioned AS (SELECT * FROM base UNION ALL SELECT * FROM derived)
SELECT cohort, metric, round(sum(value), 6) AS total FROM unioned GROUP BY 1, 2
""",
    )

    # --- spanmetrics exponential histogram (base-2 OTel mapping) ------------
    # events.value is all-positive; derive a deterministic signed value so
    # the negative bucket half and the zero bucket (metrics.go:248-276) are
    # exercised: event_id%7==0 -> 0, event_id%3==0 -> -value, else value.
    def _signed_events(spark, sf):
        return _events(spark, sf).withColumn(
            "signed_value",
            F.when(F.col("event_id") % 7 == 0, F.lit(0.0))
            .when(F.col("event_id") % 3 == 0, -F.col("value"))
            .otherwise(F.col("value")),
        )

    _SIGNED_SQL = (
        "SELECT event_type, CASE WHEN event_id % 7 = 0 THEN 0.0 "
        "WHEN event_id % 3 = 0 THEN -value ELSE value END AS v FROM events"
    )

    def exph(spark, sf):
        return A.exponential_histogram(
            _signed_events(spark, sf), "signed_value", scale=3, dims=("event_type",)
        )

    q["spanmetrics_exp_histogram"] = Query(
        exph,
        f"""WITH sv AS ({_SIGNED_SQL})
SELECT event_type,
  CASE WHEN abs(v) <= 0.0 THEN 'zero'
       WHEN v < 0 THEN 'negative' ELSE 'positive' END AS sign,
  CASE WHEN abs(v) <= 0.0 THEN NULL
       ELSE CAST(CEIL(log2(abs(v)) * 8) AS INT) - 1 END AS bucket_index,
  CAST(count(*) AS BIGINT) AS bucket_count,
  round(min(v), 6) AS min_value, round(max(v), 6) AS max_value
FROM sv GROUP BY 1, 2, 3""",
    )

    def exph_dp(spark, sf):
        return A.exponential_histogram_datapoint(
            _signed_events(spark, sf), "signed_value", scale=3, dims=("event_type",)
        )

    q["spanmetrics_exp_datapoint"] = Query(
        exph_dp,
        f"""WITH sv AS ({_SIGNED_SQL})
SELECT event_type, CAST(count(*) AS BIGINT) AS count_value,
  round(sum(v), 6) AS sum_value, round(min(v), 6) AS min_value,
  round(max(v), 6) AS max_value,
  CAST(sum(CASE WHEN abs(v) <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
  3 AS scale, CAST(0.0 AS DOUBLE) AS zero_threshold
FROM sv GROUP BY 1""",
    )

    # --- RFC5424 syslog with structured data --------------------------------
    # lines synthesized deterministically from documents; the oracle
    # derives every parsed field analytically from the same formula
    def syslog5424(spark, sf):
        docs = _docs(spark, sf).select("doc_id", "lang")
        line = F.format_string(
            '<%d>1 2024-03-15T00:00:%02dZ h%d app %d - [meta lang="%s" n="%d"] body %d',
            (F.col("doc_id") % 192).cast("int"),
            (F.col("doc_id") % 60).cast("int"),
            (F.col("doc_id") % 10).cast("int"),
            (F.col("doc_id") % 1000).cast("int"),
            F.col("lang"),
            (F.col("doc_id") % 100).cast("int"),
            F.col("doc_id"),
        )
        df = PR.syslog_parser_5424(docs.withColumn("raw", line), "raw")
        sd = F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.map_entries(F.col("structured_data"))),
                lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
            ),
        )
        return df.select(
            "doc_id",
            "facility",
            "syslog_severity",
            "version",
            "hostname",
            "appname",
            "proc_id",
            "msgid",
            "log_ts",
            sd.alias("sd"),
            "message",
        )

    q["syslog_rfc5424"] = Query(
        syslog5424,
        """
SELECT doc_id,
  CAST(FLOOR((doc_id % 192) / 8.0) AS INT) AS facility,
  CAST((doc_id % 192) % 8 AS INT) AS syslog_severity,
  1 AS version,
  'h' || CAST(doc_id % 10 AS VARCHAR) AS hostname,
  'app' AS appname,
  CAST(doc_id % 1000 AS INT) AS proc_id,
  CAST(NULL AS VARCHAR) AS msgid,
  TIMESTAMP '2024-03-15 00:00:00' + to_seconds(doc_id % 60) AS log_ts,
  'meta.lang=' || lang || ',meta.n=' || CAST(doc_id % 100 AS VARCHAR) AS sd,
  'body ' || CAST(doc_id AS VARCHAR) AS message
FROM documents
""",
    )

    # --- container partial-line recombination (CRI 'P'/'F' flags) -----------
    def cri_recombine(spark, sf):
        base = _docs(spark, sf).select(
            "doc_id", F.translate(F.col("text"), "\n", " ").alias("t")
        )
        pieces = base.select(
            "doc_id",
            F.posexplode(
                F.array(
                    F.substring("t", 1, 10),
                    F.substring("t", 11, 10),
                    F.substring("t", 21, 10),
                )
            ).alias("ordi", "piece"),
        )
        lines = pieces.select(
            "doc_id",
            (F.col("ordi") + 1).alias("ord"),
            F.concat(
                F.lit("2024-03-15T00:00:00.000000000Z stdout "),
                F.when(F.col("ordi") < 2, "P").otherwise("F"),
                F.lit(" "),
                F.col("piece"),
            ).alias("line"),
        )
        out = PR.container_recombine(lines, "doc_id", "ord")
        return out.select("doc_id", "group_id", "combined", "n_lines", "first_ord")

    q["container_recombine"] = Query(
        cri_recombine,
        "SELECT doc_id, CAST(1 AS BIGINT) AS group_id, "
        "substr(replace(text, chr(10), ' '), 1, 30) AS combined, "
        "CAST(3 AS BIGINT) AS n_lines, CAST(1 AS INT) AS first_ord FROM documents",
    )

    # --- full 25-level severity alias table ---------------------------------
    def sev_full(spark, sf):
        ev = _events(spark, sf).select("event_id", "event_type")
        txt = (
            F.when(F.col("event_type") == "error", "err")
            .when(F.col("event_type") == "view", "trace3")
            .when(F.col("event_type") == "click", "notice")
            .when(F.col("event_type") == "signup", "WARNING")
            .otherwise("crit")
        )
        out = PR.text_severity_parser(ev.withColumn("sev", txt), "sev")
        return out.select("event_id", "severity_number", "severity_text")

    q["severity_full_table"] = Query(
        sev_full,
        "SELECT event_id, "
        "CASE event_type WHEN 'error' THEN 17 WHEN 'view' THEN 3 "
        "WHEN 'click' THEN 9 WHEN 'signup' THEN 13 ELSE 21 END AS severity_number, "
        "CASE event_type WHEN 'error' THEN 'error' WHEN 'view' THEN 'trace' "
        "WHEN 'click' THEN 'info' WHEN 'signup' THEN 'warn' ELSE 'fatal' END AS severity_text "
        "FROM events",
    )

    # --- probabilisticsampler hash_seed mode (exact FNV-1a-32 bucketing;
    # DuckDB has no FNV → rows-only here, bit-exactness is asserted by
    # tests/test_operators.py::test_hash_seed_sampler) -----------------------
    from sparkotel.operators.filter import hash_seed_sampler

    # FNV-1a-32(le32(seed=22) ‖ key bytes) & 0x3FFF < 4096, unrolled in
    # DuckDB via list_reduce over the byte sequence (was rows-only in r1/r2).
    q["sampler_hash_seed"] = Query(
        lambda spark, sf: hash_seed_sampler(
            _docs(spark, sf).select(F.col("doc_id").cast("string").alias("key")),
            25.0,
            key="key",
            hash_seed=22,
        ),
        """WITH b AS (
  SELECT CAST(doc_id AS VARCHAR) AS key,
    list_reduce(
      [2166136261::HUGEINT, 22, 0, 0, 0] ||
      list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
                     i -> ascii(substr(CAST(doc_id AS VARCHAR), i, 1))::HUGEINT),
      (acc, x) -> (xor(acc, x) * 16777619::HUGEINT) % 4294967296::HUGEINT) AS h
  FROM documents)
SELECT key FROM b WHERE (h % 16384) < 4096""",
    )

    # --- probabilisticsampler (25%, arithmetic mode = oracle-replayable) ---
    def sampler(spark, sf):
        return probabilistic_sampler(_docs(spark, sf), 25.0, key="doc_id").select("doc_id")

    q["sampler_25pct"] = Query(
        sampler,
        "SELECT doc_id FROM documents WHERE (doc_id * 2654435761) % 10000 < 2500",
    )

    # --- filterprocessor with OTTL conditions -------------------------------
    def fproc(spark, sf):
        df = _parsed(spark, sf)
        return filter_drop(
            df, ['IsMatch(method, "HEAD") or status == 304']
        ).select("url", "method", "status")

    q["filterprocessor_ottl"] = Query(
        fproc,
        f"{cte()} SELECT url, method, status FROM parsed_sev "
        f"WHERE NOT coalesce(regexp_matches(method, 'HEAD') OR status = 304, FALSE)",
    )

    # --- json_parser (events.props) -----------------------------------------
    def jsonp(spark, sf):
        df = PR.json_parser(_events(spark, sf), "props", "k int")
        return df.select("event_id", F.col("parsed.k").alias("k"))

    q["json_parser"] = Query(
        jsonp,
        "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events",
    )

    # --- csv / key_value parsers over a synthesized line ---------------------
    def csvp(spark, sf):
        df = _docs(spark, sf).withColumn(
            "line", F.concat_ws(",", F.col("doc_id").cast("string"), "lang", "source")
        )
        df = PR.csv_parser(df, "line", ["id_s", "lang_s", "source_s"])
        return df.select("doc_id", "parsed.id_s", "parsed.lang_s", "parsed.source_s")

    q["csv_parser"] = Query(
        csvp,
        "SELECT doc_id, CAST(doc_id AS VARCHAR) AS id_s, lang AS lang_s, source AS source_s FROM documents",
    )

    def kvp(spark, sf):
        df = _docs(spark, sf).withColumn(
            "line", F.expr("concat('lang=', lang, ' source=', source, ' n=', n_chars)")
        )
        df = PR.key_value_parser(df, "line")
        return df.select(
            "doc_id",
            F.col("attributes")["lang"].alias("kv_lang"),
            F.col("attributes")["source"].alias("kv_source"),
            F.col("attributes")["n"].alias("kv_n"),
        )

    q["key_value_parser"] = Query(
        kvp,
        "SELECT doc_id, lang AS kv_lang, source AS kv_source, CAST(n_chars AS VARCHAR) AS kv_n FROM documents",
    )

    # --- uri_parser ----------------------------------------------------------
    def urip(spark, sf):
        df = PR.uri_parser(P.pages(spark, sf).drop("html"))
        return df.select("url", "uri_scheme", "uri_host", "uri_path")

    q["uri_parser"] = Query(
        urip,
        f"{cte()} SELECT url, 'https' AS uri_scheme, host AS uri_host, "
        f"regexp_extract(url, 'https://[^/]+(/.*)$', 1) AS uri_path FROM pages",
    )

    # --- trace_parser (hex ids from md5) -------------------------------------
    def tracep(spark, sf):
        df = _docs(spark, sf).withColumn("trace_hex", F.md5(F.col("text"))).withColumn(
            "span_hex", F.substring(F.md5(F.col("text")), 1, 16)
        )
        df = PR.trace_parser(df, "trace_hex", "span_hex")
        return df.select(
            "doc_id",
            "trace_id_hex",
            "span_id_hex",
            F.length("trace_id").alias("trace_len"),
            F.length("span_id").alias("span_len"),
        )

    q["trace_parser"] = Query(
        tracep,
        "SELECT doc_id, md5(text) AS trace_id_hex, substr(md5(text), 1, 16) AS span_id_hex, "
        "16 AS trace_len, 8 AS span_len FROM documents",
    )

    # --- stanza field transformers (add/copy/move/retain/unquote/replace) ---
    def transforms(spark, sf):
        df = _docs(spark, sf)
        df = T.add(df, "env", "prod")
        df = T.add_expr(df, "lang_uc", "upper(lang)")
        df = T.copy_field(df, "doc_id", "doc_id_copy")
        df = T.move(df, "source", "origin")
        df = df.withColumn("quoted", F.concat(F.lit('"'), F.col("lang"), F.lit('"')))
        df = T.unquote(df, "quoted")
        df = T.regex_replace(df, "origin", "^src", "S")
        return T.retain(df, ["doc_id", "env", "lang_uc", "doc_id_copy", "origin", "quoted"])

    q["transformers"] = Query(
        transforms,
        "SELECT doc_id, 'prod' AS env, upper(lang) AS lang_uc, doc_id AS doc_id_copy, "
        "regexp_replace(source, '^src', 'S') AS origin, lang AS quoted FROM documents",
    )

    # --- recombine (multiline reassembly across a host's pages) -------------
    def recomb(spark, sf):
        lines = RC.split_lines(
            P.pages(spark, sf).select("host", "doc_id", "text"), "text"
        ).withColumn("ord", F.col("doc_id") * 1000 + F.col("line_offset"))
        out = RC.recombine(
            lines, "host", "ord", "line", F.col("line").rlike(P.LOG_PATTERN)
        )
        return out.select("host", "group_id", "combined", "n_lines", "first_ord")

    q["recombine"] = Query(recomb, _duck_recombine_sql())

    # --- servicegraphconnector (as-of pairing via window) -------------------
    # client/server types are ones that actually occur in the events
    # fixture (signup → purchase), so the as-of pairing produces real
    # matches rather than an all-NULL (vacuously green) result.
    def servicegraph(spark, sf):
        return A.service_graph_edges(
            _events(spark, sf),
            key_cols=("user_id",),
            order_cols=("ts", "event_id"),
            type_col="event_type",
            client_type="signup",
            server_type="purchase",
            ts_col="ts",
        )

    q["servicegraph_edges"] = Query(
        servicegraph,
        "WITH w AS ("
        "  SELECT user_id, event_id, ts, event_type,"
        "    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)"
        "      OVER (PARTITION BY user_id ORDER BY ts, event_id"
        "            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS client_ts"
        "  FROM events)"
        " SELECT user_id, ts AS server_ts, client_ts,"
        "  round(epoch_us(ts) / 1000000.0 - epoch_us(client_ts) / 1000000.0, 6) AS latency_seconds"
        " FROM w WHERE event_type = 'purchase'",
    )

    # --- single-pass multi-metric aggregation (the bench/scale shape) -------
    def single_pass(spark, sf):
        routed = PL.build(spark, sf)["routed"]
        return A.connector_metrics_single_pass(
            routed, PL.SINK_METRICS, copy_conds={"de": "geo_country = 'DE'"}
        )

    _sp_parts = []
    for _sink, _cond in [
        ("errors_en", "route = 'errors_en'"),
        ("errors_other", "route = 'errors_other'"),
        # missing-dim exclusion: unparsed rows (NULL status) in the
        # default sink are not counted (counter.go:64-67)
        ("other", "route = 'other' AND status IS NOT NULL"),
        ("de", "geo_country = 'DE'"),
    ]:
        _sp_parts.append(
            f"SELECT '{_sink}' AS sink, 'page.count.all' AS metric_name, "
            f"'geo_country=' || geo_country || ',status=' || CAST(status AS VARCHAR) AS dims, "
            f"warc_ts, 1.0 AS v FROM routed WHERE {_cond}"
        )
    _sp_parts.append(
        "SELECT 'errors_other', 'page.count.big', 'host=' || host, warc_ts, 1.0 "
        "FROM routed WHERE route = 'errors_other' AND nbytes > 4096"
    )
    _sp_parts.append(
        "SELECT 'other', 'page.count.by_lang_name', "
        "'lang_name=' || coalesce(lang_name, 'unknown'), warc_ts, 1.0 "
        "FROM routed WHERE route = 'other'"
    )
    _sp_parts.append(
        'SELECT \'other\', \'page.count.matched_user\', \'user=\' || "user", warc_ts, 1.0 '
        'FROM routed WHERE route = \'other\' AND "user" IS NOT NULL'
    )
    q["agg_single_pass"] = Query(
        single_pass,
        f"{cte()} , contrib AS ({' UNION ALL '.join(_sp_parts)}) "
        f"SELECT sink, metric_name, dims, sum(v) AS value, "
        f"min(warc_ts) AS start_ts, max(warc_ts) AS end_ts "
        f"FROM contrib GROUP BY 1, 2, 3",
    )

    # --- grok (ExtractGrokPatterns, COMMONAPACHELOG) ------------------------
    def grok_q(spark, sf):
        from sparkotel.operators.grok import grok_parser

        df = grok_parser(
            P.pages(spark, sf).drop("html"), "%{COMMONAPACHELOG}", "text", on_error="drop"
        )
        return df.select(
            "url", "clientip", "auth", F.col("timestamp").alias("ts_raw"),
            "verb", "request", "httpversion", "response", "bytes",
        )

    q["grok_apache"] = Query(
        grok_q,
        f'{cte()} SELECT url, ip AS clientip, '
        f'CASE WHEN "user" IS NULL THEN \'-\' ELSE "user" END AS auth, '
        f"ts_str AS ts_raw, method AS verb, path AS request, "
        f"'1.1' AS httpversion, CAST(status AS BIGINT) AS response, nbytes AS bytes "
        f"FROM parsed_sev WHERE NOT _error",
    )

    # --- syslog RFC3164 parser ----------------------------------------------
    def syslog_q(spark, sf):
        df = _docs(spark, sf).withColumn(
            "line",
            F.expr(
                "concat('<', doc_id % 192, '>Mar 15 01:02:0', doc_id % 10, "
                "' host', doc_id % 7, ' app', doc_id % 5, '[', doc_id % 100, ']: event ', doc_id)"
            ),
        )
        df = PR.syslog_parser(df, "line")
        return df.select(
            "doc_id", "facility", "syslog_severity", "hostname", "appname", "proc_id", "message"
        )

    q["syslog_parser"] = Query(
        syslog_q,
        "SELECT doc_id, CAST(FLOOR((doc_id % 192) / 8.0) AS INT) AS facility, "
        "(doc_id % 192) % 8 AS syslog_severity, "
        "'host' || CAST(doc_id % 7 AS VARCHAR) AS hostname, "
        "'app' || CAST(doc_id % 5 AS VARCHAR) AS appname, "
        "CAST(doc_id % 100 AS INT) AS proc_id, "
        "'event ' || CAST(doc_id AS VARCHAR) AS message FROM documents",
    )

    # --- container parser (docker JSON / CRI) --------------------------------
    def container_q(spark, sf):
        df = _docs(spark, sf).withColumn(
            "line",
            F.expr(
                # complete docker records carry the daemon's trailing
                # \n (JSON-escaped) — the parser strips it
                "CASE WHEN doc_id % 2 = 0 THEN "
                "concat('{\"log\":\"l', doc_id, '\\\\n\",\"stream\":\"stdout\",\"time\":\"T', doc_id, '\"}') "
                "ELSE concat('T', doc_id, ' stderr F l', doc_id) END"
            ),
        )
        df = PR.container_parser(df, "line")
        return df.select("doc_id", "format", "log", "stream", "container_time", "partial")

    q["container_parser"] = Query(
        container_q,
        "SELECT doc_id, "
        "CASE WHEN doc_id % 2 = 0 THEN 'docker' ELSE 'cri' END AS format, "
        "'l' || CAST(doc_id AS VARCHAR) AS log, "
        "CASE WHEN doc_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END AS stream, "
        "'T' || CAST(doc_id AS VARCHAR) AS container_time, FALSE AS partial "
        "FROM documents",
    )

    # --- json_array_parser ---------------------------------------------------
    def json_array_q(spark, sf):
        df = _docs(spark, sf).withColumn(
            "line", F.expr("concat('[', doc_id, ',', n_chars, ']')")
        )
        df = PR.json_array_parser(df, "line")
        return df.select(
            "doc_id",
            F.col("parsed").getItem(0).alias("e0"),
            F.col("parsed").getItem(1).alias("e1"),
        )

    q["json_array_parser"] = Query(
        json_array_q,
        "SELECT doc_id, doc_id AS e0, n_chars AS e1 FROM documents",
    )

    # --- drain-lite template mining ------------------------------------------
    def drain_q(spark, sf):
        lines = P.pages(spark, sf).select(
            PR.first_line("text").alias("line")
        )
        return PR.drain_templates(lines)

    q["drain_templates"] = Query(
        drain_q,
        f"{cte()} SELECT regexp_replace(_line, '\\d+', '<*>', 'g') AS template, "
        f"count(*) AS n, min(_line) AS example FROM lines GROUP BY 1",
    )

    # --- full Drain tree (greedy similarity clustering; deterministic
    # via lexicographic in-leaf order but not SQL-expressible — the
    # oracle is a golden fixture from an independent python twin:
    # py_page line generation + a reimplemented sequential clusterer,
    # sparkotel/golden.py::drain_tree_golden)
    from sparkotel import golden as G

    def drain_tree_q(spark, sf):
        lines = P.pages(spark, sf).select(PR.first_line("text").alias("line"))
        G.drain_tree_golden(sf)
        return PR.drain_tree_templates(lines)

    q["drain_tree_templates"] = Query(
        drain_tree_q,
        "SELECT template, n, example FROM "
        f"read_parquet('{G.DRAIN_TREE_PARQUET}')",
    )

    # --- spanmetricsconnector (R.E.D. metrics with explicit buckets) --------
    def spanmetrics(spark, sf):
        ev = _events(spark, sf)
        bucket = F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(5))
        return (
            ev.groupBy(F.col("event_type"), bucket.alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("call_count"),
                F.round(F.sum("value"), 6).alias("duration_sum"),
            )
        )

    q["spanmetrics_histogram"] = Query(
        spanmetrics,
        "SELECT event_type, CAST(least(FLOOR(value / 50), 5) AS INT) AS bucket, "
        "count(*) AS call_count, round(sum(value), 6) AS duration_sum "
        "FROM events GROUP BY 1, 2",
    )

    # --- OTTL transformprocessor statements ---------------------------------
    def ottl_stmts(spark, sf):
        from sparkotel.expr import apply_statements

        df = _parsed(spark, sf).filter("NOT _error")
        df = apply_statements(
            df,
            [
                'set(cache["sev"], "ERROR") where severity_number >= 17',
                'replace_pattern(path, "^/d/", "/doc/")',
                "set(path_len, Len(path))",
                "set(host_hash, SHA256(host))",
                'set(method, ToLowerCase(method)) where method == "HEAD"',
            ],
        )
        return df.select(
            "url", F.col("_cache_sev").alias("cache_sev"), "path", "path_len", "host_hash", "method"
        )

    q["ottl_transform"] = Query(
        ottl_stmts,
        f"{cte()} SELECT url, "
        f"CASE WHEN severity_number >= 17 THEN 'ERROR' END AS cache_sev, "
        f"regexp_replace(path, '^/d/', '/doc/') AS path, "
        f"CAST(length(regexp_replace(path, '^/d/', '/doc/')) AS INT) AS path_len, "
        f"sha256(host) AS host_hash, "
        f"CASE WHEN method = 'HEAD' THEN 'head' ELSE method END AS method "
        f"FROM parsed_sev WHERE NOT _error",
    )

    # --- OTTL map editors + redaction (canonical map serialization) ---------
    def map_editors(spark, sf):
        from sparkotel.expr import apply_statements
        from sparkotel.operators.filter import redact

        df = _parsed(spark, sf).filter("NOT _error")
        df = df.withColumn(
            "attributes",
            F.create_map(
                F.lit("method"), F.col("method"),
                F.lit("path"), F.col("path"),
                F.lit("status"), F.col("status").cast("string"),
                F.lit("secret_key"), F.lit("hunter2"),
            ),
        )
        df = apply_statements(
            df,
            [
                'delete_matching_keys(attributes, "secret.*")',
                'delete_key(attributes, "path")',
                "truncate_all(attributes, 3)",
            ],
        )
        df = redact(df, "attributes", blocked_values=[r"\d+"], mask="*")
        canon = F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.map_entries(F.col("attributes"))),
                lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
            ),
        )
        return df.select("url", canon.alias("attrs"))

    q["ottl_map_editors_redaction"] = Query(
        map_editors,
        f"{cte()} SELECT url, "
        f"'method=' || substr(method, 1, 3) || ',status=*' AS attrs "
        f"FROM parsed_sev WHERE NOT _error",
    )

    # --- OTTL round 2: glob editors, flatten, new converters ----------------
    # replace_match (glob), flatten (schema-driven), ConvertCase,
    # ToKeyValueString, Unix, SpanID round-trip — each mirrored exactly
    # in DuckDB (func_replace_match.go, func_flatten.go,
    # func_convert_case.go, func_to_key_value_string.go, func_unix.go,
    # func_span_id.go)
    def ottl_round2(spark, sf):
        from sparkotel.expr import apply_statement, apply_statements

        df = _docs(spark, sf).select("doc_id", "lang", "text")
        df = apply_statements(
            df,
            [
                'set(cam, ConvertCase(lang, "camel"))',
                'set(kv, ToKeyValueString(ParseKeyValue(Concat("lang", lang, "=")), "=", " "))',
                "set(unix_ts, Unix(doc_id))",
                "set(span_hex, Hex(SpanID(Substring(MD5(text), 0, 16))))",
                'replace_match(lang, "e*", "EN")',
            ],
        )
        df = df.withColumn(
            "nested",
            F.create_map(F.lit("a"), F.create_map(F.lit("x"), F.col("cam"))),
        )
        df = apply_statement(df, "flatten(nested)")
        df = apply_statement(df, 'set(flat_kv, ToKeyValueString(nested, "=", " "))')
        return df.select(
            "doc_id", "cam", "kv", "unix_ts", "span_hex", "lang", "flat_kv"
        )

    q["ottl_editors_2"] = Query(
        ottl_round2,
        """
SELECT doc_id,
  upper(substr(lang, 1, 1)) || lower(substr(lang, 2)) AS cam,
  'lang=' || lang AS kv,
  TIMESTAMP '1970-01-01 00:00:00' + to_seconds(doc_id) AS unix_ts,
  substr(md5(text), 1, 16) AS span_hex,
  CASE WHEN lang LIKE 'e%' THEN 'EN' ELSE lang END AS lang,
  'a.x=' || upper(substr(lang, 1, 1)) || lower(substr(lang, 2)) AS flat_kv
FROM documents
""",
    )


def _duck_recombine_sql() -> str:
    return f"""
{duck_pipeline_cte()},
exploded AS (
  SELECT host, doc_id, u['l'] AS line, u['o'] - 1 AS line_offset,
         doc_id * 1000 + (u['o'] - 1) AS ord
  FROM (
    SELECT host, doc_id,
           unnest(list_transform(range(1, len(ls) + 1), i -> {{'o': i, 'l': ls[i]}})) AS u
    FROM (SELECT host, doc_id, string_split(text, chr(10)) AS ls FROM pages) t
  ) t2
),
marked AS (
  SELECT *, CASE WHEN regexp_matches(line, '{P.LOG_PATTERN}') THEN 1 ELSE 0 END AS is_first
  FROM exploded
),
grouped AS (
  SELECT *, CAST(sum(is_first) OVER (PARTITION BY host ORDER BY ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS group_id
  FROM marked
)
SELECT host, group_id, string_agg(line, chr(10) ORDER BY ord) AS combined,
       count(*) AS n_lines, min(ord) AS first_ord
FROM grouped GROUP BY host, group_id
"""


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------


def _add_trainingdata_queries(q: dict[str, Query]) -> None:
    q["text_lang_id"] = Query(
        lambda spark, sf: TX.lang_id(_docs(spark, sf)).select(
            "doc_id", "hits_en", "hits_de", "hits_fr", "hits_es", "lang_pred"
        ),
        TX.duck_lang_id(),
    )
    q["text_quality"] = Query(
        lambda spark, sf: TX.quality_score(_docs(spark, sf)).select(
            "doc_id", "n_chars", "n_tokens", "n_tokens_bpe",
            "punct_ratio", "stopword_ratio", "mean_word_len", "quality",
        ),
        TX.duck_quality(),
    )
    # CCNet-style unigram-LM quality (mean per-token surprisal in whole
    # bits, integer-exact — see lm_surprisal's docstring for why the
    # score avoids libm log)
    q["text_lm_score"] = Query(
        lambda spark, sf: TX.lm_surprisal(_docs(spark, sf)),
        TX.duck_lm_surprisal(),
    )
    q["text_fingerprint"] = Query(
        lambda spark, sf: TX.fingerprint(_docs(spark, sf)).select(
            "doc_id", "fp_min", "fp_max", "n_shingles"
        ),
        TX.duck_fingerprint(),
    )
    # schemaprocessor analogue: per-record schema version gates which
    # revisions apply (records synthesized at 1.21.0 skip the 1.21.0
    # method rename, records at 1.22.0 skip both), long-format output
    def _schema_q(spark: SparkSession, sf: str) -> DataFrame:
        from sparkotel.operators.schema import schema_transform

        parsed = PL.parse_stage(P.pages(spark, sf).drop("html")).filter(
            ~F.col("_error")
        )
        df = parsed.select(
            "url",
            F.create_map(
                F.lit("http.method"), F.col("method"),
                F.lit("http.status_code"), F.col("status").cast("string"),
            ).alias("attrs"),
            F.when(F.col("doc_id") % 3 == 0, "1.20.0")
            .when(F.col("doc_id") % 3 == 1, "1.21.0")
            .otherwise("1.22.0")
            .alias("schema_version"),
        )
        out = schema_transform(
            df,
            versions=["1.20.0", "1.21.0", "1.22.0"],
            revisions=[
                ("1.21.0", {"http.method": "http.request.method"}),
                ("1.22.0", {"http.status_code": "http.response.status_code"}),
            ],
            target="1.22.0",
        )
        return out.select("url", F.explode("attrs").alias("akey", "aval"))

    q["schema_migrate"] = Query(
        _schema_q,
        f"""{duck_pipeline_cte()}
SELECT url,
  CASE WHEN doc_id % 3 = 0 THEN 'http.request.method'
       ELSE 'http.method' END AS akey,
  method AS aval
FROM parsed WHERE NOT _error
UNION ALL
SELECT url,
  CASE WHEN doc_id % 3 IN (0, 1) THEN 'http.response.status_code'
       ELSE 'http.status_code' END AS akey,
  CAST(status AS VARCHAR) AS aval
FROM parsed WHERE NOT _error
""",
    )
    q["train_shards"] = Query(
        lambda spark, sf: TX.train_shards(_docs(spark, sf)),
        TX.duck_train_shards(),
    )
    q["stratified_sample"] = Query(
        lambda spark, sf: TX.stratified_sample(_docs(spark, sf)),
        TX.duck_stratified_sample(),
    )
    q["vocab_topk"] = Query(
        lambda spark, sf: TX.vocab_topk(_docs(spark, sf)),
        TX.duck_vocab_topk(),
    )
    q["corpus_stats"] = Query(
        lambda spark, sf: TX.corpus_stats(_docs(spark, sf)),
        TX.duck_corpus_stats(),
    )

    # end-to-end corpus prep: keep/drop decision → decontamination →
    # deterministic shard assignment, one composed DAG (the flagship
    # training-data pipeline as a single driver-checked query)
    def _corpus_prep(spark: SparkSession, sf: str) -> DataFrame:
        docs = _docs(spark, sf)
        keep = TX.corpus_keep(docs).filter("keep").select("doc_id")
        clean = (
            TX.decontaminate(docs, docs.filter("doc_id % 97 = 0"))
            .filter(~F.col("contaminated"))
            .select("doc_id")
        )
        kept = docs.select("doc_id").join(keep, "doc_id").join(clean, "doc_id")
        return TX.train_shards(kept)

    q["corpus_prep_shards"] = Query(
        _corpus_prep,
        f"""WITH kept AS (
  SELECT d.doc_id FROM documents d
  JOIN (SELECT doc_id FROM ({TX.duck_corpus_keep()}) WHERE keep) kq
    USING (doc_id)
  JOIN (SELECT doc_id FROM ({TX.duck_decontaminate("doc_id % 97 = 0")})
        WHERE NOT contaminated) cq
    USING (doc_id)
)
SELECT * FROM ({TX.duck_train_shards('kept')})
""",
    )
    q["doc_keywords"] = Query(
        lambda spark, sf: TX.doc_keywords(_docs(spark, sf)),
        TX.duck_doc_keywords(),
    )
    # benchmark decontamination: eval set = every 97th doc; those docs
    # (and any document sharing >= 2 distinct 5-gram shingles with one)
    # must be flagged before training
    q["decontaminate"] = Query(
        lambda spark, sf: TX.decontaminate(
            _docs(spark, sf), _docs(spark, sf).filter("doc_id % 97 = 0")
        ),
        TX.duck_decontaminate("doc_id % 97 = 0"),
    )
    # URL canonicalization: pages urls deterministically decorated with
    # the mess canonicalization exists for (host case, default port,
    # trailing slash, tracking params, fragment); canonical must equal
    # the clean original
    def _messy(url_col):
        return F.concat(
            F.lit("HTTPS://"),
            F.upper(F.regexp_extract(url_col, "^https://([^/]+)", 1)),
            F.lit(":443"),
            F.regexp_extract(url_col, "^https://[^/]+(/.*)$", 1),
            F.lit("/?utm_source=feed&gclid=1#top"),
        )

    _DUCK_MESSY = (
        "'HTTPS://' || upper(regexp_extract(url, '^https://([^/]+)', 1)) "
        "|| ':443' || regexp_extract(url, '^https://[^/]+(/.*)$', 1) "
        "|| '/?utm_source=feed&gclid=1#top'"
    )

    def urlc_q(spark, sf):
        p = P.pages(spark, sf)
        m = _messy(F.col("url"))
        return p.select(
            "doc_id",
            m.alias("url_raw"),
            WU.url_canonicalize(m).alias("url_canonical"),
        )

    q["url_canonicalize"] = Query(
        urlc_q,
        f"""WITH p AS ({P.duckdb_pages_sql()}),
m AS (SELECT doc_id, {_DUCK_MESSY} AS url_raw FROM p)
SELECT doc_id, url_raw, {WU.duck_url_canonicalize('url_raw')} AS url_canonical
FROM m""",
    )

    # RefinedWeb-style URL filtering: UT1-shaped host blocklist
    # (broadcast dim) + weighted keyword scoring (pure projection)
    def url_blocklist_q(spark, sf):
        bl = spark.createDataFrame(
            WU.DEFAULT_BLOCKLIST, "host string, category string"
        )
        return WU.url_blocklist_filter(
            P.pages(spark, sf).select("url"), bl
        )

    q["url_blocklist_filter"] = Query(
        url_blocklist_q,
        WU.duck_url_blocklist_filter(P.duckdb_pages_sql()),
    )

    # crawl-snapshot dedup: three deterministic snapshot generations per
    # page (clean, decorated +1h, fbclid'd -2h on even ids) collapse to
    # one canonical URL; keeper = the +1h generation everywhere
    def crawl_q(spark, sf):
        p = P.pages(spark, sf).select("doc_id", "url", "warc_ts")
        v2 = p.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            _messy(F.col("url")).alias("url"),
            (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("warc_ts"),
        )
        v3 = p.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("url"), F.lit("?fbclid=abc")).alias("url"),
            (F.col("warc_ts") - F.expr("INTERVAL 2 HOUR")).alias("warc_ts"),
        )
        return WU.crawl_latest(p.unionByName(v2).unionByName(v3))

    # gap-based sessionization over the parsed access logs: per-ip
    # sessions split on >30-min gaps, one row per session
    q["sessionize_ip"] = Query(
        lambda spark, sf: WU.sessionize(
            PL.parse_stage(P.pages(spark, sf).drop("html")).filter(
                ~F.col("_error")
            )
        ),
        f"{duck_pipeline_cte()}, {WU.duck_sessionize()}",
    )
    q["crawl_latest_snapshot"] = Query(
        crawl_q,
        f"""WITH p AS ({P.duckdb_pages_sql()}),
snaps AS (
  SELECT doc_id, url, warc_ts FROM p
  UNION ALL
  SELECT doc_id + 1000000, {_DUCK_MESSY}, warc_ts + INTERVAL 1 HOUR FROM p
  UNION ALL
  SELECT doc_id + 2000000, url || '?fbclid=abc', warc_ts - INTERVAL 2 HOUR
  FROM p WHERE doc_id % 2 = 0
),
c AS (SELECT {WU.duck_url_canonicalize('url')} AS curl, warc_ts, doc_id FROM snaps),
g AS (
  SELECT curl, max({{'ts': warc_ts, 'id': doc_id}}) AS top, count(*) AS n_snapshots
  FROM c GROUP BY curl
)
SELECT curl AS canonical_url, top.ts AS warc_ts, top.id AS doc_id, n_snapshots
FROM g""",
    )

    # corpus keep/drop decision: exact-dup keeper → lang → quality →
    # repetition rules, first failing rule wins.  Exact duplicates are
    # injected deterministically (doc_id % 25 in {7, 8} share one
    # boilerplate text) since the synthetic corpus has none natively.
    _BOILER = (
        "the quick brown fox jumps over the lazy dog and the cat sat on a mat"
    )

    def corpus_q(spark, sf):
        d = _docs(spark, sf).withColumn(
            "text",
            F.when((F.col("doc_id") % 25).isin(7, 8), F.lit(_BOILER)).otherwise(
                F.col("text")
            ),
        )
        return TX.corpus_keep(d)

    # splice docs2 in front of duck_corpus_keep's own WITH chain
    _keep_sql = TX.duck_corpus_keep("docs2").lstrip()
    assert _keep_sql.startswith("WITH ")
    q["corpus_keep_decision"] = Query(
        corpus_q,
        f"""WITH docs2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 25 IN (7, 8) THEN '{_BOILER}' ELSE text END AS text,
    lang
  FROM documents
), {_keep_sql[len("WITH "):]}""",
    )

    # host-level spam filtering: mean quality per host (integer-exact
    # micro-unit sum) with a blocked flag
    q["host_quality_filter"] = Query(
        lambda spark, sf: WU.host_quality(P.pages(spark, sf)),
        f"""WITH p AS ({P.duckdb_pages_sql()}),
q AS ({TX.duck_quality('p')}),
j AS (SELECT p.host, q.quality FROM p JOIN q ON p.doc_id = q.doc_id),
g AS (
  SELECT host, count(*) AS n_pages,
    sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS sq6
  FROM j GROUP BY host
)
SELECT host, n_pages,
  round(sq6 / (n_pages * 1e6), 6) AS mean_quality,
  round(sq6 / (n_pages * 1e6), 6) < 0.38 AS blocked
FROM g""",
    )

    # Gopher repetition rules: top-{2,3,4}-gram and duplicated-{5,10}-
    # gram character fractions per document
    q["text_repetition"] = Query(
        lambda spark, sf: TX.repetition_features(_docs(spark, sf)),
        TX.duck_repetition(),
    )
    # Gopher's other four repetition rules: duplicate line / paragraph
    # fractions by count and char mass.  The fixture text is flat word
    # soup, so structure is synthesized content-derived (lined_text:
    # paragraph break after 'table', line break after words ending in
    # 'e') — at sf0.01 ~100 docs carry dup lines and a few dup
    # paragraphs, so both arms measure real variation.
    def _line_dup(spark, sf):
        d = _docs(spark, sf).select("doc_id", TX.lined_text(F.col("text")).alias("t"))
        return TX.line_dup_features(d, text_col="t")

    q["text_line_dup"] = Query(_line_dup, TX.duck_line_dup())

    # CCNet/WET host-scoped boilerplate line removal: each synthetic
    # host (doc_id % 40 → ~12 pages/host at sf0.01) shares a header and
    # footer line, which must be scrubbed from every page; lined_text
    # content lines are mostly page-unique but occasionally repeat
    # within a host, so some organic content is scrubbed too.
    def _host_pages(spark, sf):
        d = _docs(spark, sf)
        host = F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))
        t = F.concat_ws(
            "\n",
            F.concat(F.lit("home | about | "), host),
            TX.lined_text(F.col("text")),
            F.concat(F.lit("(c) 2024 "), host),
        )
        return d.select("doc_id", host.alias("host"), t.alias("text"))

    _host_inner = (
        "SELECT doc_id, 'h' || CAST(doc_id % 40 AS VARCHAR) AS host,"
        " 'home | about | h' || CAST(doc_id % 40 AS VARCHAR) || chr(10) || "
        + TX.duck_lined_text("text")
        + " || chr(10) || '(c) 2024 h' || CAST(doc_id % 40 AS VARCHAR) AS text"
        " FROM documents"
    )
    q["host_boilerplate_scrub"] = Query(
        lambda spark, sf: TX.host_boilerplate_scrub(_host_pages(spark, sf)),
        TX.duck_host_boilerplate(_host_inner),
    )

    # The complete Gopher Table-A1 rule battery.  Fixture texture: word
    # counts span 10..99 natively so the 50-word floor splits `keep`;
    # 'the'/'a' presence varies so the stop-word rule (fixture-adapted
    # required list: the paper's eight plus 'a', the only two in the
    # generator vocabulary) splits it again; deterministic decorations
    # exercise each remaining rule — an all-bullet page (doc_id%29,
    # fails ONLY the bullet rule: 66 words, alpha 56/66 ≥ 0.8), a
    # 3-bullet-line prefix, an ellipsis-line suffix, and a '### ## #'
    # prefix whose hash words also dent alpha_word_frac.
    _G_REQ = ("the", "a", "be", "to", "of", "and", "that", "have", "with")
    _G_BULLET_PAGE = "- the a big fast table value\n" * 9 + "- end line"

    def _gopher_docs(spark, sf):
        d = _docs(spark, sf)
        did = F.col("doc_id")
        t = TX.lined_text(F.col("text"))
        t2 = (
            F.when(did % 29 == 0, F.lit(_G_BULLET_PAGE))
            .when(did % 7 == 0, F.concat(F.lit("- one\n- two\n- three\n"), t))
            .when(did % 7 == 1, F.concat(t, F.lit("\nsee more...\nnext page…")))
            .when(did % 7 == 2, F.concat(F.lit("### ## # "), t))
            .otherwise(t)
        )
        return d.select("doc_id", t2.alias("text"))

    _g_bullet_sql = _G_BULLET_PAGE.replace("\n", "' || chr(10) || '")
    _gopher_inner = (
        "SELECT doc_id, CASE"
        f" WHEN doc_id % 29 = 0 THEN '{_g_bullet_sql}'"
        " WHEN doc_id % 7 = 0 THEN '- one' || chr(10) || '- two' || chr(10) ||"
        f" '- three' || chr(10) || {TX.duck_lined_text('text')}"
        f" WHEN doc_id % 7 = 1 THEN {TX.duck_lined_text('text')} || chr(10) ||"
        " 'see more...' || chr(10) || 'next page…'"
        f" WHEN doc_id % 7 = 2 THEN '### ## # ' || {TX.duck_lined_text('text')}"
        f" ELSE {TX.duck_lined_text('text')} END AS text FROM documents"
    )
    q["gopher_rules"] = Query(
        lambda spark, sf: TX.gopher_quality_rules(
            _gopher_docs(spark, sf), required=_G_REQ
        ),
        TX.duck_gopher_rules(_gopher_inner, required=_G_REQ),
    )

    # C4's cleaning battery (Raffel 2020 §2.2): terminal-punctuation /
    # min-words / javascript line rules + brace / lorem-ipsum /
    # min-sentences page rules, over the punctuated c4_text rendering
    q["c4_line_scrub"] = Query(
        lambda spark, sf: TX.c4_line_scrub(_docs(spark, sf)),
        TX.duck_c4_line_scrub(),
    )

    # inverted-index build: per-term document frequency + rank-capped
    # posting lists (WindowGroupLimit bounds the stopword shuffle)
    q["posting_lists"] = Query(
        lambda spark, sf: TX.posting_lists(_docs(spark, sf)),
        TX.duck_posting_lists(),
    )

    # Okapi BM25 top-k retrieval for a literal term set — whole-bit
    # integer-exact idf (no libm), milli-unit length normalization,
    # TakeOrderedAndProject top-k (never a global sort)
    q["bm25_topk"] = Query(
        lambda spark, sf: TX.bm25_topk(_docs(spark, sf)),
        TX.duck_bm25_topk(),
    )

    # BPE merge training (Sennrich 2016): one collect of the word
    # vocabulary, then all k merge rounds in the driver (job count
    # constant in k); oracle unrolls the same k rounds as CTE chains
    q["bpe_train"] = Query(
        lambda spark, sf: TX.bpe_train(_docs(spark, sf)),
        TX.duck_bpe_train(),
    )
    # the train→encode round trip: per-doc token stats under the
    # learned merges (symbol counts computed once per vocabulary word)
    q["bpe_encode_stats"] = Query(
        lambda spark, sf: TX.bpe_encode_stats(_docs(spark, sf)),
        TX.duck_bpe_encode_stats(),
    )

    # Dolma-style corpus-global paragraph dedup, keep-first occurrence
    # (batch analogue of their Bloom-filter pass): combinable
    # min-keeper aggregate, duplicate-only join-back, indexed rewrite
    q["paragraph_dedup"] = Query(
        lambda spark, sf: TX.paragraph_dedup(_docs(spark, sf)),
        TX.duck_paragraph_dedup(),
    )

    # near-dup-aware corpus gate: the MinHash-LSH cluster keeper flag
    # feeds the keep/drop decision, in the order a real pipeline
    # evaluates (exact_dup > near_dup > lang > quality > repetition) —
    # closes the loop from candidate pairs to an exportable verdict
    def corpus_keep_nd_q(spark, sf):
        docs = _docs(spark, sf)
        ck = TX.corpus_keep(docs)
        cl = D.dedup_clusters(docs, D.minhash_lsh_pairs(docs)).select(
            "doc_id", "is_keeper"
        )
        reason = (
            F.when(F.col("drop_reason") == "exact_dup", F.lit("exact_dup"))
            .when(~F.col("is_keeper"), F.lit("near_dup"))
            .otherwise(F.col("drop_reason"))
        )
        return (
            ck.join(cl, "doc_id")
            .select(
                "doc_id",
                reason.alias("drop_reason"),
                reason.isNull().alias("keep"),
            )
        )

    _nd_case = """CASE WHEN ck.drop_reason = 'exact_dup' THEN 'exact_dup'
       WHEN NOT cl.is_keeper THEN 'near_dup'
       ELSE ck.drop_reason END"""
    q["corpus_keep_neardup"] = Query(
        corpus_keep_nd_q,
        f"""WITH ck AS (SELECT * FROM ({TX.duck_corpus_keep("documents")})),
cl AS (SELECT * FROM ({D.duck_dedup_clusters("documents")}))
SELECT ck.doc_id,
  {_nd_case} AS drop_reason,
  ({_nd_case}) IS NULL AS keep
FROM ck JOIN cl ON ck.doc_id = cl.doc_id""",
    )

    # Pretraining source mixing: four sources get explicit target
    # shares (40/30/20/10 % of the output), the other sixteen weight 0
    # and drop; target 10% of the corpus → per-source rates span
    # 200k..800k ppm, unsaturated, so the hash threshold actually
    # decides membership.
    _MIX_W = {"src0": 400000, "src1": 300000, "src2": 200000, "src3": 100000}
    q["source_mix_sample"] = Query(
        lambda spark, sf: TX.source_mix_sample(_docs(spark, sf), _MIX_W, 100000),
        TX.duck_source_mix_sample(_MIX_W, 100000),
    )
    # cross-document repeated-span scrubbing (ExactSubstr-flavored):
    # w=4 so the synthetic corpus yields a non-trivial mix (some docs
    # scrubbed, some untouched)
    q["text_scrub_spans"] = Query(
        lambda spark, sf: TX.scrub_repeated_spans(_docs(spark, sf), w=4),
        TX.duck_scrub_repeated_spans(w=4),
    )
    # PII scrub over documents with deterministically injected PII
    # (docs have none natively): every doc_id % 3 == 0 row gains an
    # email + phone + IPv4 span.
    def _pii_docs(spark, sf):
        d = _docs(spark, sf)
        inject = F.format_string(
            "%s contact u%d@ex.com tel +1 (555) 010-%04d ip 10.2.%d.7 end",
            F.col("text"),
            F.col("doc_id"),
            F.col("doc_id") % 10000,
            F.col("doc_id") % 256,
        )
        return d.withColumn(
            "text", F.when(F.col("doc_id") % 3 == 0, inject).otherwise(F.col("text"))
        )

    def pii_q(spark, sf):
        return TX.pii_scrub(_pii_docs(spark, sf)).select(
            "doc_id", "pii_email", "pii_ipv4", "pii_phone", "text_clean"
        )

    _PII_INJ = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com tel +1 (555) 010-'"
        " || printf('%04d', doc_id % 10000) || ' ip 10.2.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.7 end'"
    )
    _PII_SQL = []
    _cur = "t"
    for _n, _pat, _repl in TX.PII_PATTERNS:
        _PII_SQL.append(
            f"CAST(len(regexp_extract_all({_cur}, '{_pat}')) AS BIGINT) AS pii_{_n}"
        )
        _cur = f"regexp_replace({_cur}, '{_pat}', '{_repl}', 'g')"
    q["text_pii_scrub"] = Query(
        pii_q,
        f"""WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN {_PII_INJ} ELSE text END AS t
  FROM documents)
SELECT doc_id, {", ".join(_PII_SQL)}, {_cur} AS text_clean FROM d""",
    )

    # token-window chunking (32-token windows, 8-token overlap)
    def chunks_q(spark, sf):
        return TX.chunk_text(_docs(spark, sf), max_tokens=32, overlap=8).select(
            "doc_id", "chunk_index", "chunk", "chunk_tokens"
        )

    q["text_chunks"] = Query(
        chunks_q,
        """WITH d AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
n AS (
  SELECT doc_id, toks,
    greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INT)) AS n_chunks
  FROM d),
x AS (
  SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_index FROM n)
SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index,
  array_to_string(toks[chunk_index * 24 + 1 : chunk_index * 24 + 32], ' ') AS chunk,
  CAST(len(toks[chunk_index * 24 + 1 : chunk_index * 24 + 32]) AS BIGINT)
    AS chunk_tokens
FROM x""",
    )

    # sequence packing over the 32/8 chunks (seq_len 64, 8 shards)
    def pack_q(spark, sf):
        chunks = TX.chunk_text(_docs(spark, sf), max_tokens=32, overlap=8)
        return TX.pack_sequences(chunks, seq_len=64, n_shards=8)

    q["pack_sequences"] = Query(
        pack_q,
        """WITH d AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
n AS (
  SELECT doc_id, toks,
    greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS INT)) AS n_chunks
  FROM d),
c AS (
  SELECT doc_id, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_index,
    len(toks[unnest(range(n_chunks)) * 24 + 1
             : unnest(range(n_chunks)) * 24 + 32]) AS tokens
  FROM n),
o AS (
  SELECT *, CAST(doc_id % 8 AS INT) AS shard,
    coalesce(sum(tokens) OVER (PARTITION BY doc_id % 8
      ORDER BY doc_id, chunk_index
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM c),
x AS (
  SELECT *, unnest(range(CAST(off // 64 AS BIGINT),
                         CAST((off + tokens - 1) // 64 + 1 AS BIGINT))) AS seq_id
  FROM o)
SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id, chunk_index,
  CAST(greatest(off, seq_id * 64) - seq_id * 64 AS BIGINT) AS seq_offset,
  CAST(greatest(off, seq_id * 64) - off AS BIGINT) AS chunk_offset,
  CAST(least(off + tokens, (seq_id + 1) * 64)
       - greatest(off, seq_id * 64) AS BIGINT) AS piece_tokens
FROM x""",
    )

    # multimodal frame-sampling plumbing: deterministic fake video
    # binaries (n_chars*60 bytes) → one row per sampled frame index;
    # the explode arithmetic is the oracle-checked part, decode stays
    # the documented stub
    def frame_sample_q(spark, sf):
        d = _docs(spark, sf).select(
            "doc_id",
            F.encode(F.repeat(F.lit("x"), (F.col("n_chars") * 60).cast("int")), "UTF-8")
            .alias("video"),
        )
        return MM.frame_sample_plan(d, every_n=5).select("doc_id", "frame_idx")

    q["multimodal_frame_sample"] = Query(
        frame_sample_q,
        """WITH n AS (
  SELECT doc_id, CAST(n_chars * 60 // 1024 AS INT) AS nf FROM documents)
SELECT doc_id,
  CAST(unnest(range(0, nf, 5)) AS INT) AS frame_idx
FROM n""",
    )
    # ViT-style image patch grid: deterministic fake (width, height)
    # metadata → one row per (patch_idx, px, py); codec stays stubbed,
    # the grid/explode arithmetic is the oracle-checked part
    # width floors at 64 except every 101st doc, which is a zero-width
    # (zero-area) image — those must emit NO patch rows (the phantom
    # patch_idx=0 guard in image_patch_plan).
    q["multimodal_image_patches"] = Query(
        lambda spark, sf: MM.image_patch_plan(
            _docs(spark, sf).select(
                "doc_id",
                F.when(F.col("doc_id") % 101 == 0, F.lit(0))
                .otherwise(64 + (F.col("doc_id") % 13) * 16)
                .cast("int")
                .alias("width"),
                (64 + (F.col("doc_id") % 7) * 16).cast("int").alias("height"),
            )
        ).select("doc_id", "patch_idx", "px", "py"),
        """WITH g AS (
  SELECT doc_id,
    CAST((CASE WHEN doc_id % 101 = 0 THEN 0
               ELSE 64 + (doc_id % 13) * 16 END) // 16 AS INT) AS nx,
    CAST((64 + (doc_id % 7) * 16) // 16 AS INT) AS ny
  FROM documents)
SELECT doc_id, CAST(u AS INT) AS patch_idx,
  CAST(u % nx AS INT) AS px, CAST(u // nx AS INT) AS py
FROM (SELECT doc_id, nx, unnest(range(0, nx * ny)) AS u
      FROM g WHERE nx * ny > 0) t""",
    )
    # STFT-style audio window layout: fake n_samples = n_chars*20 at a
    # 16 kHz / 25 ms / 10 ms config → (win_idx, start, end, t_ms)
    q["multimodal_audio_windows"] = Query(
        lambda spark, sf: MM.audio_window_plan(
            _docs(spark, sf).select(
                "doc_id", (F.col("n_chars") * 20).alias("n_samples")
            )
        ).select("doc_id", "win_idx", "start_sample", "end_sample", "t_ms"),
        """WITH a AS (
  SELECT doc_id, CAST(n_chars * 20 AS BIGINT) AS n FROM documents),
w AS (SELECT doc_id,
        CASE WHEN n >= 400 THEN (n - 400) // 160 + 1 ELSE 0 END AS nw
      FROM a)
SELECT doc_id, CAST(u AS INT) AS win_idx,
  CAST(u * 160 AS BIGINT) AS start_sample,
  CAST(u * 160 + 400 AS BIGINT) AS end_sample,
  CAST(u * 10 AS BIGINT) AS t_ms
FROM (SELECT doc_id, unnest(range(0, nw)) AS u FROM w WHERE nw > 0) t""",
    )

    # embedding vector prep: unit-norm + symmetric int8 quantization
    # (arrays summarized to scalars — the driver compare hashes scalars)
    def embprep_q(spark, sf):
        e = SIM.quantize_int8(SIM.l2_normalize(_emb(spark, sf)))
        return e.select(
            "vec_id",
            F.round("vec_norm", 6).alias("vec_norm"),
            F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
            F.round("q_scale", 9).alias("q_scale"),
            F.aggregate("q_vec", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
            F.array_min("q_vec").alias("q_min"),
            F.array_max("q_vec").alias("q_max"),
        )

    q["embedding_prep"] = Query(
        embprep_q,
        """WITH n AS (
  SELECT vec_id, embedding,
    sqrt(list_aggregate(list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS vec_norm
  FROM embeddings),
u AS (
  SELECT vec_id, vec_norm,
    list_transform(embedding,
      x -> CAST(CAST(CAST(x AS DOUBLE) / vec_norm AS FLOAT) AS DOUBLE)) AS unit
  FROM n),
s AS (
  SELECT *, list_max(list_transform(unit, x -> abs(x))) / 127.0 AS q_scale
  FROM u),
qv AS (
  SELECT vec_id, vec_norm, unit[1] AS e0, q_scale,
    list_transform(unit, x -> CAST(round(x / q_scale) AS INT)) AS q_vec
  FROM s)
SELECT vec_id, round(vec_norm, 6) AS vec_norm, round(e0, 6) AS e0,
  round(q_scale, 9) AS q_scale,
  CAST(list_aggregate(q_vec, 'sum') AS BIGINT) AS q_sum,
  list_min(q_vec) AS q_min, list_max(q_vec) AS q_max
FROM qv""",
    )

    q["dedup_exact"] = Query(
        lambda spark, sf: D.exact_dedup(_docs(spark, sf)),
        D.duck_exact_dedup(),
    )

    # CCNet-normalized exact dedup: the corpus is unioned with a
    # decorated copy of itself (uppercased / accented / double-spaced
    # by doc_id % 3, ids shifted +10^7) — raw md5 sees 1000 distinct
    # texts, the normalized key folds every variant back onto its base
    # row, so each group's keeper is the base id.
    def _variant_docs(spark, sf):
        d = _docs(spark, sf).select("doc_id", "text")
        did = F.col("doc_id")
        v = (
            F.when(did % 3 == 0, F.upper("text"))
            .when(did % 3 == 1, F.translate("text", "ae", "áé"))
            .otherwise(F.replace(F.col("text"), F.lit(" "), F.lit("  ")))
        )
        return d.unionByName(
            d.select((did + 10_000_000).alias("doc_id"), v.alias("text"))
        )

    q["dedup_normalized"] = Query(
        lambda spark, sf: D.exact_dedup(
            _variant_docs(spark, sf).withColumn(
                "text", TX.normalize_for_dedup(F.col("text"))
            )
        ),
        f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000,
    CASE WHEN doc_id % 3 = 0 THEN upper(text)
         WHEN doc_id % 3 = 1 THEN translate(text, 'ae', 'áé')
         ELSE replace(text, ' ', '  ') END
  FROM documents
),
n AS (SELECT doc_id, {TX.duck_normalize_for_dedup('text')} AS text FROM src)
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM n GROUP BY 1
""",
    )
    q["dedup_minhash_signature"] = Query(
        lambda spark, sf: D.minhash_signature(_docs(spark, sf)).select(
            "doc_id", *[f"mh_{i}" for i in range(8)]
        ),
        D.duck_minhash_signature(),
    )
    q["dedup_minhash_lsh_pairs"] = Query(
        lambda spark, sf: D.minhash_lsh_pairs(_docs(spark, sf)),
        D.duck_minhash_lsh_pairs(),
    )
    q["dedup_simhash"] = Query(
        lambda spark, sf: D.simhash(_docs(spark, sf)).select("doc_id", "simhash"),
        D.duck_simhash(),
    )
    # Manku WWW'07 banded SimHash pairing (48-bit fingerprint, 4 bands,
    # exact bit_count verify) — completes the simhash path the way
    # minhash_lsh_pairs completes the minhash path
    q["dedup_simhash_pairs"] = Query(
        lambda spark, sf: D.simhash_pairs(_docs(spark, sf)),
        D.duck_simhash_pairs(),
    )
    q["dedup_jaccard_verify"] = Query(
        lambda spark, sf: D.jaccard_pairs(
            _docs(spark, sf), D.minhash_lsh_pairs(_docs(spark, sf))
        ),
        D.duck_jaccard_pairs(),
    )
    # standalone EXACT similarity self-join (PPJoin prefix filtering) —
    # the brief's "n-gram Jaccard" dedup arm as a first-class operator,
    # distinct from the probabilistic MinHash-LSH candidate path
    q["dedup_ngram_jaccard"] = Query(
        lambda spark, sf: D.ngram_jaccard_pairs(_docs(spark, sf)),
        D.duck_ngram_jaccard_pairs(),
    )
    # cluster formation: large-star/small-star connected components over
    # the LSH pairs, keeper = component-min doc; oracle = recursive CTE
    q["dedup_clusters"] = Query(
        lambda spark, sf: D.dedup_clusters(
            _docs(spark, sf), D.minhash_lsh_pairs(_docs(spark, sf))
        ),
        D.duck_dedup_clusters(),
    )
    # SemDeDup (Abbas 2023): IVF cells + within-cell cosine, smallest
    # id survives; rank-truncated candidate side bounds degenerate cells
    q["semdedup"] = Query(
        lambda spark, sf: SIM.semdedup(_emb(spark, sf)),
        SIM.duck_semdedup(),
    )
    q["ann_cosine_topk"] = Query(
        lambda spark, sf: SIM.brute_force_topk(_emb(spark, sf), [0, 1, 2, 3, 4]),
        SIM.duck_brute_force_topk([0, 1, 2, 3, 4]),
    )
    q["ann_lsh_buckets"] = Query(
        lambda spark, sf: SIM.lsh_bucket_counts(_emb(spark, sf)),
        SIM.duck_lsh_bucket_counts(),
    )
    # embedding-cosine near-dup: LSH-bucketed candidate pairs + exact
    # cosine filter (cross-bucket recall loss is the documented trade)
    q["embedding_near_dup"] = Query(
        lambda spark, sf: SIM.embedding_near_dup_pairs(_emb(spark, sf)),
        SIM.duck_embedding_near_dup_pairs(),
    )
    # IVF coarse-quantizer ANN: nearest-centroid cells, probe top-2
    q["ann_ivf_topk"] = Query(
        lambda spark, sf: SIM.ivf_topk(_emb(spark, sf), [0, 1, 2, 3, 4]),
        SIM.duck_ivf_topk([0, 1, 2, 3, 4]),
    )
    # per-label mean embedding (class prototypes), integer-exact via
    # the kmeans quantization scheme; long format (arrays don't hash)
    q["embedding_label_centroids"] = Query(
        lambda spark, sf: SIM.label_centroids(_emb(spark, sf)),
        SIM.duck_label_centroids(),
    )
    # per-query recall@k of the IVF index vs brute force — the ANN
    # acceptance metric as a first-class, oracle-checked query
    q["ann_ivf_recall"] = Query(
        lambda spark, sf: SIM.ivf_recall(_emb(spark, sf), [0, 1, 2, 3, 4]),
        SIM.duck_ivf_recall([0, 1, 2, 3, 4]),
    )
    # IVF with deterministic Lloyd-refined centroids (integer-exact
    # k-means, VERDICT r2 #6) — the oracle unrolls the same 2 iterations
    q["ann_ivf_kmeans_topk"] = Query(
        lambda spark, sf: SIM.ivf_topk(
            _emb(spark, sf), [0, 1, 2, 3, 4], kmeans_iters=2
        ),
        SIM.duck_ivf_kmeans_topk([0, 1, 2, 3, 4], iters=2),
    )
    # multimodal plumbing: binary column + mapInPandas.  The stub codec's
    # fake features are deterministic byte math on the (ASCII) synthetic
    # payload — [len, sum(prefix64) % 997, first byte, last byte of
    # prefix] — so DuckDB CAN replay them from the text column, turning
    # the r1-r3 rows-only check into a full value-hash oracle.  The
    # feature vector is projected to scalar double columns (array cells
    # don't hash portably across the pandas canonicalizer).
    q["multimodal_features"] = Query(
        lambda spark, sf: MM.extract_features(P.pages(spark, sf)).select(
            "url",
            "media_type",
            "n_bytes",
            F.col("features")[0].alias("f_len"),
            F.col("features")[1].alias("f_sum"),
            F.col("features")[2].alias("f_first"),
            F.col("features")[3].alias("f_last"),
        ),
        f"""
WITH p AS ({P.duckdb_pages_sql()}),
s AS (SELECT url, {P.html_body_expr()} AS s FROM p)
SELECT url, 'html' AS media_type,
  CAST(length(s) AS BIGINT) AS n_bytes,
  CAST(length(s) AS DOUBLE) AS f_len,
  CAST(list_sum(list_transform(range(1, least(length(s), 64) + 1),
                               i -> ascii(substring(s, CAST(i AS INT), 1)))) % 997
       AS DOUBLE) AS f_sum,
  CAST(ascii(substring(s, 1, 1)) AS DOUBLE) AS f_first,
  CAST(ascii(substring(s, least(length(s), 64), 1)) AS DOUBLE) AS f_last
FROM s
""",
    )
    # magic-byte sniff + byte length: native expressions only, so DuckDB
    # can mirror it exactly on the same synthetic html payload
    q["multimodal_sniff"] = Query(
        lambda spark, sf: MM.sniff_media_type(P.pages(spark, sf).select("url", "html"))
        .select(
            "url",
            "media_type",
            F.length(F.col("html")).cast("bigint").alias("n_bytes"),
        ),
        f"""
SELECT url, 'html' AS media_type,
  CAST(octet_length(encode({P.html_body_expr()})) AS BIGINT) AS n_bytes
FROM ({P.duckdb_pages_sql()}) p
""",
    )
    # main-content extraction (north-rule invariant: byte-identical
    # extracted text per url).  The oracle returns the GROUND-TRUTH text
    # column the synthesis escaped into the <p> block — the Spark side
    # must invert the markup exactly (boilerplate drop + tag strip +
    # entity decode, functions/htmltext.py) for the value hash to match.
    q["html_extract_text"] = Query(
        lambda spark, sf: P.pages(spark, sf).select(
            "url", HT.main_text("html").alias("main_text")
        ),
        f"SELECT url, text AS main_text FROM ({P.duckdb_pages_sql()}) p",
    )

    # WARC framing round trip (ISO 28500, the Common Crawl container):
    # pages → 5-record WARC blobs → split → parse headers/payload, with
    # the declared Content-Length cross-checked against actual octets
    q["warc_roundtrip"] = Query(
        lambda spark, sf: WC.warc_roundtrip(
            P.pages(spark, sf).select("doc_id", "url", "warc_ts", "text")
        ),
        WC.duck_warc_roundtrip(P.duckdb_pages_sql()),
    )
