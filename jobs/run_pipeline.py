#!/usr/bin/env python
"""spark-submit entry point for the sparkotel pipeline.

    # package the library once:
    #   (cd /root/repo && zip -qr sparkotel.zip sparkotel)
    spark-submit --py-files sparkotel.zip jobs/run_pipeline.py \
        --spec tests/fixtures/pipeline_m1.json \
        --input /root/testdata/sf0.01 --output /tmp/sparkotel_out

``--input`` is either a directory holding ``documents.parquet`` (the
synthetic pages source is derived, sandbox mode) or a parquet path with
(url, warc_ts, html, text, lang) columns (production mode,
``--input-kind pages``).  Re-running after a kill continues from the
commit ledger; pass ``--no-resume`` to start over.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-kind", choices=["sf_dir", "pages"], default="sf_dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--fail-after", type=int, default=None, help="test hook: abort after N committed buckets")
    args = ap.parse_args()

    from sparkotel import pages as P
    from sparkotel.config import PipelineSpec
    from sparkotel.runner import run
    from sparkotel.session import get_spark

    spark = get_spark(app="sparkotel-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    spec = PipelineSpec.from_json(args.spec)
    if args.input_kind == "sf_dir":
        src = P.pages(spark, args.input).drop("html")
    else:
        src = spark.read.parquet(args.input).drop("html")
    summary = run(spark, src, spec, args.output, resume=not args.no_resume, fail_after=args.fail_after)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
