#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north_rule:
`spark-submit --py-files` on a multi-executor cluster).

Package the engine and submit:

    cd /root/repo && zip -qr /tmp/engine.zip rag_pdf_parser_spark
    spark-submit --master local[8] \
        --py-files /tmp/engine.zip \
        scripts/run_pipeline.py --pages <pages_parquet_or_synth:N> \
        --out /tmp/extract_out --run-id run1

On a cluster, --master yarn/k8s and the same --py-files zip; the job itself
is identical (the engine holds no driver-local state beyond the plan).
Re-running with the same --out resumes: urls already in the manifest are
anti-joined away.

Locally, from the repo root, no packaging is needed:

    python scripts/run_pipeline.py --pages synth:200 --out /tmp/extract_out

The JSON counts are the last stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the local-mode Python workers import the engine too; they inherit the
# PYTHONPATH the session is started with, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="parquet path, or 'synth:N' for N synthetic pages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=f"run_{int(time.time())}")
    ap.add_argument("--format", default="parquet", choices=["parquet", "json"])
    ap.add_argument("--no-chunks", action="store_true")
    ap.add_argument("--dedupe", action="store_true",
                    help="content-dedup gate vs the manifest's committed "
                         "text_hash column")
    ap.add_argument("--blocklist", default=None,
                    help="parquet/csv of blocked hosts (column `host`) — "
                         "switches on the pre-extraction URL gate")
    ap.add_argument("--curate", action="store_true",
                    help="post-extraction text-quality gates (gopher/"
                         "repetition/model) with per-gate manifest codes")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("rag_pdf_parser_spark.pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # size the shuffle to the cluster unless the submitter configured it
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))

    from rag_pdf_parser_spark.plans.pipeline import ExtractionPipeline
    from rag_pdf_parser_spark.schema import PAGES_SCHEMA
    from rag_pdf_parser_spark.sources.pages import synth_pages_dist

    if args.pages.startswith("synth:"):
        pages = synth_pages_dist(spark, int(args.pages.split(":", 1)[1]))
    else:
        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.pages)

    blocklist = None
    if args.blocklist:
        reader = spark.read
        blocklist = (reader.option("header", "true").csv(args.blocklist)
                     if args.blocklist.endswith(".csv")
                     else reader.parquet(args.blocklist))

    pipe = ExtractionPipeline(spark, args.out)
    t0 = time.time()
    result = pipe.run(pages, run_id=args.run_id,
                      with_chunks=not args.no_chunks, fmt=args.format,
                      dedupe=args.dedupe, url_blocklist=blocklist,
                      curate=args.curate)
    result["wall_sec"] = round(time.time() - t0, 2)
    summary = pipe.manifest_summary().collect()
    result["partitions"] = len([r for r in summary if r["run_id"] == args.run_id])
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
