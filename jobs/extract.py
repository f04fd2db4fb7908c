#!/usr/bin/env python
"""spark-submit entrypoint for the goose-spark extraction pipeline.

The Spark-native equivalent of the reference's CLI
(``goose-parser <url> '<json>'`` — SURVEY.md §2.1 S3), scaled from one
page to a table of pages::

    spark-submit --py-files goose_parser_spark.zip jobs/extract.py \\
        --rules rules.json \\
        --input  /path/or/table/of/pages \\
        --output /path/to/output \\
        [--input-format parquet|iceberg] [--format parquet|iceberg] \\
        [--buckets 4096] [--no-resume] [--lang en] \\
        [--since 2025-01-01 --until 2025-02-01]

Builds the py-files zip automatically when run without spark-submit
(programmatic session) via deploy.ship_package.

Pushdown knobs: ``--lang`` and ``--since/--until`` become DataFrame
filters BEFORE extraction, so Catalyst pushes them into the scan
(partition pruning on Iceberg hidden partitions / parquet row groups —
SURVEY.md §4.2).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="goose-spark extraction job")
    p.add_argument("--rules", required=True, help="path to rule JSON file")
    p.add_argument("--input", required=True, help="input pages path/table")
    p.add_argument("--output", required=True, help="output directory/table")
    p.add_argument("--input-format", default="parquet",
                   help="parquet|iceberg|warc|jsonl (warc: Common-Crawl "
                        ".warc/.warc.gz archives, one task per file; "
                        "jsonl: base64-html lines)")
    p.add_argument("--format", default="parquet", help="output format")
    p.add_argument("--buckets", type=int, default=4096,
                   help="url-hash bucket count (resume granularity); "
                        "size ≥ 4 × executors × cores for scaling headroom")
    p.add_argument("--no-resume", action="store_true",
                   help="recompute every bucket; the output's committed "
                        "metrics must still match --buckets and the rules "
                        "(use a fresh --output to change them)")
    p.add_argument("--lang", default=None, help="filter pages.lang (pushed down)")
    p.add_argument("--since", default=None, help="min warc_ts (pushed down)")
    p.add_argument("--until", default=None, help="max warc_ts (pushed down)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    from pyspark.sql import SparkSession, functions as F

    from goose_parser_spark.deploy import ship_package
    from goose_parser_spark.plans.pipeline import ExtractJob

    args = parse_args(argv)
    with open(args.rules, encoding="utf-8") as fh:
        rules = json.load(fh)

    spark = (
        SparkSession.builder.appName("goose-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # multi-MB html blobs: bound Arrow batch size (SURVEY.md §4.2)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )
    ship_package(spark)

    if args.input_format == "warc":
        from goose_parser_spark.sources.warc import read_warc
        pages = read_warc(spark, args.input)
    elif args.input_format == "jsonl":
        from goose_parser_spark.sources.jsonl import read_pages_jsonl
        pages = read_pages_jsonl(spark, args.input)
    else:
        pages = spark.read.format(args.input_format).load(args.input)
    if args.lang:
        pages = pages.filter(F.col("lang") == args.lang)
    if args.since:
        pages = pages.filter(F.col("warc_ts") >= F.lit(args.since).cast("timestamp"))
    if args.until:
        pages = pages.filter(F.col("warc_ts") < F.lit(args.until).cast("timestamp"))

    job = ExtractJob(
        spark, rules, args.output, buckets=args.buckets, fmt=args.format
    )
    summary = job.run(pages, resume=not args.no_resume)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
