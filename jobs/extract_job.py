#!/usr/bin/env python3
"""Cluster entrypoint: distributed extraction with lineage/resume.

Submit:
    spark-submit --py-files dist/docling_gfcr_spark.zip jobs/extract_job.py \
        --input  <parquet dir or Iceberg table of transcripts> \
        --output <job output root (data/ + lineage/ + input_identity/)> \
        --n-parts 4096 --waves 64 --mode agent [--run-id r42]

The session comes from spark-submit (no master override here); cluster sizing
lives in --conf / --num-executors. On restart with the same --output, parts
already committed to lineage are skipped (docling_gfcr_spark/lineage.py); a
restart with a different input refuses, since the output is stamped with
its input's fingerprint.
Local smoke: add --local-cores N --synth-convs M to run on synthetic data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# under spark-submit the --py-files zip provides the package; only when
# running from a bare checkout (no zip on the path) fall back to the repo dir
try:
    import docling_gfcr_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (or iceberg table with --table)")
    ap.add_argument("--table", help="catalog table name instead of --input path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-parts", type=int, default=4096)
    ap.add_argument("--waves", type=int, default=64)
    ap.add_argument("--mode", choices=["agent", "cli"], default="agent")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--local-cores", type=int, default=0, help="local smoke mode")
    ap.add_argument("--synth-convs", type=int, default=0, help="generate synthetic input")
    args = ap.parse_args()

    if args.local_cores:
        from docling_gfcr_spark.session import get_spark

        spark = get_spark(app_name="extract_job", cores=args.local_cores)
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("docling_gfcr_extract").getOrCreate()
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from docling_gfcr_spark import io, lineage, transcripts

    if args.synth_convs:
        input_df = transcripts.make_transcripts(spark, args.synth_convs, seed=42)
    elif args.table:
        input_df = spark.read.table(args.table)
    elif args.input:
        input_df = spark.read.parquet(args.input)
    else:
        raise SystemExit("one of --input/--table/--synth-convs required")
    io.validate_input_schema(input_df)  # V1: fail fast with a field diff

    report = lineage.run_extraction_job(
        spark,
        input_df,
        args.output,
        n_parts=args.n_parts,
        n_waves=args.waves,
        mode=args.mode,
        run_id=args.run_id,
    )
    summary = {
        **report,
        "n_parts_skipped": len(report["resumed_parts_skipped"]),
        "n_parts_processed": len(report["parts_processed"]),
    }
    summary["resumed_parts_skipped"] = summary["resumed_parts_skipped"][:10]
    summary["parts_processed"] = summary["parts_processed"][:10]
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
