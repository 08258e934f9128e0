"""spark-submit entry point for the checkpointed extraction job.

Usage (cluster):
    python tools/make_pyfiles.py              # builds dist/nolock_ocr_spark.zip
    spark-submit --py-files dist/nolock_ocr_spark.zip \
        jobs/run_extract.py \
        --corpus /path/to/documents_parquet \
        --out /path/to/output \
        --run-id run-2026-08-16 \
        --num-parts 256

Under spark-submit the master and sizing are spark-submit's (--master,
executors from the cluster manager); session.get_spark adds only the
pipeline's own confs. Run with plain ``python`` it builds a local-mode
session sized from the host ($SPARK_GRAFT_CPUS / $SPARK_DRIVER_MEM
override that).
The job is resumable: re-submitting with the same --out continues from
the last committed partition (see nolock_social_ocr_services_spark.lineage).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from nolock_social_ocr_services_spark import lineage
from nolock_social_ocr_services_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--num-parts", type=int, default=64)
    ap.add_argument("--batch-size", type=int, default=8,
                    help="resume units extracted per Spark job (1 = one "
                    "scan PER unit; 8-64 amortizes scans at scale)")
    args = ap.parse_args()

    spark = SparkSession.getActiveSession() or get_spark(app_name="extract_job")
    docs = spark.read.parquet(args.corpus)
    processed = lineage.run_extract_job(
        spark,
        docs,
        args.out,
        run_id=args.run_id,
        num_parts=args.num_parts,
        batch_size=args.batch_size,
    )
    lin = lineage.read_lineage(spark, args.out)
    committed = sorted(lineage.committed_parts(spark, args.out))
    total = lin.groupBy().sum("doc_count", "span_count").first()
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "processed_parts": processed,
                "committed_parts": committed,
                "total_docs": total[0],
                "total_spans": total[1],
            }
        )
    )


if __name__ == "__main__":
    main()
