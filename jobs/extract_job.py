"""spark-submit entry point for the extraction job.

    spark-submit --master <cluster> \\
        --py-files onnxocr_spark.zip \\
        jobs/extract_job.py \\
        --input  <documents parquet/iceberg path> \\
        --output <output root> \\
        [--run-id r42] [--resume] [--split-stages] [--ocr-partitions N]

Reads the interleaved documents table, skips already-committed doc_ids
when --resume is given (ledger anti-join), runs the extraction, and
commits output + ledger + metrics for this run (sinks/ledger.py).
Cluster sizing (executors, cores, memory) comes from spark-submit conf;
the job only sets workload-specific SQL conf.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--split-stages", action="store_true")
    p.add_argument("--ocr-partitions", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from onnxocr_spark.config import PipelineConfig
    from onnxocr_spark.pipeline import WORKLOAD_SQL_CONFS, run_extract
    from onnxocr_spark.sinks.ledger import pending_documents, write_with_ledger

    # only stop the session if this job created it (embedding callers —
    # tests, notebooks — keep theirs)
    owns_session = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName("onnxocr-extract")
        .config("spark.locality.wait", "0s")
        .config(map=WORKLOAD_SQL_CONFS)
        .getOrCreate()
    )
    cfg = PipelineConfig(
        split_stages=args.split_stages,
        ocr_partitions=args.ocr_partitions,
    )
    run_id = args.run_id or time.strftime("%Y%m%d_%H%M%S")

    docs = spark.read.parquet(args.input)
    if args.resume:
        docs = pending_documents(docs, args.output)
    if docs.isEmpty():
        print("nothing pending; exiting")
        if owns_session:
            spark.stop()
        return 0
    out = run_extract(docs, cfg)
    metrics = write_with_ledger(out, args.output, run_id, source_path=args.input)
    print(f"committed run {run_id}: {metrics}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
