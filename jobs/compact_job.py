"""spark-submit entry point for output-root run compaction.

    spark-submit --master <cluster> --py-files onnxocr_spark.zip \\
        jobs/compact_job.py --root <output root> \\
        [--runs r1,r2,...] [--compacted-id c42] [--target-partitions N]

Collapses many committed extraction-run dirs into one consolidated run
(sinks.ledger.compact_runs — the Iceberg snapshot-compaction analog):
resume listings and output scans drop from O(#runs) paths to O(1) for
the compacted history. Dedup roots (jobs/dedup_job.py) consolidate
their retired/ and sigindex/ layouts in the same pass, so incremental
--resume runs keep reading O(1) index dirs however many batches have
committed. Single-writer: do not race an extraction or dedup run on
the same root. Crash-safety contract and step ordering are documented
on compact_runs itself.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--runs", default=None,
                   help="comma-separated run ids (default: all committed)")
    p.add_argument("--compacted-id", default=None)
    p.add_argument("--target-partitions", type=int, default=None)
    p.add_argument("--bucket-index", type=int, default=None, metavar="N",
                   help="after compacting, fold the root's committed "
                        "cross-run state into an N-bucket table "
                        "(sinks/bucketed.py): the band-signature "
                        "index for a text-dedup root, the committed "
                        "(cell, gb) vector layout for a semantic "
                        "root, the processed-ids table for an "
                        "extraction root — so future --resume runs "
                        "join it without a committed-side shuffle")
    p.add_argument("--bucket-index-only", action="store_true",
                   help="skip the run compaction and only (re)build "
                        "the bucketed accelerator the root's layout "
                        "needs (requires --bucket-index)")
    args = p.parse_args(argv)
    if args.bucket_index_only and not args.bucket_index:
        p.error("--bucket-index-only requires --bucket-index N")

    from pyspark.sql import SparkSession

    from onnxocr_spark.sinks.ledger import compact_runs

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("onnxocr-compact").getOrCreate()
    if not args.bucket_index_only:
        metrics = compact_runs(
            spark,
            args.root,
            run_ids=args.runs.split(",") if args.runs else None,
            compacted_id=args.compacted_id,
            target_partitions=args.target_partitions,
        )
        print(f"compacted: {metrics}")
    if args.bucket_index:
        # runs AFTER the compaction consolidated/renamed the run dirs,
        # so the fresh coverage marker names the surviving runs (a
        # pre-compaction marker would be stale and ignored)
        from onnxocr_spark.sinks.bucketed import bucketize_root

        cover = bucketize_root(spark, args.root, args.bucket_index)
        print(f"bucketized: {cover}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
