"""spark-submit entry point for embedding-based (SemDeDup) corpus dedup.

    spark-submit --master <cluster> \\
        --py-files onnxocr_spark.zip \\
        jobs/semantic_dedup_job.py \\
        --input  <embeddings parquet (vec_id, embedding)> \\
        --output <output root> \\
        [--run-id r42] [--threshold 0.45] [--n-cells C] [--resume]

The embedding twin of jobs/dedup_job.py. The initial run performs
cluster-first SemDeDup (seed cells → within-cell thresholded pairs →
star-free CC keepers, the plan the battery's semantic queries pin) and
commits, per run:

    {root}/data/run=<id>      kept    (vec_id, embedding, cell)
    {root}/retired/run=<id>   retired (vec_id, embedding, cell)
    {root}/cellindex/run=<id> the seed vectors (seed_id, se) — the
                              persisted CELL INDEX every future resume
                              assigns against
    {root}/ledger/run=<id>    committed vec_ids — written LAST, the
                              run's COMMIT MARKER

``--resume`` makes ingest incremental: the input is the NEW batch only;
already-committed ids are skipped, the batch is assigned into the
FOUNDING run's cells (seeds are never re-derived — re-deriving would
re-cell every committed vector, a full re-run by another name), and
keep/retire comes from operators/similarity.incremental_semantic_decisions
— new-new within-cell pairs plus new-old bipartite pairs against ALL
committed vectors (kept AND retired; keepers-only would miss transitive
duplicates of retired vectors), committed-wins. Cross-run work is
|new|·|committed|/C instead of the committed corpus's quadratic-over-
cells rescan. Unlike the text job the committed VECTORS are re-read
each resume (cosine needs the payloads — that linear read is inherent
to semantic dedup); what is NOT inherent is re-SHUFFLING them on
(cell, gb) every run, and after a maintenance bucketize
(compact_job --bucket-index N → sinks/bucketed.bucketize_semvectors)
the bipartite stage cogroups the committed side straight out of its
(cell, gb) bucket files — zero committed-side Exchange, only the new
batch moves; post-bucketize runs ride along as a plain parquet delta
part until the next bucketize folds them in.

Crash safety: the ledger is written last, so a mid-crash run
contributes neither processed ids nor comparison vectors — its docs
are fully re-decided by the next resume; re-submit the same run-id to
replace its orphan dirs (the idempotent-overwrite contract).

Streaming ingestion (late r5): ``streaming_semantic_sink`` wraps the
same incremental decision as a foreachBatch sink — micro-batched
resume with deterministic per-batch run ids, exactly-once across
restarts via the ledger marker. See its docstring for why foreachBatch
(not applyInPandasWithState) is the right Spark shape here.
"""

from __future__ import annotations

import argparse
import sys
import time

_VIEW_SEQ = iter(range(1, 1 << 30))


def initial_semantic_corpus(emb, threshold: float, n_cells: int | None):
    """(kept, retired, cellindex, cleanup) for the founding run."""
    from pyspark.sql import functions as F

    from onnxocr_spark.operators.dedup import connected_component_keepers
    from onnxocr_spark.operators.similarity import (
        adaptive_n_cells, cosine_pairs_blocked, seed_cells,
    )

    emb = emb.persist()
    n = emb.count()
    c = n_cells if n_cells is not None else adaptive_n_cells(n)
    cells = seed_cells(emb, c).persist()
    pairs = cosine_pairs_blocked(
        cells, threshold, cell_col="cell", cells_hint=c, n_rows=n,
    )
    labels = connected_component_keepers(
        pairs.select(F.col("id_a").alias("doc_a"),
                     F.col("id_b").alias("doc_b"))
    )
    retired_ids = labels.filter(F.col("doc_id") != F.col("keeper")).select(
        F.col("doc_id").alias("vec_id")
    )
    # the founding seeds, re-derived exactly as seed_cells samples them
    # (md5-smallest ids) — persisted as the cell index
    cellindex = (
        emb.select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("se"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "seed_id")
        .limit(c)
        .drop("_h")
    )

    def cleanup() -> None:
        emb.unpersist(blocking=True)
        cells.unpersist(blocking=True)

    return (
        cells.join(retired_ids, "vec_id", "left_anti"),
        cells.join(retired_ids, "vec_id"),
        cellindex,
        cleanup,
    )


def incremental_semantic_corpus(emb, output_root: str, threshold: float):
    """(kept, retired, cleanup, batch) for a --resume run: decide the
    new batch against the founding cell index and ALL committed
    vectors. Returns the post-skip batch for metrics."""
    from pyspark.sql import functions as F

    from onnxocr_spark.operators.similarity import (
        incremental_semantic_decisions, seed_cells,
    )
    from onnxocr_spark.sinks.bucketed import (
        load_processed_parts, load_semvector_parts,
    )
    from onnxocr_spark.sinks.ledger import committed_runs, existing_run_dirs

    spark = emb.sparkSession
    # a semantic run's COMMIT MARKER is its ledger dir (written last)
    committed = committed_runs(output_root, "ledger")
    if not committed:
        raise SystemExit(
            "--resume: no committed runs under the output root; run an "
            "initial semantic dedup (without --resume) first"
        )

    index_dirs = existing_run_dirs(output_root, ("cellindex",), committed)
    seeds = (
        spark.read.parquet(*index_dirs)
        .dropDuplicates(["seed_id"])  # compaction may duplicate rows
        .select(F.col("seed_id").alias("vec_id"),
                F.col("se").alias("embedding"))
    )
    c = seeds.count()
    # Committed vectors as PARTS (sinks/bucketed.py): after a
    # maintenance bucketize the big part scans out of (cell, gb)
    # bucket files and the bipartite stage cogroups it shuffle-free —
    # committed vectors never travel again; only the new batch moves.
    # Post-bucketize runs ride along as a plain parquet delta part.
    # Decisions are tiling-invariant, so parts change nothing.
    old_parts = load_semvector_parts(spark, output_root, committed)
    # already-processed skip: chained anti-joins over id parts — the
    # bucketed procids table (written by bucketize_semvectors, covered
    # by the same marker as the vector table) anti-joins shuffle-free;
    # the semantic ledger already holds kept ∪ retired per run
    proc_parts = load_processed_parts(spark, output_root, "semvec",
                                      committed)
    batch = emb
    for part in proc_parts:
        batch = batch.join(part.select("vec_id"), "vec_id", "left_anti")
    batch = batch.persist()
    new_cells = seed_cells(batch, c, seed_from=seeds).persist()
    n_new = batch.count()
    dec = incremental_semantic_decisions(
        new_cells, old_parts, threshold, cells_hint=max(1, c),
        n_new=n_new,
    )
    kept_ids = dec.filter("kept").select("vec_id")

    def cleanup() -> None:
        batch.unpersist(blocking=True)
        new_cells.unpersist(blocking=True)

    return (
        new_cells.join(kept_ids, "vec_id"),
        new_cells.join(kept_ids, "vec_id", "left_anti"),
        cleanup,
        batch,
    )


def commit_run(spark, output_root: str, run_id: str, kept, retired,
               cellindex, batch, threshold: float, source_path: str) -> dict:
    """Write one semantic run's dirs under the shared layout and
    publish the ledger LAST (the commit marker — a crash before it
    leaves orphan dirs that contribute nothing; re-submitting the same
    run_id overwrites them, the idempotent contract). Shared by the
    spark-submit main() and the streaming sink."""
    from onnxocr_spark.sinks.ledger import (
        run_path, write_ledger, write_sidecar,
    )

    data_dir = run_path(output_root, "data", run_id)
    kept.write.mode("overwrite").parquet(data_dir)
    retired_dir = run_path(output_root, "retired", run_id)
    retired.write.mode("overwrite").parquet(retired_dir)
    if cellindex is not None:
        cellindex.write.mode("overwrite").parquet(
            run_path(output_root, "cellindex", run_id)
        )
    n_in = batch.count()
    # the ledger is the COMMIT MARKER — written last
    write_ledger(
        spark.read.parquet(data_dir).select("vec_id")
        .unionByName(spark.read.parquet(retired_dir).select("vec_id")),
        output_root, run_id, "vec_id",
    )
    n_kept = spark.read.parquet(data_dir).count()
    n_retired = spark.read.parquet(retired_dir).count()
    metrics = {
        "run_id": run_id,
        "policy": "semantic",
        "threshold": threshold,
        "source_path": source_path,
        "docs_in": n_in,
        "docs_kept": n_kept,
        "docs_retired": n_retired,
        "wall_clock_unix": time.time(),
    }
    write_sidecar(output_root, run_id, metrics)
    assert n_kept + n_retired == n_in
    return metrics


def streaming_semantic_sink(output_root: str, threshold: float = 0.45):
    """foreachBatch sink: streaming ingestion with semantic dedup.

    Semantic dedup's cross-batch state is the committed CORPUS itself
    (cosine needs every committed vector's payload), so an
    applyInPandasWithState formulation would accumulate unbounded
    vector payloads in the state store — the wrong Spark shape. The
    right one is micro-batched resume: each micro-batch runs the SAME
    ``incremental_semantic_corpus`` decision the batch job's --resume
    runs (assign into the founding cells, new-new CC + new-old
    bipartite contact — reading the committed side through the bucketed
    (cell, gb) layout when one exists) and commits an ordinary run dir,
    so downstream consumers cannot tell streamed batches from batch
    ones, and the stream output IS proven identical to sequential
    --resume runs by construction plus the pinned twin-root test.

    Exactly-once across restarts comes from the deterministic per-batch
    run id + ledger-last marker: a replayed micro-batch whose ledger
    already committed is skipped whole; one that crashed mid-write left
    no ledger, contributes nothing, and is fully re-decided on replay.

    The root must hold a committed FOUNDING run (the job without
    --resume) — same contract as --resume. Usage::

        (stream.writeStream
         .foreachBatch(streaming_semantic_sink(root))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    """
    from onnxocr_spark.sinks.ledger import committed_runs

    def _process(batch_df, batch_id: int) -> None:
        run_id = f"s{batch_id:09d}"
        if run_id in committed_runs(output_root, "ledger"):
            return  # restart replay of a committed micro-batch
        spark = batch_df.sparkSession
        kept, retired, cleanup, batch = incremental_semantic_corpus(
            batch_df.select("vec_id", "embedding"), output_root, threshold
        )
        metrics = commit_run(
            spark, output_root, run_id, kept, retired, None, batch,
            threshold, f"stream:batch={batch_id}",
        )
        cleanup()
        print(f"committed streaming semantic batch {batch_id}: {metrics}")

    return _process


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--threshold", type=float, default=0.45)
    p.add_argument("--n-cells", type=int, default=None,
                   help="founding cell count (default: adaptive ceil(sqrt(N)))")
    p.add_argument("--resume", action="store_true",
                   help="treat --input as a NEW batch and dedup it "
                        "against the committed runs' cell index")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName("onnxocr-semantic-dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    run_id = args.run_id or time.strftime("%Y%m%d_%H%M%S")
    emb = spark.read.parquet(args.input).select("vec_id", "embedding")
    cellindex = None
    if args.resume:
        kept, retired, cleanup, batch = incremental_semantic_corpus(
            emb, args.output, args.threshold
        )
    else:
        kept, retired, cellindex, cleanup = initial_semantic_corpus(
            emb, args.threshold, args.n_cells
        )
        batch = emb

    metrics = commit_run(
        spark, args.output, run_id, kept, retired, cellindex, batch,
        args.threshold, args.input,
    )
    cleanup()
    print(f"committed semantic dedup run {run_id}: {metrics}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
