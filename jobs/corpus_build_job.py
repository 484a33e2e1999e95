"""spark-submit entry point for the END-PRODUCT corpus build.

    spark-submit --master <cluster> \\
        --py-files onnxocr_spark.zip \\
        jobs/corpus_build_job.py \\
        --input  <documents parquet path (doc_id, text, ...)> \\
        --output <output root> \\
        [--policy cc|online|exact] [--run-id r42] [--resume] \\
        [--min-tokens 5] [--max-tokens 1000] [--no-scrub]

The production form of the battery's `corpus_final` composition: a doc
reaches the final corpus iff it (a) survives the near-dup pass for the
chosen policy and (b) passes the token-count quality gate; its OUTPUT
text is PII-scrubbed through the canonical chain
(operators/pii.SCRUB_CHAIN). Stage order is the contract the
`corpus_final` oracle pins: dedup and quality judge the ORIGINAL text
— near-dup signatures and length gates must not depend on redaction
tokens — and scrubbing touches only what is written out.

Layout is the shared run-dir contract (data/run=<id> + ledger +
retired + sigindex + metrics sidecar), so every consumer and tool that
reads extract/dedup runs reads this job's output unchanged, and
`sinks.ledger.compact_runs` / `compact_job --bucket-index` maintain it
the same way. The retired manifest carries a REASON column ('dup' or
'quality'; 'dup' wins when both apply, because a duplicate's retirement
must not change if the quality thresholds move): re-running analytics
over why docs died is a first-class pipeline question.

--resume composes with the incremental dedup machinery unchanged
(jobs/dedup_job.incremental_corpus): docs already in any prior ledger
or retired manifest are skipped (idempotent re-submission — and
quality-rejected docs ARE in retired/, so they are never re-judged),
new docs are decided against the committed sigindex (bucketed
accelerator and compaction fallbacks included), and the quality gate —
a per-doc rule — applies batch-locally. For monotone doc ids the
cumulative final corpus equals the single full-corpus run's
(test_corpus_build_job twin-root proof), because quality is pointwise
and the dedup equivalence is the one the dedup_incremental oracle
already pins.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def contaminated_ids(docs, eval_docs):
    """doc_ids of ``docs`` sharing any token 8-gram with ``eval_docs``
    — the decontaminate_overlap rule as a job stage. Scale shape is
    the battery query's: the eval shingle set is tiny relative to the
    corpus (benchmarks are ~10^5 docs), so it BROADCASTS and corpus
    shingles that miss it die map-side inside a LEFT SEMI join."""
    from pyspark.sql import functions as F

    def shingles(df):
        t = F.split("text", " ")
        return df.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 7),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i, 8)))"
                )
            ).alias("shingle"),
        ).where(F.size(t) >= 8)

    ev = shingles(eval_docs).select("shingle").distinct().hint("broadcast")
    return (
        shingles(docs).join(ev, "shingle", "left_semi")
        .select("doc_id").distinct()
    )


def build_corpus(docs, policy: str, min_tokens: int, max_tokens: int,
                 scrub: bool, output_root: str | None = None,
                 eval_docs=None):
    """(final_kept, retired_with_reason, cleanup, sigindex, batch):
    the composed decision over ``docs`` (the full input, or the
    post-skip new batch when ``output_root`` is given for a resume).
    ``final_kept`` carries every input column with text scrubbed
    (unless ``scrub`` is False); ``retired_with_reason`` is
    (doc_id, reason). With ``eval_docs`` set, docs sharing any 8-gram
    with it are retired 'contaminated'. Reason precedence
    dup > contaminated > quality: dedup retirement must be stable
    under eval-set or threshold changes (the sigindex already covers
    every doc either way), and a contaminated doc stays contaminated
    whatever the length gate says."""
    from pyspark.sql import functions as F

    import dedup_job

    if output_root is None:
        kept, dup_retired, cleanup, sigindex = dedup_job.cleaned_corpus(
            docs, policy
        )
        batch = docs
    else:
        kept, dup_retired, cleanup, sigindex, batch = (
            dedup_job.incremental_corpus(docs, output_root, policy)
        )

    retired = dup_retired.select("doc_id", F.lit("dup").alias("reason"))
    if eval_docs is not None:
        contam = contaminated_ids(kept, eval_docs)
        retired = retired.unionByName(
            contam.select("doc_id", F.lit("contaminated").alias("reason"))
        )
        kept = kept.join(contam, "doc_id", "left_anti")

    n_tok = F.size(F.split("text", " "))
    quality_ok = (n_tok >= min_tokens) & (n_tok <= max_tokens)

    final_kept = kept.filter(quality_ok)
    out_cols = [
        F.expr(_scrub_expr()).alias("text") if c == "text" and scrub
        else F.col(c)
        for c in final_kept.columns
    ]
    final_kept = final_kept.select(*out_cols)

    retired = retired.unionByName(
        kept.filter(~quality_ok).select(
            "doc_id", F.lit("quality").alias("reason")
        )
    )
    return final_kept, retired, cleanup, sigindex, batch


def _scrub_expr() -> str:
    from onnxocr_spark.operators.pii import scrub_sql_expr

    return scrub_sql_expr("text")


def commit_run(spark, output_root: str, run_id: str, final_kept, retired,
               sigindex, batch, policy: str, source: str,
               min_tokens: int, max_tokens: int, scrub: bool,
               pack_budget: int | None = None) -> dict:
    """Write one committed run dir (data → ledger → retired → sigindex
    [→ packed], metrics sidecar last) and return the metrics. Shared
    by the spark-submit path and the streaming foreachBatch sink.

    ``pack_budget``: also write packed/run=<id> — the
    concatenate-and-chop window assignment (operators/packing.py) over
    THIS RUN's kept docs at ``pack_budget`` tokens/window. Packing is
    per-run by design: a committed run is a training shard, and window
    ids are meaningful only within a shard (a corpus-global prefix sum
    would renumber every earlier doc's windows on every incremental
    batch — exactly the mutation an append-only layout exists to
    avoid). Offsets are computed over the SCRUBBED text — the packing
    contract belongs to what training actually reads."""
    from pyspark.sql import functions as F

    from onnxocr_spark.sinks.ledger import (
        run_path, write_ledger, write_sidecar,
    )

    data_dir = run_path(output_root, "data", run_id)
    final_kept.write.mode("overwrite").parquet(data_dir)
    write_ledger(spark.read.parquet(data_dir), output_root, run_id)
    retired_dir = run_path(output_root, "retired", run_id)
    retired.write.mode("overwrite").parquet(retired_dir)
    if sigindex is not None:
        sigindex.write.mode("overwrite").parquet(
            run_path(output_root, "sigindex", run_id)
        )
    if pack_budget:
        from onnxocr_spark.operators.packing import pack_sequences

        pack_sequences(
            spark.read.parquet(data_dir).select("doc_id", "text"),
            budget=pack_budget,
        ).write.mode("overwrite").parquet(
            run_path(output_root, "packed", run_id)
        )
    n_in = batch.count()  # before cleanup: the cached input backs this

    n_kept = spark.read.parquet(data_dir).count()
    rdf = spark.read.parquet(retired_dir)
    by_reason = {
        r.reason: r.n
        for r in rdf.groupBy("reason").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    n_dup = int(by_reason.get("dup", 0))
    n_quality = int(by_reason.get("quality", 0))
    n_contam = int(by_reason.get("contaminated", 0))
    metrics = {
        "run_id": run_id,
        "policy": policy,
        "source_path": source,
        "docs_in": n_in,
        "docs_kept": n_kept,
        "retired_dup": n_dup,
        "retired_quality": n_quality,
        "retired_contaminated": n_contam,
        "scrubbed": scrub,
        "min_tokens": min_tokens,
        "max_tokens": max_tokens,
        "wall_clock_unix": time.time(),
    }
    write_sidecar(output_root, run_id, metrics)
    assert n_kept + n_dup + n_quality + n_contam == n_in
    return metrics


def streaming_corpus_build_sink(output_root: str, policy: str = "cc",
                                min_tokens: int = 5,
                                max_tokens: int = 1000,
                                scrub: bool = True,
                                eval_docs=None):
    """foreachBatch sink: streaming corpus ingestion through the full
    end-product composition. Each micro-batch runs the SAME
    incremental decision the batch job's --resume runs (skip committed
    ids, dedup new docs against the sigindex, pointwise quality gate,
    scrub the output) and commits an ordinary run dir — downstream
    consumers cannot tell streamed batches from batch ones, and the
    stream output is identical to sequential --resume runs by
    construction plus the twin-root test. Exactly-once across restarts
    via the deterministic per-batch run id + ledger-last marker (a
    replayed micro-batch whose ledger committed is skipped whole) —
    the same contract as streaming_semantic_sink.

    The root must hold at least one committed run (the job without
    --resume), which seeds the sigindex — same contract as --resume.

    Usage::

        (stream.writeStream
         .foreachBatch(streaming_corpus_build_sink(root))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    """
    from onnxocr_spark.sinks.ledger import committed_runs

    def _process(batch_df, batch_id: int) -> None:
        run_id = f"s{batch_id:09d}"
        if run_id in committed_runs(output_root, "ledger"):
            return  # restart replay of a committed micro-batch
        spark = batch_df.sparkSession
        final_kept, retired, cleanup, sigindex, batch = build_corpus(
            batch_df, policy, min_tokens, max_tokens, scrub,
            output_root=output_root, eval_docs=eval_docs,
        )
        metrics = commit_run(
            spark, output_root, run_id, final_kept, retired, sigindex,
            batch, policy, f"stream:batch={batch_id}", min_tokens,
            max_tokens, scrub,
        )
        cleanup()
        print(f"committed streaming corpus batch {batch_id}: {metrics}")

    return _process


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--policy", choices=["cc", "online", "exact"],
                   default="cc")
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true",
                   help="treat --input as a NEW batch: skip docs in "
                        "prior ledgers/retired manifests, decide the "
                        "rest against the committed sigindex")
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--max-tokens", type=int, default=1000)
    p.add_argument("--no-scrub", action="store_true",
                   help="write original text (skip PII redaction)")
    p.add_argument("--pack-budget", type=int, default=None,
                   help="also write packed/run=<id>: per-run "
                        "concatenate-and-chop window assignments at "
                        "this many tokens per context window")
    p.add_argument("--decontaminate-against", default=None,
                   help="parquet path of benchmark/eval docs (doc_id, "
                        "text); corpus docs sharing any token 8-gram "
                        "with it are retired reason='contaminated'")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName("onnxocr-corpus-build")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    run_id = args.run_id or time.strftime("%Y%m%d_%H%M%S")
    docs = spark.read.parquet(args.input)
    eval_docs = (
        spark.read.parquet(args.decontaminate_against)
        if args.decontaminate_against else None
    )
    final_kept, retired, cleanup, sigindex, batch = build_corpus(
        docs, args.policy, args.min_tokens, args.max_tokens,
        not args.no_scrub,
        output_root=args.output if args.resume else None,
        eval_docs=eval_docs,
    )

    metrics = commit_run(
        spark, args.output, run_id, final_kept, retired, sigindex, batch,
        args.policy, args.input, args.min_tokens, args.max_tokens,
        not args.no_scrub, pack_budget=args.pack_budget,
    )
    cleanup()
    print(f"committed corpus-build run {run_id}: {metrics}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
