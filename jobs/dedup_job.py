"""spark-submit entry point for the corpus-dedup pipeline.

    spark-submit --master <cluster> \\
        --py-files onnxocr_spark.zip \\
        jobs/dedup_job.py \\
        --input  <documents parquet path (doc_id, text, ...)> \\
        --output <output root> \\
        [--policy cc|online|exact] [--run-id r42]

Reads the flat documents table and writes the CLEANED corpus (keepers
only) plus a retired-docs manifest under the same run-dir layout the
extraction job uses ({root}/data/run=<id>, {root}/ledger/run=<id>,
metrics sidecar) so downstream consumers read both jobs' outputs the
same way. Policies:

- ``cc``     (default): MinHash-LSH band STAR edges (doc → its band's
  min doc — identical transitive closure to the clique pairs at
  O(N·bands) edges) closed by connected components — one keeper per
  near-duplicate CLUSTER (A~B, B~C retires C). The thorough offline
  policy.
- ``online``: greedy LSH-band keepers — survive iff first to emit
  every band signature. No iteration; the policy the streaming twin
  (streaming_near_dedup) applies incrementally.
- ``exact``:  md5-prefix fingerprint groups, min doc_id kept.

Without ``--resume``, dedup is a WHOLE-CORPUS decision — keepers depend
on every document — and each run re-decides its full input and commits
under its own run_id (idempotent per run_id, same overwrite contract as
the extract job). At 10^12 docs the heavy lifting is the same plans the
query battery pins: narrow shingle fan-out, map-side-combined minhash
groupBy, banded equi-join / window, O(log diameter) pointer-jumping CC.

``--resume`` (cc or online policy) makes ingest INCREMENTAL: every
committed near-dup run — cc and online alike — persists a
band-signature index ({root}/sigindex/run=<id>: one
(band, band_sig, hub=min doc) row per distinct signature, covering kept
AND retired docs — matching only keepers would miss transitive
duplicates of retired docs). A resumed run treats ``--input`` as the
NEW batch only: docs already in any prior ledger or retired manifest
are skipped (idempotent re-submission), the remainder are shingled,
and their keep/retire decision comes from
operators/dedup.incremental_new_doc_decisions (cc: a CC closure over
within-batch star edges plus (band, band_sig) index matches, committed
docs always winning) or the greedy first-wins rule (online: survive
iff every band is index-absent and batch-first; oracle-proven equal to
the full-corpus online rule). Prior batches are never re-read, let
alone re-shingled: at 100 TB with daily ingest this is the difference
between a 1%-of-corpus job and a full-corpus job every day. For
monotone doc ids (append-only corpora) the cumulative kept set equals
what one full-corpus cc run over all batches would decide — the
dedup_incremental battery oracle and the two-batch e2e test pin that
equivalence.
"""

from __future__ import annotations

import argparse
import sys
import time


_VIEW_SEQ = iter(range(1, 1 << 30))


def _exact_fingerprints(docs):
    """(doc_id, band_sig): the exact policy's signature — md5 of the
    first-4-token prefix (the battery dedup_exact rule) — in the same
    column name the near-dup sigindex uses so one index layout serves
    every policy (a 32-hex fingerprint can never equal a band's
    'int|int|int|int' string, so the keyspaces cannot cross-match)."""
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 4))
        ).alias("band_sig"),
    )


def _fp_sigindex(fp):
    """fingerprints → sigindex rows (band=0, band_sig, hub=min doc)."""
    from pyspark.sql import functions as F

    return fp.groupBy("band_sig").agg(
        F.min("doc_id").alias("hub")
    ).select(
        F.lit(0).cast("bigint").alias("band"), "band_sig", "hub"
    )


def cleaned_corpus(docs, policy: str):
    """(keepers DataFrame, retired DataFrame, cleanup, sigindex) for
    the chosen policy. ``cleanup()`` unpersists the cached inputs and
    drops the scoped temp view — call it AFTER the returned plans are
    materialized (ADVICE r4: the one-shot spark-submit path masked a
    cache + global-view leak for in-process callers). ``sigindex`` is
    the (band, band_sig, hub) index future --resume runs dedup
    against — cc policy only (None otherwise), derived from the SAME
    bands rows the edge closure consumes so the initial run shingles
    its corpus exactly once. The near-dup policies run the CANONICAL
    battery SQL (operators/dedup.py fragments — explode + codegen'd
    hashing + map-side-combined groupBy, the plan shapes the query
    battery pins), not the streaming operator's interpreted per-row
    fold, which exists only because a streaming aggregation cannot
    precede the stateful operator."""
    from pyspark.sql import functions as F

    from onnxocr_spark.operators.dedup import (
        BANDS_SQL,
        connected_component_keepers,
        star_edges_from_bands,
    )

    spark = docs.sparkSession
    docs = docs.persist()
    view = f"dedup_input_{next(_VIEW_SEQ)}"
    extra_cached = []

    def cleanup() -> None:
        docs.unpersist(blocking=True)
        for c in extra_cached:
            c.unpersist(blocking=True)
        spark.catalog.dropTempView(view)

    if policy == "exact":
        fp = _exact_fingerprints(docs)
        keep = fp.groupBy("band_sig").agg(
            F.min("doc_id").alias("doc_id")
        ).select("doc_id")
        return (
            docs.join(keep, "doc_id"),
            docs.join(keep, "doc_id", "left_anti"),
            cleanup,
            _fp_sigindex(fp),
        )

    docs.createOrReplaceTempView(view)
    src = f"SELECT doc_id, text FROM {view}"

    if policy == "online":
        # same greedy rule as the battery-pinned ONLINE_BAND_KEEPERS_SQL
        # (min window per band group + bool_and), expressed over a
        # bands frame computed ONCE so the sigindex shares the shingle
        # pass — online runs seed future --resume runs too (r5)
        from pyspark.sql import Window

        bands = spark.sql(BANDS_SQL.format(docs_src=src)).persist()
        extra_cached.append(bands)
        w = Window.partitionBy("band", "band_sig")
        keep = (
            bands.withColumn("first_doc", F.min("doc_id").over(w))
            .groupBy("doc_id")
            .agg(F.expr("bool_and(doc_id = first_doc)").alias("ok"))
            .filter("ok").select("doc_id")
        )
        # sub-shingle docs emit no bands and are trivially kept (the
        # battery query's output simply omits them; a JOB must not
        # retire them by omission)
        no_bands = docs.filter(
            F.size(F.split("text", " ")) < 3
        ).select("doc_id")
        keep = keep.unionByName(no_bands)
        sigindex = bands.groupBy("band", "band_sig").agg(
            F.min("doc_id").alias("hub")
        )
        return (
            docs.join(keep, "doc_id"),
            docs.join(keep, "doc_id", "left_anti"),
            cleanup,
            sigindex,
        )

    # policy == "cc": bands (computed ONCE, cached — they feed both the
    # edge closure and the persisted sigindex) -> star edges (doc ->
    # band's min doc; identical closure to the clique pairs at
    # O(N*bands) edges, no k^2 join) -> connected components -> keepers
    bands = spark.sql(BANDS_SQL.format(docs_src=src)).persist()
    extra_cached.append(bands)
    labels = connected_component_keepers(star_edges_from_bands(bands))
    retired_ids = labels.filter(F.col("doc_id") != F.col("keeper")).select(
        "doc_id"
    )
    sigindex = bands.groupBy("band", "band_sig").agg(
        F.min("doc_id").alias("hub")
    )
    return (
        docs.join(retired_ids, "doc_id", "left_anti"),
        docs.join(retired_ids, "doc_id"),
        cleanup,
        sigindex,
    )


def incremental_corpus(docs, output_root: str, policy: str = "cc"):
    """--resume: decide a NEW batch against prior runs' band-signature
    index. Returns (kept, retired, cleanup, sigindex, batch) where
    batch is the post-skip new input (for metrics) — otherwise the
    cleaned_corpus contract. ``docs`` is the new batch only; docs
    already in a prior ledger or retired manifest are dropped first
    (idempotent re-submission), and prior batches' TEXT is never
    read — the only cross-run state is {root}/sigindex/run=* (plus the
    optional bucketed-table accelerator sinks/bucketed.py derives from
    those dirs; it never changes a decision, only removes the
    index-side shuffle).

    ``policy='cc'`` closes star + index edges by connected components
    (committed-wins; full-corpus-equivalent for monotone ids).
    ``policy='online'`` applies the greedy first-wins rule: a new doc
    survives iff every band signature is absent from the index AND
    first-emitted by it within the batch — no iteration, one index
    anti-lookup + one window; oracle-proven equal to the full-corpus
    online rule (dedup_incremental_online). ``policy='exact'`` does
    the same first-wins lookup over md5 prefix fingerprints (no
    shingling at all). Signature spaces are policy-specific, so a
    resume must use the committed runs' policy (guarded via the
    metrics sidecars, which survive compaction)."""
    from pyspark.sql import functions as F

    from onnxocr_spark.operators.dedup import (
        BANDS_SQL,
        incremental_new_doc_decisions,
    )
    from onnxocr_spark.sinks.bucketed import (
        load_processed_parts, load_sigindex_parts,
    )
    from onnxocr_spark.sinks.ledger import committed_runs, sidecar_metrics

    spark = docs.sparkSession
    # A dedup run's COMMIT MARKER is its sigindex dir (written last):
    # counting a mid-crash run's docs as processed while its signatures
    # are missing would let future duplicates of them through silently,
    # so a run contributes its ledger/retired ids AND its index only
    # when fully committed — a crashed run contributes nothing and must
    # be re-submitted under the SAME run-id (the job's
    # idempotent-overwrite contract), which also replaces its orphan
    # data dir.
    sig_runs = committed_runs(output_root, "sigindex")
    if not sig_runs:
        raise SystemExit(
            "--resume: no committed sigindex under the output root; run "
            "an initial dedup (without --resume) first"
        )
    if not set(sig_runs) & set(committed_runs(output_root, "ledger")):
        # reachable only mid-crashed compaction (sigindex dirs exist
        # whose ledgers were already dropped) — heal by re-running the
        # compaction, don't silently treat everything as unprocessed
        raise SystemExit(
            "--resume: sigindex runs have no matching committed "
            "ledgers; the root looks mid-compaction — re-run "
            "compact_runs before resuming"
        )
    # signatures are policy-specific (band sigs vs md5 fingerprints):
    # resuming under a different policy than the committed runs would
    # silently find no matches and under-dedup — refuse the mix. The
    # sidecars survive compaction (metrics are never consolidated), so
    # this sees the founding run's policy even on a compacted root.
    prior = {m.get("policy") for m in sidecar_metrics(output_root)} - {None}
    if prior and prior != {policy}:
        raise SystemExit(
            f"--resume: policy {policy!r} does not match the "
            f"committed runs' {sorted(prior)}"
        )

    # already-processed skip as chained LEFT ANTI joins over id PARTS
    # (sinks/bucketed.py): with a bucketed procids table the big part
    # anti-joins shuffle-free and pre-distincted (anti-join semantics
    # absorb duplicate build rows, so the plain-path distinct is gone
    # too — the union of parts is the exact committed id set)
    proc_parts = load_processed_parts(spark, output_root, "sigindex",
                                      sig_runs)
    for part in proc_parts:
        docs = docs.join(part.select("doc_id"), "doc_id", "left_anti")
    docs = docs.persist()
    # The index arrives as one or more PARTS (sinks/bucketed.py): when
    # a maintenance pass has bucketized the accumulated sigindex, the
    # big part scans straight out of bucket files pre-partitioned on
    # (band, band_sig) and its equi-join below adds no index-side
    # Exchange — only the new batch shuffles (the storage-partitioned-
    # join shape PLANS.md §7 called for); runs committed since the
    # last bucketize ride along as a small parquet delta part. Each
    # part is joined separately — a union would forfeit the bucketed
    # scan's output partitioning. Index rows may repeat across parts;
    # every consumer below absorbs duplicates (documented per policy).
    index_parts = load_sigindex_parts(spark, output_root, sig_runs)

    def _flag_hits(frame, keys: list[str]):
        """Left-join every index part on ``keys``, adding _hit0.._hitK
        flag columns; returns (frame, miss) where ``miss`` is the
        all-parts-absent predicate. Matched rows may fan out (across
        duplicate index rows or parts) — downstream min-windows and
        bool_and absorb that; an absent row is never duplicated."""
        flags = []
        for i, part in enumerate(index_parts):
            col = f"_hit{i}"
            frame = frame.join(
                part.select(*keys).withColumn(col, F.lit(1)),
                keys, "left",
            )
            flags.append(F.col(col).isNull())
        miss = flags[0]
        for f in flags[1:]:
            miss = miss & f
        return frame, miss

    if policy == "exact":
        from pyspark.sql import Window

        fp = _exact_fingerprints(docs)
        w = Window.partitionBy("band_sig")
        flagged, miss = _flag_hits(fp, ["band_sig"])
        kept_ids = (
            flagged
            .withColumn("first_new", F.min("doc_id").over(w))
            .filter(miss & (F.col("doc_id") == F.col("first_new")))
            .select("doc_id")
        )

        def cleanup() -> None:
            docs.unpersist(blocking=True)

        return (
            docs.join(kept_ids, "doc_id"),
            docs.join(kept_ids, "doc_id", "left_anti"),
            cleanup,
            _fp_sigindex(fp),
            docs,
        )

    view = f"dedup_input_{next(_VIEW_SEQ)}"
    docs.createOrReplaceTempView(view)
    bands = spark.sql(
        BANDS_SQL.format(docs_src=f"SELECT doc_id, text FROM {view}")
    ).persist()

    def cleanup() -> None:
        docs.unpersist(blocking=True)
        bands.unpersist(blocking=True)
        spark.catalog.dropTempView(view)

    if policy == "online":
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_sig")
        # per-run (and per-part) index rows may repeat a
        # (band, band_sig) — the join fan-out duplicates flag rows
        # with identical values, which the bool_and absorbs; no
        # distinct needed
        flagged, miss = _flag_hits(bands, ["band", "band_sig"])
        flagged = (
            flagged
            .withColumn("first_new", F.min("doc_id").over(w))
            .withColumn(
                "ok",
                miss & (F.col("doc_id") == F.col("first_new")),
            )
        )
        banded_keep = (
            flagged.groupBy("doc_id")
            .agg(F.expr("bool_and(ok)").alias("ok_all"))
            .filter("ok_all").select("doc_id")
        )
        no_bands = docs.filter(
            F.size(F.split("text", " ")) < 3
        ).select("doc_id")
        kept_ids = banded_keep.unionByName(no_bands)
    else:
        dec = incremental_new_doc_decisions(
            docs.select("doc_id"), bands, index_parts
        )
        kept_ids = dec.filter("kept").select("doc_id")
    sigindex = bands.groupBy("band", "band_sig").agg(
        F.min("doc_id").alias("hub")
    )
    return (
        docs.join(kept_ids, "doc_id"),
        docs.join(kept_ids, "doc_id", "left_anti"),
        cleanup,
        sigindex,
        docs,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--policy", choices=["cc", "online", "exact"], default="cc")
    p.add_argument("--run-id", default=None)
    p.add_argument("--resume", action="store_true",
                   help="treat --input as a NEW batch and dedup it "
                        "against prior runs' sigindex (any policy; must "
                        "match the committed runs' policy)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from onnxocr_spark.sinks.ledger import run_path, write_ledger, write_sidecar

    owns_session = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName("onnxocr-dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    run_id = args.run_id or time.strftime("%Y%m%d_%H%M%S")
    docs = spark.read.parquet(args.input)
    if args.resume:
        kept, retired, cleanup, sigindex, docs = incremental_corpus(
            docs, args.output, args.policy
        )
    else:
        kept, retired, cleanup, sigindex = cleaned_corpus(docs, args.policy)

    data_dir = run_path(args.output, "data", run_id)
    kept.write.mode("overwrite").parquet(data_dir)
    write_ledger(spark.read.parquet(data_dir), args.output, run_id)
    retired_dir = run_path(args.output, "retired", run_id)
    retired.select("doc_id").write.mode("overwrite").parquet(retired_dir)
    if sigindex is not None:
        sigindex.write.mode("overwrite").parquet(
            run_path(args.output, "sigindex", run_id)
        )
    n_in = docs.count()  # before cleanup: the cached input backs this
    cleanup()  # kept/retired are materialized; release caches + view

    n_kept = spark.read.parquet(data_dir).count()
    n_retired = spark.read.parquet(retired_dir).count()
    metrics = {
        "run_id": run_id,
        "policy": args.policy,
        "source_path": args.input,
        "docs_in": n_in,
        "docs_kept": n_kept,
        "docs_retired": n_retired,
        "wall_clock_unix": time.time(),
    }
    write_sidecar(args.output, run_id, metrics)
    print(f"committed dedup run {run_id}: {metrics}")
    assert n_kept + n_retired == n_in
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
