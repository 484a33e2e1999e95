"""The end-to-end extraction job (SURVEY.md §7.1).

    documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)
      │ explode(spans)
      ├─ kind='text'  ───────────── pass through ───────────────┐
      ▼ kind='media'                                            │
    round-robin repartition (keyless, equal rows per task)      │
      ▼ mapInPandas(ocr_media) — per-executor model sessions    │
    (doc_id, offset, 'media', media_ref, text=OCR)──────────────┤
                                                                ▼
        unionByName → groupBy(doc_id)
        → sort_array(collect_list(struct(offset, …)))  (explicit order:
          collect_list order is NOT guaranteed after shuffles)
        → spans array in the exact input field order

Scale notes (local[32] here; designed for 1000 executors / 100 TB):
- Pixels never cross a shuffle: media stays a reference through the
  round-robin repartition; decode happens inside the UDF; only text +
  small metadata flow out.
- Skew: a keyless round-robin repartition deals media rows out ±1 per
  task, so a heavy doc's consecutive media spans land in different
  tasks; retries are deterministic (sortBeforeRepartition) and
  reassembly (keyed by doc_id+offset) is unaffected. AQE cannot see
  UDF-stage cost, hence the explicit repartition.
- The final groupBy(doc_id) shuffles only recognized text (~KB/doc).
- Text spans take the short path: no UDF, no extra shuffle before the
  reassembly shuffle they need anyway.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from onnxocr_spark.config import PipelineConfig, DEFAULT_CONFIG
from onnxocr_spark.operators.ocr_media import OCR_OUTPUT_SCHEMA, make_ocr_media_fn

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


@contextlib.contextmanager
def arrow_batch_override(spark: SparkSession, n: int):
    """Temporarily raise spark.sql.execution.arrow.maxRecordsPerBatch.

    The session-wide default (32, cfg.arrow_max_records) is sized for
    the OCR stage, where one row carries a full decoded page and a fat
    batch OOMs the Arrow transfer. Metadata-only mapInPandas stages
    (cost bins, sequence packing: a handful of int64 columns) are the
    opposite regime — at 32 rows/batch a 4M-row pass pays ~125k
    Python/pandas batch round-trips of pure overhead (measured 29.5 s
    → ~4 s at batch 10k, local[16]).

    Scoped + restoring, per the session conf contract (ADVICE r4 /
    CLAUDE.md): callers may only wrap EAGER work (the conf is read at
    execution time, so it must be live while the stage actually runs
    — both call sites materialize via eager localCheckpoint inside the
    with-block), and the battery's _register re-applies the workload
    confs on every call as the second line of defense."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents → one row per span (doc_id, kind, text, media_ref, offset).

    Plain ``explode``, not ``posexplode``: the ordinal output blocks
    nested-schema pruning at the parquet scan (a kind-only consumer
    would read all four span fields; verified in tests/test_plans.py),
    and ``offset`` already carries the order.
    """
    return docs.select("doc_id", F.explode("spans").alias("span")).select(
        "doc_id", "span.*"
    )


def cost_balanced_bins(
    media: DataFrame, n_part: int, cost: F.Column
) -> DataFrame:
    """(doc_id, offset, _rr): partition bins sized by COST, not row
    count — for corpora whose per-item OCR cost spread ≫ row-count
    spread (one 4K scan next to thumbnails). Rows are sorted by cost
    descending and cut at cumulative-cost quanta of total/n_part, so
    every bin carries ≈ equal total cost (± one item — an indivisible
    outlier bigger than the quantum fills its bin alone, which is the
    best any placement can do; splitting such an item is the two-stage
    plan's job).

    Scale shape: the sort and both passes touch only (doc_id, offset,
    cost) — never pixels; the prefix sum is the textbook two-pass
    (per-partition totals → driver (one double per partition) → offset
    broadcast), so no single-partition window exists anywhere. r5
    (VERDICT r4 item 4): fully DataFrame-native — the range-exchange
    sort is a plain orderBy, the per-partition totals are ONE
    map-side-combined groupBy over spark_partition_id(), and the bin
    assignment is an Arrow-batched mapInPandas with a vectorized
    cumsum; no `.rdd`, no per-row Python iterator anywhere. The sorted
    frame is persisted between the two passes because range-partitioner
    sampling is not guaranteed stable across recomputations — both
    passes must see the SAME physical layout for the pid-keyed offsets
    to be meaningful.

    The bin schema is DERIVED from the input's own (doc_id, offset)
    fields — any key types work — and the output is deduplicated per
    key so the caller's join can never multiply a media row whose
    (doc_id, offset) repeats in the corpus (ADVICE r3).
    """
    from pyspark.sql import types as T
    # NULL cost (ref-only rows in a mixed corpus, failed fetches) → 0,
    # not a TypeError in the sum passes
    keyed = media.select(
        "doc_id", "offset",
        F.coalesce(cost.cast("double"), F.lit(0.0)).alias("_c"),
    )
    srt = (
        keyed.orderBy(F.desc("_c"), "doc_id", "offset")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    part_sums = {
        r["_pid"]: r["s"]
        for r in srt.groupBy("_pid").agg(F.sum("_c").alias("s")).collect()
    }
    total = sum(part_sums.values()) or 1.0
    quantum = total / n_part
    offsets = {}
    acc = 0.0
    for i in sorted(part_sums):
        offsets[i] = acc
        acc += part_sums[i]

    schema = T.StructType(
        [media.schema["doc_id"], media.schema["offset"],
         T.StructField("_rr", T.IntegerType(), False)]
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if acc is None:  # first batch of this partition
                acc = offsets[int(pdf["_pid"].iloc[0])]
            c = pdf["_c"].to_numpy()
            starts = acc + np.concatenate(([0.0], np.cumsum(c)[:-1]))
            rr = np.minimum(
                n_part - 1, (starts // quantum).astype(np.int64)
            ).astype(np.int32)
            acc = float(starts[-1] + c[-1])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "offset": pdf["offset"], "_rr": rr}
            )

    # materialize before dropping the sort cache — bins is consumed
    # lazily by the caller's join, and unpersisting first would replay
    # the full range-exchange sort a second time. Metadata-only Arrow
    # stage → fat batches (see arrow_batch_override).
    with arrow_batch_override(media.sparkSession, 10_000):
        bins = (
            srt.mapInPandas(assign, schema)
            .dropDuplicates(["doc_id", "offset"])
            .localCheckpoint(eager=True)
        )
    srt.unpersist()
    return bins


def ocr_media_spans(media: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """media-span rows → OCR'd rows (doc_id, offset, media_ref, text, …).

    Balancing: exact round-robin (keyless ``repartition(n)``,
    RoundRobinPartitioning). Reassembly is keyed by (doc_id, offset),
    so placement is semantically free — round-robin is strictly
    stronger balancing than hash-salting: per-task row counts are equal
    (hash gives ±3σ binomial spread ≈ ±30% at bench sizes) and a heavy
    document's consecutive media spans land in *different* partitions
    by construction. Measured on local[16]: busy efficiency 0.77 (hash
    salt, 4 waves) → ~1.0 (round-robin, 2 waves). Retries are stable:
    sortBeforeRepartition (default on) pins the row→partition map.
    r2–r5 implemented round-robin as a RANGE exchange on a modular row
    index; r6 dropped it because the range partitioner's sampling pass
    evaluates the child plan a second time (see the inline comment).

    With cfg.ocr_cost_col set (a numeric cost hint, or a binary column
    meaning "its byte size"), bins are cost-weighted instead
    (cost_balanced_bins): equal-cost, not equal-count. Opt-in because
    it adds one hash exchange of the media rows (the bin join) — worth
    it exactly when per-item cost spread ≫ row-count spread.
    """
    n_part = cfg.ocr_partitions or media.sparkSession.sparkContext.defaultParallelism * 2
    cols = ["doc_id", "offset", "media_ref"] + (
        ["media_bytes"] if "media_bytes" in media.columns else []
    )
    cost = None
    if cfg.ocr_cost_col:
        if cfg.ocr_cost_col not in media.columns:
            # an explicit opt-in naming a missing column is a config
            # bug — failing beats silently running the skewed corpus
            # unbalanced (same contract as unknown model names)
            raise KeyError(
                f"ocr_cost_col {cfg.ocr_cost_col!r} not in media columns "
                f"{media.columns}"
            )
        # a binary column means "balance by its byte size"
        cost = (
            F.length(cfg.ocr_cost_col)
            if dict(media.dtypes).get(cfg.ocr_cost_col) == "binary"
            else F.col(cfg.ocr_cost_col)
        )
    if cost is not None:
        # LEFT join + default bin: an equi-join can never match a NULL
        # (doc_id, offset) key, so an inner join would silently DROP
        # such media rows where the round-robin path keeps them
        # (ADVICE r3); they are rare by contract, so bin 0 absorbs them
        # without hurting the balance guarantee.
        balanced = (
            media.join(cost_balanced_bins(media, n_part, cost),
                       ["doc_id", "offset"], "left")
            .withColumn("_rr", F.coalesce("_rr", F.lit(0)))
            .repartitionByRange(n_part, "_rr")
            .select(*cols)
        )
    else:
        # r6 (guide §1.2): keyless round-robin repartition instead of a
        # range exchange on a modular row index. Row placement and
        # balance are identical (RoundRobinPartitioning deals each
        # input partition's rows out ±1 per target; retries are
        # deterministic via sortBeforeRepartition), but the range
        # exchange's PARTITIONER SAMPLING pass executed the child plan
        # a second time — for byte-carrying corpora that is a second
        # full decode of every media row before OCR even starts, and
        # even ref-only corpora re-ran the span derivation. One child
        # evaluation, no sampling job, no sampling conf sensitivity.
        balanced = media.select(*cols).repartition(n_part)
    return balanced.mapInPandas(make_ocr_media_fn(cfg), OCR_OUTPUT_SCHEMA)


def reassemble(spans: DataFrame) -> DataFrame:
    """span rows → documents, array ordered by offset, original field order."""
    return (
        spans.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("_spans")
        )
        .select(
            "doc_id",
            F.transform(
                "_spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def run_extract(
    docs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Full job: interleaved documents in → same shape out with media
    spans' text replaced by OCR results. Failed media yields text=''
    (the span survives with kind/media_ref/offset intact)."""
    return run_extract_from_spans(explode_spans(docs), cfg)


def run_extract_from_spans(
    spans: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """run_extract over ALREADY-EXPLODED span rows (doc_id, kind, text,
    media_ref, offset) — for callers that derive or scan spans in row
    form (r6, guide §2.4): ``run_extract(reassemble(rows))`` first
    shuffles every row into per-doc arrays only for explode_spans to
    unpack them again; since ``explode_spans ∘ reassemble`` is a
    row-multiset identity and everything downstream (the media/text
    split, the OCR stage, the final reassemble keyed by doc_id+offset)
    depends only on the row multiset, entering here skips one full
    corpus shuffle + sort with bit-identical output."""
    text_rows = spans.filter(F.col("kind") != "media").select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )
    media_rows = spans.filter(F.col("kind") == "media")
    if cfg.split_stages:
        from onnxocr_spark.operators.two_stage import ocr_media_spans_split

        stage = ocr_media_spans_split(media_rows, cfg)
    else:
        stage = ocr_media_spans(media_rows, cfg)
    ocrd = stage.select(
        "doc_id",
        F.lit("media").alias("kind"),
        "text",
        "media_ref",
        "offset",
    )
    return reassemble(text_rows.unionByName(ocrd))


def ocr_metrics(docs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-partition-free metrics aggregate over the OCR stage output:
    media spans, failures, boxes, chars (the reference's latency/progress
    counters, app/engine.py:131-135, re-expressed as one agg)."""
    return ocr_metrics_from_spans(explode_spans(docs), cfg)


def ocr_metrics_from_spans(
    spans: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """ocr_metrics over already-exploded span rows (see
    run_extract_from_spans for the equivalence argument)."""
    media_rows = spans.filter(F.col("kind") == "media")
    out = ocr_media_spans(media_rows, cfg)
    return out.agg(
        F.count("*").alias("media_spans"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failures"),
        F.sum("n_boxes").alias("boxes"),
        F.sum(F.length("text")).alias("chars"),
    )


def build_session(
    app_name: str = "onnxocr-spark",
    master: str | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Session tuned for the extraction workload. On a real cluster the
    same confs ship via spark-submit; Arrow batches are kept small
    because rows can carry image bytes."""
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        # local mode: the driver JVM hosts every task thread; the 1g
        # default heap causes GC churn under 16+ workers (on a real
        # cluster these are per-executor settings in spark-submit)
        b.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # don't hold task slots idle waiting for data locality — in
        # local mode (and after any repartition generally) the wait
        # only stalls the UDF stage behind cached/shuffled partitions
        .config("spark.locality.wait", "0s")
        # the opt-in cost-balanced OCR stage (cfg.ocr_cost_col) range-
        # partitions on a P-valued bin index; the default 100 samples/
        # partition mis-places boundaries over so few distinct values
        # (observed 0..2x row skew) — sample enough that every value
        # gets its own range. The default path is a keyless round-robin
        # and samples nothing.
        .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "5000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_max_records),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()
