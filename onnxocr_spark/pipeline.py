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
- Skew: the keyless round-robin repartition (ocr_media.balance) deals
  media rows out ±1 per task. AQE cannot see UDF-stage cost, hence the
  explicit repartition.
- The final groupBy(doc_id) shuffles only recognized text (~KB/doc).
- Text spans take the short path: no UDF, no extra shuffle before the
  reassembly shuffle they need anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from onnxocr_spark.config import PipelineConfig, DEFAULT_CONFIG
from onnxocr_spark.operators.ocr_media import (
    OCR_OUTPUT_SCHEMA,
    balance,
    make_ocr_media_fn,
)

# Runtime SQL confs the OCR stage and the query battery rely on, written
# only here: build_session, jobs/extract_job.py and
# __spark_entry__._register all apply this dict.
WORKLOAD_SQL_CONFS = {
    # rows per Arrow batch into mapInPandas: an OCR row carries a whole
    # page, and a fat batch OOMs the Arrow transfer (SURVEY.md §4
    # "physical execution"); metadata-only stages raise it locally
    # (operators.packing.arrow_batch_override)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32",
    # range sorts (pack_sequences' orderBy) sample 5000 rows per
    # partition instead of 100, so their partition bounds come out even
    "spark.sql.execution.rangeExchange.sampleSizePerPartition": "5000",
    "spark.sql.adaptive.enabled": "true",
}


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


def ocr_media_spans(media: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """media-span rows → OCR'd rows (doc_id, offset, media_ref, text, …)
    through the one balanced exchange (ocr_media.balance) and the fused
    UDF. Every fused OCR entry (byte rows, pages) comes through here."""
    balanced = balance(media, ["doc_id", "offset", "media_ref"], cfg)
    return balanced.mapInPandas(make_ocr_media_fn(cfg), OCR_OUTPUT_SCHEMA)


def reassemble(spans: DataFrame) -> DataFrame:
    """span rows → documents, array ordered by offset, original field order.
    A row with a null kind keeps its doc but adds no span (run_extract's
    placeholder for a span-less doc)."""
    span = F.struct("offset", "kind", "text", "media_ref")
    return (
        spans.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("kind").isNotNull(), span))
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
    (the span survives with kind/media_ref/offset intact). A doc whose
    spans array is empty or null comes out with an empty array, so the
    ledger records it like any other: ``explode_outer`` gives it one
    all-null row that rides with the text rows into reassemble."""
    spans = docs.select("doc_id", F.explode_outer("spans").alias("span"))
    return run_extract_from_spans(spans.select("doc_id", "span.*"), cfg)


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
    text_rows = spans.filter(~F.col("kind").eqNullSafe("media")).select(
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
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config(map=WORKLOAD_SQL_CONFS)
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()
