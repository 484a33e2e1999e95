"""Two-stage OCR: detect and recognize as separate Spark stages with a
crop-level redistribution between them (SURVEY.md §4.2).

    media rows → mapInPandas(detect_crops)   [det + sort + crop]
               → explode: one row per crop (doc_id, offset, box_idx,
                 crop bytes)                 [pixels DO cross this
                 shuffle — crops are small (tens of KB) and this is the
                 closest analog of the reference's global crop batching]
               → round-robin repartition     [finest-grain rebalance:
                 a single media span with 50 crops no longer pins one
                 task]
               → mapInPandas(recognize_crops) [cls + rec + CTC; with
                 a real ONNX rec model, a hash exchange on (doc_id,
                 offset) + applyInPandas instead, so rec batches per
                 image exactly as the fused stage does]
               → groupBy (doc_id, offset): drop_score filter, sort by
                 box_idx, join '\n'  — identical output to the fused
                 stage (pinned by test_two_stage_equals_fused).

Use when crop-count skew dominates (dense pages); the fused stage
(operators/ocr_media.py) wins when media are uniform because nothing
is shuffled at all. Both exchanges and the per-row guard are the fused
stage's (ocr_media.balance, ocr_media.guarded).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from onnxocr_spark.config import PipelineConfig
from onnxocr_spark.operators.ocr_media import balance, guarded

DET_OUTPUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, box_idx int, "
    "crop binary, ok boolean, err string"
)
REC_OUTPUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, box_idx int, "
    "text string, score double"
)


def make_detect_crops_fn(cfg: PipelineConfig):
    def detect_crops(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from onnxocr_spark.imagecodec import encode_image
        from onnxocr_spark.kernels import sorted_boxes, get_rotate_crop_image
        from onnxocr_spark.ocr.textsystem import detect_boxes

        def crops(img) -> list[bytes]:
            boxes = detect_boxes(img, cfg)
            if boxes.shape[0] == 0:
                return []
            return [
                encode_image(
                    get_rotate_crop_image(img, box.astype(np.float32).copy())
                )
                for box in sorted_boxes(boxes)
            ]

        for pdf in batches:
            out: list[tuple] = []
            for row, blobs, err in guarded(pdf, crops):
                key = (row.doc_id, row.offset, row.media_ref)
                if blobs:
                    out.extend((*key, bi, c, True, "") for bi, c in enumerate(blobs))
                else:  # no boxes (ok) or a failed row
                    out.append((*key, -1, None, not err, err))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "offset", "media_ref", "box_idx", "crop",
                         "ok", "err"],
            )

    return detect_crops


_REC_COLS = ["doc_id", "offset", "media_ref", "box_idx", "text", "score"]


def _run_rec_group(pdf: pd.DataFrame, cfg: PipelineConfig) -> list[tuple]:
    """One cls+rec pass over the crops in `pdf` as a single batch pool."""
    from onnxocr_spark.imagecodec import decode_image
    from onnxocr_spark.ocr.textsystem import classify_crops, recognize_crops

    crops, keys = [], []
    for row in pdf.itertuples(index=False):
        img = decode_image(row.crop) if row.crop is not None else None
        if img is None:
            continue
        crops.append(img)
        keys.append((row.doc_id, row.offset, row.media_ref, row.box_idx))
    if not crops:
        return []
    if cfg.use_angle_cls:
        crops, _ = classify_crops(crops, cfg)
    rec = recognize_crops(crops, cfg)
    return [(k[0], k[1], k[2], k[3], t, s) for k, (t, s) in zip(keys, rec)]


def make_recognize_crops_fn(cfg: PipelineConfig):
    """Crop-grain recognition (mapInPandas): batch membership follows
    the Arrow batch, best balance; identical output is guaranteed only
    for pad-insensitive models (the stubs mask zero-pad columns)."""

    def recognize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(_run_rec_group(pdf, cfg), columns=_REC_COLS)

    return recognize


def make_recognize_image_group_fn(cfg: PipelineConfig):
    """Per-image recognition (applyInPandas over (doc_id, offset)): the
    grouped map is handed EVERY crop of the image at once — Arrow batch
    boundaries cannot split an image into two rec pools (mapInPandas
    with 32-row Arrow batches silently did exactly that for dense pages;
    ADVICE r2). Crops feed in box_idx order — the reference's
    sorted_boxes order — so max_wh_ratio padding matches the fused
    stage bit-for-bit with real weights."""

    def recognize_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            _run_rec_group(pdf.sort_values("box_idx"), cfg), columns=_REC_COLS
        )

    return recognize_group


def resolve_rec_batch_by_image(cfg: PipelineConfig) -> bool:
    """Per-image rec batching exactly when the rec model is a real ONNX
    session: bit-faithful batching must not depend on a flag nobody
    sets (VERDICT r2 item 7). The stub path keeps crop grain: pads are
    masked, so per-image batching buys nothing and costs the finer
    balance. Decided on the driver, at plan time."""
    from onnxocr_spark.models.sessions import is_real_model

    return is_real_model(cfg.rec_model)


def ocr_boxes(
    media: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """media rows → (detect rows in DET_OUTPUT_SCHEMA, per-box rec rows
    in REC_OUTPUT_SCHEMA before the drop_score filter)."""
    staged = balance(media, ["doc_id", "offset", "media_ref"], cfg).mapInPandas(
        make_detect_crops_fn(cfg), DET_OUTPUT_SCHEMA
    )
    crops = staged.filter("box_idx >= 0")
    crop_cols = ["doc_id", "offset", "media_ref", "box_idx", "crop"]
    if resolve_rec_batch_by_image(cfg):
        # grouped map: applyInPandas guarantees the UDF sees every crop
        # of an image in one call (group integrity — the mapInPandas +
        # per-batch-groupby shape could split an image across Arrow
        # batches); image-grain balance. The keyed exchange keeps
        # cfg.ocr_partitions in charge of the stage's parallelism (the
        # grouped map reuses the compatible hash partitioning instead of
        # falling back to spark.sql.shuffle.partitions).
        rec = (
            balance(crops, crop_cols, cfg, "doc_id", "offset")
            .groupBy("doc_id", "offset")
            .applyInPandas(make_recognize_image_group_fn(cfg), REC_OUTPUT_SCHEMA)
        )
    else:
        rec = balance(crops, crop_cols, cfg).mapInPandas(
            make_recognize_crops_fn(cfg), REC_OUTPUT_SCHEMA
        )
    return staged, rec


def ocr_media_spans_split(media: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Same contract as pipeline.ocr_media_spans, via the two-stage plan."""
    staged, rec = ocr_boxes(media, cfg)
    texts = (
        rec.filter(F.col("score") >= F.lit(cfg.drop_score))
        .groupBy("doc_id", "offset", "media_ref")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("box_idx", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text"),
            F.count("*").cast("int").alias("n_boxes"),
        )
        .select(
            "doc_id", F.col("offset").cast("int").alias("offset"), "media_ref",
            "text", "n_boxes", F.lit(True).alias("ok"), F.lit("").alias("err"),
        )
    )
    # media with zero surviving boxes (or failures) must still emit a row
    leftovers = (
        staged.select("doc_id", "offset", "media_ref", "ok", "err")
        .groupBy("doc_id", "offset", "media_ref")
        .agg(F.min("ok").alias("ok"), F.max("err").alias("err"))
        .join(texts.select("doc_id", "offset"), ["doc_id", "offset"], "left_anti")
        .select(
            "doc_id", F.col("offset").cast("int").alias("offset"), "media_ref",
            F.lit("").alias("text"), F.lit(0).cast("int").alias("n_boxes"),
            "ok", "err",
        )
    )
    return texts.unionByName(leftovers)
