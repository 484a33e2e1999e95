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
               → mapInPandas(recognize_crops) [cls + rec + CTC]
               → groupBy (doc_id, offset): drop_score filter, sort by
                 box_idx, join '\n'  — identical output to the fused
                 stage (pinned by test_two_stage_equals_fused).

Use when crop-count skew dominates (dense pages); the fused stage
(operators/ocr_media.py) wins when media are uniform because nothing
is shuffled at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from onnxocr_spark.config import PipelineConfig

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
        from onnxocr_spark.operators.media import resolve_media

        for pdf in batches:
            has_bytes = "media_bytes" in pdf.columns
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                blob = getattr(row, "media_bytes", None) if has_bytes else None
                try:
                    img = resolve_media(row.media_ref, blob)
                    if img is None:
                        out.append(
                            (row.doc_id, row.offset, row.media_ref, -1, None,
                             False, "media decode failed")
                        )
                        continue
                    boxes = detect_boxes(img, cfg)
                    if boxes.shape[0] == 0:
                        out.append(
                            (row.doc_id, row.offset, row.media_ref, -1, None,
                             True, "")
                        )
                        continue
                    for bi, box in enumerate(sorted_boxes(boxes)):
                        crop = get_rotate_crop_image(
                            img, box.astype(np.float32).copy()
                        )
                        out.append(
                            (row.doc_id, row.offset, row.media_ref, bi,
                             encode_image(crop), True, "")
                        )
                except Exception as exc:  # noqa: BLE001 - per-row guard
                    out.append(
                        (row.doc_id, row.offset, row.media_ref, -1, None,
                         False, f"{type(exc).__name__}: {exc}"[:500])
                    )
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
    """rec_batch_by_image=None (the default) resolves to True exactly
    when the rec model is a real ONNX session — bit-faithful per-image
    batching must not depend on a flag nobody sets (VERDICT r2 item 7).
    The stub path keeps crop grain: pads are masked, so per-image
    batching buys nothing and costs the finer balance."""
    if cfg.rec_batch_by_image is not None:
        return cfg.rec_batch_by_image
    from onnxocr_spark.models.sessions import is_real_model

    return is_real_model(cfg.rec_model)


def _round_robin(df: DataFrame, n_part: int, cols: list[str]) -> DataFrame:
    # keyless round-robin (r6): same ±1 balance, one child evaluation —
    # the range exchange's sampling pass re-ran the upstream stage
    # (for the crop redistribution that means re-cropping) once more
    return df.select(*cols).repartition(n_part)


def ocr_media_spans_split(media: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Same contract as pipeline.ocr_media_spans, via the two-stage plan."""
    par = media.sparkSession.sparkContext.defaultParallelism
    n_part = cfg.ocr_partitions or par * 2
    cols = ["doc_id", "offset", "media_ref"] + (
        ["media_bytes"] if "media_bytes" in media.columns else []
    )
    staged = _round_robin(media, n_part, cols).mapInPandas(
        make_detect_crops_fn(cfg), DET_OUTPUT_SCHEMA
    )
    crops = staged.filter("box_idx >= 0")
    failed = staged.filter("box_idx < 0")

    crop_cols = ["doc_id", "offset", "media_ref", "box_idx", "crop"]
    if resolve_rec_batch_by_image(cfg):
        # grouped map: applyInPandas guarantees the UDF sees every crop
        # of an image in one call (group integrity — the mapInPandas +
        # per-batch-groupby shape could split an image across Arrow
        # batches); image-grain balance. The explicit repartition keeps
        # cfg.ocr_partitions in charge of the stage's parallelism (the
        # grouped map reuses the compatible hash partitioning instead of
        # falling back to spark.sql.shuffle.partitions).
        rec = (
            crops.select(*crop_cols)
            .repartition(n_part, "doc_id", "offset")
            .groupBy("doc_id", "offset")
            .applyInPandas(make_recognize_image_group_fn(cfg), REC_OUTPUT_SCHEMA)
        )
    else:
        rec = _round_robin(crops, n_part, crop_cols).mapInPandas(
            make_recognize_crops_fn(cfg), REC_OUTPUT_SCHEMA
        )

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
