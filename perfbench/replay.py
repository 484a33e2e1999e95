"""Traced in-process replay of the per-image OCR pipeline.

For each image of a seeded sample of a workload's own media, the
replay first times one direct ``ocr_image_text`` call (the
``ocr.textsystem.image`` layer), then calls the same public functions
``ocr.textsystem.ocr_image`` calls, in its order, with a span around
each. The replay's text must equal the direct call's text, so the
layer times are times of the work the program really does.

Only the default configuration's path is replayed (quad boxes, angle
classification on); ``replay_image`` refuses any other.
"""

from __future__ import annotations

import time

import numpy as np

from spans import Tracer

# layer span → per-layer metric name (ocr_image's order)
OCR_LAYERS = (
    ("kernels.resize.det", "kernels.resize.det_ms"),
    ("models.det", "models.det_ms"),
    ("kernels.dbpostprocess", "kernels.dbpostprocess_ms"),
    ("kernels.boxes", "kernels.boxes_ms"),
    ("kernels.crop", "kernels.crop_ms"),
    ("ocr.textsystem.cls", "ocr.textsystem.cls_ms"),
    ("ocr.textsystem.rec", "ocr.textsystem.rec_ms"),
)


def replay_image(img: np.ndarray, cfg, tracer) -> tuple[str, int, int]:
    """→ (text, boxes, rotated crops), with one span per layer."""
    from onnxocr_spark.kernels import (
        det_resize_for_test, db_postprocess, filter_tag_det_res,
        get_rotate_crop_image, normalize_image, should_rotate,
        sorted_boxes, to_chw,
    )
    from onnxocr_spark.models.sessions import get_session
    from onnxocr_spark.ocr.textsystem import classify_crops, recognize_crops

    if cfg.det_box_type != "quad" or not cfg.use_angle_cls:
        raise ValueError("the replay follows the default OCR path only")
    with tracer.span("kernels.resize.det"):
        resized, shape = det_resize_for_test(
            img, cfg.det_limit_side_len, cfg.det_limit_type)
    if resized is None:
        return "", 0, 0
    with tracer.span("models.det"):
        det = get_session(cfg.det_model)
        if getattr(det, "supports_raw", False):
            pred = det.run_raw(resized)
        else:
            if resized.shape[2] == 1:
                resized = np.repeat(resized, 3, axis=2)
            pred = det.run(to_chw(normalize_image(resized))[None, ...])[0, 0]
    with tracer.span("kernels.dbpostprocess"):
        boxes, _ = db_postprocess(
            pred, shape, thresh=cfg.det_db_thresh,
            box_thresh=cfg.det_db_box_thresh,
            max_candidates=cfg.max_candidates,
            unclip_ratio=cfg.det_db_unclip_ratio, min_size=cfg.min_size,
            use_dilation=cfg.use_dilation, score_mode=cfg.det_db_score_mode)
    with tracer.span("kernels.boxes"):
        boxes = filter_tag_det_res(boxes, img.shape[0], img.shape[1])
        if len(boxes) == 0:
            return "", 0, 0
        boxes = sorted_boxes(boxes)
    with tracer.span("kernels.crop"):
        crops = [get_rotate_crop_image(img, b.astype(np.float32).copy())
                 for b in boxes]
    with tracer.span("ocr.textsystem.cls"):
        crops, cls_res = classify_crops(crops, cfg)
    with tracer.span("ocr.textsystem.rec"):
        rec_res = recognize_crops(crops, cfg)
    text = "\n".join(t for t, score in rec_res if score >= cfg.drop_score)
    rotated = sum(should_rotate(lbl, sc, cfg.cls_thresh)
                  for lbl, sc in cls_res)
    return text, len(boxes), rotated


def replay(sample, cfg, tracer) -> dict:
    """Replay a sample of (media_ref, expected text) and return the OCR
    per-layer metrics plus the number of images whose replay text
    differed from the direct call's."""
    from onnxocr_spark.ocr.textsystem import ocr_image_text
    from onnxocr_spark.operators.media import resolve_media

    # the driver process has not run OCR yet: load its model sessions
    # and warm numpy on one image before anything is timed
    img = resolve_media(sample[0][0])
    ocr_image_text(img, cfg)
    replay_image(img, cfg, Tracer("warm-up", enabled=False))

    image_s = 0.0
    n = boxes = rotated = matches = diverged = 0
    for ref, want in sample:
        with tracer.span("operators.media.resolve"):
            img = resolve_media(ref)
        t0 = time.perf_counter()
        direct = ocr_image_text(img, cfg)
        image_s += time.perf_counter() - t0
        with tracer.span("ocr.textsystem.image"):
            text, nb, nr = replay_image(img, cfg, tracer)
        n += 1
        boxes += nb
        rotated += nr
        matches += text == want
        diverged += text != direct
    selft = tracer.self_times()
    per_img = {m: 1000.0 * sum(selft.get(s, [])) / n for s, m in OCR_LAYERS}
    image_ms = 1000.0 * image_s / n
    out = {
        "operators.media.resolve_ms":
            1000.0 * sum(selft["operators.media.resolve"]) / n,
        **per_img,
        "ocr.textsystem.image_ms": image_ms,
        "ocr.layer_sum_share": sum(per_img.values()) / image_ms,
        "ocr.boxes_per_image": boxes / n,
        "ocr.rotated_share": rotated / boxes if boxes else 0.0,
        "ocr.text_match_share": matches / n,
    }
    return {"metrics": out, "diverged": diverged, "images": n}
