"""Pipeline configuration.

Defaults mirror the reference's argparse table
(/root/reference/onnxocr/utils.py:251-387) and the overrides applied by
its Python API wrapper (/root/reference/onnxocr/onnx_paddleocr.py:20
forces rec_image_shape="3,48,320").
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- detection (utils.py:273-283) ---
    det_limit_side_len: float = 960.0
    det_limit_type: str = "max"
    det_box_type: str = "quad"
    det_db_thresh: float = 0.3
    det_db_box_thresh: float = 0.6
    det_db_unclip_ratio: float = 1.5
    use_dilation: bool = False
    det_db_score_mode: str = "fast"
    max_candidates: int = 1000
    min_size: int = 3

    # --- classification (utils.py:345-354) ---
    use_angle_cls: bool = True
    cls_image_shape: tuple[int, int, int] = (3, 48, 192)
    cls_batch_num: int = 6
    cls_thresh: float = 0.9
    label_list: tuple[str, ...] = ("0", "180")

    # --- recognition (utils.py:314-326, onnx_paddleocr.py:20) ---
    rec_image_shape: tuple[int, int, int] = (3, 48, 320)
    rec_batch_num: int = 6
    use_space_char: bool = True
    drop_score: float = 0.5

    # --- spark-side knobs (no reference analog; scale levers) ---
    # partitions for every OCR exchange; None → two per core
    # (operators.ocr_media.balance)
    ocr_partitions: int | None = None
    # two-stage det/rec plan with crop-level redistribution (SURVEY §4.2);
    # fused single-stage is the default (no pixels cross any shuffle)
    split_stages: bool = False
    # model identifiers resolved by the session registry
    det_model: str = "det_stub"
    cls_model: str = "cls_stub"
    rec_model: str = "rec_stub"
    rec_charset: str = "ascii_stub"


DEFAULT_CONFIG = PipelineConfig()


def str2bool(v: str) -> bool:
    """CLI flag parsing (reference utils.py:247-248): true/t/1, case-
    insensitive."""
    return str(v).lower() in ("true", "t", "1")
