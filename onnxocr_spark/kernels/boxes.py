"""Box ordering, clipping, filtering, reading-order sort.

Mirrors TextDetector.order_points_clockwise / clip_det_res /
filter_tag_det_res (/root/reference/onnxocr/predict_det.py:50-81) and
``sorted_boxes`` (/root/reference/onnxocr/predict_system.py:75-97) —
including the single stabilizing bubble pass with its 10-px same-line
tolerance, which is semantics-critical for span equality.
"""

from __future__ import annotations

import numpy as np


def _order_clockwise(pts: np.ndarray) -> np.ndarray:
    """order_points_clockwise over a (N,4,2) float32 array at once.

    Per box: TL/BR are the first argmin/argmax of x+y; the remaining
    points keep their order (np.delete's, which drops one point when
    argmin == argmax), and TR/BL are the first argmin/argmax of y−x
    among them — masking the removed points with ∓inf keeps exactly
    those first-occurrence ties."""
    s = pts.sum(axis=2)
    lo, hi = s.argmin(axis=1)[:, None], s.argmax(axis=1)[:, None]
    k = np.arange(4)
    removed = (k == lo) | (k == hi)
    diff = pts[..., 1] - pts[..., 0]
    tr = np.where(removed, np.inf, diff).argmin(axis=1)[:, None]
    bl = np.where(removed, -np.inf, diff).argmax(axis=1)[:, None]
    order = np.concatenate([lo, tr, hi, bl], axis=1)
    return pts[np.arange(len(pts))[:, None], order]


def order_points_clockwise(pts: np.ndarray) -> np.ndarray:
    """Order 4 points TL, TR, BR, BL by coordinate sum/diff argmin/argmax."""
    return _order_clockwise(np.asarray(pts, dtype=np.float32)[None])[0]


def clip_det_res(points: np.ndarray, img_h: int, img_w: int) -> np.ndarray:
    """Clamp box coords to [0, w-1] × [0, h-1] (int-truncated); any
    leading shape, (…, 2)."""
    hi = (img_w - 1, img_h - 1)
    return np.minimum(np.maximum(points, 0), hi).astype(np.int64).astype(
        points.dtype)


def filter_tag_det_res(dt_boxes: np.ndarray, img_h: int, img_w: int) -> np.ndarray:
    """Clockwise-order, clip, and drop degenerate (side ≤ 3 px) boxes —
    over all boxes at once."""
    boxes = np.asarray(dt_boxes, dtype=np.float32).reshape(-1, 4, 2)
    boxes = clip_det_res(_order_clockwise(boxes), img_h, img_w)
    # |p0p1| and |p0p3| with np.linalg.norm's float32 steps;
    # int(length) > 3 ⇔ length ≥ 4
    side = boxes[:, 1::2] - boxes[:, :1]
    side = np.sqrt((side * side).sum(axis=2))
    return boxes[(side[:, 0] >= 4) & (side[:, 1] >= 4)]


def sorted_boxes(dt_boxes: np.ndarray) -> list[np.ndarray]:
    """Reading-order sort: (y, x) of top-left, then ONE bubble pass that
    swaps adjacent boxes when Δy < 10 px and the right one sits left of
    the left one. Deliberately not a fixpoint — matches the reference
    exactly (predict_system.py:87-96).
    """
    num = len(dt_boxes)  # works for (N,4,2) arrays and lists of polys alike
    boxes = sorted(dt_boxes, key=lambda x: (x[0][1], x[0][0]))
    boxes = list(boxes)
    for i in range(num - 1):
        for j in range(i, -1, -1):
            if abs(boxes[j + 1][0][1] - boxes[j][0][1]) < 10 and (
                boxes[j + 1][0][0] < boxes[j][0][0]
            ):
                boxes[j], boxes[j + 1] = boxes[j + 1], boxes[j]
            else:
                break
    return boxes
