"""The benchmark's traced OCR replay (perfbench/replay.py) calls the
public kernels by name and keyword, in ``ocr_image``'s order. A kernel
refactor that renames one of them, or one of their keywords, would
make every replayed image a failed benchmark operation; this test runs
that very composition on a seeded sample of rendered media and checks
it against ``ocr_image_text`` and the analytic truth."""

import os
import random
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)
from replay import OCR_LAYERS, replay_image  # noqa: E402
from spans import Tracer  # noqa: E402
sys.path.remove(PERFBENCH)

from onnxocr_spark.config import PipelineConfig  # noqa: E402
from onnxocr_spark.datagen.documents import (  # noqa: E402
    doc_id_for,
    is_heavy,
    spans_for,
)
from onnxocr_spark.datagen.render import (  # noqa: E402
    expected_media_text,
    is_flipped,
)
from onnxocr_spark.ocr import ocr_image_text  # noqa: E402
from onnxocr_spark.operators.media import resolve_media  # noqa: E402


def _sample(n=24, seed=20):
    refs = [
        (i, s["offset"], s["media_ref"])
        for i in range(194)  # holds two heavy docs (96, 193)
        for s in spans_for(i)
        if s["kind"] == "media"
    ]
    return random.Random(seed).sample(refs, n) + [
        r for r in refs if is_heavy(r[0])][:2]


SAMPLE = _sample()


def test_sample_covers_heavy_and_flipped_media():
    assert any(is_heavy(i) for i, _, _ in SAMPLE)
    assert any(is_flipped(doc_id_for(i), off) for i, off, _ in SAMPLE)


@pytest.mark.parametrize("i,offset,ref", SAMPLE)
def test_replay_composition_equals_ocr_image_text(i, offset, ref):
    cfg = PipelineConfig()
    img = resolve_media(ref)
    tracer = Tracer("contract")
    text, n_boxes, _ = replay_image(img, cfg, tracer)
    want = expected_media_text(doc_id_for(i), offset, is_heavy(i))
    assert text == ocr_image_text(img, cfg) == want
    assert n_boxes == want.count("\n") + 1
    assert set(tracer.self_times()) == {span for span, _ in OCR_LAYERS}
