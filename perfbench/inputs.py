"""Seeded inputs for the OCR workloads, and the checks of their outputs.

The seed selects a doc-index range; every document, page and expected
output in it comes from the program's own deterministic generators
(``onnxocr_spark.datagen``). The program under test only ever sees the
files written here.

Ranges start on a multiple of 97, so every range of the same length
holds the same number of heavy documents (every 97th doc is heavy).
"""

from __future__ import annotations

import os
import random

HEAVY_PERIOD = 97


def range_start(workload: str, seed: int) -> int:
    """First doc index of the seeded range (the same for the same seed)."""
    return random.Random(f"{workload}/{seed}").randrange(10**6) * HEAVY_PERIOD


def doc_spans(start: int, n_docs: int) -> list[dict]:
    from onnxocr_spark.datagen.documents import doc_id_for, spans_for

    return [{"doc_id": doc_id_for(i), "spans": spans_for(i)}
            for i in range(start, start + n_docs)]


def write_docs(path: str, start: int, n_docs: int) -> int:
    """Interleaved documents of the range → one parquet file (the
    schema of ``datagen.documents.write_documents_parquet``). Returns
    the number of media spans written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    rows = doc_spans(start, n_docs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return sum(s["kind"] == "media" for r in rows for s in r["spans"])


def expected_docs(start: int, n_docs: int) -> dict[str, list[tuple]]:
    """doc_id → expected span sequence, as
    ``datagen.documents.expected_output_rows`` builds it for a range
    that starts at 0: media spans' text is the rendered image's
    analytic OCR ground truth."""
    from onnxocr_spark.datagen.documents import is_heavy
    from onnxocr_spark.datagen.render import expected_media_text

    out = {}
    for i, doc in enumerate(doc_spans(start, n_docs), start):
        seq = []
        for s in doc["spans"]:
            text = s["text"]
            if s["kind"] == "media":
                text = expected_media_text(doc["doc_id"], s["offset"],
                                           is_heavy(i))
            seq.append((s["kind"], text, s["media_ref"], s["offset"]))
        out[doc["doc_id"]] = seq
    return out


def doc_mismatches(rows, expected: dict[str, list[tuple]]) -> int:
    """Documents whose committed span sequence differs from the expected
    one, counting missing, extra and duplicated documents."""
    seen: dict[str, list[tuple]] = {}
    bad = 0
    for r in rows:
        seq = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in r["spans"]]
        if r["doc_id"] in seen or r["doc_id"] not in expected:
            bad += 1
            continue
        seen[r["doc_id"]] = seq
    bad += sum(seen.get(d) != seq for d, seq in expected.items())
    return bad


def page_name(doc_id: str, offset: int) -> str:
    return f"{doc_id}_{offset}.img1"


def page_key(media_ref: str) -> tuple[str, int]:
    """media_ref (a file path or URI of a page file) → (doc_id, offset)."""
    stem = os.path.basename(media_ref).rsplit(".", 1)[0]
    doc_id, off = stem.rsplit("_", 1)
    return doc_id, int(off)


def page_failures(rows, expected: dict[tuple[str, int], str]) -> int:
    """Pages whose OCR row is missing, duplicated, not ok, or differs
    from the expected text."""
    got: dict[tuple[str, int], bool] = {}
    bad = 0
    for r in rows:
        key = page_key(r["media_ref"])
        if key in got or key not in expected:
            bad += 1
            continue
        got[key] = bool(r["ok"]) and r["text"] == expected[key]
    return bad + sum(not got.get(k, False) for k in expected)


def write_pages(directory: str, start: int, n_docs: int
                ) -> tuple[dict[tuple[str, int], str], int]:
    """IMG1 page files for every media span of the range → ``directory``.

    Returns ((doc_id, offset) → expected OCR text, bytes written).
    """
    from onnxocr_spark.datagen.documents import is_heavy
    from onnxocr_spark.datagen.render import expected_media_text, render_media
    from onnxocr_spark.imagecodec import encode_image

    os.makedirs(directory, exist_ok=True)
    expected = {}
    total = 0
    for i, doc in enumerate(doc_spans(start, n_docs), start):
        for s in doc["spans"]:
            if s["kind"] != "media":
                continue
            heavy = is_heavy(i)
            blob = encode_image(render_media(doc["doc_id"], s["offset"], heavy))
            with open(os.path.join(directory, page_name(doc["doc_id"],
                                                         s["offset"])),
                      "wb") as f:
                f.write(blob)
            total += len(blob)
            expected[(doc["doc_id"], s["offset"])] = expected_media_text(
                doc["doc_id"], s["offset"], heavy)
    return expected, total
