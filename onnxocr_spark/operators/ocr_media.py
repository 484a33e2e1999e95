"""The OCR stage: ``mapInPandas`` over media-span rows.

Spark analog of TextSystem.__call__ batching
(/root/reference/onnxocr/predict_system.py:35-72) with the reference's
per-process model cache (app/engine.py:85-96) realized as per-executor
lazy session singletons (models/sessions.py): the iterator form of
``mapInPandas`` touches the registry once per Python worker, amortized
over all Arrow batches.

Input rows:  doc_id, offset, media_ref [, media_bytes]
Output rows: doc_id, offset, media_ref, text, n_boxes, ok, err

Every OCR entry (fused, two-stage, byte rows, pages) shares the two
decisions written here: ``balance`` places rows on tasks, and
``guarded`` turns a decode/OCR failure into an error string instead of
a task failure (P7 guards, SURVEY.md §2.2): such rows come out
ok=false with text=''.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from onnxocr_spark.config import PipelineConfig

OCR_OUTPUT_SCHEMA = (
    "doc_id string, offset int, media_ref string, "
    "text string, n_boxes int, ok boolean, err string"
)


def balance(
    rows: DataFrame, cols: list[str], cfg: PipelineConfig, *keys: str
) -> DataFrame:
    """The exchange in front of every OCR UDF: ``cfg.ocr_partitions``
    or two tasks per core; inline ``media_bytes`` rides along when the
    rows carry it.

    Keyless (no ``keys``): exact round-robin (RoundRobinPartitioning).
    Reassembly is keyed by (doc_id, offset), so placement is
    semantically free, and round-robin is strictly stronger balancing
    than hash-salting: per-task row counts are equal (hash gives ±3σ
    binomial spread ≈ ±30% at bench sizes) and a heavy document's
    consecutive media spans land in *different* partitions by
    construction. Measured on local[16]: busy efficiency 0.77 (hash
    salt, 4 waves) → ~1.0 (round-robin, 2 waves). Retries are stable:
    sortBeforeRepartition (default on) pins the row→partition map.
    Round-robin, not a range exchange on a modular row index: the
    range partitioner's sampling pass evaluates the child plan a second
    time — a second decode of every byte row, a second rasterization of
    every PDF page, a second crop pass, and for ref-only corpora a
    second span derivation (r6).

    Keyed: hash placement on ``keys``, for a grouped map that must see
    every row of a key in one call.
    """
    n_part = cfg.ocr_partitions or rows.sparkSession.sparkContext.defaultParallelism * 2
    if "media_bytes" in rows.columns:
        cols = [*cols, "media_bytes"]
    return rows.select(*cols).repartition(n_part, *keys)


def guarded(pdf: pd.DataFrame, work: Callable) -> Iterator[tuple]:
    """Per-row guard: (row, work(image), '') for each row of an Arrow
    batch, or (row, None, error) when the media does not resolve or
    ``work`` raises. Runs on the executor."""
    from onnxocr_spark.operators.media import resolve_media

    has_bytes = "media_bytes" in pdf.columns
    for row in pdf.itertuples(index=False):
        blob = getattr(row, "media_bytes", None) if has_bytes else None
        try:
            img = resolve_media(row.media_ref, blob)
            if img is None:
                yield row, None, "media decode failed"
                continue
            result = work(img)
        except Exception as exc:  # noqa: BLE001 - per-row guard
            yield row, None, f"{type(exc).__name__}: {exc}"[:500]
            continue
        yield row, result, ""


def make_ocr_media_fn(cfg: PipelineConfig):
    """Build the mapInPandas function. The returned closure carries only
    the (small, picklable) config; models/charsets resolve lazily on the
    executor via the per-process registry."""

    def ocr_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imports here run on the executor worker, once per process
        from onnxocr_spark.ocr.textsystem import ocr_image_text

        for pdf in batches:
            texts, errs = [], []
            for _, txt, err in guarded(pdf, lambda img: ocr_image_text(img, cfg)):
                texts.append(txt or "")
                errs.append(err)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "offset": pdf["offset"].astype("int32"),
                    "media_ref": pdf["media_ref"],
                    "text": pd.Series(texts, dtype="string"),
                    "n_boxes": pd.Series(
                        [t.count("\n") + 1 if t else 0 for t in texts],
                        dtype="int32",
                    ),
                    "ok": pd.Series([not e for e in errs], dtype="bool"),
                    "err": pd.Series(errs, dtype="string"),
                }
            )

    return ocr_media
