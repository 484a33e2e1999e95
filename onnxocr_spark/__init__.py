"""onnxocr_spark — a PySpark-native OCR-extraction analytics engine.

A brand-new, Spark-first rebuild of the capabilities of ding113/OnnxOCR
(reference snapshot at /root/reference, read-only): the three-stage OCR
pipeline — DBNet-style text detection (probability-map binarization +
contour box extraction + unclip), 0/180° angle classification, and
CTC greedy-decode recognition — re-expressed as a distributed extraction
job over Iceberg/parquet tables of interleaved text+media documents.

Architecture (see SURVEY.md §7):

    documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)
      → explode → route text/media → round-robin repartition (skew)
      → mapInPandas(ocr_media)  [per-executor model sessions, Arrow batches]
      → unionByName → groupBy(doc_id).agg(sort_array(collect_list(...)))
      → sink (parquet/Iceberg-shaped) with progress ledger + metrics

All pixel math lives in `onnxocr_spark.kernels` as pure-numpy functions
(no cv2/onnxruntime in this sandbox; real libs are gated behind
import-try in `onnxocr_spark.models.sessions` and `imagecodec`).
"""

__version__ = "0.1.0"

from onnxocr_spark.config import PipelineConfig  # noqa: F401
