"""Media sources (SURVEY.md §2.1 S1-S3).

- S1 binary files: `spark.read.format("binaryFile")` over an image
  directory/glob → (media_ref=path, media_bytes) rows the OCR stage
  consumes directly (bytes win over the ref scheme in resolve_media).
- S2 base64 payloads: `unbase64` column → media_bytes.
- S3 multi-page media: `pdf_to_pages` rasterizes PDF bytes to one row
  per page (pymupdf-gated, mirroring the reference's
  ocr_images_pdfs.py:22-35 get_pixmap(dpi) + BGRA→BGR), and
  `ocr_paged_media` re-joins recognized pages with '\\n\\n' in page
  order (ocr_images_pdfs.py:141-165).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from onnxocr_spark.config import PipelineConfig, DEFAULT_CONFIG
from onnxocr_spark.pipeline import ocr_media_spans

try:  # import-gated like models.sessions._OrtSession: absent in sandbox
    import fitz  # pymupdf
except ImportError:  # pragma: no cover - wheel not in this container
    fitz = None

_PAGES_MAGIC = b"PGZ1"


def encode_pages_container(pages: list[np.ndarray]) -> bytes:
    """Deterministic multi-page container (magic + length-prefixed IMG1
    blobs) so the rasterize→page-rows→OCR→'\\n\\n'-join plumbing is fully
    exercisable without a PDF library. A real corpus ships %PDF bytes
    and takes the pymupdf branch below."""
    from onnxocr_spark.imagecodec import encode_image

    blobs = [encode_image(p) for p in pages]
    out = [_PAGES_MAGIC, struct.pack("<I", len(blobs))]
    for b in blobs:
        out.append(struct.pack("<I", len(b)))
        out.append(b)
    return b"".join(out)


def rasterize_pdf_bytes(data: bytes, dpi: int = 200) -> list[np.ndarray]:
    """PDF (or PGZ1 container) bytes → list of HWC uint8 page images.

    %PDF bytes follow the reference recipe (ocr_images_pdfs.py:22-35):
    fitz.open → page.get_pixmap(dpi) → (H, W, n) buffer, alpha dropped
    (BGRA→BGR). Raises RuntimeError when pymupdf is unavailable —
    callers surface that as an ok=false row, never a task failure."""
    if data[:4] == _PAGES_MAGIC:
        from onnxocr_spark.imagecodec import decode_image

        (n,) = struct.unpack_from("<I", data, 4)
        off = 8
        pages = []
        for _ in range(n):
            (ln,) = struct.unpack_from("<I", data, off)
            off += 4
            img = decode_image(data[off : off + ln])
            off += ln
            if img is None:
                raise ValueError("corrupt page blob")
            pages.append(img)
        return pages
    if data[:4] == b"%PDF":
        if fitz is None:
            raise RuntimeError("pymupdf not installed; cannot rasterize PDF")
        doc = fitz.open(stream=data, filetype="pdf")
        pages = []
        for page in doc:
            pix = page.get_pixmap(dpi=dpi)
            img = np.frombuffer(pix.samples, dtype=np.uint8).reshape(
                (pix.height, pix.width, pix.n)
            )
            if pix.n == 4:  # drop alpha (reference: cv2 BGRA2BGR)
                img = np.ascontiguousarray(img[:, :, :3])
            pages.append(img)
        return pages
    raise ValueError("not a PDF or PGZ1 container")


PDF_PAGES_SCHEMA = (
    "doc_id string, page_no int, media_ref string, media_bytes binary, "
    "ok boolean, err string"
)


def pdf_to_pages(pdfs: DataFrame, dpi: int = 200) -> DataFrame:
    """(doc_id, pdf_bytes) → one row per rasterized page
    (doc_id, page_no, media_ref, media_bytes, ok, err) — the S3 front
    half. Bad/undecodable documents, and documents with no pages, yield
    a single ok=false row. Page images are re-encoded IMG1 so downstream
    stages stay format-agnostic and bytes only travel doc→page locally
    (no shuffle here; the OCR stage's own repartition balances the
    exploded pages)."""

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from onnxocr_spark.imagecodec import encode_image

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    if r.pdf_bytes is None or len(r.pdf_bytes) == 0:
                        rows.append((r.doc_id, -1, "", None, False, "empty"))
                        continue
                    pages = rasterize_pdf_bytes(bytes(r.pdf_bytes), dpi)
                    if not pages:
                        rows.append((r.doc_id, -1, "", None, False, "no pages"))
                    for i, page in enumerate(pages):
                        rows.append(
                            (r.doc_id, i, f"pdf://{r.doc_id}/p{i}",
                             encode_image(page), True, "")
                        )
                except Exception as exc:  # noqa: BLE001
                    rows.append((r.doc_id, -1, "", None, False, str(exc)[:200]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "page_no", "media_ref", "media_bytes", "ok", "err"])

    import pandas as pd  # noqa: F401 (type name in fn signature)

    return pdfs.select("doc_id", "pdf_bytes").mapInPandas(fn, PDF_PAGES_SCHEMA)


def read_binary_media(spark: SparkSession, path: str) -> DataFrame:
    """Image files → (media_ref = file path, media_bytes). Column
    pruning applies: binaryFile supports pathGlobFilter and does not
    read content until the UDF consumes it."""
    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.col("path").alias("media_ref"), F.col("content").alias("media_bytes")
    )


def from_base64(df: DataFrame, col: str = "payload") -> DataFrame:
    """S2: base64 string column → media_bytes (utils.py:238-244 analog)."""
    return df.withColumn("media_bytes", F.unbase64(F.col(col)))


def parse_multipart(body: bytes, content_type: str) -> list[tuple[str, bytes]]:
    """RFC 2046 multipart/form-data body → [(filename, content)].

    S4 analog of the reference service's upload endpoint
    (app/routers/v2.py upload handlers): the service framework parses
    the multipart stream before the engine sees bytes; here the parser
    IS the operator, so a captured upload body (e.g. archived request
    logs) is a first-class media source. Strict RFC 2046 framing: a
    delimiter is CRLF + "--" + boundary and only counts when followed
    by (optional transport padding then) CRLF for the next part or
    "--" for the close-delimiter — so boundary bytes appearing
    mid-content without the CRLF anchor, or a boundary that is a
    prefix of a longer token in the payload, do NOT split the part
    (archived third-party bodies can't be trusted to honor the
    generator-side non-occurrence rule). The first delimiter may omit
    the leading CRLF when the body has no preamble. Parts without a
    Content-Disposition filename (plain form fields) are skipped.
    Malformed bodies raise ValueError — callers turn that into
    ok=false rows, the bad-media contract."""
    marker = "boundary="
    idx = content_type.find(marker)
    if idx < 0:
        raise ValueError("multipart content-type without boundary")
    boundary = content_type[idx + len(marker):].split(";")[0].strip().strip('"')
    if not boundary:
        raise ValueError("empty multipart boundary")
    bdelim = b"\r\n--" + boundary.encode()
    # Prepending CRLF makes a preamble-less first delimiter ("--boundary"
    # at offset 0) match the same CRLF-anchored pattern as every other.
    buf = b"\r\n" + body
    # Each cut is (delimiter_start, content_start_after_delimiter).
    cuts: list[tuple[int, int]] = []
    closed = False
    pos = 0
    while True:
        i = buf.find(bdelim, pos)
        if i < 0:
            break
        k = i + len(bdelim)
        while k < len(buf) and buf[k:k + 1] in (b" ", b"\t"):
            k += 1  # transport padding before the line break
        if buf[k:k + 2] == b"--":
            cuts.append((i, k + 2))
            closed = True
            break
        if buf[k:k + 2] == b"\r\n":
            cuts.append((i, k + 2))
            pos = k + 2
        else:
            # boundary bytes embedded in content without a valid
            # delimiter suffix — not a delimiter, keep scanning
            pos = i + len(bdelim)
    if len(cuts) < 2 or not closed:
        raise ValueError("multipart body missing closing delimiter")
    out: list[tuple[str, bytes]] = []
    for (_, content_start), (next_start, _) in zip(cuts, cuts[1:]):
        part = buf[content_start:next_start]
        head, sep, payload = part.partition(b"\r\n\r\n")
        if not sep:
            raise ValueError("multipart part without header terminator")
        filename = None
        for line in head.split(b"\r\n"):
            low = line.lower()
            if low.startswith(b"content-disposition") and b"filename=" in low:
                raw = line[low.find(b"filename=") + len(b"filename="):]
                filename = raw.split(b";")[0].strip().strip(b'"').decode(
                    "utf-8", "replace"
                )
        if filename is None:
            continue  # plain form field, not a file part
        out.append((filename, payload))
    return out


def from_multipart(
    df: DataFrame, body_col: str = "body", ctype_col: str = "content_type"
) -> DataFrame:
    """S4: rows of captured multipart upload bodies → one media row per
    file part (media_ref = '<row media_ref>/<filename>', media_bytes).
    Parsing runs in an Arrow-batched UDF (bytes never leave the
    executor); a malformed body yields a single ok=false row with the
    error instead of failing the job."""
    from collections.abc import Iterator

    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                base = getattr(r, "media_ref", "multipart")
                try:
                    parts = parse_multipart(
                        bytes(getattr(r, body_col)), getattr(r, ctype_col)
                    )
                    for fname, content in parts:
                        rows.append(
                            (f"{base}/{fname}", bytearray(content), True, "")
                        )
                except Exception as exc:  # noqa: BLE001
                    rows.append((base, bytearray(), False, str(exc)[:200]))
            yield pd.DataFrame(
                rows, columns=["media_ref", "media_bytes", "ok", "err"]
            )

    return df.mapInPandas(
        fn, "media_ref string, media_bytes binary, ok boolean, err string"
    )


def ocr_binary_media(
    media: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """OCR rows that carry inline bytes. Caller provides doc_id/offset
    (defaults derived from the path when absent)."""
    cols = media.columns
    if "doc_id" not in cols:
        media = media.withColumn("doc_id", F.col("media_ref"))
    if "offset" not in cols:
        media = media.withColumn("offset", F.lit(0))
    return ocr_media_spans(media, cfg)


def ocr_paged_media(
    pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """S3/A4: (doc_id, page_no, media_ref[, media_bytes]) one row per
    page → (doc_id, text) with pages joined '\\n\\n' in page order."""
    if "offset" not in pages.columns:
        pages = pages.withColumnRenamed("page_no", "offset")
    out = ocr_media_spans(pages, cfg)
    return out.groupBy("doc_id").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("offset", "text"))),
                lambda s: s["text"],
            ),
        ).alias("text")
    )
