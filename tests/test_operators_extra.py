"""Coverage tests: API modes, sinks, sources, two-stage plan,
similarity search, streaming."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from onnxocr_spark.config import PipelineConfig
from onnxocr_spark.datagen.documents import write_documents_parquet
from onnxocr_spark.datagen.render import render_media, expected_media_text, media_lines
from onnxocr_spark.imagecodec import encode_image
from onnxocr_spark.models.barcode import encode_bar
from onnxocr_spark.ocr.modes import detect_only, recognize_only
from onnxocr_spark.pipeline import run_extract


N_DOCS = 24


@pytest.fixture(scope="module")
def docs_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs2") / "documents.parquet")
    write_documents_parquet(path, N_DOCS)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def extracted(spark, docs_df):
    return run_extract(docs_df).cache()


# ------------------------------------------------------------- API modes
def test_detect_only_returns_reading_ordered_boxes():
    img = render_media("doc_000000000003", 0)
    boxes = detect_only(img)
    assert len(boxes) == len(media_lines("doc_000000000003", 0))
    tops = [b[0][1] for b in boxes]
    assert tops == sorted(tops)


def test_recognize_only_pre_cropped():
    texts = ["hello world", "second line"]
    crops = [np.repeat(encode_bar(t)[:, :, None], 3, axis=2) for t in texts]
    crops.append(crops[0][::-1, ::-1].copy())  # flipped copy → cls fixes it
    res = recognize_only(crops)
    assert [t for t, _ in res] == texts + [texts[0]]
    res_nocls = recognize_only(crops, cls=False)
    assert res_nocls[2][0] != texts[0]  # without cls the flipped crop misreads


# ----------------------------------------------------------------- sinks
def test_format_sinks(spark, extracted):
    from onnxocr_spark.sinks.formats import (
        doc_text,
        merged_corpus,
        spans_json,
        spans_tsv_rows,
        hocr,
    )

    texts = {r.doc_id: r.text for r in doc_text(extracted).collect()}
    assert len(texts) == N_DOCS
    # every span's text appears in the doc text, in offset order
    row = extracted.filter("doc_id = 'doc_000000000001'").first()
    spans = sorted(row.spans, key=lambda s: s.offset)
    assert texts["doc_000000000001"] == "\n".join(s.text for s in spans)

    [m] = merged_corpus(extracted).collect()
    assert m.merged.count("\n\n") >= N_DOCS - 1
    assert texts["doc_000000000000"].split("\n")[0] in m.merged

    j = spans_json(extracted).filter("doc_id = 'doc_000000000001'").first()
    import json

    parsed = json.loads(j.json)
    assert parsed["doc_id"] == "doc_000000000001"
    assert len(parsed["spans"]) == len(spans)

    tsv = spans_tsv_rows(extracted)
    assert tsv.count() == sum(len(r.spans) for r in extracted.collect())

    h = hocr(extracted).first()
    assert h.hocr.startswith("<html>") and "ocr_line" in h.hocr


# --------------------------------------------------------------- sources
def test_binary_file_source(spark, tmp_path):
    from onnxocr_spark.operators.sources import read_binary_media, ocr_binary_media

    d = tmp_path / "imgs"
    d.mkdir()
    expected = {}
    for i in range(4):
        doc, off = f"doc_{i:012d}", 1
        img = render_media(doc, off)
        p = d / f"{doc}.img1"
        p.write_bytes(encode_image(img))
        expected[str(p)] = expected_media_text(doc, off)
    media = read_binary_media(spark, str(d))
    out = {r.media_ref: r.text for r in ocr_binary_media(media).collect()}
    # binaryFile paths come back as file: URIs; compare by basename
    got = {os.path.basename(k): v for k, v in out.items()}
    exp = {os.path.basename(k): v for k, v in expected.items()}
    assert got == exp


def test_base64_source(spark):
    import base64

    from onnxocr_spark.operators.sources import from_base64, ocr_binary_media

    img = render_media("doc_000000000005", 2)
    payload = base64.b64encode(encode_image(img)).decode()
    df = spark.createDataFrame([("m1", payload)], "media_ref string, payload string")
    out = ocr_binary_media(from_base64(df)).collect()
    assert out[0].text == expected_media_text("doc_000000000005", 2)


def test_multipart_source(spark):
    """S4: a captured multipart/form-data upload body parses into one
    media row per file part, the parts OCR to their analytic expected
    text, plain form fields are skipped, and malformed bodies become
    ok=false rows instead of task failures."""
    from onnxocr_spark.operators.sources import (
        from_multipart, ocr_binary_media, parse_multipart,
    )

    imgs = {
        f"page{i}.img1": encode_image(render_media(f"doc_{i:012d}", 1))
        for i in range(2)
    }
    b = "XBOUNDX"
    body = b""
    body += f"--{b}\r\nContent-Disposition: form-data; name=\"lang\"\r\n\r\nen\r\n".encode()
    for fname, data in imgs.items():
        body += (
            f"--{b}\r\nContent-Disposition: form-data; name=\"file\"; "
            f"filename=\"{fname}\"\r\nContent-Type: application/octet-stream"
            f"\r\n\r\n".encode() + data + b"\r\n"
        )
    body += f"--{b}--\r\n".encode()
    ctype = f"multipart/form-data; boundary={b}"

    parts = parse_multipart(body, ctype)
    assert [p[0] for p in parts] == list(imgs)
    assert all(p[1] == imgs[p[0]] for p in parts)

    df = spark.createDataFrame(
        [("upload1", bytearray(body), ctype),
         ("broken", bytearray(b"not multipart at all"), ctype)],
        "media_ref string, body binary, content_type string",
    )
    media = from_multipart(df)
    rows = {r.media_ref: r for r in media.collect()}
    assert rows["broken"].ok is False and rows["broken"].err
    good = media.filter("ok")
    out = {r.media_ref: r.text for r in ocr_binary_media(good).collect()}
    for i in range(2):
        assert out[f"upload1/page{i}.img1"] == expected_media_text(
            f"doc_{i:012d}", 1
        )


def test_multipart_delimiter_is_crlf_anchored():
    """RFC 2046 framing (r5 advice): bare '--boundary' bytes inside a
    part's content, and tokens that merely *extend* the boundary
    ('--abcdef' when boundary='abc'), must not split the part — only
    CRLF + '--' + boundary followed by CRLF or '--' is a delimiter."""
    from onnxocr_spark.operators.sources import parse_multipart

    b = "abc"
    ctype = f"multipart/form-data; boundary={b}"
    # payload contains the bare boundary bytes mid-content (no CRLF
    # anchor) AND a longer token the boundary is a prefix of, anchored
    # by a real CRLF but with a non-delimiter suffix ('def' is neither
    # CRLF nor '--').
    payload = b"head --abc tail\r\n--abcdef keeps going\x00\x01"
    body = (
        f"--{b}\r\nContent-Disposition: form-data; "
        f'name="f"; filename="x.bin"\r\n\r\n'.encode()
        + payload
        + f"\r\n--{b}--\r\n".encode()
    )
    [(fname, content)] = parse_multipart(body, ctype)
    assert fname == "x.bin" and content == payload

    # transport padding after the delimiter line is tolerated
    padded = (
        f"--{b} \t\r\nContent-Disposition: form-data; "
        f'filename="y.bin"\r\n\r\n'.encode()
        + b"data"
        + f"\r\n--{b}  --".encode()
    )
    [(fname2, content2)] = parse_multipart(padded, ctype)
    assert fname2 == "y.bin" and content2 == b"data"

    # a body whose only 'closing delimiter' lacks the CRLF anchor is
    # malformed, not silently accepted
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_multipart(f"--{b}\r\nh: v\r\n\r\nx--{b}--".encode(), ctype)


def test_paged_media(spark):
    from onnxocr_spark.operators.sources import ocr_paged_media

    # pages resolved via the synthetic ref scheme; page order must hold
    rows = [("docA", p, f"img://doc_{7:012d}/{p}") for p in range(3)]
    pages = spark.createDataFrame(
        rows, "doc_id string, page_no int, media_ref string"
    )
    [out] = ocr_paged_media(pages).collect()
    exp = "\n\n".join(expected_media_text(f"doc_{7:012d}", p) for p in range(3))
    assert out.text == exp


# ------------------------------------------------------ two-stage plan
def test_two_stage_equals_fused(spark, docs_df, extracted):
    split = run_extract(docs_df, PipelineConfig(split_stages=True))

    def key(df):
        return {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in sorted(r.spans, key=lambda s: s.offset)]
            for r in df.collect()
        }

    assert key(split) == key(extracted)


def test_two_stage_bad_media_survives(spark):
    docs = spark.createDataFrame(
        [("d1", [{"kind": "media", "text": "", "media_ref": "bogus://x",
                  "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    [row] = run_extract(docs, PipelineConfig(split_stages=True)).collect()
    assert row.spans[0].text == "" and row.spans[0].media_ref == "bogus://x"


# ------------------------------------------------------------ similarity
def test_lsh_topk_recall(spark):
    from onnxocr_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = brute_force_topk(emb, k=5, n_queries=8).collect()
    approx = lsh_topk(emb, k=5, n_queries=8, n_tables=16, bits=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, f"LSH recall too low: {recall}"
    # deterministic across runs (sha256 planes, no RNG)
    approx2 = {(r.query_id, r.neighbor_id)
               for r in lsh_topk(emb, k=5, n_queries=8, n_tables=16, bits=4).collect()}
    assert approx_set == approx2


# -------------------------------------------------------------- streaming
def test_streaming_extract_matches_batch(spark, docs_df, extracted, tmp_path):
    from onnxocr_spark.streaming import run_extract_stream

    src = str(tmp_path / "in")
    docs_df.repartition(3).write.parquet(src)
    out = str(tmp_path / "out")
    q = run_extract_stream(
        spark, src, out, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == N_DOCS

    def key(rows):
        return {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in sorted(r.spans, key=lambda s: s.offset)]
            for r in rows
        }

    assert key(got.collect()) == key(extracted.collect())


def test_streaming_windowed_counts(spark, tmp_path):
    from onnxocr_spark.streaming import windowed_event_counts

    # readStream needs a directory source; stage the events table
    ev_dir = str(tmp_path / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(ev_dir)
    agg = windowed_event_counts(spark, ev_dir)
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.day, r.event_type): (r.n, r.total)
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    exp = {
        (r.day, r.event_type): (r.n, r.total)
        for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert got == exp


def test_hocr_words_per_image():
    from onnxocr_spark.ocr.textsystem import ocr_image
    from onnxocr_spark.sinks.formats import hocr_words

    img = render_media("doc_000000000002", 0)
    results = ocr_image(img)
    h = hocr_words(results, img.shape[1], img.shape[0])
    assert h.count("ocrx_word") == len(results)
    for _, text, _ in results:
        assert text in h
    assert "bbox 0 0 %d %d" % (img.shape[1], img.shape[0]) in h


def test_ppocrv5_dict_loader():
    """The v5 char dict survives in the reference snapshot; the loader
    must reproduce its size + space-char append (rec_postprocess.py:18-37)."""
    import os
    from onnxocr_spark.models.charset import load_dict_file

    path = "/root/reference/onnxocr/models/ppocrv5/ppocrv5_dict.txt"
    if not os.path.exists(path):
        import pytest

        pytest.skip("reference dict not present")
    chars = load_dict_file(path, use_space_char=True)
    assert len(chars) == 18383 + 1
    assert chars[-1] == " "
    assert len(set(chars)) == len(chars)


def test_det_resize_min_limit_type():
    from onnxocr_spark.kernels import det_resize_for_test

    img = np.zeros((100, 300, 3), dtype=np.uint8)
    out, meta = det_resize_for_test(img, limit_side_len=200, limit_type="min")
    # min side 100 < 200 → scale by 2 → (200, 600) rounded /32
    assert out.shape == (192, 608, 3)


# ----------------------------------------------------------- text stats
def test_lang_id_ngram_classifier():
    from onnxocr_spark.operators.textstats import classify_language

    assert classify_language("the cat sat on the mat and then went out") == "en"
    assert classify_language("der hund und die katze sind in der küche") == "de"
    assert classify_language("le chien et le chat sont dans la cuisine") == "fr"
    assert classify_language("el perro y el gato están en la cocina") == "es"
    assert classify_language("") == "unk"
    assert classify_language("zzz qqq xxx 123") == "unk"


def test_lang_id_ngram_spark(spark):
    from onnxocr_spark.operators.textstats import lang_id_ngram

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = lang_id_ngram(docs).groupBy("lang_pred").count().collect()
    counts = {r.lang_pred: r["count"] for r in out}
    # the synthetic corpus is English-ish word soup
    assert counts.get("en", 0) > 0.9 * sum(counts.values())


def test_ivf_topk_recall(spark):
    from onnxocr_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, k=5, n_queries=8).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(emb, k=5, n_queries=8,
                                n_clusters=8, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # deterministic (sha256-seeded k-means, no RNG)
    again = {(r.query_id, r.neighbor_id)
             for r in ivf_topk(emb, k=5, n_queries=8,
                               n_clusters=8, nprobe=4).collect()}
    assert approx == again


def test_str_count_display_width():
    from onnxocr_spark.operators.textstats import str_count

    assert str_count("abcd") == 2          # 4 - ceil(4/2)
    assert str_count("abc") == 1           # 3 - ceil(3/2)
    assert str_count("中文字") == 3         # wide chars count fully
    assert str_count("中a文b") == 3         # 4 - ceil(2/2)


def test_two_stage_equals_fused_on_heavy_docs(spark):
    """Heavy docs (index % 97 == 96: 2x-scale images that exercise the
    det resize + box rescale path, many media spans) must come out
    identical under both plans."""
    from onnxocr_spark.datagen.documents import generate_documents

    rows = generate_documents(100)[90:100]  # includes heavy doc 96
    docs = spark.createDataFrame(
        [(r["doc_id"], r["spans"]) for r in rows],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    def key(df):
        return {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in sorted(r.spans, key=lambda s: s.offset)]
            for r in df.collect()
        }

    fused = key(run_extract(docs))
    split = key(run_extract(docs, PipelineConfig(split_stages=True)))
    assert fused == split
    # and both match the analytic expectation
    from onnxocr_spark.datagen.documents import expected_output_rows

    exp = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in sorted(r["spans"], key=lambda s: s["offset"])]
        for r in expected_output_rows(100)[90:100]
    }
    assert fused == exp


def test_cosine_pairs_blocked_exact_multiblock(spark):
    """The blocked-GEMM exact pair operator must reproduce the naive
    all-pairs result regardless of blocking; block_rows=40 forces ~4
    blocks (diagonal + off-diagonal paths both exercised) on the
    150-vector sf0.001 table. Also pins that no CartesianProduct /
    BroadcastNestedLoopJoin appears in the physical plan."""
    import numpy as np

    from onnxocr_spark.operators.similarity import cosine_pairs_blocked

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sim = mat @ mat.T
    ids = pdf["vec_id"].to_numpy()
    ii, jj = np.nonzero(sim >= 0.25)
    expected = {(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)
                if ids[i] < ids[j]}

    got_df = cosine_pairs_blocked(emb, threshold=0.25, block_rows=40)
    got = {(r.id_a, r.id_b) for r in got_df.collect()}
    assert got == expected

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_cosine_pairs_bucketed_is_cell_restricted_subset(spark):
    """Cluster-first SemDeDup pair source: every vector lands in exactly
    one seed cell; the bucketed pairs are exactly the global exact pairs
    whose endpoints share a cell (SemDeDup semantics — nothing else
    dropped, nothing invented); and the pair stage is physically keyed
    by the cell id (no global GEMM in the plan)."""
    from onnxocr_spark.operators.similarity import (
        cosine_pairs_blocked, cosine_pairs_bucketed, seed_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells = {r.vec_id: r.cell for r in seed_cells(emb, 8).collect()}
    assert len(cells) == emb.count(), "every vector must be assigned"
    assert len(set(cells.values())) <= 8

    got_df = cosine_pairs_bucketed(emb, threshold=0.3, n_cells=8,
                                   block_rows=40)
    # plan BEFORE execution — the final AQE string elides materialized
    # stages, so the structural assertions run on the initial plan
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    got = {(r.id_a, r.id_b) for r in got_df.collect()}
    exact = {(r.id_a, r.id_b)
             for r in cosine_pairs_blocked(emb, threshold=0.3,
                                           block_rows=40).collect()}
    assert got == {(a, b) for a, b in exact if cells[a] == cells[b]}

    assert "CartesianProduct" not in plan
    # r4 shape (VERDICT r3 item 7): assignment is a per-row Arrow UDF —
    # no join of any kind feeds the cells, and the embedding payload
    # crosses exactly ONE exchange, the pair stage's (cell, ga, gb) one
    import re
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" not in plan, plan
    assert re.search(r"hashpartitioning\(cell", plan), (
        "pair stage must be keyed by the cell id")
    assert plan.count("Exchange") == 1, plan


def test_seed_cells_assignment_adds_no_shuffle(spark):
    """VERDICT r3 item 7: the argmax-cosine cell assignment must not
    move the embedding payload — no Exchange and no join anywhere in
    the seed_cells output plan (the seeds are a bounded driver-side
    collect captured by one Arrow-batched UDF)."""
    from onnxocr_spark.operators.similarity import seed_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        seed_cells(emb, 8)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan or "Python" in plan, plan


def test_adaptive_n_cells_derivation():
    """Pin the C = max(16, ceil(sqrt(N))) rule and its exactness: the
    Python integer-isqrt derivation must equal DuckDB's double-sqrt
    GREATEST(16, CEIL(SQRT(N))) (the oracle CTE's nc) for every N the
    battery or a realistic corpus can hit, including perfect squares
    and their neighbors where double rounding could plausibly bite."""
    import duckdb

    from onnxocr_spark.operators.similarity import adaptive_n_cells

    assert adaptive_n_cells(0) == 16
    assert adaptive_n_cells(1) == 16
    assert adaptive_n_cells(256) == 16
    assert adaptive_n_cells(257) == 17
    assert adaptive_n_cells(500) == 23   # sf0.01 embeddings
    assert adaptive_n_cells(2000) == 45  # sf0.1 embeddings
    assert adaptive_n_cells(10**12) == 10**6

    con = duckdb.connect()
    ns = [1, 2, 255, 256, 257, 500, 2000, 9999, 10000, 10001,
          10**6 - 1, 10**6, 10**6 + 1, 10**12 - 1, 10**12, 10**12 + 1]
    for n in ns:
        (sql_c,) = con.execute(
            "SELECT GREATEST(16, CAST(CEIL(SQRT(?::DOUBLE)) AS BIGINT))",
            [n],
        ).fetchone()
        assert sql_c == adaptive_n_cells(n), (n, sql_c, adaptive_n_cells(n))


def test_cosine_pairs_bucketed_default_is_adaptive(spark):
    """The shipped queries pass n_cells=None — pin that this resolves
    to adaptive_n_cells(N) cells (sf0.001: N=500 → 23; the derivation
    difference across SFs is covered by the oracle gate at
    sf0.01=23 / sf0.1=45)."""
    from onnxocr_spark.operators.similarity import (
        adaptive_n_cells, cosine_pairs_bucketed, seed_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    nc = adaptive_n_cells(n)
    cells = {r.vec_id: r.cell for r in seed_cells(emb, nc).collect()}
    got = {(r.id_a, r.id_b)
           for r in cosine_pairs_bucketed(emb, threshold=0.3).collect()}
    # every returned pair shares its adaptive cell
    assert got, "sf0.001 must produce at least one within-cell pair"
    assert all(cells[a] == cells[b] for a, b in got)


def test_seed_cells_partition_invariant(spark):
    """seed_cells must be a pure function of the DATA, not the layout:
    identical cell assignments whatever the partitioning of the input
    (the DuckDB oracles re-derive the cells with no notion of
    partitions, and retried/speculated tasks must agree)."""
    from onnxocr_spark.operators.similarity import seed_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {r.vec_id: r.cell for r in seed_cells(emb, 8).collect()}
    for layout in (emb.repartition(17), emb.repartition(3, "label"),
                   emb.coalesce(1)):
        got = {r.vec_id: r.cell for r in seed_cells(layout, 8).collect()}
        assert got == base


def test_decontaminate_short_doc_guard(spark, tmp_path):
    """Docs under the 8-token shingle width must be silently clean (no
    shingles → never flagged, no crash) in BOTH engines — the shipped
    corpus has no such docs, so the battery never exercises the guard."""
    import duckdb

    import __spark_entry__ as em

    rows = [
        (0, "alpha beta gamma"),                      # eval slice, too short
        (1, "w0 w1 w2 w3 w4 w5 w6 w7 w8"),            # eval slice (id%100<2)
        (102, "w0 w1 w2 w3 w4 w5 w6 w7 other tail"),  # overlaps eval 8-gram
        (103, "x0 x1 x2 x3 x4 x5 x6 x7 x8"),          # clean
        (104, "tiny doc"),                            # too short, train side
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "docs.parquet")
    df.write.parquet(path)

    spark.read.parquet(path).createOrReplaceTempView("documents")
    try:
        got = {
            (r.doc_id, r.n_hits)
            for r in spark.sql(
                em._DECONTAM_SPARK.format(
                    docs_src="SELECT doc_id, text FROM documents")
            ).collect()
        }
    finally:
        # the session fixture is shared: drop the crafted overlay and
        # invalidate the registration memo so later queries() calls
        # re-register the real corpus views
        spark.catalog.dropTempView("documents")
        em._REGISTERED.pop(spark, None)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    oracle = set(map(tuple, con.execute(em._DECONTAM_DUCK).fetchall()))
    assert got == oracle == {(102, 1)}


def test_chunk_documents_rule_on_edge_lengths(spark):
    """The chunking rule on crafted docs of every boundary length
    (1 token, exactly one window, one-past, stride multiples ±1):
    starts are 48·i for i ≤ floor((n−1)/48), every token is covered by
    at least one chunk, tail chunks shorten, and the md5 fingerprint is
    the hash of exactly the slice — verified against an independent
    Python derivation."""
    import hashlib

    import __spark_entry__ as em

    lengths = [1, 2, 47, 48, 49, 63, 64, 65, 96, 97, 112, 113, 160]
    rows = [(n, " ".join(f"w{n}_{k}" for k in range(n))) for n in lengths]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("chunkdocs")
    got = {}
    for r in spark.sql(em._CHUNK_SPARK.format(
            docs_src="SELECT doc_id, text FROM chunkdocs")).collect():
        got[(r.doc_id, r.chunk_id)] = (r.n_tok, r.chunk_hash)

    for n, text in rows:
        toks = text.split(" ")
        n_chunks = (n - 1) // 48 + 1
        covered = set()
        for i in range(n_chunks):
            chunk = toks[i * 48: i * 48 + 64]
            covered.update(range(i * 48, i * 48 + len(chunk)))
            exp_hash = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            assert got[(n, i)] == (len(chunk), exp_hash), (n, i)
        assert covered == set(range(n)), f"coverage hole at n={n}"
        assert (n, n_chunks) not in got, f"extra chunk at n={n}"


def test_register_memoizes_per_session_and_sf(spark):
    """_register reads ten parquet footers (~1 s driver-side) and every
    queries() entry calls it, so it memoizes per (session, sf_dir):
    a repeat call with the same sf is a no-op (it must NOT clobber the
    session's current views), switching sf re-registers, and popping
    the memo forces a reset (what view-overlaying tests must do). A memo
    hit still re-applies the workload SQL confs, so a conf flipped on
    the shared session cannot leak into later battery queries (ADVICE
    r4)."""
    import __spark_entry__ as em
    from onnxocr_spark.pipeline import WORKLOAD_SQL_CONFS

    em._REGISTERED.pop(spark, None)
    em._register(spark, "/root/testdata/sf0.1")
    n1 = spark.table("embeddings").count()   # 2000
    em._register(spark, "/root/testdata/sf0.01")
    n2 = spark.table("embeddings").count()   # 500
    assert n2 != n1, "switching sf_dir must re-register the views"
    try:
        spark.createDataFrame(
            [(1, [0.5])], "vec_id long, embedding array<double>"
        ).createOrReplaceTempView("embeddings")
        em._register(spark, "/root/testdata/sf0.01")  # memo hit: no reset
        assert spark.table("embeddings").count() == 1
        for key, value in WORKLOAD_SQL_CONFS.items():
            spark.conf.set(
                key, "false" if value == "true" else str(int(value) + 1)
            )
        em._register(spark, "/root/testdata/sf0.01")  # memo hit again
        assert spark.table("embeddings").count() == 1
        assert {k: spark.conf.get(k) for k in WORKLOAD_SQL_CONFS} == (
            WORKLOAD_SQL_CONFS
        )
        em._REGISTERED.pop(spark, None)
        em._register(spark, "/root/testdata/sf0.01")  # forced reset
        assert spark.table("embeddings").count() == n2
    finally:
        em._REGISTERED.pop(spark, None)
        for key, value in WORKLOAD_SQL_CONFS.items():
            spark.conf.set(key, value)


def test_embedding_oracle_float_margins():
    """Cross-engine float-boundary audit for the embedding battery (the
    analog of check_oracles --audit-floats, which only sees ROUND): the
    seed-cell argmax and the 0.25/0.45 cosine thresholds are portable
    between Spark's fold, numpy's GEMM and DuckDB's
    list_cosine_similarity only if no decision sits within float noise
    of its boundary. Pin the margins on the driver-generated data at
    both gated SFs. All engines now evaluate in float64 (the oracles
    cast ::DOUBLE[] — DuckDB's FLOAT[] path computes in float32 with
    ~1e-7 error, more than the tightest threshold margin below), so
    cross-engine discrepancy is reassociation-only (~1e-14): 1e-12 on
    the thresholds and 1e-6 on the argmax still leave orders of
    safety. r4: seeds are the ADAPTIVE count (sf0.01: 23, sf0.1: 45) —
    measured margins 8.4e-5 / 1.8e-6, still ≥8 orders above the
    ~1e-14 reassociation noise."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from onnxocr_spark.operators.similarity import adaptive_n_cells

    for sf in ("0.01", "0.1"):
        t = pq.read_table(f"/root/testdata/sf{sf}/embeddings.parquet")
        ids = t["vec_id"].to_numpy()
        mat = np.stack(t["embedding"].to_pylist()).astype(np.float64)
        norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        order = sorted(
            range(len(ids)),
            key=lambda k: (hashlib.md5(str(ids[k]).encode()).hexdigest(),
                           ids[k]),
        )
        seeds = norm[order[: adaptive_n_cells(len(ids))]]
        cos = norm @ seeds.T
        top2 = np.sort(cos, axis=1)[:, -2:]
        argmax_margin = float((top2[:, 1] - top2[:, 0]).min())
        sim = norm @ norm.T
        vals = sim[np.triu_indices(len(ids), 1)]
        m25 = float(np.abs(vals - 0.25).min())
        m45 = float(np.abs(vals - 0.45).min())
        assert argmax_margin > 1e-6, (sf, argmax_margin)
        assert m25 > 1e-12 and m45 > 1e-12, (sf, m25, m45)

        # r5 semantic_incremental: the full table argmax-assigns to
        # BATCH1-derived seeds (md5-smallest of vec_id < midpoint,
        # adaptive count over batch1) — a different comparison set, so
        # its decision margins need their own pin. The 0.45 pair
        # threshold margins are a subset of `vals` above.
        s = (int(ids.max()) + 1) // 2
        old_pos = [k for k in range(len(ids)) if ids[k] < s]
        order1 = sorted(
            old_pos,
            key=lambda k: (hashlib.md5(str(ids[k]).encode()).hexdigest(),
                           ids[k]),
        )
        seeds1 = norm[sorted(order1[: adaptive_n_cells(len(old_pos))],
                             key=lambda k: ids[k])]
        cos1 = norm @ seeds1.T
        top2b = np.sort(cos1, axis=1)[:, -2:]
        m_inc = float((top2b[:, 1] - top2b[:, 0]).min())
        assert m_inc > 1e-6, (sf, m_inc)


def _two_level_reference(ids, mat, n_cells):
    """Independent numpy re-derivation of the two-level seed_cells rule
    (md5-ordered seeds, first ⌈√C⌉ as supers, self-pinned groups,
    argmax-over-supers then argmax-within-group)."""
    import hashlib
    import math

    import numpy as np

    order = sorted(
        range(len(ids)),
        key=lambda k: (hashlib.md5(str(ids[k]).encode()).hexdigest(), ids[k]),
    )
    seed_pos = order[:n_cells]
    n_super = max(1, math.isqrt(max(0, len(seed_pos) - 1)) + 1)
    super_ids = {ids[p] for p in seed_pos[:n_super]}
    seed_pos = sorted(seed_pos, key=lambda p: ids[p])
    sid = np.array([ids[p] for p in seed_pos])
    smat = mat[seed_pos]
    sn = smat / np.linalg.norm(smat, axis=1, keepdims=True)
    sup = np.array([i for i, s in enumerate(sid) if s in super_ids])
    un = sn[sup]
    grp = np.argmax(sn @ un.T, axis=1)
    grp[sup] = np.arange(len(sup))
    vn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    g = np.argmax(vn @ un.T, axis=1)
    out = np.empty(len(ids), dtype=sid.dtype)
    for gi in np.unique(g):
        sel = g == gi
        members = np.where(grp == gi)[0]
        out[sel] = sid[members[np.argmax(vn[sel] @ sn[members].T, axis=1)]]
    return out


def test_two_level_assignment(spark):
    """Two-level SemDeDup assignment (VERDICT r4 item 3).

    (a) On a fixture sized PAST the auto-engage threshold (5000 vectors,
        n_cells=4160 > TWO_LEVEL_CELLS_THRESHOLD, two_level=None) the
        hierarchical path engages on its own and every cell matches the
        independent numpy re-derivation of the rule.
    (b) At the battery parameters (C=32 forced) the assignment matches
        the reference AND provably differs from FLAT argmax somewhere —
        the two-level path really executed.
    (c) The plan stays join-free and Exchange-free: vectors cross zero
        shuffles for assignment.
    (d) Float margins of every new argmax decision (vec→super,
        seed→super, within-group) clear 1e-6 at both gated SFs, so the
        DuckDB oracle's loop-summed cosines cannot flip a decision."""
    import numpy as np
    import pyarrow.parquet as pq

    from onnxocr_spark.operators import similarity
    from onnxocr_spark.operators.similarity import seed_cells

    # (a) past-threshold auto-engage
    rng = np.random.default_rng(42)
    big = rng.standard_normal((5000, 16))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in big[i]]) for i in range(5000)],
        "vec_id long, embedding array<double>",
    )
    assert 4160 > similarity.TWO_LEVEL_CELLS_THRESHOLD
    got = {
        r.vec_id: r.cell
        for r in seed_cells(df, 4160, two_level=None).collect()
    }
    ref = _two_level_reference(np.arange(5000), big, 4160)
    assert got == {i: int(ref[i]) for i in range(5000)}

    # (b) battery parameters on the real table; differs from flat
    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    mat = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    two = {r.vec_id: r.cell for r in seed_cells(emb, 32, two_level=True).collect()}
    flat = {r.vec_id: r.cell for r in seed_cells(emb, 32, two_level=False).collect()}
    ref2 = _two_level_reference(ids, mat, 32)
    assert two == {int(ids[i]): int(ref2[i]) for i in range(len(ids))}
    assert two != flat  # hierarchical approximation visibly engaged

    # (c) zero exchanges, zero joins in the assignment plan
    plan = seed_cells(emb, 32, two_level=True)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan

    # (d) decision margins at both gated SFs, battery params C=32/S=6
    for sf in ("0.01", "0.1"):
        ts = pq.read_table(f"/root/testdata/sf{sf}/embeddings.parquet")
        idsf = ts["vec_id"].to_numpy()
        m = np.stack(ts["embedding"].to_pylist()).astype(np.float64)
        import hashlib
        import math
        order = sorted(
            range(len(idsf)),
            key=lambda k: (hashlib.md5(str(idsf[k]).encode()).hexdigest(),
                           idsf[k]),
        )
        seed_pos = sorted(order[:32], key=lambda p: idsf[p])
        n_super = math.isqrt(31) + 1
        super_ids = {idsf[p] for p in order[:32][:n_super]}
        sn = m[seed_pos] / np.linalg.norm(m[seed_pos], axis=1, keepdims=True)
        sup = np.array([i for i, p in enumerate(seed_pos)
                        if idsf[p] in super_ids])
        un = sn[sup]
        vn = m / np.linalg.norm(m, axis=1, keepdims=True)

        def min_margin(cos):
            top2 = np.sort(cos, axis=1)[:, -2:]
            return float((top2[:, 1] - top2[:, 0]).min())

        assert min_margin(vn @ un.T) > 1e-6, sf          # vec→super
        assert min_margin(sn @ un.T) > 1e-6, sf          # seed→super
        grp = np.argmax(sn @ un.T, axis=1)
        grp[sup] = np.arange(len(sup))
        g = np.argmax(vn @ un.T, axis=1)
        for gi in np.unique(g):
            members = np.where(grp == gi)[0]
            if len(members) >= 2:
                assert min_margin(vn[g == gi] @ sn[members].T) > 1e-6, sf


def test_bucketed_pairs_consistent_under_two_level_cells(spark):
    """cosine_pairs_bucketed auto-transitions to two-level assignment
    past TWO_LEVEL_CELLS_THRESHOLD (seed_cells two_level=None). The
    pair scan must behave identically under either assignment given the
    same cells — and with two-level FORCED at the battery C the emitted
    pairs are exactly the within-cell ≥t pairs of the two-level cells
    (cross-checked in numpy), i.e. the integration point changes WHICH
    cells, never the pair semantics."""
    import numpy as np
    import pyarrow.parquet as pq

    from onnxocr_spark.operators.similarity import (
        cosine_pairs_blocked, seed_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells = seed_cells(emb, 32, two_level=True)
    pairs = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_blocked(
            cells, 0.45, 64, cell_col="cell", cells_hint=32
        ).select("id_a", "id_b").collect()
    }
    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    mat = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    ref_cells = _two_level_reference(ids, mat, 32)
    vn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sim = vn @ vn.T
    expect = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids)) for j in range(i + 1, len(ids))
        if ref_cells[i] == ref_cells[j] and sim[i, j] >= 0.45
    }
    assert pairs == expect and expect  # non-vacuous


def test_ann_codebook_sampling_is_not_an_id_prefix(spark):
    """r6 (VERDICT r5 item 1): IVF/PQ codebook training must sample by
    smallest md5(vec_id), not an id prefix. Fixture: ids 10..4105 are
    ONE tight synthetic 'ingestion shard' cluster (the prefix a biased
    sampler would train on almost exclusively), the query ids 0..9 and
    everything past 4105 spread over 32 other clusters. With the r5
    orderBy(vec_id).limit(4096) sample this test FAILS both ways
    (measured: PQ recall 0.36, and the non-shard half of the corpus
    collapsed into ONE IVF cell); the md5 discipline reads PQ 0.88 and
    10 well-spread cells."""
    import numpy as np

    from onnxocr_spark.operators.similarity import (
        _ivf_centroids, brute_force_topk, ivf_assign, pq_topk,
    )

    rows = []
    for i in range(8192):
        if 10 <= i < 4106:
            v = np.zeros(64)
            v[0] = 1.0
            v += 0.02 * np.random.RandomState(i).randn(64)
        else:
            v = np.zeros(64)
            v[1 + (i % 32)] = 1.0
            v += 0.05 * np.random.RandomState(100000 + i).randn(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    emb.count()

    bf = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, 5, 10).collect()}
    pq = {(r.query_id, r.neighbor_id) for r in pq_topk(emb, 5, 10).collect()}
    assert len(pq & bf) / len(bf) >= 0.70, "PQ recall collapsed: codebooks trained on a biased sample"

    cents = _ivf_centroids(emb, 16, iters=10)
    sec = ivf_assign(emb, cents).filter("vec_id >= 4106").groupBy(
        "cluster"
    ).count().collect()
    total = sum(r["count"] for r in sec)
    assert len(sec) >= 4, "non-shard corpus collapsed into too few IVF cells"
    assert max(r["count"] for r in sec) / total <= 0.5
    emb.unpersist()


def test_ann_recall_gates_vs_brute_force(spark):
    """Quantitative pass criterion for the two approximate ANN operators
    (VERDICT r2 item 5): recall@5 against the exact brute-force top-k,
    at the same parameters the queries() entries ship. Both operators
    are deterministic (sha256 hyperplanes / md5-seeded k-means sample),
    so the measured recalls are stable — 0.86 (LSH) and 0.88 (IVF,
    r4 shipped params nprobe=8/16, iters=10, on near-isotropic 64-dim
    vectors where recall tracks candidate coverage) on sf0.001; gates
    sit just below to absorb BLAS summation-order differences only
    (IVF gate ≥0.75 per VERDICT r3 item 5). r4 adds the PQ family
    (compressed-domain ADC scan + exact re-rank): measured 0.88 at
    the shipped defaults, gated ≥0.80."""
    from onnxocr_spark.operators.similarity import (
        brute_force_topk, ivf_topk, lsh_topk, pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(emb, 5, 10).collect()}
    lsh = {(r.query_id, r.neighbor_id)
           for r in lsh_topk(emb, 5, 10, n_tables=16, bits=4).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ivf_topk(emb, 5, 10, n_clusters=16, nprobe=8,
                             iters=10).collect()}
    pq = {(r.query_id, r.neighbor_id)
          for r in pq_topk(emb, 5, 10).collect()}
    assert len(bf) == 50
    assert len(lsh & bf) / len(bf) >= 0.80
    assert len(ivf & bf) / len(bf) >= 0.75
    assert len(pq & bf) / len(bf) >= 0.80


def test_pq_topk_large_query_set_tiles(spark):
    """VERDICT r4 item 5: pq_topk's ADC scan is tiled over query chunks
    so N·Q rows never materialize in one pass. A 150-query run at
    query_tile=64 (3 tiles) must (a) complete, (b) produce EXACTLY the
    same result as a single-tile run (tiling touches only batching,
    never scores), and (c) show the per-tile passes as a union in the
    plan; the shipped Q=10 stays single-tile with the r4 plan."""
    from onnxocr_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tiled = pq_topk(emb, 5, 150, query_tile=64)
    plan = tiled._jdf.queryExecution().executedPlan().toString()
    # one ADC posexplode (Generate) per tile, unioned
    assert plan.count("Generate") >= 3 and "Union" in plan
    got = {(r.query_id, r.neighbor_id, r.rank) for r in tiled.collect()}
    ref = {(r.query_id, r.neighbor_id, r.rank)
           for r in pq_topk(emb, 5, 150, query_tile=1024).collect()}
    assert got == ref and len(got) == 150 * 5
    single = pq_topk(emb, 5, 10)
    assert "Union" not in single._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ PDF source
def test_pages_container_roundtrip():
    from onnxocr_spark.operators.sources import (
        encode_pages_container, rasterize_pdf_bytes,
    )

    pages = [render_media("doc_000000000003", p) for p in range(3)]
    data = encode_pages_container(pages)
    out = rasterize_pdf_bytes(data)
    assert len(out) == 3
    for a, b in zip(pages, out):
        assert a.shape == b.shape and (a == b).all()


def test_rasterize_rejects_garbage_and_gates_pdf():
    import pytest as _pt

    from onnxocr_spark.operators import sources

    with _pt.raises(ValueError):
        sources.rasterize_pdf_bytes(b"not a pdf at all")
    if sources.fitz is None:
        # pymupdf absent in this sandbox: the %PDF branch must fail
        # loudly (callers turn this into an ok=false row)
        with _pt.raises(RuntimeError, match="pymupdf"):
            sources.rasterize_pdf_bytes(b"%PDF-1.4 stub")
    else:  # pragma: no cover - runs only when the wheel appears
        out = sources.rasterize_pdf_bytes(_MINIMAL_PDF)
        assert len(out) >= 1 and out[0].ndim == 3


# one-blank-page PDF for the gated real-pymupdf branch
_MINIMAL_PDF = (
    b"%PDF-1.4\n1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
    b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
    b"3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 72 72]>>endobj\n"
    b"trailer<</Root 1 0 R>>\n%%EOF"
)


def test_pdf_to_pages_e2e(spark):
    """Container → page rows → per-page OCR → '\\n\\n' page join must
    reproduce the analytic per-page text; bad bytes yield ok=false rows
    without killing the job (S3, ocr_images_pdfs.py:141-165 analog)."""
    import pandas as pd

    from onnxocr_spark.operators.sources import (
        encode_pages_container, pdf_to_pages, ocr_paged_media,
    )

    def make(did, n):
        return encode_pages_container([render_media(did, p) for p in range(n)])

    rows = [
        ("doc_000000000005", make("doc_000000000005", 2)),
        ("doc_000000000006", make("doc_000000000006", 3)),
        ("bad_doc", b"garbage bytes"),
    ]
    pdfs = spark.createDataFrame(rows, "doc_id string, pdf_bytes binary")
    pages = pdf_to_pages(pdfs)
    got = {(r.doc_id, r.page_no): r for r in pages.collect()}
    assert not got[("bad_doc", -1)].ok
    assert got[("doc_000000000006", 2)].ok

    out = {r.doc_id: r.text
           for r in ocr_paged_media(pages.filter("ok")).collect()}
    for did, n in (("doc_000000000005", 2), ("doc_000000000006", 3)):
        exp = "\n\n".join(expected_media_text(did, p) for p in range(n))
        assert out[did] == exp


# ------------------------------------------------------- real-ORT gating
REAL_CLS_ONNX = "/root/reference/onnxocr/models/ppocrv5/cls/cls.onnx"


def test_ort_gate_raises_without_wheel():
    """The .onnx loading path must fail with a clear message when
    onnxruntime is absent (never silently fall back to a stub)."""
    from onnxocr_spark.models import sessions

    if sessions._HAS_ORT:
        pytest.skip("onnxruntime present; gate not reachable")
    with pytest.raises(RuntimeError, match="onnxruntime"):
        sessions.get_session(REAL_CLS_ONNX)


@pytest.mark.skipif(
    not __import__("onnxocr_spark.models.sessions", fromlist=["_HAS_ORT"])._HAS_ORT
    or not os.path.exists(REAL_CLS_ONNX),
    reason="onnxruntime wheel not in this sandbox (VERDICT r1 item 7); "
    "runs automatically if it appears",
)
def test_real_cls_onnx_contract():  # pragma: no cover - needs ORT wheel
    """_OrtSession on the reference's intact cls.onnx must honor the
    stub contract shape: (N,3,48,192) cls-normalized batch -> (N,2)
    probabilities summing to ~1 (predict_cls.py post-softmax output)."""
    import numpy as np

    from onnxocr_spark.kernels.resize import cls_resize_norm
    from onnxocr_spark.models.sessions import get_session

    sess = get_session(REAL_CLS_ONNX)
    crops = [render_media("doc_000000000009", 0)[:48, :192],
             render_media("doc_000000000011", 1)[:48, :192]]
    batch = np.stack([cls_resize_norm(np.repeat(c, 3, axis=2)) for c in crops])
    out = sess.run(batch.astype(np.float32))
    assert out.shape == (2, 2)
    assert np.allclose(out.sum(axis=1), 1.0, atol=1e-3)


def test_two_stage_rec_batch_by_image_equals_fused(
    spark, docs_df, extracted, monkeypatch
):
    """A real rec model co-locates and batches crops per (doc_id,
    offset) — the fused/reference per-image batching contract
    (bit-faithful with real rec weights; ADVICE r1) — and must produce
    the identical spans. The path is chosen on the driver at plan time,
    so making the driver see a real model reaches it; workers still
    load the stub."""
    from onnxocr_spark.models import sessions

    monkeypatch.setattr(sessions, "is_real_model", lambda name: True)

    def key(df):
        return {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.offset)
                       for s in sorted(r.spans, key=lambda s: s.offset)]
            for r in df.collect()
        }

    split = run_extract(docs_df, PipelineConfig(split_stages=True))
    assert key(split) == key(extracted)

    # group integrity (ADVICE r2): the per-image path must be a grouped
    # map keyed by (doc_id, offset) — applyInPandas hands the UDF every
    # crop of an image at once, so Arrow batch boundaries can never
    # split an image into two rec pools
    plan = split._jdf.queryExecution().executedPlan().toString()
    import re
    assert re.search(r"FlatMapGroupsInPandas \[doc_id#\d+, offset#\d+\]", plan), plan


def test_rec_batch_by_image_defaults_to_real_model(spark):
    """The bit-faithful per-image batching contract must be ON whenever
    the rec session is a real ONNX model (VERDICT r2 item 7) — never
    dependent on a flag nobody sets; stubs keep crop grain for balance."""
    from onnxocr_spark.operators.two_stage import resolve_rec_batch_by_image

    assert resolve_rec_batch_by_image(PipelineConfig()) is False  # stub rec
    assert resolve_rec_batch_by_image(
        PipelineConfig(rec_model="models/rec.onnx")
    ) is True
    assert resolve_rec_batch_by_image(
        PipelineConfig(rec_model="spark:rec.onnx")
    ) is True


def test_is_real_model_keys_on_registry_resolution():
    """ADVICE r3: the batching-contract signal must classify by what
    actually RESOLVES, not by the name string — a session pre-registered
    under an arbitrary name is typed by its object (a real session gets
    the per-image default whatever it is called), and a name the
    registry cannot resolve raises eagerly instead of silently keeping
    crop-grain batching."""
    import pytest as _pt

    from onnxocr_spark.models import sessions, stubs

    assert sessions.is_real_model("rec_stub") is False
    assert sessions.is_real_model("models/rec.onnx") is True
    with _pt.raises(KeyError):
        sessions.is_real_model("totally_unknown_model")
    try:
        sessions._SESSIONS["custom_rec"] = object()  # a "real" session
        assert sessions.is_real_model("custom_rec") is True
        sessions._SESSIONS["custom_stub"] = stubs.RecStubSession()
        assert sessions.is_real_model("custom_stub") is False
    finally:
        sessions._SESSIONS.pop("custom_rec", None)
        sessions._SESSIONS.pop("custom_stub", None)


def test_streaming_stateful_exact_dedup(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: a duplicate arriving in
    a LATER micro-batch must be flagged against state from an earlier
    one (the stateful operator a streaming training-data pipeline needs;
    batch analog is the `dedup_exact` oracle query)."""
    import os as _os

    import pandas as pd

    from onnxocr_spark.streaming.extract import streaming_exact_dedup

    src = str(tmp_path / "docs")
    _os.makedirs(src)
    files = [
        [(0, "a b c d x0"), (1, "p q r s y0")],
        [(2, "a b c d z1"), (3, "unique text here now t")],
        [(4, "a b c d w2"), (5, "p q r s t2")],
    ]
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f"{src}/part-{i}.parquet"
        )
        _os.utime(f"{src}/part-{i}.parquet", (1000 * (i + 1), 1000 * (i + 1)))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch:
        .parquet(src)                        # state must carry across
    )
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedupstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.doc_id: r.is_first for r in spark.sql(
        "SELECT * FROM dedupstream").collect()}
    assert got == {0: True, 1: True, 2: False, 3: True, 4: False, 5: False}


def test_streaming_near_dedup_matches_batch_online_policy(spark, tmp_path):
    """Cross-batch ONLINE near-dup (applyInPandasWithState over LSH
    band signatures) must agree exactly with the batch
    `dedup_online_band_keepers` query on identical doc-id-ordered
    input: keeper set == the batch HAVING bool_and(first) set, an
    exact duplicate arriving in a later micro-batch is retired by
    state, and a sub-shingle-width doc emits no band rows at all."""
    import os as _os

    import pandas as pd

    import __spark_entry__ as em
    from onnxocr_spark.streaming.extract import streaming_near_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    files = [
        [(0, base),
         (1, "totally different words compose this one stream here")],
        [(2, base),                      # exact dup of 0, later batch
         (3, base + " tailchange"),      # near-dup of 0
         (4, "short un")],               # < 3 tokens → no shingles
        [(5, "another unrelated document with its own tokens five six")],
    ]
    src = str(tmp_path / "neardocs")
    _os.makedirs(src)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f"{src}/part-{i}.parquet"
        )
        _os.utime(f"{src}/part-{i}.parquet", (1000 * (i + 1), 1000 * (i + 1)))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        streaming_near_dedup(stream)
        .writeStream.format("memory")
        .queryName("neardedupstream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM neardedupstream").collect()

    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.is_first)
    assert all(len(v) == 4 for v in per_doc.values()), per_doc
    stream_keepers = {d for d, v in per_doc.items() if all(v)}

    all_rows = [r for f in files for r in f]
    spark.createDataFrame(
        all_rows, "doc_id long, text string"
    ).createOrReplaceTempView("sdocs")
    batch_keepers = {
        r.doc_id
        for r in spark.sql(em._ONLINE_BAND_SPARK.format(
            docs_src="SELECT doc_id, text FROM sdocs")).collect()
    }
    assert stream_keepers == batch_keepers
    assert 0 in batch_keepers and 2 not in batch_keepers  # state-retired dup
    assert 2 in per_doc and not any(per_doc[2])  # all four bands seen before
    assert 4 not in per_doc  # sub-shingle doc emits no bands


def test_streaming_near_dedup_bootstraps_from_sigindex(spark, tmp_path):
    """r5: streaming_near_dedup(sigindex=…) continues a committed batch
    run — every committed band signature counts as already-seen via a
    stream-static anti-lookup, so streamed duplicates of committed docs
    (kept OR retired) are retired even though those docs never enter
    the stream. Keeper set ≡ what `dedup_job --resume --policy online`
    decides on the same new docs (banded part; sub-shingle docs emit
    no band rows, as in the batch twin)."""
    import os as _os
    import sys

    import pandas as pd

    sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "jobs"))
    import dedup_job

    from onnxocr_spark.streaming.extract import streaming_near_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq1 = "totally different words compose this one stream here"
    batch1 = [(0, base), (1, uniq1), (2, base),
              (3, base + " tailchange"), (5, "another unrelated document "
              "with its own tokens five six")]
    b1 = str(tmp_path / "b1")
    spark.createDataFrame(batch1, "doc_id long, text string").write.parquet(b1)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", b1, "--output", root,
                           "--policy", "online", "--run-id", "r1"]) == 0

    files = [
        [(10, base + " tailchange"),     # dups RETIRED doc 3's bands
         (11, uniq1)],                   # dups kept doc 1's bands
        [(12, "a wholly new topic covered by fresh vocabulary entirely"),
         (13, "a wholly new topic covered by fresh vocabulary entirely"),
         (14, "tiny doc")],              # sub-shingle
    ]
    src = str(tmp_path / "newdocs")
    _os.makedirs(src)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f"{src}/part-{i}.parquet"
        )
        _os.utime(f"{src}/part-{i}.parquet", (1000 * (i + 1), 1000 * (i + 1)))

    sigindex = spark.read.parquet(f"{root}/sigindex/run=r1")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        streaming_near_dedup(stream, sigindex=sigindex)
        .writeStream.format("memory")
        .queryName("neardedupboot")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckptb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    per_doc = {}
    for r in spark.sql("SELECT * FROM neardedupboot").collect():
        per_doc.setdefault(r.doc_id, []).append(r.is_first)
    stream_keepers = {d for d, v in per_doc.items() if all(v) and len(v) == 4}

    # batch-resume twin on the same new docs
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [r for f in files for r in f], "doc_id long, text string"
    ).write.parquet(b2)
    assert dedup_job.main(["--input", b2, "--output", root,
                           "--policy", "online", "--run-id", "r2",
                           "--resume"]) == 0
    kept2 = {r.doc_id for r in spark.read.parquet(
        f"{root}/data/run=r2").collect()}
    assert stream_keepers == kept2 - {14}  # 14: no bands in either twin
    assert stream_keepers == {12}
    assert 14 not in per_doc
    # committed-dup retires without its original ever streaming
    assert 10 in per_doc and not any(per_doc[10])


def test_star_edges_closure_equals_clique_pairs(spark):
    """The star edge source (doc → its band's min doc) must yield the
    IDENTICAL connected-component keeper table as the clique pair
    source — on crafted docs engineered to include a cross-band chain
    (A shares a band with B, B with C, A never with C), the case where
    a bug in the star construction would split a cluster. Also pins
    the scale claim: star edge count ≤ clique pair count."""
    import __spark_entry__ as em
    from onnxocr_spark.operators.dedup import (
        LSH_PAIRS_SQL, STAR_EDGES_SQL, connected_component_keepers,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base),                           # exact dup → every band shared
        (2, base + " tail x y z"),           # near-dup of 0 via some bands
        (3, "unrelated words entirely here compose this doc now ok"),
        (4, base),                           # 3-clique with 0 and 1
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("stardocs")
    src = "SELECT doc_id, text FROM stardocs"

    pairs = spark.sql(LSH_PAIRS_SQL.format(docs_src=src))
    stars = spark.sql(STAR_EDGES_SQL.format(docs_src=src))
    assert stars.count() <= pairs.count()

    k_clique = {(r.doc_id, r.keeper)
                for r in connected_component_keepers(pairs).collect()}
    k_star = {(r.doc_id, r.keeper)
              for r in connected_component_keepers(stars).collect()}
    assert k_star == k_clique
    assert (1, 0) in k_star and (4, 0) in k_star  # dups cluster under 0


def test_connected_component_keepers_transitive(spark):
    """A~B, B~C must put C under A's keeper even though (A,C) was never
    a pair (the property pair-based dedup misses without the component
    step); disjoint cluster keeps its own keeper; a long chain needs
    multiple propagation rounds and still converges."""
    from onnxocr_spark.operators.dedup import connected_component_keepers

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.keeper
           for r in connected_component_keepers(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def test_connected_component_keepers_chain_log_rounds(spark):
    """Pointer jumping: a 64-vertex chain (diameter 63) must converge in
    O(log d) rounds, not O(d) — 2 plain warm-up rounds (jump_from=2,
    free for the near-clique common case), then doubling; plain
    propagation would need 63 rounds."""
    import math

    from onnxocr_spark.operators.dedup import connected_component_keepers

    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    stats: dict = {}
    got = {r.doc_id: r.keeper
           for r in connected_component_keepers(
               pairs, stats=stats, small_collect_threshold=0
           ).collect()}
    assert got == {i: 0 for i in range(n)}
    assert stats["strategy"] == "distributed-pointer-jumping"
    # jump_from plain rounds + log2 doubling rounds + fixpoint confirm
    bound = 2 + math.ceil(math.log2(n - 1)) + 1 + 1
    assert stats["rounds"] <= bound, stats

    # r5 adaptive small path: the driver union-find must agree exactly
    # with the distributed closure on a graph mixing a chain, a clique,
    # and singleton-free components
    extra = pairs.unionByName(spark.createDataFrame(
        [(100, 101), (101, 102), (100, 102), (200, 300)],
        "doc_a long, doc_b long",
    ))
    s2: dict = {}
    small = {r.doc_id: r.keeper
             for r in connected_component_keepers(
                 extra, stats=s2).collect()}
    assert s2["strategy"] == "driver-union-find"
    dist = {r.doc_id: r.keeper
            for r in connected_component_keepers(
                extra, small_collect_threshold=0).collect()}
    assert small == dist
    assert small[102] == 100 and small[300] == 200


# ----------------------------------------------------- HTML extraction
def test_extract_main_content_heuristics():
    """Generic readability heuristics on a handcrafted page: chrome
    elements dropped by tag (even nested), link-dense blocks dropped by
    density, comments/entities handled, content preserved verbatim."""
    from onnxocr_spark.operators.html import extract_main_content

    page = (
        "<html><head><title>T</title><style>p{color:red}</style></head><body>"
        "<nav><a href='/'>Home</a><a href='/x'>Archive pages</a></nav>"
        "<div><aside><div><a href='/r'>Deeply nested related list</a></div></aside>"
        "<!-- tracking comment -->"
        "<article><p>The first real paragraph has plenty of visible text.</p>"
        "<p>Second paragraph mentions Tom &amp; Jerry &lt;quoted&gt;.</p>"
        "<p>See <a href='/a'>one tiny link</a> inside a long enough sentence "
        "that stays below the density threshold.</p>"
        "<p><a href='/b'>Click here</a> <a href='/c'>or maybe here instead</a></p>"
        "</article></div>"
        "<footer><p>Copyright 2026 Example Corp. All rights reserved.</p></footer>"
        "</body></html>"
    )
    out = extract_main_content(page)
    lines = out.split("\n")
    assert lines[0] == "The first real paragraph has plenty of visible text."
    assert lines[1] == "Second paragraph mentions Tom & Jerry <quoted>."
    assert lines[2].startswith("See one tiny link inside")
    assert len(lines) == 3  # link-farm block, nav, aside, footer all gone
    assert "Copyright" not in out and "Home" not in out
    assert extract_main_content("") == ""
    assert extract_main_content("<p>short</p>") == ""


def test_pdf_container_truncation_yields_error_rows(spark):
    """Truncated, lying-length and zero-page containers must surface as
    ok=false rows (struct.error / corrupt blob caught per row), never
    task failures or vanished documents."""
    from onnxocr_spark.operators.sources import (
        encode_pages_container, pdf_to_pages,
    )

    good = encode_pages_container([render_media("doc_000000000001", 0)])
    rows = [
        ("truncated_header", good[:6]),
        ("truncated_blob", good[: len(good) // 2]),
        ("lying_count", good[:4] + b"\xff\xff\xff\xff" + good[8:]),
        ("zero_pages", encode_pages_container([])),
        ("ok_doc", good),
    ]
    out = {r.doc_id: r for r in pdf_to_pages(
        spark.createDataFrame(rows, "doc_id string, pdf_bytes binary")
    ).collect()}
    assert out["ok_doc"].ok and out["ok_doc"].page_no == 0
    for bad in ("truncated_header", "truncated_blob", "lying_count",
                "zero_pages"):
        assert not out[bad].ok and out[bad].page_no == -1, bad


def test_str2bool_reference_semantics():
    from onnxocr_spark.config import str2bool

    assert all(str2bool(v) for v in ("true", "True", "T", "t", "1"))
    assert not any(str2bool(v) for v in ("false", "0", "no", "yes", ""))


def test_annotated_images_sink(spark):
    """K6/K7 debug sink: every detected bar outlined in-place; box count
    equals the analytic line count; bytes decode back to the original
    dims with changed pixels."""
    import numpy as np

    from onnxocr_spark.imagecodec import decode_image
    from onnxocr_spark.sinks.formats import annotated_images

    rows = [("doc_000000000004", 0, "img://doc_000000000004/0"),
            ("doc_000000000008", 1, "img://doc_000000000008/1"),
            ("bad", 2, "bogus://x")]
    media = spark.createDataFrame(
        rows, "doc_id string, offset int, media_ref string")
    got = {(r.doc_id, r.offset): r for r in annotated_images(media).collect()}
    assert got[("bad", 2)].n_boxes == -1 and got[("bad", 2)].annotated is None
    for did, off in (("doc_000000000004", 0), ("doc_000000000008", 1)):
        r = got[(did, off)]
        assert r.n_boxes == len(media_lines(did, off))
        orig = render_media(did, off)
        ann = decode_image(r.annotated)
        assert ann.shape == orig.shape and (ann != orig).any()


def test_doc_text_zip_shards(spark, extracted, tmp_path):
    """K2 zip sink: shards round-trip — every doc becomes one .txt entry
    whose content equals the doc_text sink row."""
    import zipfile

    from onnxocr_spark.sinks.formats import doc_text, write_doc_text_zip

    out = str(tmp_path / "zips")
    n = write_doc_text_zip(extracted, out)
    exp = {r.doc_id: r.text for r in doc_text(extracted).collect()}
    got = {}
    import os
    for f in sorted(os.listdir(out)):
        with zipfile.ZipFile(os.path.join(out, f)) as z:
            for name in z.namelist():
                got[name[:-4]] = z.read(name).decode()
    assert n == len(exp) and got == exp


def test_incremental_semantic_fused_scan_matches_two_scan_path(spark):
    """r6 fused single-pass scan (similarity.incremental_semantic_
    decisions): when the committed side is ONE plain frame and both row
    counts are supplied, the operator fuses the new-new self scan and
    the new-old bipartite scan into one bipartite pass over
    new ∪ negated-old. Decisions must be IDENTICAL to the two-scan
    path (forced here by withholding n_old), on a fixture that
    exercises every decision class: new-new dup pairs, new-old dups,
    a transitive chain into a committed doc, and isolated new docs —
    across tilings small enough that blocks actually split."""
    from onnxocr_spark.operators.similarity import (
        incremental_semantic_decisions,
    )

    def e(i, scale=1.0, j=None, jw=0.0):
        v = [0.0] * 8
        v[i] = scale
        if j is not None:
            v[j] = jw
        return v

    # orthogonal basis fixture — every cross-cosine is exactly 0, 0.11,
    # 0.6, 0.8 or ~1; nothing sits near the 0.45 threshold.
    # committed batch (ids 0..5); doc 4 (= e3, cell 0) is the chain
    # target for the transitive case
    old_rows = [
        (0, e(0), 0), (1, e(1), 0), (2, e(2), 1),
        (3, e(2, 2.0), 1), (4, e(3), 0), (5, e(4), 1),
    ]
    # new batch (ids 100..107):
    #   100~101: new-new dup pair in cell 0 (cos ≈ 0.994), no
    #            committed contact → min id 100 kept, 101 retired
    #   102:     parallel to committed 2/3 (cell 1) → retired
    #   103=e7:  touches NOTHING committed (cos 0 to all of cell 0)
    #            but cos(103,104)=0.6 → retired TRANSITIVELY via 104
    #   104=0.8·e3+0.6·e7: cos 0.8 to committed 4 → retired
    #   105/106/107: isolated in their cells → kept
    new_rows = [
        (100, e(5), 0), (101, e(5, 0.9, j=6, jw=0.1), 0),
        (102, e(2, 1.1), 1),
        (103, e(7), 0), (104, e(3, 0.8, j=7, jw=0.6), 0),
        (105, e(6), 0), (106, e(5), 1), (107, e(6), 1),
    ]
    schema = "vec_id long, embedding array<double>, cell long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)

    def decisions(**kw):
        df = incremental_semantic_decisions(
            new, old, threshold=0.45, cells_hint=2, block_rows=3, **kw
        )
        return sorted((int(r.vec_id), bool(r.kept)) for r in df.collect())

    fused = decisions(n_new=len(new_rows), n_old=len(old_rows))
    two_scan = decisions(n_new=len(new_rows), n_old=None)  # forces old path
    assert fused == two_scan
    kept = {i for i, k in fused if k}
    # decision classes are actually exercised: committed contact
    # retires (102 directly; 103 only TRANSITIVELY through 104's
    # contact with committed 4), a pure new-new pair keeps its min
    # (100 over 101), isolated docs survive
    assert kept == {100, 105, 106, 107}


def test_incremental_semantic_fused_scan_rejects_negative_new_ids(spark):
    """The fused scan maps committed id c to -c-1, so id spaces stay
    disjoint only for non-negative new ids. New id -1 would alias
    committed id 0 and merge into its component; the query must fail
    instead of returning decisions."""
    from onnxocr_spark.operators.similarity import (
        incremental_semantic_decisions,
    )

    schema = "vec_id long, embedding array<double>, cell long"
    old = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 0)], schema
    )
    new = spark.createDataFrame(
        [(-1, [0.0, 1.0], 0), (5, [1.0, 0.1], 0)], schema
    )
    with pytest.raises(Exception, match="non-negative new vec_id"):
        incremental_semantic_decisions(
            new, old, threshold=0.45, n_new=2, n_old=2
        ).collect()
