"""E2E Spark extraction: span-sequence equality (kind, text, media_ref,
order) vs the analytic expected output — the BASELINE.json invariant."""

import os
import pytest

from onnxocr_spark.datagen.documents import (
    generate_documents,
    expected_output_rows,
    write_documents_parquet,
)
from onnxocr_spark.pipeline import run_extract, explode_spans, reassemble


N_DOCS = 64  # includes no-media docs; doc index 96 (heavy) covered in bench


def _spans_key(rows):
    """{doc_id: [(kind, text, media_ref, offset), …] ordered by offset}"""
    out = {}
    for r in rows:
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in sorted(r["spans"], key=lambda s: s["offset"])
        ]
        out[r["doc_id"]] = spans
    return out


@pytest.fixture(scope="module")
def docs_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs") / "documents.parquet")
    write_documents_parquet(path, N_DOCS)
    return spark.read.parquet(path)


def test_span_sequence_equality(spark, docs_df):
    out = run_extract(docs_df)
    got = _spans_key([r.asDict(recursive=True) for r in out.collect()])
    exp = _spans_key(expected_output_rows(N_DOCS))
    assert set(got) == set(exp)
    mismatches = [d for d in exp if got[d] != exp[d]]
    assert mismatches == [], f"span mismatch in {mismatches[:3]}"


def test_output_schema_matches_input(spark, docs_df):
    out = run_extract(docs_df)
    assert [f.name for f in out.schema["spans"].dataType.elementType.fields] == [
        "kind",
        "text",
        "media_ref",
        "offset",
    ]
    assert dict(out.dtypes)["doc_id"] == "string"


def test_bad_media_ref_survives(spark):
    docs = spark.createDataFrame(
        [
            (
                "doc_bad",
                [
                    {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": "", "media_ref": "bogus://x", "offset": 1},
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    [row] = run_extract(docs).collect()
    spans = sorted(row.spans, key=lambda s: s.offset)
    assert spans[0].text == "hello"
    # failed media: span survives with empty text, ref/kind/order intact
    assert spans[1].kind == "media"
    assert spans[1].media_ref == "bogus://x"
    assert spans[1].text == ""


def test_explode_reassemble_roundtrip(spark, docs_df):
    """reassemble(explode(docs)) == docs (no OCR) — ordering guarantee."""
    spans = explode_spans(docs_df).select("doc_id", "kind", "text", "media_ref", "offset")
    back = reassemble(spans)
    got = _spans_key([r.asDict(recursive=True) for r in back.collect()])
    exp = _spans_key(generate_documents(N_DOCS))
    assert got == exp


def test_resume_anti_join(spark, docs_df, tmp_path):
    from onnxocr_spark.sinks import write_with_ledger, pending_documents

    root = str(tmp_path / "out")
    # commit first half
    first = docs_df.filter("doc_id < 'doc_000000000032'")
    write_with_ledger(run_extract(first), root, run_id="r1")
    pending = pending_documents(docs_df, root)
    assert pending.count() == N_DOCS - 32
    # second run commits the rest; nothing pending afterwards
    write_with_ledger(run_extract(pending), root, run_id="r2")
    assert pending_documents(docs_df, root).count() == 0
    # full output equals expectation
    from onnxocr_spark.sinks.ledger import read_output

    out = read_output(spark, root)
    got = _spans_key([r.asDict(recursive=True) for r in out.collect()])
    exp = _spans_key(expected_output_rows(N_DOCS))
    assert got == exp


def test_resume_after_crash_between_data_and_ledger(spark, docs_df, tmp_path):
    """A run that dies after writing data but before its ledger entry
    must neither re-extract (no duplicate rows) nor lose docs."""
    import shutil

    from onnxocr_spark.sinks import write_with_ledger, pending_documents
    from onnxocr_spark.sinks.ledger import read_output

    root = str(tmp_path / "out")
    first = docs_df.filter("doc_id < 'doc_000000000020'")
    write_with_ledger(run_extract(first), root, run_id="ok1")
    # simulate the crash: second run's data landed, ledger write died
    second = docs_df.filter(
        "doc_id >= 'doc_000000000020' AND doc_id < 'doc_000000000040'"
    )
    run_extract(second).write.parquet(os.path.join(root, "data", "run=crashed"))
    # resume: crashed run's docs count as committed (data is authoritative)
    pending = pending_documents(docs_df, root)
    assert pending.count() == N_DOCS - 40
    write_with_ledger(run_extract(pending), root, run_id="ok2")
    out = read_output(spark, root)
    assert out.count() == N_DOCS
    assert out.select("doc_id").distinct().count() == N_DOCS


def test_partial_run_dir_is_invisible(spark, docs_df, tmp_path):
    """A run dir without _SUCCESS (mid-write crash) is ignored by both
    resume and read_output, so the docs get re-extracted cleanly."""
    from onnxocr_spark.sinks import write_with_ledger, pending_documents
    from onnxocr_spark.sinks.ledger import read_output

    root = str(tmp_path / "out")
    write_with_ledger(
        run_extract(docs_df.filter("doc_id < 'doc_000000000020'")), root, "ok1"
    )
    partial = os.path.join(root, "data", "run=partial")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")  # mid-write garbage, no _SUCCESS
    pending = pending_documents(docs_df, root)
    assert pending.count() == N_DOCS - 20
    assert read_output(spark, root).count() == 20


def test_extract_job_cli_in_process(spark, docs_df, tmp_path):
    """jobs/extract_job.main through its argparse surface (the session
    comes from getOrCreate → reuses the test session)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import extract_job

    src = str(tmp_path / "in")
    docs_df.write.parquet(src)
    out_root = str(tmp_path / "out")
    rc = extract_job.main(
        ["--input", src, "--output", out_root, "--run-id", "cli1"]
    )
    assert rc == 0
    from onnxocr_spark.sinks.ledger import read_output

    assert read_output(spark, out_root).count() == N_DOCS
    # resume: everything committed → clean no-op
    rc = extract_job.main(
        ["--input", src, "--output", out_root, "--run-id", "cli2", "--resume"]
    )
    assert rc == 0


def test_dedup_job_policies(spark, tmp_path):
    """jobs/dedup_job.main across its three policies on crafted docs
    with an exact dup, a near-dup, a sub-shingle doc, and uniques:
    every policy partitions the corpus exactly (kept + retired = in),
    `exact` retires only the verbatim duplicate, `online` additionally
    agrees with the battery's dedup_online_band_keepers rule (plus
    trivially keeping the sub-shingle doc), and `cc` retires every
    non-keeper of the pair closure. Run-dir layout matches the
    extraction job (data/ledger/metrics sidecar)."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import dedup_job

    import __spark_entry__ as em

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, "totally different words compose this one stream here"),
        (2, base),                      # exact dup of 0
        (3, base + " tailchange"),      # near-dup of 0
        (4, "short un"),                # < 3 tokens
        (5, "another unrelated document with its own tokens five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "docs")
    df.write.parquet(src)

    results = {}
    # SQL-cache layer only: DataFrame.persist registers a STRONG
    # CacheManager reference (the permanent-leak layer ADVICE r4
    # flagged); CC's localCheckpoint blocks live at the RDD layer and
    # are ContextCleaner-reclaimed once the result DF is GC'd.
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_empty_before = cache_mgr.isEmpty()
    for policy in ("exact", "online", "cc"):
        root = str(tmp_path / f"out_{policy}")
        rc = dedup_job.main(["--input", src, "--output", root,
                             "--policy", policy, "--run-id", "t1"])
        assert rc == 0
        kept = {r.doc_id for r in spark.read.parquet(
            f"{root}/data/run=t1").collect()}
        retired = {r.doc_id for r in spark.read.parquet(
            f"{root}/retired/run=t1").collect()}
        assert kept | retired == {0, 1, 2, 3, 4, 5}
        assert not (kept & retired)
        side = json.load(open(f"{root}/metrics/_sidecars/run_t1.json"))
        assert side["docs_kept"] == len(kept)
        results[policy] = kept
        # no cache or scoped-view leak on the shared session (ADVICE r4)
        assert not [
            v.name for v in spark.catalog.listTables()
            if v.name.startswith("dedup_input")
        ]
        assert cache_mgr.isEmpty() == cache_empty_before

    # `exact` fingerprints the FIRST-4-TOKEN prefix (the battery's
    # dedup_exact rule), so the tail-changed doc 3 shares doc 0's
    # fingerprint and goes too
    assert results["exact"] == {0, 1, 4, 5}
    # online ≡ battery rule ∪ sub-shingle docs
    df.createOrReplaceTempView("jdocs")
    battery = {r.doc_id for r in spark.sql(em._ONLINE_BAND_SPARK.format(
        docs_src="SELECT doc_id, text FROM jdocs")).collect()}
    assert results["online"] == battery | {4}
    # cc retires at least the exact dup and keeps all uniques
    assert 2 not in results["cc"]
    assert {1, 4, 5} <= results["cc"]


def test_dedup_job_incremental_resume(spark, tmp_path):
    """--resume two-batch flow (VERDICT r4 item 1): run1 commits batch1
    with its band-signature index; run2 dedups a NEW batch against the
    index WITHOUT re-reading batch1's text — a new doc duplicating a
    run1 doc is retired even though that doc's text is absent from
    run2's input, already-processed docs re-submitted to run2 are
    skipped, and the cumulative kept set equals one full-corpus cc run
    over both batches (the monotone-id equivalence the dedup_incremental
    oracle also pins). run2's sigindex covers only new docs — the
    structural proof nothing old was re-shingled."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import dedup_job

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq1 = "totally different words compose this one stream here"
    batch1 = [
        (0, base),
        (1, uniq1),
        (2, base),                      # retired in run1 (dup of 0)
        (3, base + " tailchange"),      # retired in run1 (near-dup of 0)
        (4, "short un"),                # sub-shingle, kept
        (5, "another unrelated document with its own tokens five six"),
    ]
    batch2 = [
        (2, base),                      # re-submitted: must be SKIPPED
        (10, base + " tailchange"),     # dup of RETIRED doc 3 → retired
        (11, uniq1),                    # dup of doc 1 (doc 1 not in this input)
        (12, "a wholly new topic covered by fresh vocabulary entirely"),
        (13, "a wholly new topic covered by fresh vocabulary entirely"),
        (14, "tiny doc"),               # sub-shingle, kept
    ]
    schema = "doc_id long, text string"
    src1 = str(tmp_path / "b1"); src2 = str(tmp_path / "b2")
    spark.createDataFrame(batch1, schema).write.parquet(src1)
    spark.createDataFrame(batch2, schema).write.parquet(src2)
    root = str(tmp_path / "inc")

    rc = dedup_job.main(["--input", src1, "--output", root,
                         "--policy", "cc", "--run-id", "r1"])
    assert rc == 0
    rc = dedup_job.main(["--input", src2, "--output", root,
                         "--policy", "cc", "--run-id", "r2", "--resume"])
    assert rc == 0

    kept2 = {r.doc_id for r in spark.read.parquet(
        f"{root}/data/run=r2").collect()}
    retired2 = {r.doc_id for r in spark.read.parquet(
        f"{root}/retired/run=r2").collect()}
    # re-submitted doc 2 skipped; every genuinely-new doc decided once
    assert kept2 | retired2 == {10, 11, 12, 13, 14}
    assert not (kept2 & retired2)
    side = json.load(open(f"{root}/metrics/_sidecars/run_r2.json"))
    assert side["docs_in"] == 5
    # never-re-shingled proof: run2's sigindex rows hub only NEW docs
    sig2 = spark.read.parquet(f"{root}/sigindex/run=r2")
    assert {r.hub for r in sig2.collect()} <= {10, 11, 12, 13, 14}

    # equivalence: cumulative kept == one full-corpus cc run over both
    # batches (ids are monotone across batches)
    full_src = str(tmp_path / "full")
    spark.createDataFrame(batch1 + batch2[1:], schema).write.parquet(full_src)
    full_root = str(tmp_path / "fullout")
    rc = dedup_job.main(["--input", full_src, "--output", full_root,
                         "--policy", "cc", "--run-id", "f1"])
    assert rc == 0
    kept_full = {r.doc_id for r in spark.read.parquet(
        f"{full_root}/data/run=f1").collect()}
    kept1 = {r.doc_id for r in spark.read.parquet(
        f"{root}/data/run=r1").collect()}
    assert kept1 | kept2 == kept_full
    # and the specific cross-run decisions: 10 retired via the index
    # entry of a RETIRED doc, 11 via a kept doc absent from run2 input,
    # 13 within-batch against 12
    assert retired2 == {10, 11, 13}

    # idempotent re-resume: same batch again → everything skipped
    rc = dedup_job.main(["--input", src2, "--output", root,
                         "--policy", "cc", "--run-id", "r3", "--resume"])
    assert rc == 0
    side3 = json.load(open(f"{root}/metrics/_sidecars/run_r3.json"))
    assert side3["docs_in"] == 0 and side3["docs_kept"] == 0

    # ONLINE policy resume (r5): greedy first-wins against the index.
    # Run1 online on batch1 retires {2 (exact dup), 3 (shares a band)};
    # batch2: 10/11 duplicate committed docs' bands → retired, 12 is
    # batch-first → kept, 13 dups 12 → retired, 14 sub-shingle → kept.
    oroot = str(tmp_path / "online_inc")
    assert dedup_job.main(["--input", src1, "--output", oroot,
                           "--policy", "online", "--run-id", "o1"]) == 0
    assert os.path.exists(f"{oroot}/sigindex/run=o1/_SUCCESS")
    assert dedup_job.main(["--input", src2, "--output", oroot,
                           "--policy", "online", "--run-id", "o2",
                           "--resume"]) == 0
    kept_o = {r.doc_id for r in spark.read.parquet(
        f"{oroot}/data/run=o2").collect()}
    retired_o = {r.doc_id for r in spark.read.parquet(
        f"{oroot}/retired/run=o2").collect()}
    assert kept_o == {12, 14} and retired_o == {10, 11, 13}

    # EXACT policy resume (r5): md5 prefix-fingerprint first-wins.
    # Run1 exact on batch1 retires {2, 3} (doc 3 shares doc 0's 4-token
    # prefix); batch2: 10 (prefix == base's) and 11 (prefix == uniq1's)
    # hit the index, 13 loses within-batch to 12, 14's prefix is new.
    eroot = str(tmp_path / "exact_inc")
    assert dedup_job.main(["--input", src1, "--output", eroot,
                           "--policy", "exact", "--run-id", "e1"]) == 0
    assert os.path.exists(f"{eroot}/sigindex/run=e1/_SUCCESS")
    assert dedup_job.main(["--input", src2, "--output", eroot,
                           "--policy", "exact", "--run-id", "e2",
                           "--resume"]) == 0
    kept_e = {r.doc_id for r in spark.read.parquet(
        f"{eroot}/data/run=e2").collect()}
    assert kept_e == {12, 14}

    # policy-mismatch guard: resuming an exact root under cc refuses
    import pytest as _pt
    with _pt.raises(SystemExit, match="does not match"):
        dedup_job.main(["--input", src2, "--output", eroot,
                        "--policy", "cc", "--run-id", "e3", "--resume"])


def test_dedup_resume_ignores_mid_crash_runs(spark, tmp_path):
    """A dedup run's commit marker is its sigindex dir (written last):
    a run that crashed after its ledger/retired writes but before the
    sigindex must contribute NOTHING to a later resume — neither
    processed ids (else its docs are skipped while their signatures
    are lost, silently re-admitting future duplicates) nor index rows.
    Its docs get fully re-decided by the next resume."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import shutil

    import dedup_job

    schema = "doc_id long, text string"
    b1 = [(0, "alpha beta gamma delta epsilon zeta"), (1, "other words")]
    b2 = [(10, "second batch sentence with its own tokens"),
          (11, "second batch sentence with its own tokens")]
    src1, src2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame(b1, schema).write.parquet(src1)
    spark.createDataFrame(b2, schema).write.parquet(src2)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src1, "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    assert dedup_job.main(["--input", src2, "--output", root,
                           "--policy", "cc", "--run-id", "r2",
                           "--resume"]) == 0
    # simulate the crash window: r2's sigindex never landed
    shutil.rmtree(f"{root}/sigindex/run=r2")

    # re-submitting batch2 under a NEW id must re-decide ALL its docs
    # (r2's ledger/retired are ignored without the commit marker)
    assert dedup_job.main(["--input", src2, "--output", root,
                           "--policy", "cc", "--run-id", "r3",
                           "--resume"]) == 0
    kept3 = {r.doc_id for r in spark.read.parquet(
        f"{root}/data/run=r3").collect()}
    retired3 = {r.doc_id for r in spark.read.parquet(
        f"{root}/retired/run=r3").collect()}
    assert kept3 | retired3 == {10, 11}
    assert kept3 == {10} and retired3 == {11}
    # and r3's commit is complete: its sigindex exists for future runs
    assert os.path.exists(f"{root}/sigindex/run=r3/_SUCCESS")


def test_compact_dedup_root_preserves_resume_decisions(spark, tmp_path):
    """compact_runs on a dedup root (r5): the per-run retired/ and
    sigindex/ dirs consolidate alongside data/ledger (sigindex
    re-aggregated to global min-hub rows), and a subsequent --resume
    makes EXACTLY the same decisions as on an uncompacted twin of the
    root — the decision-preservation claim in the compaction
    docstring, tested rather than asserted."""
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import dedup_job

    from onnxocr_spark.sinks import compact_runs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    schema = "doc_id long, text string"
    b1 = [(0, base), (1, base + " tailchange"), (2, "lone words here only")]
    b2 = [(10, "second batch topic with different vocabulary"),
          (11, "second batch topic with different vocabulary")]
    b3 = [(20, base + " tailchange"),    # dup of batch1-RETIRED doc 1
          (21, "second batch topic with different vocabulary"),  # dup of 10
          (22, "genuinely novel third batch content entirely")]
    src = {}
    for name, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        src[name] = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.parquet(src[name])

    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src["b1"], "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    assert dedup_job.main(["--input", src["b2"], "--output", root,
                           "--policy", "cc", "--run-id", "r2",
                           "--resume"]) == 0
    twin = str(tmp_path / "twin")
    shutil.copytree(root, twin)

    m = compact_runs(spark, root, compacted_id="c1")
    assert m["aux_compacted"] == {"retired": 2, "sigindex": 2}
    for layout in ("data", "ledger", "retired", "sigindex"):
        assert os.listdir(f"{root}/{layout}") == ["run=c1"], layout
    # sigindex is globally re-aggregated: one row per (band, band_sig)
    sig = spark.read.parquet(f"{root}/sigindex/run=c1")
    assert sig.count() == sig.select("band", "band_sig").distinct().count()

    for r in (root, twin):
        assert dedup_job.main(["--input", src["b3"], "--output", r,
                               "--policy", "cc", "--run-id", "r3",
                               "--resume"]) == 0
    kept = {r.doc_id for r in spark.read.parquet(
        f"{root}/data/run=r3").collect()}
    kept_twin = {r.doc_id for r in spark.read.parquet(
        f"{twin}/data/run=r3").collect()}
    assert kept == kept_twin == {22}  # 20, 21 retired via the index


def test_semantic_dedup_job_initial_resume_compact(spark, tmp_path):
    """jobs/semantic_dedup_job.py end-to-end (r5): the founding run
    commits kept/retired vectors + the cell index, --resume decides a
    new batch against the index and ALL committed vectors (a dup of a
    RETIRED vector retires too), already-committed ids are skipped,
    ledger-last is the commit marker (a run without it contributes
    nothing), and compaction carries the cellindex so a post-compaction
    resume still works. Exact-duplicate fixtures make cell co-location
    deterministic under any seed set (ties go to the smaller seed)."""
    import json
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import semantic_dedup_job

    from onnxocr_spark.sinks import compact_runs

    A = [1.0, 0.0, 0.0, 0.0]
    B = [0.0, 1.0, 0.0, 0.0]
    C = [0.0, 0.0, 1.0, 0.0]
    D = [0.0, 0.0, 0.0, 1.0]
    schema = "vec_id long, embedding array<double>"
    b1 = [(0, A), (1, A), (2, B), (3, C)]          # 1 dups 0 → retired
    b2 = [(2, B),                                   # resubmitted: skip
          (10, A),                                  # dup of RETIRED 1 (and 0)
          (11, B),                                  # dup of kept 2
          (12, D), (13, D)]                         # new pair: keep 12
    b3 = [(20, D),                                  # dup of kept-in-r2 12
          (21, [0.5, 0.5, 0.5, 0.5])]               # cos 0.5 vs each axis!
    # 21 has cosine 0.5 ≥ 0.45 with every axis vector — it must be
    # RETIRED via contact with committed vectors, proving the threshold
    # (not just exact dups) drives cross-run decisions.
    src = {}
    for name, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
        src[name] = str(tmp_path / name)
        spark.createDataFrame(rows, schema).write.parquet(src[name])
    root = str(tmp_path / "sem")

    assert semantic_dedup_job.main(
        ["--input", src["b1"], "--output", root, "--run-id", "r1",
         "--n-cells", "2"]) == 0
    kept1 = {r.vec_id for r in spark.read.parquet(
        f"{root}/data/run=r1").collect()}
    assert kept1 == {0, 2, 3}
    assert spark.read.parquet(f"{root}/cellindex/run=r1").count() == 2

    assert semantic_dedup_job.main(
        ["--input", src["b2"], "--output", root, "--run-id", "r2",
         "--resume"]) == 0
    kept2 = {r.vec_id for r in spark.read.parquet(
        f"{root}/data/run=r2").collect()}
    retired2 = {r.vec_id for r in spark.read.parquet(
        f"{root}/retired/run=r2").collect()}
    assert kept2 | retired2 == {10, 11, 12, 13}  # 2 skipped
    assert kept2 == {12} and retired2 == {10, 11, 13}
    side = json.load(open(f"{root}/metrics/_sidecars/run_r2.json"))
    assert side["docs_in"] == 4

    # crash window: r2's ledger (commit marker) gone → batch2 re-decided
    crash = str(tmp_path / "crash")
    shutil.copytree(root, crash)
    shutil.rmtree(f"{crash}/ledger/run=r2")
    assert semantic_dedup_job.main(
        ["--input", src["b2"], "--output", crash, "--run-id", "rX",
         "--resume"]) == 0
    keptX = {r.vec_id for r in spark.read.parquet(
        f"{crash}/data/run=rX").collect()}
    assert keptX == {12}

    # compaction carries the cellindex; post-compaction resume works
    m = compact_runs(spark, root, compacted_id="c1")
    assert m["aux_compacted"]["cellindex"] == 1
    assert os.listdir(f"{root}/cellindex") == ["run=c1"]
    assert semantic_dedup_job.main(
        ["--input", src["b3"], "--output", root, "--run-id", "r4",
         "--resume"]) == 0
    kept4 = {r.vec_id for r in spark.read.parquet(
        f"{root}/data/run=r4").collect()}
    assert kept4 == set()  # 20 dups committed 12; 21 cos-0.5 contact
    retired4 = {r.vec_id for r in spark.read.parquet(
        f"{root}/retired/run=r4").collect()}
    assert retired4 == {20, 21}


def test_streaming_semantic_sink_matches_sequential_resumes(spark, tmp_path):
    """Streaming semantic dedup (late r5): the foreachBatch sink runs
    the SAME incremental decision per micro-batch that sequential
    `--resume` runs make — cumulative kept/retired sets must be
    identical on twin roots fed the same batches (one streamed, one
    batch-resumed), including on a BUCKETIZED root (the sink reads the
    committed side through the (cell, gb) layout). Exactly-once: a
    replayed micro-batch whose ledger committed is skipped whole."""
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import semantic_dedup_job
    from onnxocr_spark.sinks.bucketed import bucketize_semvectors

    A = [1.0, 0.0, 0.0, 0.0]
    B = [0.0, 1.0, 0.0, 0.0]
    C = [0.0, 0.0, 1.0, 0.0]
    D = [0.0, 0.0, 0.0, 1.0]
    b1 = [(0, A), (1, A), (2, B), (3, C)]
    b2 = [(10, A), (11, B), (12, D), (13, D)]
    b3 = [(20, D), (21, [0.5, 0.5, 0.5, 0.5])]
    schema = "vec_id long, embedding array<double>"
    src1 = str(tmp_path / "b1")
    spark.createDataFrame(b1, schema).write.parquet(src1)

    stream_root = str(tmp_path / "stream")
    batch_root = str(tmp_path / "batch")
    fast_root = str(tmp_path / "fast")
    for root in (stream_root, batch_root, fast_root):
        assert semantic_dedup_job.main(
            ["--input", src1, "--output", root, "--run-id", "r1",
             "--n-cells", "2"]) == 0
    bucketize_semvectors(spark, fast_root, n_buckets=8)

    # stage b2/b3 as one file per micro-batch, mtime-ordered
    sdir = str(tmp_path / "vstream")
    os.makedirs(sdir)
    for i, rows in enumerate((b2, b3)):
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            f"{sdir}/part-{i}.parquet"
        )
        os.utime(f"{sdir}/part-{i}.parquet", (1000 * (i + 1),) * 2)

    for root, ckpt in ((stream_root, "ck1"), (fast_root, "ck2")):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(sdir)
        )
        q = (
            stream.writeStream
            .foreachBatch(semantic_dedup_job.streaming_semantic_sink(root))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # batch twin: sequential --resume runs
    for i, rows in enumerate((b2, b3)):
        src = str(tmp_path / f"bb{i}")
        spark.createDataFrame(rows, schema).write.parquet(src)
        assert semantic_dedup_job.main(
            ["--input", src, "--output", batch_root,
             "--run-id", f"r{i + 2}", "--resume"]) == 0

    def _cumulative(root):
        from onnxocr_spark.sinks.ledger import read_output

        kept = {r.vec_id for r in read_output(spark, root).collect()}
        import glob as _g

        ret_dirs = _g.glob(f"{root}/retired/run=*")
        retired = {r.vec_id for r in
                   spark.read.parquet(*ret_dirs).collect()}
        return kept, retired

    expect = _cumulative(batch_root)
    assert _cumulative(stream_root) == expect
    assert _cumulative(fast_root) == expect
    kept_all, retired_all = expect
    assert kept_all == {0, 2, 3, 12}
    assert retired_all == {1, 10, 11, 13, 20, 21}

    # replay of a committed micro-batch is a no-op: feed an empty df
    # under an already-committed batch id — the run dir must keep its
    # decisions (an overwrite would empty it)
    sink = semantic_dedup_job.streaming_semantic_sink(stream_root)
    sink(spark.createDataFrame([], schema), 1)
    n = spark.read.parquet(
        f"{stream_root}/retired/run=s000000001").count()
    assert n == 2  # batch 1 (b3) retired {20, 21}


def test_extreme_skew_single_doc_many_media(spark):
    """One document carrying 40 media spans (pathological skew): the
    round-robin balance must spread it and reassembly must restore the
    exact order."""
    from onnxocr_spark.datagen.render import expected_media_text

    spans = [
        {"kind": "media", "text": "", "media_ref": f"img://doc_000000000099/{o}",
         "offset": o}
        for o in range(40)
    ]
    docs = spark.createDataFrame(
        [("doc_000000000099", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    [row] = run_extract(docs).collect()
    got = sorted(row.spans, key=lambda s: s.offset)
    assert len(got) == 40
    for o, s in enumerate(got):
        assert s.offset == o
        assert s.text == expected_media_text("doc_000000000099", o, heavy=False)


def test_run_extract_empty_input(spark):
    """Zero documents in → zero documents out, no stage failures (the
    resume path can legitimately produce an empty pending set)."""
    from onnxocr_spark.pipeline import run_extract

    empty = spark.createDataFrame(
        [],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    assert run_extract(empty).count() == 0


def test_spanless_docs_pass_through_and_commit(spark, tmp_path):
    """Docs whose spans array is empty or null come out of run_extract
    with an empty array, so the ledger records them and a resume finds
    nothing pending."""
    from onnxocr_spark.sinks import pending_documents, write_with_ledger

    docs = spark.createDataFrame(
        [("a", [("text", "hi", "", 0)]), ("e1", []), ("e2", None)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = run_extract(docs)
    got = {r.doc_id: [tuple(s) for s in r.spans] for r in out.collect()}
    assert got == {"a": [("text", "hi", "", 0)], "e1": [], "e2": []}
    write_with_ledger(out, str(tmp_path / "out"), run_id="s1")
    assert pending_documents(docs, str(tmp_path / "out")).count() == 0


def test_ledger_per_partition_metrics(spark, docs_df, tmp_path):
    """Every commit records per-partition OCR metrics whose totals must
    reconcile with the run-level sidecar (north-rule lineage+metrics)."""
    import json

    from onnxocr_spark.pipeline import run_extract
    from onnxocr_spark.sinks import write_with_ledger

    root = str(tmp_path / "out")
    m = write_with_ledger(run_extract(docs_df), root, run_id="pm1")
    parts = spark.read.parquet(f"{root}/metrics/run=pm1")
    agg = parts.groupBy().sum("spans", "media_spans", "empty_media_spans").first()
    assert agg[0] == m["spans"]
    assert agg[1] == m["media_spans"]
    assert agg[2] == m["empty_media_spans"]
    assert parts.count() == m["n_partitions"] >= 1
    sidecar = json.load(open(f"{root}/metrics/_sidecars/run_pm1.json"))
    assert sidecar["docs"] == m["docs"]


def test_ledger_commit_metrics_match_explode_recount(spark, tmp_path):
    """The commit derives every metric from ONE per-data-file aggregate
    of what landed; it must equal the plain recount: count() for docs,
    an explode aggregate for span totals, an explode groupBy per data
    file for the metrics rows — with docs whose spans array is empty or
    null, a null span, a null text, and a data file holding only
    span-less docs (no metrics row, but its docs count)."""
    import json

    from pyspark.sql import functions as F

    from onnxocr_spark.sinks import write_with_ledger

    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    rows = []
    for i in range(30):
        spans = [
            None,
            [],
            [("text", "hi", None, 0), ("media", "", "m", 1)],
            [("media", None, "m", 0), None],
            [("media", "abc" * i, "m", j) for j in range(i % 4 + 1)],
        ][i % 5]
        rows.append((f"d{i:03d}", spans))
    df = spark.createDataFrame(rows, schema).repartition(4, "doc_id")
    spanless = spark.createDataFrame([("e1", []), ("e2", None)], schema)
    root = str(tmp_path / "out")
    m = write_with_ledger(df.unionByName(spanless.coalesce(1)), root, "x1")

    landed = spark.read.parquet(f"{root}/data/run=x1")
    s = F.explode("spans").alias("s")
    media = F.when(F.col("s.kind") == "media", 1).otherwise(0)
    empty = F.when((F.col("s.kind") == "media") & (F.col("s.text") == ""),
                   1).otherwise(0)
    n_spans, n_media, n_empty = landed.select(s).agg(
        F.count("*"), F.sum(media), F.sum(empty)).first()
    want_rows = sorted(
        tuple(r) for r in landed.select(F.input_file_name().alias("f"), s)
        .groupBy("f").agg(F.count("*"), F.sum(media), F.sum(empty),
                          F.sum(F.length("s.text")))
        .collect()
    )
    got = spark.read.parquet(f"{root}/metrics/run=x1")
    assert got.columns == ["data_file", "spans", "media_spans",
                           "empty_media_spans", "chars", "run_id"]
    assert sorted(tuple(r)[:5] for r in got.collect()) == want_rows
    assert {r.run_id for r in got.collect()} == {"x1"}
    assert len(want_rows) < landed.select(F.input_file_name()).distinct().count()
    side = json.load(open(f"{root}/metrics/_sidecars/run_x1.json"))
    for d in (m, side):
        assert (d["docs"], d["spans"], d["media_spans"],
                d["empty_media_spans"], d["n_partitions"]) == (
            32, n_spans, n_media, n_empty, len(want_rows))


def test_compact_runs_merges_history_and_survives_crash_windows(
    spark, docs_df, tmp_path
):
    """Run compaction (Iceberg snapshot-compaction analog): three
    committed runs collapse into one dir with identical output rows and
    identical committed ids; afterwards resume is still a clean no-op.
    The two crash windows are probed by reproducing their on-disk
    states directly: (a) source ledgers dropped but data dirs not yet
    moved → docs stay committed via the orphan rule; (b) a data dir
    moved to trash (unledgered) → its docs become pending again —
    re-extractable, never duplicated."""
    import shutil

    from onnxocr_spark.pipeline import run_extract
    from onnxocr_spark.sinks import (
        compact_runs, committed_doc_ids, pending_documents, write_with_ledger,
    )
    from onnxocr_spark.sinks.ledger import read_output

    root = str(tmp_path / "out")
    thirds = [docs_df.filter(f"doc_id like '%{i}'") for i in ("1", "2")]
    thirds.append(docs_df.join(
        thirds[0].select("doc_id").union(thirds[1].select("doc_id")),
        "doc_id", "left_anti"))
    for i, part in enumerate(thirds):
        write_with_ledger(run_extract(part), root, run_id=f"r{i}")

    def outkey(df):
        return sorted((r.doc_id, len(r.spans)) for r in df.collect())

    before = outkey(read_output(spark, root))
    ids_before = sorted(r.doc_id
                        for r in committed_doc_ids(spark, root).collect())

    m = compact_runs(spark, root, compacted_id="c1")
    assert m["docs"] == N_DOCS and m["source_runs"] == ["r0", "r1", "r2"]
    assert outkey(read_output(spark, root)) == before
    assert sorted(
        r.doc_id for r in committed_doc_ids(spark, root).collect()
    ) == ids_before
    assert os.listdir(f"{root}/data") == ["run=c1"]
    assert pending_documents(docs_df, root).count() == 0  # resume no-op

    # crash window (a): ledger gone, data dir still in place
    shutil.rmtree(f"{root}/ledger/run=c1")
    assert sorted(
        r.doc_id for r in committed_doc_ids(spark, root).collect()
    ) == ids_before
    assert pending_documents(docs_df, root).count() == 0

    # crash window (b): data dir moved to trash too (both gone) →
    # every doc is pending again, none double-counted
    os.makedirs(f"{root}/_trash/x", exist_ok=True)
    os.replace(f"{root}/data/run=c1", f"{root}/_trash/x/run=c1")
    assert pending_documents(docs_df, root).count() == N_DOCS


def test_ledger_migrates_legacy_metric_sidecars(spark, docs_df, tmp_path):
    """ADVICE r3: roots written before the _sidecars layout carry
    run_*.json directly under {root}/metrics/ — the next commit must
    move them into _sidecars/ (keeping both files on a name collision)
    so a parquet scan of the per-partition metrics tree works on old
    roots without manual migration."""
    import json
    import os

    from onnxocr_spark.pipeline import run_extract
    from onnxocr_spark.sinks import write_with_ledger

    root = str(tmp_path / "out")
    out = run_extract(docs_df)
    write_with_ledger(out, root, run_id="old")
    # simulate the legacy layout: sidecars directly under metrics/
    legacy = os.path.join(root, "metrics", "run_legacy.json")
    json.dump({"run_id": "legacy", "docs": 1}, open(legacy, "w"))
    clash = os.path.join(root, "metrics", "run_old.json")
    json.dump({"run_id": "old", "docs": -1}, open(clash, "w"))

    write_with_ledger(out, root, run_id="new")
    side = os.path.join(root, "metrics", "_sidecars")
    assert not os.path.exists(legacy) and not os.path.exists(clash)
    assert os.path.exists(os.path.join(side, "run_legacy.json"))
    # collision with the already-migrated-era run_old.json keeps both
    assert os.path.exists(os.path.join(side, "run_old.json"))
    assert os.path.exists(os.path.join(side, "run_old.json.legacy"))
    assert json.load(open(os.path.join(side, "run_old.json")))["docs"] != -1
    # the per-partition metrics tree now parquet-scans cleanly
    pm = spark.read.parquet(os.path.join(root, "metrics"))
    assert pm.select("run_id").distinct().count() == 2
