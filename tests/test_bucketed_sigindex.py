"""Bucketed sigindex accelerator (sinks/bucketed.py).

Three properties, in descending order of importance:
1. DECISIONS NEVER CHANGE — a --resume against a bucketized root keeps
   and retires exactly what the plain-parquet index path decides, for
   every policy, with or without a post-bucketize parquet delta.
2. THE INDEX SIDE DOES NOT SHUFFLE — the (band, band_sig) equi-join
   reads straight out of bucket files (Bucketed: true, no index-side
   Exchange); only the new-batch side exchanges. This is the
   storage-partitioned-join shape PLANS.md §7 called for, on Spark's
   native bucketed tables instead of an Iceberg catalog.
3. EVERY DEGRADED STATE FALLS BACK, never mis-decides: missing marker
   (crash before the commit point), deleted data dir, and a marker
   left stale by run compaction all route readers to the run dirs.
"""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
UNIQ = "totally different words compose this one stream here"
BATCH1 = [
    (0, BASE),
    (1, UNIQ),
    (2, BASE),                      # dup of 0
    (3, BASE + " tailchange"),      # near-dup of 0
    (4, "short un"),                # sub-shingle
    (5, "another unrelated document with its own tokens five six"),
]
BATCH2 = [
    (10, BASE + " tailchange"),     # dup of RETIRED doc 3
    (11, UNIQ),                     # dup of kept doc 1
    (12, "a wholly new topic covered by fresh vocabulary entirely"),
    (13, "a wholly new topic covered by fresh vocabulary entirely"),
    (14, "tiny doc"),               # sub-shingle
]
SCHEMA = "doc_id long, text string"


def _write(spark, tmp_path, name, rows):
    p = str(tmp_path / name)
    spark.createDataFrame(rows, SCHEMA).write.parquet(p)
    return p


def _decisions(spark, root, run):
    kept = {r.doc_id for r in spark.read.parquet(
        f"{root}/data/run={run}").collect()}
    retired = {r.doc_id for r in spark.read.parquet(
        f"{root}/retired/run={run}").collect()}
    return kept, retired


@pytest.fixture
def cleanup_tables(spark):
    """Bucketized roots register per-root session-catalog tables; drop
    them so the shared session stays clean for later tests."""
    before = {t.name for t in spark.catalog.listTables()}
    yield
    for t in spark.catalog.listTables():
        if (t.name.startswith(("sigindex_", "semvec_"))
                and t.name not in before):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_bucketized_resume_decides_identically(spark, tmp_path,
                                               cleanup_tables):
    """Twin roots per policy: run1 commits batch1 on both, root B is
    then bucketized; the batch2 --resume must decide identically —
    the table is an accelerator, never an oracle-visible change."""
    import dedup_job
    from onnxocr_spark.sinks.bucketed import (
        bucketize_sigindex, load_sigindex_parts, sigindex_table_name,
    )

    src1 = _write(spark, tmp_path, "b1", BATCH1)
    src2 = _write(spark, tmp_path, "b2", BATCH2)
    for policy in ("cc", "online", "exact"):
        plain = str(tmp_path / f"plain_{policy}")
        fast = str(tmp_path / f"fast_{policy}")
        for root in (plain, fast):
            assert dedup_job.main(
                ["--input", src1, "--output", root,
                 "--policy", policy, "--run-id", "r1"]) == 0
        cover = bucketize_sigindex(spark, fast, n_buckets=8)
        assert cover["table"] == sigindex_table_name(fast)
        assert cover["runs"] == ["run=r1"]
        # fully covered: exactly one part, and it is the catalog table
        parts = load_sigindex_parts(spark, fast)
        assert len(parts) == 1
        for root in (plain, fast):
            assert dedup_job.main(
                ["--input", src2, "--output", root,
                 "--policy", policy, "--run-id", "r2", "--resume"]) == 0
        assert _decisions(spark, plain, "r2") == _decisions(spark, fast, "r2")
    # the cc decisions themselves stay the pinned ones
    kept, retired = _decisions(spark, str(tmp_path / "fast_cc"), "r2")
    assert kept == {12, 14} and retired == {10, 11, 13}


def test_bucketed_join_has_no_index_side_exchange(spark, tmp_path,
                                                  cleanup_tables):
    """The point of the table: joining bands against the bucketed index
    on the bucket keys reads the index without an Exchange. With
    broadcast disabled the plan is a SortMergeJoin whose index side is
    a bucketed scan; the ONLY Exchange is the new-batch side."""
    import dedup_job
    from onnxocr_spark.sinks.bucketed import (
        bucketize_sigindex, load_sigindex_parts,
    )

    src1 = _write(spark, tmp_path, "b1", BATCH1)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src1, "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    bucketize_sigindex(spark, root, n_buckets=8)
    part = load_sigindex_parts(spark, root)[0]

    bands = spark.createDataFrame(
        [(100, 0, "1|2|3|4"), (101, 1, "5|6|7|8")],
        "doc_id long, band int, band_sig string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bands.join(part, ["band", "band_sig"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # exactly one exchange: the 2-row bands side; zero on the index
    assert plan.count("Exchange") == 1
    bands_section = plan.split("SortMergeJoin")[1]
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("sigindex_" in ln for ln in scan_lines)
    del bands_section  # plan-string split sanity only


def test_delta_runs_ride_along_and_decide_identically(spark, tmp_path,
                                                      cleanup_tables):
    """Runs committed AFTER the last bucketize join as a small parquet
    delta part: two parts load, and a third-batch resume still equals
    the plain-parquet twin."""
    import dedup_job
    from onnxocr_spark.sinks.bucketed import (
        bucketize_sigindex, load_sigindex_parts,
    )

    batch3 = [
        (20, UNIQ),                 # dup of doc 1 (covered by table)
        (21, "a wholly new topic covered by fresh vocabulary entirely"),
        # ^ dup of doc 12, which only the DELTA part (run=r2) knows
        (22, "yet another never before seen string of words here now"),
    ]
    src1 = _write(spark, tmp_path, "b1", BATCH1)
    src2 = _write(spark, tmp_path, "b2", BATCH2)
    src3 = _write(spark, tmp_path, "b3", batch3)
    plain = str(tmp_path / "plain")
    fast = str(tmp_path / "fast")
    for root in (plain, fast):
        assert dedup_job.main(["--input", src1, "--output", root,
                               "--policy", "cc", "--run-id", "r1"]) == 0
    bucketize_sigindex(spark, fast, n_buckets=8)
    for root in (plain, fast):
        assert dedup_job.main(["--input", src2, "--output", root,
                               "--policy", "cc", "--run-id", "r2",
                               "--resume"]) == 0
    # r2 committed after the bucketize → table + delta
    parts = load_sigindex_parts(spark, fast)
    assert len(parts) == 2
    for root in (plain, fast):
        assert dedup_job.main(["--input", src3, "--output", root,
                               "--policy", "cc", "--run-id", "r3",
                               "--resume"]) == 0
    assert _decisions(spark, plain, "r3") == _decisions(spark, fast, "r3")
    kept3, retired3 = _decisions(spark, fast, "r3")
    assert retired3 == {20, 21} and kept3 == {22}


def test_degraded_states_fall_back_to_run_dirs(spark, tmp_path,
                                               cleanup_tables):
    """Crash/staleness windows: no marker (bucketize crashed before its
    commit point), marker without data, and a marker left stale by run
    compaction must all fall back to the parquet run dirs."""
    import shutil

    import dedup_job
    from onnxocr_spark.sinks.bucketed import (
        _data_path, _marker_path, bucketize_sigindex, load_sigindex_parts,
        sigindex_table_name,
    )
    from onnxocr_spark.sinks.ledger import compact_runs

    src1 = _write(spark, tmp_path, "b1", BATCH1)
    src2 = _write(spark, tmp_path, "b2", BATCH2)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src1, "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    bucketize_sigindex(spark, root, n_buckets=8)

    # marker removed (the commit point never happened) → parquet part
    marker = _marker_path(root)
    cover = json.load(open(marker))
    os.remove(marker)
    [p] = load_sigindex_parts(spark, root)
    assert any("sigindex/run=" in f for f in p.inputFiles())
    # restore marker but delete the table data → fall back too
    with open(marker, "w") as f:
        json.dump(cover, f)
    shutil.rmtree(_data_path(root))
    spark.sql(f"DROP TABLE IF EXISTS {sigindex_table_name(root)}")
    [p] = load_sigindex_parts(spark, root)
    assert any("sigindex/run=" in f for f in p.inputFiles())

    # rebuild, then compact: the consolidated run renames sigindex dirs
    # out from under the marker → stale → fallback, and resume still
    # decides the pinned outcome
    bucketize_sigindex(spark, root, n_buckets=8)
    compact_runs(spark, root, compacted_id="c1")
    parts = load_sigindex_parts(spark, root)
    assert len(parts) == 1
    assert any("run=c1" in f for f in parts[0].inputFiles())
    assert dedup_job.main(["--input", src2, "--output", root,
                           "--policy", "cc", "--run-id", "r2",
                           "--resume"]) == 0
    kept2, retired2 = _decisions(spark, root, "r2")
    assert kept2 == {12, 14} and retired2 == {10, 11, 13}
    # re-bucketize AFTER compaction covers the consolidated run again
    cover = bucketize_sigindex(spark, root, n_buckets=8)
    assert set(cover["runs"]) == {"run=c1", "run=r2"}
    [tbl] = load_sigindex_parts(spark, root)


def test_cross_session_reregistration(spark, tmp_path, cleanup_tables):
    """The default in-memory catalog dies with the session; the bucket
    files + marker do not. A reader in a FRESH session (simulated by
    dropping the catalog entry) must re-register the external table
    from the marker and still scan it bucketed."""
    import dedup_job
    from onnxocr_spark.sinks.bucketed import (
        bucketize_sigindex, load_sigindex_parts, sigindex_table_name,
    )

    src1 = _write(spark, tmp_path, "b1", BATCH1)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src1, "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    before = {r["band_sig"] for r in
              load_sigindex_parts(spark, root)[0].collect()}
    bucketize_sigindex(spark, root, n_buckets=8)
    table = sigindex_table_name(root)
    spark.sql(f"DROP TABLE {table}")  # external: files survive
    assert not spark.catalog.tableExists(table)
    [part] = load_sigindex_parts(spark, root)
    assert spark.catalog.tableExists(table)
    assert {r["band_sig"] for r in part.collect()} == before
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bands = spark.createDataFrame(
            [(1, 0, "x")], "doc_id long, band int, band_sig string")
        plan = (bands.join(part, ["band", "band_sig"])
                ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan and plan.count("Exchange") == 1


def test_bucketize_via_compact_job_flag(spark, tmp_path, cleanup_tables):
    """jobs/compact_job.py --bucket-index is the maintenance surface:
    --bucket-index-only builds the table without compacting; a full
    compaction + --bucket-index rebuilds it over the consolidated run."""
    import compact_job
    import dedup_job
    from onnxocr_spark.sinks.bucketed import load_sigindex_parts

    src1 = _write(spark, tmp_path, "b1", BATCH1)
    src2 = _write(spark, tmp_path, "b2", BATCH2)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src1, "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    assert compact_job.main(["--root", root, "--bucket-index", "8",
                             "--bucket-index-only"]) == 0
    [part] = load_sigindex_parts(spark, root)
    assert dedup_job.main(["--input", src2, "--output", root,
                           "--policy", "cc", "--run-id", "r2",
                           "--resume"]) == 0
    kept2, retired2 = _decisions(spark, root, "r2")
    assert kept2 == {12, 14} and retired2 == {10, 11, 13}
    # full compaction folds r1+r2; --bucket-index then re-covers it
    assert compact_job.main(["--root", root, "--compacted-id", "c1",
                             "--bucket-index", "8"]) == 0
    [part] = load_sigindex_parts(spark, root)
    sigs = {(r["band"], r["band_sig"]) for r in part.collect()}
    assert sigs  # consolidated index non-empty and table-backed


# ---------------------------------------------------------------------------
# Semantic twin: bucketed committed-vector layout (cell, gb).
# ---------------------------------------------------------------------------

VA = [1.0, 0.0, 0.0, 0.0]
VB = [0.0, 1.0, 0.0, 0.0]
VC = [0.0, 0.0, 1.0, 0.0]
VD = [0.0, 0.0, 0.0, 1.0]
VSCHEMA = "vec_id long, embedding array<double>"
VB1 = [(0, VA), (1, VA), (2, VB), (3, VC)]          # 1 dups 0 → retired
VB2 = [(10, VA),                                    # dup of RETIRED 1/0
       (11, VB),                                    # dup of kept 2
       (12, VD), (13, VD)]                          # new pair: keep 12
VB3 = [(20, VD),                                    # dup of kept-in-r2 12
       (21, [0.5, 0.5, 0.5, 0.5])]                  # cos 0.5 vs every axis


def _vwrite(spark, tmp_path, name, rows):
    p = str(tmp_path / name)
    spark.createDataFrame(rows, VSCHEMA).write.parquet(p)
    return p


def _vdecisions(spark, root, run):
    kept = {r.vec_id for r in spark.read.parquet(
        f"{root}/data/run={run}").collect()}
    retired = {r.vec_id for r in spark.read.parquet(
        f"{root}/retired/run={run}").collect()}
    return kept, retired


def test_semantic_bucketized_resume_decides_identically(spark, tmp_path,
                                                        cleanup_tables):
    """Twin semantic roots: bucketizing the committed vectors between
    runs must not change a single keep/retire decision — with the
    table fully covering the history AND with a post-bucketize delta
    run riding along as a plain part."""
    import semantic_dedup_job
    from onnxocr_spark.sinks.bucketed import (
        bucketize_semvectors, load_semvector_parts, semvector_table_name,
    )

    src1 = _vwrite(spark, tmp_path, "b1", VB1)
    src2 = _vwrite(spark, tmp_path, "b2", VB2)
    src3 = _vwrite(spark, tmp_path, "b3", VB3)
    plain = str(tmp_path / "plain")
    fast = str(tmp_path / "fast")
    for root in (plain, fast):
        assert semantic_dedup_job.main(
            ["--input", src1, "--output", root, "--run-id", "r1",
             "--n-cells", "2"]) == 0
    cover = bucketize_semvectors(spark, fast, n_buckets=8)
    assert cover["table"] == semvector_table_name(fast)
    assert cover["runs"] == ["r1"] and cover["g"] >= 1
    [part] = load_semvector_parts(spark, fast)
    assert isinstance(part, tuple) and part[1] == cover["g"]
    for root in (plain, fast):
        assert semantic_dedup_job.main(
            ["--input", src2, "--output", root, "--run-id", "r2",
             "--resume"]) == 0
    assert _vdecisions(spark, plain, "r2") == _vdecisions(spark, fast, "r2")
    kept2, retired2 = _vdecisions(spark, fast, "r2")
    assert kept2 == {12} and retired2 == {10, 11, 13}

    # r2 committed after the bucketize → table + plain delta part; the
    # threshold-driven retire of 21 (cos 0.5 contact) must come out
    # identically: 20 dups a DELTA vector, 21 contacts TABLE vectors
    parts = load_semvector_parts(spark, fast)
    assert len(parts) == 2 and isinstance(parts[0], tuple)
    for root in (plain, fast):
        assert semantic_dedup_job.main(
            ["--input", src3, "--output", root, "--run-id", "r3",
             "--resume"]) == 0
    assert _vdecisions(spark, plain, "r3") == _vdecisions(spark, fast, "r3")
    kept3, retired3 = _vdecisions(spark, fast, "r3")
    assert kept3 == set() and retired3 == {20, 21}


def test_semantic_cogroup_no_committed_side_exchange(spark, tmp_path,
                                                     cleanup_tables):
    """The cogrouped bipartite scan reads the bucketed committed
    vectors WITHOUT an Exchange — only the exploded new side shuffles
    — and still emits exactly the thresholded pairs."""
    import semantic_dedup_job
    from onnxocr_spark.operators.similarity import (
        cosine_pairs_bipartite_cogrouped,
    )
    from onnxocr_spark.sinks.bucketed import (
        bucketize_semvectors, load_semvector_parts,
    )

    src1 = _vwrite(spark, tmp_path, "b1", VB1)
    root = str(tmp_path / "root")
    assert semantic_dedup_job.main(
        ["--input", src1, "--output", root, "--run-id", "r1",
         "--n-cells", "2"]) == 0
    bucketize_semvectors(spark, root, n_buckets=8)
    [(pre, g)] = load_semvector_parts(spark, root)

    # new vectors pre-assigned to the committed cells: 100 dups A,
    # 101 is the cos-0.5 all-axes vector; cells must match the
    # committed assignment, so derive them the production way
    from onnxocr_spark.operators.similarity import seed_cells

    seeds = (
        spark.read.parquet(f"{root}/cellindex/run=r1")
        .select(F.col("seed_id").alias("vec_id"),
                F.col("se").alias("embedding"))
    )
    new = spark.createDataFrame(
        [(100, VA), (101, [0.5, 0.5, 0.5, 0.5])], VSCHEMA)
    new_cells = seed_cells(new, 2, seed_from=seeds)

    pairs = cosine_pairs_bipartite_cogrouped(new_cells, pre, g,
                                             threshold=0.45)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1  # the exploded new side only
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # 100 (≡A) contacts committed 0 and 1; 101 contacts whichever
    # committed vectors share its assigned cell at cos 0.5 — at least
    # one; every emitted pair must satisfy the threshold
    assert (100, 0) in got and (100, 1) in got
    assert any(a == 101 for a, _ in got)
    assert all(a in {100, 101} for a, _ in got)


def test_semantic_degraded_states_fall_back(spark, tmp_path,
                                            cleanup_tables):
    """Marker gone / compaction-staled marker → plain parts; resume
    still decides the pinned outcome; re-bucketize re-covers."""
    import semantic_dedup_job
    from onnxocr_spark.sinks.bucketed import (
        _vec_marker_path, bucketize_semvectors, load_semvector_parts,
    )
    from onnxocr_spark.sinks.ledger import compact_runs

    src1 = _vwrite(spark, tmp_path, "b1", VB1)
    src2 = _vwrite(spark, tmp_path, "b2", VB2)
    root = str(tmp_path / "root")
    assert semantic_dedup_job.main(
        ["--input", src1, "--output", root, "--run-id", "r1",
         "--n-cells", "2"]) == 0
    bucketize_semvectors(spark, root, n_buckets=8)
    os.remove(_vec_marker_path(root))
    [p] = load_semvector_parts(spark, root)
    assert not isinstance(p, tuple)
    assert any("/data/run=" in f or "/retired/run=" in f
               for f in p.inputFiles())

    bucketize_semvectors(spark, root, n_buckets=8)
    compact_runs(spark, root, compacted_id="c1")
    [p] = load_semvector_parts(spark, root)     # marker stale → plain
    assert not isinstance(p, tuple)
    assert semantic_dedup_job.main(
        ["--input", src2, "--output", root, "--run-id", "r2",
         "--resume"]) == 0
    kept2, retired2 = _vdecisions(spark, root, "r2")
    assert kept2 == {12} and retired2 == {10, 11, 13}
    cover = bucketize_semvectors(spark, root, n_buckets=8)
    assert set(cover["runs"]) == {"c1", "r2"}
    [part] = load_semvector_parts(spark, root)
    assert isinstance(part, tuple)


def test_semantic_ledger_without_success_is_uncommitted(spark, tmp_path,
                                                        cleanup_tables):
    """Crash window inside the commit marker: run r2's ledger dir exists
    but its _SUCCESS never landed. r2 must count as uncommitted
    everywhere — the bucketize marker leaves it out, and a resume of
    batch 2 re-decides it exactly like a twin root whose r2 ledger dir
    is gone entirely."""
    import shutil

    import semantic_dedup_job
    from onnxocr_spark.sinks.bucketed import bucketize_semvectors

    src1 = _vwrite(spark, tmp_path, "b1", VB1)
    src2 = _vwrite(spark, tmp_path, "b2", [(2, VB)] + VB2)
    root = str(tmp_path / "root")
    assert semantic_dedup_job.main(
        ["--input", src1, "--output", root, "--run-id", "r1",
         "--n-cells", "2"]) == 0
    assert semantic_dedup_job.main(
        ["--input", src2, "--output", root, "--run-id", "r2",
         "--resume"]) == 0
    partial = str(tmp_path / "partial")
    missing = str(tmp_path / "missing")
    shutil.copytree(root, partial)
    shutil.copytree(root, missing)
    os.remove(f"{partial}/ledger/run=r2/_SUCCESS")
    assert os.path.isdir(f"{partial}/ledger/run=r2")
    shutil.rmtree(f"{missing}/ledger/run=r2")

    cover = bucketize_semvectors(spark, partial, n_buckets=8)
    assert cover["runs"] == ["r1"]
    ids = {r.vec_id for r in spark.table(cover["procids_table"]).collect()}
    assert ids == {0, 1, 2, 3}

    for twin in (partial, missing):
        assert semantic_dedup_job.main(
            ["--input", src2, "--output", twin, "--run-id", "rX",
             "--resume"]) == 0
    assert (_vdecisions(spark, partial, "rX")
            == _vdecisions(spark, missing, "rX")
            == ({12}, {10, 11, 13}))


def test_compact_job_dispatches_by_root_layout(spark, tmp_path,
                                               cleanup_tables):
    """--bucket-index auto-detects the root type: sigindex/ → band
    table, cellindex/ → vector table."""
    import compact_job
    import dedup_job
    import semantic_dedup_job
    from onnxocr_spark.sinks.bucketed import (
        semvector_table_name, sigindex_table_name,
    )

    tsrc = _write(spark, tmp_path, "t1", BATCH1)
    troot = str(tmp_path / "text_root")
    assert dedup_job.main(["--input", tsrc, "--output", troot,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    assert compact_job.main(["--root", troot, "--bucket-index", "8",
                             "--bucket-index-only"]) == 0
    assert spark.catalog.tableExists(sigindex_table_name(troot))

    vsrc = _vwrite(spark, tmp_path, "v1", VB1)
    vroot = str(tmp_path / "sem_root")
    assert semantic_dedup_job.main(
        ["--input", vsrc, "--output", vroot, "--run-id", "r1",
         "--n-cells", "2"]) == 0
    assert compact_job.main(["--root", vroot, "--bucket-index", "8",
                             "--bucket-index-only"]) == 0
    assert spark.catalog.tableExists(semvector_table_name(vroot))


def test_procids_table_covers_skip_and_anti_joins_unshuffled(
        spark, tmp_path, cleanup_tables):
    """The same bucketize pass writes the processed-ids twin table
    (one marker covers both): its content is exactly ledger ∪ retired
    distinct, and the new-batch LEFT ANTI join against it reads the
    id side bucketed with the only Exchange on the new side."""
    import dedup_job
    from onnxocr_spark.sinks.bucketed import (
        _procids_table_name, bucketize_sigindex,
    )

    src1 = _write(spark, tmp_path, "b1", BATCH1)
    root = str(tmp_path / "root")
    assert dedup_job.main(["--input", src1, "--output", root,
                           "--policy", "cc", "--run-id", "r1"]) == 0
    cover = bucketize_sigindex(spark, root, n_buckets=8)
    assert cover["procids_id_col"] == "doc_id"
    ids = {r.doc_id for r in spark.table(cover["procids_table"]).collect()}
    led = {r.doc_id for r in spark.read.parquet(
        f"{root}/ledger/run=r1").collect()}
    ret = {r.doc_id for r in spark.read.parquet(
        f"{root}/retired/run=r1").collect()}
    assert ids == led | ret == {0, 1, 2, 3, 4, 5}
    assert cover["procids_table"] == _procids_table_name(root)

    new = spark.createDataFrame([(2,), (99,)], "doc_id long")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        anti = new.join(spark.table(cover["procids_table"]),
                        "doc_id", "left_anti")
        plan = anti._jdf.queryExecution().executedPlan().toString()
        got = {r.doc_id for r in anti.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == {99}
    assert "LeftAnti" in plan and "Bucketed: true" in plan
    assert plan.count("Exchange") == 1


def test_extraction_root_procids_accelerator(spark, tmp_path,
                                             cleanup_tables):
    """Extraction roots get the ids-only treatment via the compact-job
    dispatch: pending_documents anti-joins the bucketed table without
    a committed-side Exchange, orphan data dirs (crashed before their
    ledger write) still count as committed regardless of the marker,
    and a missing marker falls back to the plain ledger read."""
    import compact_job
    from onnxocr_spark.sinks.bucketed import (
        _extract_marker_path, _procids_table_name,
    )
    from onnxocr_spark.sinks.ledger import (
        committed_doc_id_parts, pending_documents, write_with_ledger,
    )

    root = str(tmp_path / "xroot")
    docs1 = spark.createDataFrame(
        [(0,), (1,), (2,)], "doc_id long"
    ).selectExpr(
        "doc_id",
        "array(named_struct('kind', 'text', 'text', 'hello', "
        "'media_ref', '', 'offset', 0)) AS spans",
    )
    write_with_ledger(docs1, root, "r1")
    assert compact_job.main(["--root", root, "--bucket-index", "8",
                             "--bucket-index-only"]) == 0
    assert spark.catalog.tableExists(_procids_table_name(root))

    new = spark.createDataFrame(
        [(1, "b"), (9, "z")], "doc_id long, text string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pend = pending_documents(new, root)
        plan = pend._jdf.queryExecution().executedPlan().toString()
        got = {r.doc_id for r in pend.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == {9}
    assert "LeftAnti" in plan and "Bucketed: true" in plan
    assert plan.count("Exchange") == 1

    # orphan data dir (no ledger) is authoritative even though the
    # marker doesn't cover it: its doc must be skipped too
    spark.createDataFrame([(50, "o")], "doc_id long, text string") \
        .write.parquet(f"{root}/data/run=orph")
    parts = committed_doc_id_parts(spark, root)
    assert len(parts) == 2  # bucketed table + orphan plain part
    got = {r.doc_id for r in pending_documents(
        spark.createDataFrame([(50, "o"), (60, "n")],
                              "doc_id long, text string"), root).collect()}
    assert got == {60}

    # marker gone → plain ledger fallback, same answers
    os.remove(_extract_marker_path(root))
    got = {r.doc_id for r in pending_documents(
        spark.createDataFrame([(1, "b"), (50, "o"), (61, "n")],
                              "doc_id long, text string"), root).collect()}
    assert got == {61}


def test_extraction_procids_stale_after_compaction(spark, tmp_path,
                                                   cleanup_tables):
    """compact_runs renames the ledgered history, so a procids marker
    written before it no longer covers a subset of the committed runs;
    load_processed_parts must detect that and fall back to the plain
    ledger read — decisions identical, never a silent skip-miss."""
    import compact_job
    from onnxocr_spark.sinks.bucketed import _extract_marker_path
    from onnxocr_spark.sinks.ledger import (
        compact_runs, pending_documents, write_with_ledger,
    )

    root = str(tmp_path / "xroot2")
    for run, ids in (("r1", [0, 1]), ("r2", [2, 3])):
        write_with_ledger(
            spark.createDataFrame([(i,) for i in ids], "doc_id long")
            .selectExpr(
                "doc_id",
                "array(named_struct('kind', 'text', 'text', 't', "
                "'media_ref', '', 'offset', 0)) AS spans",
            ),
            root, run,
        )
    assert compact_job.main(["--root", root, "--bucket-index", "8",
                             "--bucket-index-only"]) == 0
    compact_runs(spark, root)
    assert os.path.exists(_extract_marker_path(root))  # stale, not gone
    pend = pending_documents(
        spark.createDataFrame([(2, "b"), (7, "n")],
                              "doc_id long, text string"), root)
    plan = pend._jdf.queryExecution().executedPlan().toString()
    assert {r.doc_id for r in pend.collect()} == {7}
    assert "Bucketed: true" not in plan  # plain fallback, no stale reads
