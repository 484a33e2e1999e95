"""Pin the load-bearing physical-plan properties (PLANS.md)."""

from pyspark.sql import functions as F

from onnxocr_spark.operators.spans_derive import derive_documents
from onnxocr_spark.pipeline import run_extract, explode_spans


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_derivation_single_scan_with_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(derive_documents(docs.filter(F.col("doc_id") < 100)))
    assert plan.count("Scan parquet") == 1, "text/media branches must share one scan"
    # r6: the media-prefix running sum is closed-form — the derivation
    # must stay a narrow map over the scan (no Window, and the only
    # exchange is the reassemble groupBy itself)
    assert plan.count("Window") == 0
    assert plan.count("Exchange") == 1
    assert "LessThan(doc_id,100)" in plan, "filter must push into the scan"
    # column pruning: lang/source/n_chars never read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_derive_closed_form_prefix_matches_running_sum(spark):
    """r6: derive_span_rows computes the media-prefix count in closed
    form ((k − r + 2) div 3 with r = (3 − src%3) % 3) instead of a
    window running sum. Pin the formula against a literal Python
    replay of the r5 rule — per (src_id, k): m(j) = [(src·7+j)%3 == 0],
    pre(k) = Σ_{j<k} m(j) — across every doc in a real slice, so a
    future edit to either side breaks loudly here rather than in the
    cross-engine oracle battery."""
    from onnxocr_spark.operators.spans_derive import derive_span_rows

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter(F.col("doc_id") < 64)
    rows = derive_span_rows(docs).collect()
    raw = {r.doc_id: r.text for r in docs.select(
        F.format_string("doc_%012d", "doc_id").alias("doc_id"), "text"
    ).collect()}
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(raw)
    for did, text in raw.items():
        src = int(did.split("_")[1])
        toks = text.split(" ")
        n_chunks = -(-len(toks) // 8)
        expect = []
        off = 0
        for k in range(n_chunks):
            expect.append(("text", " ".join(toks[k * 8:(k + 1) * 8]), "", off))
            off += 1
            if (src * 7 + k) % 3 == 0:
                expect.append(
                    ("media", "", f"img://{did}/{off}", off)
                )
                off += 1
        got = sorted(
            ((r.kind, r.text, r.media_ref, r.offset) for r in by_doc[did]),
            key=lambda t: t[3],
        )
        assert got == expect, did


def test_ocr_exchange_carries_refs_only(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(run_extract(derive_documents(docs.filter("doc_id < 50"))))
    assert "MapInPandas" in plan
    # r6: the balanced exchange is a keyless round-robin (one child
    # evaluation; the old range-on-modular-index paid a partitioner
    # sampling pass that re-ran the whole upstream)
    assert "RoundRobinPartitioning" in plan, "OCR stage must use the balanced exchange"
    assert "rangepartitioning" not in plan.lower()
    # no binary/image column may appear before the OCR stage exchange
    pre_udf = plan.split("MapInPandas")[-1]
    assert "media_bytes" not in pre_udf


def test_every_ocr_entry_plans_the_one_balance_rule(spark, tmp_path):
    """cfg.ocr_partitions sizes every OCR exchange — fused, two-stage
    (media → detect and crops → rec), byte rows and pages — as a keyless
    round-robin; none of them plans a range exchange."""
    import re

    from onnxocr_spark.config import PipelineConfig
    from onnxocr_spark.datagen.documents import write_documents_parquet
    from onnxocr_spark.operators.sources import (
        encode_pages_container, ocr_binary_media, ocr_paged_media,
        pdf_to_pages,
    )

    cfg = PipelineConfig(ocr_partitions=5)
    path = str(tmp_path / "docs.parquet")
    write_documents_parquet(path, 8)
    docs = spark.read.parquet(path)
    blobs = spark.createDataFrame(
        [("m0", bytearray(b"x"))], "media_ref string, media_bytes binary")
    pdfs = spark.createDataFrame(
        [("p0", bytearray(encode_pages_container([])))],
        "doc_id string, pdf_bytes binary")
    entries = {
        "fused": (run_extract(docs, cfg), 1),
        "split": (run_extract(docs, PipelineConfig(
            split_stages=True, ocr_partitions=5)), 2),
        "binary": (ocr_binary_media(blobs, cfg), 1),
        "paged": (ocr_paged_media(pdf_to_pages(pdfs), cfg), 1),
    }
    for name, (df, n_exchanges) in entries.items():
        plan = _plan(df)
        rr = re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)
        # the split plan repeats the detect subtree (texts and leftovers
        # both read it), so count distinct exchanges as a lower bound
        assert len(rr) >= n_exchanges and set(rr) == {"5"}, (name, plan)
        assert "rangepartitioning" not in plan.lower(), name


def test_nested_field_pruning_on_span_table(spark, tmp_path):
    """Reading only span.kind from a materialized span table must prune
    the nested text/media_ref fields at the parquet scan."""
    from onnxocr_spark.datagen.documents import write_documents_parquet

    path = str(tmp_path / "docs.parquet")
    write_documents_parquet(path, 16)
    docs = spark.read.parquet(path)
    q = explode_spans(docs).groupBy("kind").count()
    plan = _plan(q)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "kind" in read_schema
    assert "media_ref" not in read_schema, f"nested pruning failed: {read_schema}"


def test_dedup_plans_have_no_blowup_shapes(spark):
    """Pin the round-2 scale shapes of the dedup battery (VERDICT r1):
    no cartesian/broadcast-nested-loop anywhere; minhash and simhash
    derive per-doc values with ONE map-side-combined aggregation (no
    exploded-token self-join, no 48x bit cross-join)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    qs = em.queries()

    for name in ("dedup_minhash_sig", "dedup_minhash_lsh_pairs",
                 "dedup_online_band_keepers", "dedup_simhash",
                 "ngram_jaccard_pairs", "dedup_embedding_cosine",
                 "reading_order_topk"):
        plan = _plan(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name

    # simhash: input fan-out repartition (scan may be one split locally)
    # + the single partial-agg shuffle, nothing else
    sim = _plan(qs["dedup_simhash"](spark, sf))
    assert sim.count("Exchange") <= 2, "simhash must shuffle at most twice"
    # minhash signatures: one partial-agg shuffle, no joins at all
    mh = _plan(qs["dedup_minhash_sig"](spark, sf))
    assert "Join" not in mh, "minhash must not self-join tokens"
    assert mh.count("HashAggregate") >= 2, "expect partial+final aggregate"
    # reading-order: global top-k must be a take-ordered plan, not a
    # full-table single-partition window
    ro = _plan(qs["reading_order_topk"](spark, sf))
    assert "TakeOrderedAndProject" in ro


def test_chunking_is_explode_only(spark):
    """chunk_documents must stay a narrow per-row derivation: no join,
    no aggregate, and at most the adaptive fan-out repartition as an
    exchange — chunk slices and md5 fingerprints are all per-row
    expressions, so a shuffle anywhere else is a regression."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["chunk_documents"](
        spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Generate explode" in plan, plan


def test_decontamination_broadcasts_eval_side(spark):
    """The eval-slice shingle set is broadcast-small by construction
    (2% of docs, distinct 8-gram strings); pin that the join actually
    builds on it — /*+ BROADCAST(ev) */ in _DECONTAM_SPARK — instead of
    shuffling the full corpus-side shingle stream by shingle text
    (VERDICT r3 item 4: the claim was a comment, now it's a plan)."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["decontaminate_overlap"](
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_battery_wide_plan_hygiene(spark):
    """EVERY queries() entry builds and contains no scale red flag:
    no CartesianProduct anywhere, and no BroadcastNestedLoopJoin
    except the one sanctioned site (embedding_cosine_topk's
    broadcast-Q-bounded exact baseline: 10 query rows broadcast
    against the table — cost Q·N by design, Q fixed). Catches a
    regression in ANY query the per-query tests don't pin."""
    import __spark_entry__ as em

    sanctioned_bnlj = {"embedding_cosine_topk"}
    sf = "/root/testdata/sf0.001"
    bad = {}
    for name, fn in em.queries().items():
        plan = _plan(fn(spark, sf))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in sanctioned_bnlj:
            flags.append("bnlj")
        if flags:
            bad[name] = flags
    assert not bad, bad


def test_shingle_fanout_hint_is_adaptive(spark):
    """The shingle/token fan-out repartition must be conditional on the
    scan's split count (VERDICT r2 item 3): hinted when the local scan
    is one split, ABSENT when input splits already provide parallelism
    (the cluster case, simulated by shrinking maxPartitionBytes)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    # local small file → few splits → hint present
    assert "REPARTITION" in em._docs_src(spark, sf)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        src = em._docs_src(spark, sf)
        assert "REPARTITION" not in src, src
        plan = _plan(em.queries()["dedup_simhash"](spark, sf))
        # scan splits provide the fan-out: only the partial-agg shuffle
        assert plan.count("Exchange") <= 1, plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_indexing_queries_broadcast_their_small_sides(spark):
    """phrase_search must broadcast the query-phrase relation (r6
    continuation: the sliding-gram formulation joins each position's
    3/4/5-gram against the broadcast phrase strings) — the
    map-side-death of non-matching grams is the whole scale story.
    bloom_ngram_decontaminate (r6) carries its constant 16 KB filter as
    ONE dense-array scalar subquery instead of two broadcast joins: the
    probe plan must show the subquery and contain NO join node at all
    (operators/indexing.py)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    plan = _plan(em.queries()["phrase_search"](spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    plan = _plan(em.queries()["bloom_ngram_decontaminate"](spark, sf))
    assert "Subquery" in plan, plan
    assert "Join" not in plan, plan
