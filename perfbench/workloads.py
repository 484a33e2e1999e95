"""The workloads: inputs, timed run, correctness check, and the
traced extras that give the per-layer metrics.

Every workload function takes a ``Ctx`` and returns a ``Result``. The
timed run never includes input generation or correctness checks; the
traced extras (staged Spark layers, REST reads, OCR replay) run after
the timed rounds and never change the end-to-end numbers of an
untraced run.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

import inputs
from replay import replay
from sparkstats import SparkStats


def log(msg: str) -> None:
    print(f"# perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


HERE = os.path.dirname(os.path.abspath(__file__))
BATTERY_SF = os.path.join(HERE, "data", "sf0.01")

# bench.py's HEADLINE minus its two OCR-bearing queries (ocr_extract,
# pdf_pages_text), frozen here so the battery does not change when the
# program's own bench list does
BATTERY = [
    "ocr_text_passthrough", "explode_tokens", "restitch_docs",
    "ctc_dedupe_analog", "q1_pricing_summary", "q3_top_orders",
    "dedup_exact", "dedup_minhash_sig", "dedup_minhash_lsh_pairs",
    "dedup_cluster_keepers", "dedup_simhash", "ngram_jaccard_pairs",
    "dedup_embedding_cosine", "dedup_embedding_cosine_bucketed",
    "dedup_semantic_keepers", "embedding_cosine_topk", "html_main_content",
    "quality_score", "token_count", "chunk_documents", "pii_scrub",
    "dedup_incremental", "dedup_incremental_online",
    "semdedup_two_level_cells", "semdedup_two_level_pairs",
    "semantic_incremental", "corpus_final", "event_asof_attribution",
    "event_range_join", "pack_sequences", "phrase_search",
    "bloom_ngram_decontaminate", "hll_distinct_tokens",
    "doc_length_percentiles", "corpus_diff", "dup_graph_triangles",
]

# documents per extract_commit input, and the leading documents of it
# whose pages go through the traced binary pass; multiples of 97 keep
# the number of heavy documents the same for every seed
DOCS = 970
BINARY_DOCS = 194
TINY_DOCS = 97
TINY_BATTERY = 3
MEDIA_ORACLE = "ocr_media_structure"
# a timed run is at least this many rounds, however short --seconds is,
# after this many untimed ones
MIN_ROUNDS = 3
WARM_ROUNDS = 1
# images in the traced OCR replay sample
REPLAY_IMAGES = 96
TINY_REPLAY_IMAGES = 8


@dataclass
class Ctx:
    spark: object
    cores: int
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    work: str
    cache: str
    tracer: object
    jvm_pid: int


@dataclass
class Result:
    attempted: int
    failed: int
    wall_s: float
    docs: int
    media: int
    peak_rss_mb: float
    layers: dict = field(default_factory=dict)


# ---------------------------------------------------------------- set-up


def warm_workers(spark, cores: int) -> float:
    """Fork every Python worker and load its model sessions; returns the
    slowest worker's session load time in seconds."""

    def warm(batches):
        import time

        import numpy as np
        import pandas as pd

        from onnxocr_spark.config import DEFAULT_CONFIG as cfg
        from onnxocr_spark.models.barcode import encode_bar
        from onnxocr_spark.models.sessions import get_charset, get_session
        from onnxocr_spark.ocr.textsystem import ocr_image_text

        t0 = time.perf_counter()
        for name in (cfg.det_model, cfg.cls_model, cfg.rec_model):
            get_session(name)
        get_charset(cfg.rec_charset)
        load = time.perf_counter() - t0
        ocr_image_text(np.repeat(encode_bar("warm")[:, :, None], 3, axis=2))
        for pdf in batches:
            yield pd.DataFrame({"load_s": [load] * len(pdf)})

    rows = (spark.range(cores * 2).repartition(cores * 2)
            .mapInPandas(warm, "load_s double").collect())
    return max(r.load_s for r in rows)


def start_session(cores: int):
    """build_session + warm stage → (spark, build_s, setup_s, load_s)."""
    from onnxocr_spark.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=max(cores, 16))
    build_s = time.perf_counter() - t0
    load_s = warm_workers(spark, cores)
    return spark, build_s, time.perf_counter() - t0, load_s


def process_tree(pid: int) -> list[int]:
    """pid and all its descendants, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [pid], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        tree += kids
        frontier = kids
    return tree


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of the driver JVM and every
    process under it (the Python daemon and workers)."""
    kb = {}
    for pid in process_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb[pid] = int(line.split()[1])
        except OSError:
            continue
    log(f"peak RSS: JVM {kb.get(jvm_pid, 0) / 1024:.0f} MB, Python "
        f"{(sum(kb.values()) - kb.get(jvm_pid, 0)) / 1024:.0f} MB")
    return sum(kb.values()) / 1024.0


# ----------------------------------------------------------- timed rounds


def timed_rounds(ctx: Ctx, round_fn):
    """Run ``round_fn(k, traced)`` until --seconds have passed and at
    least MIN_ROUNDS (1 when tiny) rounds are done. In a traced run
    rounds alternate untraced / traced, so the tracing overhead is the
    difference of their medians. → (plain times, traced times, outputs)"""
    min_rounds = 1 if ctx.tiny else MIN_ROUNDS
    if ctx.trace:
        min_rounds = max(2, min_rounds)
    plain, traced, outs = [], [], []
    t_start = time.perf_counter()
    k = 0
    while k < min_rounds or time.perf_counter() - t_start < ctx.seconds:
        on = ctx.trace and k % 2 == 1
        ctx.tracer.enabled = on
        t0 = time.perf_counter()
        with ctx.tracer.span("round"):
            outs.append(round_fn(k, on))
        (traced if on else plain).append(time.perf_counter() - t0)
        k += 1
    ctx.tracer.enabled = ctx.trace
    return plain, traced, outs


def round_group(k: int) -> str:
    return f"perfbench-round-{k}"


def traced_round_layers(stats: SparkStats) -> dict:
    """Spark counts, shuffle bytes and Python-bound bytes of the first
    traced round (round 1). The bytes come from this round because a
    persisted stage's SQL metrics are not reported under the query
    that fills the cache."""
    group = round_group(1)
    c = stats.counts(group)
    return {
        "spark.jobs": c["jobs"], "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "pipeline.shuffle_bytes": stats.shuffle_write_bytes(group),
        "pipeline.ocr_stage.python_bytes_per_image":
            stats.python_bytes_per_row(group),
    }


def in_group(ctx: Ctx, group: str, on: bool):
    """Set the job group for a traced section (a no-op when untraced)."""
    if on:
        ctx.spark.sparkContext.setJobGroup(group, group)


def clear_group(ctx: Ctx):
    ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def seeded_sample(ctx: Ctx, items: list) -> list:
    n = TINY_REPLAY_IMAGES if ctx.tiny else REPLAY_IMAGES
    rng = random.Random(f"replay/{ctx.seed}")
    return rng.sample(items, min(n, len(items)))


# ---------------------------------------------------------- extract_commit


def extract_commit(ctx: Ctx) -> Result:
    """documents parquet → run_extract → write_with_ledger into a fresh
    root → resume pass (pending_documents must find 0 docs)."""
    from onnxocr_spark.config import DEFAULT_CONFIG as cfg
    from onnxocr_spark.pipeline import run_extract
    from onnxocr_spark.sinks.ledger import (pending_documents, read_output,
                                            write_with_ledger)

    spark = ctx.spark
    n_docs = TINY_DOCS if ctx.tiny else DOCS
    start = inputs.range_start("extract_commit", ctx.seed)
    docs_dir = os.path.join(ctx.work, "docs")
    n_media = inputs.write_docs(os.path.join(docs_dir, "part-0.parquet"),
                                start, n_docs)
    expected = inputs.expected_docs(start, n_docs)

    def commit(src: str, root: str, run_id: str) -> int:
        docs = spark.read.parquet(src)
        write_with_ledger(run_extract(docs, cfg), root, run_id,
                          source_path=src)
        return pending_documents(docs, root).count()

    # untimed full-size rounds warm plans, codegen and the JIT
    warm = []
    for k in range(WARM_ROUNDS):
        t0 = time.perf_counter()
        commit(docs_dir, os.path.join(ctx.work, f"warm{k}"), f"warm{k}")
        warm.append(time.perf_counter() - t0)

    def one_round(k: int, on: bool) -> int:
        in_group(ctx, round_group(k), on)
        try:
            return commit(docs_dir, os.path.join(ctx.work, f"out{k}"),
                          f"r{k}")
        finally:
            clear_group(ctx)

    log(f"inputs written, warm-up rounds: {warm}")
    plain, traced, pendings = timed_rounds(ctx, one_round)
    log(f"timed rounds: {plain} traced {traced}")
    rss = peak_rss_mb(ctx.jvm_pid)

    roots = [os.path.join(ctx.work, f"out{k}") for k in range(len(pendings))]
    failed = sum(pendings)
    attempted = n_docs * len(roots)
    layers = {}
    if ctx.trace:
        stats = SparkStats(spark)
        layers.update(traced_round_layers(stats))
        layers["trace.overhead_s"] = (statistics.median(traced)
                                      - statistics.median(plain))
        staged_root = os.path.join(ctx.work, "out_staged")
        layers.update(staged_extract(ctx, stats, docs_dir, staged_root))
        failed += layers.pop("_pending")
        roots.append(staged_root)
        attempted += n_docs
        refs = [s[2] for seq in expected.values() for s in seq
                if s[0] == "media"]
        texts = {s[2]: s[1] for seq in expected.values() for s in seq
                 if s[0] == "media"}
        sample = [(r, texts[r]) for r in seeded_sample(ctx, refs)]
        rep = replay(sample, cfg, ctx.tracer)
        layers.update(rep["metrics"])
        failed += rep["diverged"]
        attempted += rep["images"]
        binary, bad_pages, pages = traced_binary_pass(ctx, stats, start)
        layers.update(binary)
        failed += bad_pages
        attempted += pages
    for root in roots:
        failed += inputs.doc_mismatches(read_output(spark, root).collect(),
                                        expected)
    log("outputs checked")
    return Result(attempted, failed, statistics.median(plain), n_docs,
                  n_media, rss, layers)


def staged_extract(ctx: Ctx, stats: SparkStats, docs_dir: str,
                   root: str) -> dict:
    """The extraction stage by stage, each timed on persisted input so
    upstream work is not counted in the layer."""
    from pyspark.sql import functions as F

    from onnxocr_spark.config import DEFAULT_CONFIG as cfg
    from onnxocr_spark.pipeline import explode_spans, ocr_media_spans, reassemble
    from onnxocr_spark.sinks.ledger import pending_documents, write_with_ledger

    spark, tr = ctx.spark, ctx.tracer

    def materialize(df):
        df = df.persist()
        df.count()
        return df

    docs = materialize(spark.read.parquet(docs_dir))
    with tr.span("pipeline.explode_spans"):
        spans = materialize(explode_spans(docs))
    text_rows = spans.filter(F.col("kind") != "media").select(
        "doc_id", "kind", "text", "media_ref", "offset")
    media_rows = materialize(spans.filter(F.col("kind") == "media"))
    in_group(ctx, "perfbench-ocr-stage", True)
    with tr.span("pipeline.ocr_stage"):
        ocrd = materialize(ocr_media_spans(media_rows, cfg))
    clear_group(ctx)
    union = materialize(text_rows.unionByName(ocrd.select(
        "doc_id", F.lit("media").alias("kind"), "text", "media_ref",
        "offset")))
    with tr.span("pipeline.reassemble"):
        out = materialize(reassemble(union))
    with tr.span("sinks.ledger.write"):
        write_with_ledger(out, root, "staged", source_path=docs_dir)
    with tr.span("sinks.ledger.pending"):
        pending = pending_documents(docs, root).count()
    for df in (docs, spans, media_rows, ocrd, union, out):
        df.unpersist()
    layers = {f"{n}_s": tr.durations(n)[-1] for n in (
        "pipeline.explode_spans", "pipeline.ocr_stage",
        "pipeline.reassemble", "sinks.ledger.write", "sinks.ledger.pending")}
    st = stats.busiest_stage("perfbench-ocr-stage", ctx.cores)
    layers["pipeline.ocr_stage.task_skew"] = st["task_skew"]
    layers["pipeline.ocr_stage.busy_share"] = st["busy_share"]
    layers["_pending"] = pending
    return layers


def traced_binary_pass(ctx: Ctx, stats: SparkStats, start: int
                       ) -> tuple[dict, int, int]:
    """IMG1 page files of the range's first BINARY_DOCS documents →
    read_binary_media → ocr_binary_media, rows collected: the same OCR
    stage with pixels on the JVM→Python Arrow boundary.
    → (layers, failed pages, pages)."""
    from onnxocr_spark.config import DEFAULT_CONFIG as cfg
    from onnxocr_spark.imagecodec import decode_image
    from onnxocr_spark.operators.sources import (ocr_binary_media,
                                                 read_binary_media)

    tr = ctx.tracer
    pages_dir = os.path.join(ctx.work, "pages")
    expected, _ = inputs.write_pages(
        pages_dir, start, TINY_DOCS if ctx.tiny else BINARY_DOCS)
    with tr.span("operators.sources.binary_scan"):
        media = read_binary_media(ctx.spark, pages_dir).persist()
        media.count()
    in_group(ctx, "perfbench-binary-stage", True)
    with tr.span("operators.sources.ocr_stage"):
        rows = ocr_binary_media(media, cfg).select(
            "media_ref", "text", "ok").collect()
    clear_group(ctx)
    media.unpersist()
    decode_s = 0.0
    for doc_id, off in expected:
        with open(os.path.join(pages_dir, inputs.page_name(doc_id, off)),
                  "rb") as f:
            blob = f.read()
        t0 = time.perf_counter()
        decode_image(blob)
        decode_s += time.perf_counter() - t0
    layers = {
        "operators.sources.binary_scan_s":
            tr.durations("operators.sources.binary_scan")[-1],
        "operators.sources.ocr_stage_s":
            tr.durations("operators.sources.ocr_stage")[-1],
        "operators.sources.python_bytes_per_image":
            stats.python_bytes_per_row("perfbench-binary-stage"),
        "imagecodec.decode_ms": 1000.0 * decode_s / len(expected),
    }
    return layers, inputs.page_failures(rows, expected), len(expected)


# ----------------------------------------------------------------- battery


def normalize(df):
    """Order-insensitive canonical form of a query result (the same
    rules as the program's oracle checker)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(int)
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def oracle_mismatch(got, want) -> bool:
    """True if a Spark result differs from its normalized DuckDB twin;
    ``want`` is None for entries with no oracle (approximate ANN), which
    only need rows."""
    if want is None:
        return len(got) == 0
    a = normalize(got)
    return list(a.columns) != list(want.columns) or not a.equals(want)


def oracle_results(names, oracles: dict, tables, cache_dir: str) -> dict:
    """name → normalized DuckDB result (None when the entry has no
    oracle). The tables are fixed, so each result is cached under a key
    of its SQL text and the table bytes; a changed oracle recomputes."""
    import hashlib

    import duckdb
    import pandas as pd

    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(BATTERY_SF, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    data_key = h.hexdigest()
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    try:
        for name in names:
            if name not in oracles:
                out[name] = None
                continue
            key = hashlib.sha256(
                (data_key + oracles[name]).encode()).hexdigest()[:32]
            path = os.path.join(cache_dir, f"{name}-{key}.parquet")
            if os.path.exists(path):
                out[name] = pd.read_parquet(path)
                continue
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(BATTERY_SF, t + '.parquet')}')")
            want = normalize(con.execute(oracles[name]).fetchdf())
            want.to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
            out[name] = want
    finally:
        if con is not None:
            con.close()
    return out


def battery(ctx: Ctx) -> Result:
    """The query battery over the fixed sf0.01 tables, one pass, each
    query timed to its collected result; results checked against the
    DuckDB oracles after the pass."""
    import pyarrow.parquet as pq

    import __spark_entry__ as em

    spark = ctx.spark
    names = BATTERY[:TINY_BATTERY] if ctx.tiny else BATTERY
    qs = em.queries()
    sc = spark.sparkContext
    per, results, errors = {}, {}, set()
    tracer_s = 0.0
    for name in names:
        if ctx.trace:
            t0 = time.perf_counter()
            sc.setJobGroup(f"battery-{name}", name)
            tracer_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"battery.{name}"):
                results[name] = qs[name](spark, BATTERY_SF).toPandas()
        except Exception as exc:  # a failed query counts, the pass goes on
            print(f"# battery {name} failed: {exc}", file=sys.stderr)
            errors.add(name)
        per[name] = time.perf_counter() - t0
    clear_group(ctx)
    rss = peak_rss_mb(ctx.jvm_pid)
    log(f"battery pass: {sum(per.values()):.2f} s")

    # the corpus's media spans, as the media-structure oracle derives them
    wants = oracle_results(names + [MEDIA_ORACLE], em.oracle_sql(),
                           em.TABLES, os.path.join(ctx.cache, "oracles"))
    n_media = len(wants.pop(MEDIA_ORACLE))
    n_docs = pq.read_metadata(
        os.path.join(BATTERY_SF, "documents.parquet")).num_rows
    failed = len(errors)
    for name, got in results.items():
        if oracle_mismatch(got, wants[name]):
            print(f"# battery {name}: result differs from its oracle",
                  file=sys.stderr)
            failed += 1
    log("oracles compared")

    layers = {}
    if ctx.trace:
        stats = SparkStats(spark)
        totals = {"jobs": 0, "stages": 0, "tasks": 0}
        for name in names:
            c = stats.counts(f"battery-{name}")
            for key in totals:
                totals[key] += c[key]
            layers[f"battery.{name}_s"] = per[name]
            layers[f"battery.{name}.jobs"] = c["jobs"]
        layers.update({f"spark.{k}": v for k, v in totals.items()})
        layers["trace.overhead_s"] = tracer_s
    return Result(len(names), failed, sum(per.values()), n_docs, n_media,
                  rss, layers)


WORKLOADS = {
    "extract_commit": extract_commit,
    "battery": battery,
}
