"""Checkpoint/resume sink (Iceberg-shaped, parquet-backed).

The reference's service layer tracks per-task status in an in-memory
dict (/root/reference/app/routers/v2.py:71-88); at 10^12-document scale
the analog is snapshot-based resume (SURVEY.md §7.1): every committed
run appends (a) the output rows under its own run subdirectory and
(b) a ledger partition containing ONLY that run's doc_ids + lineage.
Restart = left_anti join of the input against the ledger — the one true
join in the system, against a table ~6 orders of magnitude narrower
than the input. Commits are O(run), never O(total): nothing existing is
rewritten, so a commit for run k costs the same at the first and the
millionth run.

This module owns the run-root layout; jobs address it only through the
helpers below (``run_path``, ``committed_runs``, ``existing_run_dirs``,
``write_ledger``, ``write_sidecar``, ``sidecar_metrics``). With an Iceberg
catalog the ledger folds into snapshot summary properties; the parquet
layout keeps the same interface:

    {root}/data/run=<id>/…                  output rows (one dir per run)
    {root}/ledger/run=<id>/…                committed ids of that run
    {root}/metrics/run=<id>/…               per-data-file OCR metrics
    {root}/metrics/_sidecars/run_<id>.json  per-run lineage + counters
    {root}/retired/run=<id>/…               dedup roots: retired docs
    {root}/sigindex/run=<id>/…              text dedup: band-signature index
    {root}/cellindex/run=<id>/…             semantic: founding seed vectors
    {root}/packed/run=<id>/…                corpus build: packing windows
    {root}/_trash/<compacted id>/…          compaction sources (never read)
    {root}/sigindex_bucketed/{data,_COVERS.json}  derived accelerators
    {root}/vectors_bucketed/{data,_COVERS.json}   (sinks/bucketed.py);
    {root}/procids_bucketed/data[,_COVERS.json]   the procids marker
                                                  exists on extraction
                                                  roots only

A ``run=<id>`` dir counts only once Spark's ``_SUCCESS`` marker lands in
it (``committed_runs``). Which layout is a job's COMMIT MARKER differs:
extraction counts a run from its data dir (a data dir without a ledger
is an orphan that still counts, see ``committed_doc_id_parts``); text
dedup and corpus build from their sigindex dir, written after data,
ledger and retired; semantic dedup from its ledger, written last.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

# one row per landed data file with at least one span
_PART_METRICS = pa.schema([
    ("data_file", pa.string()),
    ("spans", pa.int64()),
    ("media_spans", pa.int64()),
    ("empty_media_spans", pa.int64()),
    ("chars", pa.int64()),
    ("run_id", pa.string()),
])

# dedup-root layouts that compact alongside data/ledger
_AUX_LAYOUTS = ("retired", "sigindex", "cellindex")


def run_path(root: str, layout: str, run_id: str) -> str:
    """``{root}/<layout>/run=<run_id>``."""
    return os.path.join(root, layout, f"run={run_id}")


def committed_runs(root: str, layout: str) -> list[str]:
    """Sorted ids of the committed runs of one layout: the run=<id>
    dirs whose _SUCCESS marker landed, so a partially written dir is
    never read. The one committed-run rule of every reader."""
    path = os.path.join(root, layout)
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        d[len("run="):]
        for d in names
        if d.startswith("run=")
        and os.path.exists(os.path.join(path, d, "_SUCCESS"))
    )


def existing_run_dirs(
    root: str, layouts: tuple[str, ...], run_ids: list[str]
) -> list[str]:
    """The run dirs of ``run_ids`` that exist in each layout, layout by
    layout (a run's aux dirs count with the run's own commit marker,
    not their own _SUCCESS)."""
    return [
        d
        for layout in layouts
        for r in run_ids
        if os.path.isdir(d := run_path(root, layout, r))
    ]


def write_ledger(
    landed: DataFrame, root: str, run_id: str, id_col: str = "doc_id"
) -> None:
    """Write ``run_id``'s ledger partition: the distinct ids of what
    landed on disk (idempotent wrt speculative tasks), appended, never
    rewritten."""
    (
        landed.select(id_col).distinct()
        .write.mode("overwrite").parquet(run_path(root, "ledger", run_id))
    )


def _sidecar_dir(root: str) -> str:
    # JSON sidecars live under a leading-underscore subdir so a parquet
    # scan of metrics/ never trips over them (Spark skips _-prefixed paths)
    return os.path.join(root, "metrics", "_sidecars")


def write_sidecar(root: str, run_id: str, metrics: dict) -> None:
    """Write one run's JSON metrics sidecar (migrating legacy ones)."""
    sidecar_dir = _sidecar_dir(root)
    os.makedirs(sidecar_dir, exist_ok=True)
    _migrate_legacy_sidecars(root, sidecar_dir)
    with open(os.path.join(sidecar_dir, f"run_{run_id}.json"), "w") as f:
        json.dump(metrics, f)


def sidecar_metrics(root: str) -> list[dict]:
    """Every readable run sidecar of the root (unreadable ones skipped)."""
    sidecar_dir = _sidecar_dir(root)
    try:
        names = sorted(os.listdir(sidecar_dir))
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        if name.startswith("run_") and name.endswith(".json"):
            try:
                with open(os.path.join(sidecar_dir, name)) as f:
                    out.append(json.load(f))
            except (OSError, ValueError):
                pass
    return out


def write_with_ledger(
    out: DataFrame,
    root: str,
    run_id: str,
    source_path: str = "",
) -> dict:
    """Append one run's output + its ledger partition + a metrics
    sidecar. Returns the metrics dict."""
    spark = out.sparkSession
    run_dir = run_path(root, "data", run_id)
    # overwrite: retrying a crashed run_id replaces its partial dir
    # instead of failing, so the commit is idempotent per run_id
    out.write.mode("overwrite").parquet(run_dir)

    landed = spark.read.parquet(run_dir)
    write_ledger(landed, root, run_id)

    # per-data-file metrics for this commit (north rule: every
    # partition commit records lineage + metrics), derived from what
    # landed in ONE aggregate pass; the run totals are sums of its rows.
    # input_file_name() is the on-disk partition identity
    # (spark_partition_id() on a re-read is the scan-split id, which
    # packs small files / splits large ones and so over/under-counts);
    # at Iceberg these rows fold into per-data-file column stats /
    # snapshot summary entries. posexplode_outer keeps docs whose spans
    # array is empty or null as one row with a null pos, so every doc
    # has exactly one row with pos null or 0.
    is_media = F.col("s.kind") == "media"
    files = (
        landed.select(
            F.input_file_name().alias("data_file"),
            F.posexplode_outer("spans").alias("pos", "s"),
        )
        .groupBy("data_file")
        .agg(
            F.count(F.when(F.coalesce("pos", F.lit(0)) == 0, 1)).alias("docs"),
            F.count("pos").alias("spans"),
            F.sum(F.when(is_media, 1).otherwise(0)).alias("media_spans"),
            F.sum(
                F.when(is_media & (F.col("s.text") == ""), 1).otherwise(0)
            ).alias("empty_media_spans"),
            F.sum(F.length("s.text")).alias("chars"),
        )
        .collect()
    )
    # a file of span-less docs gets no metrics row (as a plain explode
    # would give), but its docs still count. The rows go back as an
    # Arrow table: a list of tuples would start Python workers to
    # unpickle them.
    part = [f for f in files if f.spans]
    table = pa.Table.from_pydict(
        {
            **{c: [f[c] for f in part] for c in _PART_METRICS.names[:-1]},
            "run_id": [run_id] * len(part),
        },
        schema=_PART_METRICS,
    )
    spark.createDataFrame(table).write.mode("overwrite").parquet(
        run_path(root, "metrics", run_id)
    )

    metrics = {
        "run_id": run_id,
        "source_path": source_path,
        "docs": sum(f.docs for f in files),
        "spans": sum(f.spans for f in files),
        "media_spans": sum(f.media_spans for f in files),
        "empty_media_spans": sum(f.empty_media_spans for f in files),
        "n_partitions": len(part),
        "wall_clock_unix": time.time(),
    }
    write_sidecar(root, run_id, metrics)
    return metrics


def _migrate_legacy_sidecars(root: str, sidecar_dir: str) -> None:
    """Roots written before the _sidecars layout have run_*.json directly
    under {root}/metrics/ — exactly where they break a parquet scan of
    the per-partition metrics. On every commit, move any such legacy
    file into _sidecars/ (O(#legacy files), atomic per file, keep-first
    on collision so a re-migrated root never clobbers newer sidecars) —
    ADVICE r3: new-layout readers work on old roots without a manual
    migration step."""
    metrics_dir = os.path.join(root, "metrics")
    try:
        names = os.listdir(metrics_dir)
    except FileNotFoundError:
        return
    for name in names:
        if not (name.startswith("run_") and name.endswith(".json")):
            continue
        src = os.path.join(metrics_dir, name)
        dst = os.path.join(sidecar_dir, name)
        if not os.path.isfile(src):
            continue
        if os.path.exists(dst):
            # never clobber a newer sidecar; still clear the scan path
            dst += ".legacy"
        os.replace(src, dst)


def compact_runs(
    spark: SparkSession,
    root: str,
    run_ids: list[str] | None = None,
    compacted_id: str | None = None,
    target_partitions: int | None = None,
) -> dict:
    """Merge many committed run dirs into one consolidated run — the
    Iceberg snapshot-compaction analog for the parquet layout. Without
    it, a long-lived output root accretes one dir per commit and every
    resume pays an O(#runs) listing plus a many-path scan; after
    compaction both are O(1) for the compacted history while commits
    stay O(run).

    Crash-safe sequence — single writer (like any Iceberg commit,
    compaction must not race an extraction run on the same root).
    Every crash point leaves a state where no doc is readable twice
    AND no ledger-committed doc is unreadable:
      1. write consolidated data to ``data/_compact_tmp_<id>`` — the
         underscore prefix is invisible to ``committed_runs``
         — and verify its row count equals the sources' total;
      2. drop the SOURCE LEDGER dirs first: their data dirs then count
         as committed via committed_doc_ids' orphan rule (data without
         ledger) and stay readable — dropping data before ledgers would
         open the reverse window, docs ledger-committed but gone, which
         resume would silently skip;
      3. move every source data dir into ``_trash/<id>/`` (one atomic
         rename each — a crash mid-way hides SOME docs, now unledgered,
         so the resume path legitimately re-extracts them);
      4. rename the tmp dir to ``data/run=<id>`` (atomic publish; until
         its ledger lands it is itself orphan-committed);
      5. write the consolidated ledger.
    ``_trash`` is never read; prune it out-of-band once the compaction
    is trusted.

    Dedup roots (jobs/dedup_job.py, jobs/semantic_dedup_job.py)
    additionally accrete ``retired/``, ``sigindex/`` and ``cellindex/``
    dirs per run; when present for the compacted run ids these
    consolidate too, in the REVERSE order of
    the data/ledger rule: merged dir first, sources to trash after.
    Their consumers are duplicate-tolerant unions (the processed-id set
    and the band-signature index both tolerate repeated rows / parallel
    hub edges), while a gap would silently re-admit retired duplicates
    or lose cross-run candidate signatures — so the overlap window is
    the safe one here. sigindex re-aggregates to one global
    (band, band_sig, min hub) row per signature; this is
    decision-preserving for future resumes: an index match retires a
    new doc regardless of WHICH processed doc the hub names, and an
    all-new component has no index match by definition."""
    import shutil

    run_ids = sorted(run_ids if run_ids is not None
                     else committed_runs(root, "data"))
    if not run_ids:
        raise ValueError(f"no committed runs to compact under {root}")
    compacted_id = compacted_id or f"compact_{run_ids[0]}_{run_ids[-1]}"
    src_dirs = [run_path(root, "data", r) for r in run_ids]
    final_dir = run_path(root, "data", compacted_id)
    if compacted_id in run_ids or any(
        os.path.exists(run_path(root, layout, compacted_id))
        for layout in ("data",) + _AUX_LAYOUTS
    ):
        # failing BEFORE any mutation beats discovering the collision
        # at the atomic-publish rename, after source dirs moved
        raise ValueError(
            f"compacted_id {compacted_id!r} collides with an existing run"
        )

    tmp_dir = os.path.join(root, "data", f"_compact_tmp_{compacted_id}")
    src = spark.read.parquet(*src_dirs)
    n_src = src.count()
    if target_partitions:
        src = src.coalesce(target_partitions)
    src.write.mode("overwrite").parquet(tmp_dir)
    n_new = spark.read.parquet(tmp_dir).count()
    if n_new != n_src:
        raise RuntimeError(
            f"compaction row mismatch: {n_src} in sources, {n_new} written"
        )

    for old in existing_run_dirs(root, ("ledger",), run_ids):
        shutil.rmtree(old)

    trash = os.path.join(root, "_trash", compacted_id)
    os.makedirs(trash, exist_ok=True)
    for d in src_dirs:
        os.replace(d, os.path.join(trash, os.path.basename(d)))

    os.replace(tmp_dir, final_dir)

    final_df = spark.read.parquet(final_dir)
    # extraction roots ledger doc_id; the semantic dedup root's id
    # column is vec_id — pick whichever the data carries
    id_col = "doc_id" if "doc_id" in final_df.columns else "vec_id"
    write_ledger(final_df, root, compacted_id, id_col)
    aux_compacted = {}
    # cellindex: the semantic job's founding seed vectors — must follow
    # the compacted run id or a post-compaction resume loses its index
    for layout in _AUX_LAYOUTS:
        path = os.path.join(root, layout)
        dirs = existing_run_dirs(root, (layout,), run_ids)
        if not dirs:
            continue
        df = spark.read.parquet(*dirs)
        if layout == "sigindex":
            df = df.groupBy("band", "band_sig").agg(F.min("hub").alias("hub"))
        else:
            df = df.distinct()
        aux_tmp = os.path.join(path, f"_compact_tmp_{compacted_id}")
        df.write.mode("overwrite").parquet(aux_tmp)
        # publish first, trash after: overlap is harmless (dup-tolerant
        # unions), a gap is not (lost retired ids / signatures)
        os.replace(aux_tmp, run_path(root, layout, compacted_id))
        aux_trash = os.path.join(trash, layout)
        os.makedirs(aux_trash, exist_ok=True)
        for d in dirs:
            os.replace(d, os.path.join(aux_trash, os.path.basename(d)))
        aux_compacted[layout] = len(dirs)

    return {
        "compacted_id": compacted_id,
        "source_runs": run_ids,
        "docs": n_src,
        "aux_compacted": aux_compacted,
    }


def read_output(spark: SparkSession, root: str) -> DataFrame:
    """All committed output rows across runs (only _SUCCESS-marked run
    dirs — a crashed run's partial files are never exposed)."""
    runs = committed_runs(root, "data")
    if not runs:
        raise FileNotFoundError(f"no committed runs under {root}")
    return spark.read.parquet(*[run_path(root, "data", r) for r in runs])


def committed_doc_ids(spark: SparkSession, root: str) -> DataFrame:
    """doc_ids already extracted: the distinct union of
    ``committed_doc_id_parts``."""
    parts = committed_doc_id_parts(spark, root)
    if not parts:
        return spark.createDataFrame([], "doc_id string")
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.distinct()


def committed_doc_id_parts(
    spark: SparkSession, root: str
) -> list[DataFrame]:
    """Committed doc_ids as PARTS for chained anti-joins: the
    bucketed processed-ids table when one covers the ledgered history
    (sinks/bucketed.bucketize_extraction_ids — its scan anti-joins
    without a committed-side Exchange) plus the plain ledger dirs of
    runs committed since, else one plain ledger read. Anti-join
    semantics absorb duplicate ids across parts, so no distinct is
    needed.

    Crash consistency: a run that died between its data write and its
    ledger write left data without a ledger entry; re-extracting those
    docs would duplicate output rows. The data dirs are authoritative —
    the ledger is the fast path — so the doc_ids of every such orphan
    data dir ALWAYS ride along as plain parts, whatever the marker says
    (reading only those runs, and only their doc_id column: O(crashed
    runs), not O(total))."""
    from onnxocr_spark.sinks.bucketed import load_processed_parts

    ledgered = committed_runs(root, "ledger")
    parts = []
    if ledgered:
        parts = [
            p.select("doc_id")
            for p in load_processed_parts(spark, root, "extract", ledgered)
        ]
    for run in sorted(set(committed_runs(root, "data")) - set(ledgered)):
        try:
            parts.append(
                spark.read.parquet(run_path(root, "data", run)).select("doc_id")
            )
        except Exception:
            pass  # partially-written dir with no readable footers: redo it
    return parts


def pending_documents(docs: DataFrame, root: str) -> DataFrame:
    """Resume filter: input documents not yet committed — chained
    left-anti joins over the committed-id parts (set difference
    against their union; the bucketed part, when present, contributes
    no committed-side shuffle)."""
    for part in committed_doc_id_parts(docs.sparkSession, root):
        docs = docs.join(part, on="doc_id", how="left_anti")
    return docs
