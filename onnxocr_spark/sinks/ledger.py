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

With an Iceberg catalog the ledger folds into snapshot summary
properties; the parquet layout keeps the same interface:

    {root}/data/run=<run_id>/…              output documents (one dir per run)
    {root}/ledger/run=<run_id>/…            committed doc_ids for that run
    {root}/metrics/run=<run_id>/…           per-data-file OCR metrics (parquet)
    {root}/metrics/_sidecars/run_<id>.json  per-run lineage + counters
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


def _data_path(root: str) -> str:
    return os.path.join(root, "data")


def _ledger_path(root: str) -> str:
    return os.path.join(root, "ledger")


def write_with_ledger(
    out: DataFrame,
    root: str,
    run_id: str,
    source_path: str = "",
) -> dict:
    """Append one run's output + its ledger partition + a metrics
    sidecar. Returns the metrics dict."""
    spark = out.sparkSession
    run_dir = os.path.join(_data_path(root), f"run={run_id}")
    # overwrite: retrying a crashed run_id replaces its partial dir
    # instead of failing, so the commit is idempotent per run_id
    out.write.mode("overwrite").parquet(run_dir)

    # ledger entry derived from what actually landed on disk (idempotent
    # wrt speculative tasks), appended — never rewritten
    landed = spark.read.parquet(run_dir)
    ledger_dir = os.path.join(_ledger_path(root), f"run={run_id}")
    landed.select("doc_id").distinct().write.mode("overwrite").parquet(ledger_dir)

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
    part_dir = os.path.join(root, "metrics", f"run={run_id}")
    spark.createDataFrame(table).write.mode("overwrite").parquet(part_dir)

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
    # JSON sidecars live under a leading-underscore subdir so a parquet
    # scan of metrics/ never trips over them (Spark skips _-prefixed paths)
    sidecar_dir = os.path.join(root, "metrics", "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    _migrate_legacy_sidecars(root, sidecar_dir)
    with open(os.path.join(sidecar_dir, f"run_{run_id}.json"), "w") as f:
        json.dump(metrics, f)
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
         underscore prefix is invisible to ``_run_dirs``/``read_output``
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
                     else {d[len("run="):] for d in _run_dirs(_data_path(root))})
    if not run_ids:
        raise ValueError(f"no committed runs to compact under {root}")
    compacted_id = compacted_id or f"compact_{run_ids[0]}_{run_ids[-1]}"
    src_dirs = [os.path.join(_data_path(root), f"run={r}") for r in run_ids]
    final_check = os.path.join(_data_path(root), f"run={compacted_id}")
    aux_targets = [
        os.path.join(root, layout, f"run={compacted_id}")
        for layout in ("retired", "sigindex", "cellindex")
    ]
    if (
        compacted_id in run_ids
        or os.path.exists(final_check)
        or any(os.path.exists(t) for t in aux_targets)
    ):
        # failing BEFORE any mutation beats discovering the collision
        # at the atomic-publish rename, after source dirs moved
        raise ValueError(
            f"compacted_id {compacted_id!r} collides with an existing run"
        )

    tmp_dir = os.path.join(_data_path(root), f"_compact_tmp_{compacted_id}")
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

    for r in run_ids:
        old = os.path.join(_ledger_path(root), f"run={r}")
        if os.path.isdir(old):
            shutil.rmtree(old)

    trash = os.path.join(root, "_trash", compacted_id)
    os.makedirs(trash, exist_ok=True)
    for d in src_dirs:
        os.replace(d, os.path.join(trash, os.path.basename(d)))

    final_dir = os.path.join(_data_path(root), f"run={compacted_id}")
    os.replace(tmp_dir, final_dir)

    ledger_dir = os.path.join(_ledger_path(root), f"run={compacted_id}")
    final_df = spark.read.parquet(final_dir)
    # extraction roots ledger doc_id; the semantic dedup root's id
    # column is vec_id — pick whichever the data carries
    id_col = "doc_id" if "doc_id" in final_df.columns else "vec_id"
    (
        final_df.select(id_col).distinct()
        .write.mode("overwrite").parquet(ledger_dir)
    )
    aux_compacted = {}
    # cellindex: the semantic job's founding seed vectors — must follow
    # the compacted run id or a post-compaction resume loses its index
    for layout in ("retired", "sigindex", "cellindex"):
        path = os.path.join(root, layout)
        dirs = [
            os.path.join(path, f"run={r}")
            for r in run_ids
            if os.path.isdir(os.path.join(path, f"run={r}"))
        ]
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
        os.replace(aux_tmp, os.path.join(path, f"run={compacted_id}"))
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
    runs = sorted(_run_dirs(_data_path(root)))
    if not runs:
        raise FileNotFoundError(f"no committed runs under {root}")
    paths = [os.path.join(_data_path(root), r) for r in runs]
    return spark.read.parquet(*paths)


def _run_dirs(path: str, require_success: bool = True) -> set[str]:
    """run=<id> subdirs; by default only fully-committed ones (Spark's
    _SUCCESS marker) so partially-written dirs are never read."""
    try:
        out = set()
        for d in os.listdir(path):
            full = os.path.join(path, d)
            if not (d.startswith("run=") and os.path.isdir(full)):
                continue
            if require_success and not os.path.exists(
                os.path.join(full, "_SUCCESS")
            ):
                continue
            out.add(d)
        return out
    except FileNotFoundError:
        return set()


def committed_doc_ids(spark: SparkSession, root: str) -> DataFrame:
    """doc_ids already extracted.

    Crash consistency: a run that died between its data write and its
    ledger write left data without a ledger entry; re-extracting those
    docs would duplicate output rows. The data dirs are authoritative —
    the ledger is the fast path — so doc_ids of any data run dir with
    no ledger counterpart are unioned in (reading only those orphan
    runs, and only their doc_id column: O(crashed runs), not O(total)).
    """
    sources = []
    if _run_dirs(_ledger_path(root)):
        sources.append(
            spark.read.option("recursiveFileLookup", "true")
            .parquet(_ledger_path(root))
            .select("doc_id")
        )
    orphans = _run_dirs(_data_path(root)) - _run_dirs(_ledger_path(root))
    for run in sorted(orphans):
        try:
            sources.append(
                spark.read.parquet(
                    os.path.join(_data_path(root), run)
                ).select("doc_id")
            )
        except Exception:
            pass  # partially-written dir with no readable footers: redo it
    if not sources:
        return spark.createDataFrame([], "doc_id string")
    out = sources[0]
    for s in sources[1:]:
        out = out.union(s)
    return out.distinct()


def committed_doc_id_parts(
    spark: SparkSession, root: str
) -> list[DataFrame]:
    """`committed_doc_ids` as PARTS for chained anti-joins: the
    bucketed processed-ids table when one covers the ledgered history
    (sinks/bucketed.bucketize_extraction_ids — its scan anti-joins
    without a committed-side Exchange) plus the plain ledger dirs of
    runs committed since, else one recursive ledger read; orphan data
    dirs (crashed between data and ledger writes) ALWAYS ride along as
    plain parts regardless of the marker — the data-dirs-authoritative
    crash rule is not the accelerator's to relax. Anti-join semantics
    absorb duplicate ids across parts, so no distinct is needed."""
    parts: list[DataFrame] = []
    ledgered = _run_dirs(_ledger_path(root))
    if ledgered:
        from onnxocr_spark.sinks.bucketed import load_processed_parts

        def _delta(run_names):
            return [
                d for r in run_names
                if os.path.isdir(
                    d := os.path.join(_ledger_path(root), f"run={r}")
                )
            ]

        parts.extend(
            p.select("doc_id")
            for p in load_processed_parts(
                spark,
                root,
                "extract",
                plain_dirs=[os.path.join(_ledger_path(root), r)
                            for r in sorted(ledgered)],
                committed_runs={r[len("run="):] for r in ledgered},
                delta_dirs_of=_delta,
            )
        )
    orphans = _run_dirs(_data_path(root)) - ledgered
    for run in sorted(orphans):
        try:
            parts.append(
                spark.read.parquet(
                    os.path.join(_data_path(root), run)
                ).select("doc_id")
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
