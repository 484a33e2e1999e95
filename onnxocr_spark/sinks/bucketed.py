"""Bucketed band-signature index: the storage-partitioned-join analog.

The incremental dedup resume (jobs/dedup_job.py --resume) equi-joins the
new batch's band rows against the accumulated sigindex on
(band, band_sig). Read as plain parquet that join shuffles BOTH sides —
and at 100 TB the index side is the corpus-sized one: a daily 1% ingest
pays a full-index shuffle every day. The round-5 PLANS.md §7 note named
the fix — with an Iceberg catalog the sigindex becomes a
bucket-partitioned table and a storage-partitioned join moves only the
new batch. No Iceberg jar ships in this environment, but Spark's native
bucketed tables give the identical physical property: a table written
with ``bucketBy(N, "band", "band_sig")`` reports
``HashPartitioning(band, band_sig, N)`` straight from the scan, so the
sort-merge join on those keys adds NO Exchange on the index side — only
the (small) new-batch side shuffles, into N partitions matching the
buckets. Spark's bucket id is ``pmod(murmur3(cols), N)`` — the same
hash ``repartition(N, cols)`` uses — so the pre-write repartition below
aligns tasks with buckets and each bucket lands in one file.

Lifecycle (mirrors the compaction discipline in sinks/ledger.py):

- ``bucketize_sigindex`` is a MAINTENANCE pass (jobs/compact_job.py
  --bucket-index, or standalone): it folds every committed
  ``sigindex/run=*`` dir into one bucketed table under
  ``{root}/sigindex_bucketed/`` using the same decision-preserving
  global re-aggregation compaction applies (one (band, band_sig) row,
  min hub — an index MATCH retires a new doc regardless of which
  processed doc the hub names). The coverage marker ``_COVERS.json`` is
  written LAST: a crash mid-write leaves no marker, so readers fall
  back to the parquet dirs and never see a partial table.
- ``load_sigindex_parts`` is what --resume reads: the bucketed table
  for every run the marker covers, PLUS the raw parquet dirs of any
  runs committed after the last bucketize (the small daily delta — it
  joins broadcast/shuffled, which is fine at delta size). Rows may
  repeat across parts; every consumer of the index is duplicate-
  tolerant by contract (bool_and absorption, parallel CC hub edges),
  so overlap is harmless and a gap is impossible: a run is either
  covered by the marker or still has its parquet dir. If the marker
  covers runs that are no longer committed (the compactor renamed them
  into a consolidated run), the table is STALE and is ignored entirely
  — correctness first, re-bucketize to get the acceleration back.

The run dirs stay the source of truth; the table is a derived
accelerator that can be dropped and rebuilt at any time. Single-writer
per root, like compaction.

The sigindex, committed-vector and processed-ids tables share one
lifecycle, written once below: ``_write_table`` (void the marker, drop,
write bucketed), ``_publish`` (the marker, last), ``_read_cover`` and
``_register`` (the session catalog forgets external tables), and
``_load_parts`` (table + uncovered delta, or the plain dirs).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from onnxocr_spark.sinks.ledger import (
    committed_runs,
    existing_run_dirs,
    run_path,
)

BUCKET_COLS = ("band", "band_sig")
VEC_BUCKET_COLS = ("cell", "gb")
_LAYOUT = "sigindex_bucketed"
_VEC_LAYOUT = "vectors_bucketed"
_PID_LAYOUT = "procids_bucketed"


def _table_name(prefix: str, root: str) -> str:
    """Deterministic per-root session-catalog table name (twin roots in
    one test session must not collide)."""
    digest = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:12]
    return f"{prefix}_{digest}"


def sigindex_table_name(root: str) -> str:
    return _table_name("sigindex", root)


def semvector_table_name(root: str) -> str:
    return _table_name("semvec", root)


def _procids_table_name(root: str) -> str:
    return _table_name("procids", root)


def _layout_path(root: str, layout: str, name: str) -> str:
    # absolute: a relative ``path`` option would resolve against the
    # warehouse dir, landing the bucket files away from the root
    return os.path.join(os.path.abspath(root), layout, name)


def _marker_path(root: str) -> str:
    return _layout_path(root, _LAYOUT, "_COVERS.json")


def _vec_marker_path(root: str) -> str:
    return _layout_path(root, _VEC_LAYOUT, "_COVERS.json")


def _extract_marker_path(root: str) -> str:
    return _layout_path(root, _PID_LAYOUT, "_COVERS.json")


def _data_path(root: str) -> str:
    return _layout_path(root, _LAYOUT, "data")


# ---------------------------------------------------------------------------
# The one lifecycle every bucketed accelerator goes through.
# ---------------------------------------------------------------------------


def _write_table(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    layout: str,
    table: str,
    cols: tuple[str, ...],
    n_buckets: int,
    marker: str,
) -> str:
    """Void ``marker`` (old coverage is void the moment we rebuild),
    drop ``table`` and its data dir, then write ``df`` bucketed and
    sorted by ``cols``. Returns the schema DDL ``_register`` replays."""
    if os.path.exists(marker):
        os.remove(marker)
    data_path = _layout_path(root, layout, "data")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if os.path.isdir(data_path):
        shutil.rmtree(data_path)
    (
        df.repartition(n_buckets, *[F.col(c) for c in cols])
        .write.format("parquet")
        .bucketBy(n_buckets, *cols)
        .sortBy(*cols)
        .option("path", data_path)
        .mode("overwrite")
        .saveAsTable(table)
    )
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.table(table).schema.fields
    )


def _publish(marker: str, cover: dict) -> dict:
    """Write the coverage marker — the commit point, always last."""
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cover, f)
    os.replace(tmp, marker)  # commit point
    return cover


def _read_cover(marker: str) -> dict | None:
    """The marker's contents; None when it is missing or unreadable."""
    try:
        with open(marker) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _register(
    spark: SparkSession,
    root: str,
    layout: str,
    table: str,
    ddl: str,
    cols: tuple[str, ...],
    n_buckets: int,
) -> bool:
    """Re-register the external bucketed table in THIS session's
    catalog (the default in-memory catalog does not survive restarts;
    the parquet bucket files + marker do). Returns False if the data
    dir is gone — caller falls back to the run dirs."""
    data_path = _layout_path(root, layout, "data")
    if not os.path.isdir(data_path):
        return False
    if not spark.catalog.tableExists(table):
        c = ", ".join(cols)
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({c}) SORTED BY ({c}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{data_path}'"
        )
    return True


def _load_parts(
    spark: SparkSession,
    root: str,
    marker: str,
    layout: str,
    key: str,
    cols: tuple[str, ...],
    runs: list[str],
    run_layouts: tuple[str, ...],
) -> tuple[dict | None, list[DataFrame]]:
    """(cover, parts): when the marker's table (fields ``{key}table``,
    ``{key}schema_ddl``) covers a subset of the committed ``runs`` and
    registers, the table plus a plain delta of the uncovered runs'
    ``run_layouts`` dirs; otherwise (None, [plain dirs of every run]).
    A marker covering runs that are no longer committed (the compactor
    renamed them) is stale and ignored. Marker runs may be spelled
    ``run=<id>`` or ``<id>``."""
    cover = _read_cover(marker)
    if cover is not None and f"{key}table" in cover:
        covered = {r[len("run="):] if r.startswith("run=") else r
                   for r in cover.get("runs", [])}
        committed = set(runs)
        table = cover[f"{key}table"]
        if (
            covered
            and covered <= committed
            and _register(spark, root, layout, table,
                          cover[f"{key}schema_ddl"], cols, cover["buckets"])
        ):
            parts = [spark.table(table)]
            delta = existing_run_dirs(
                root, run_layouts, sorted(committed - covered)
            )
            if delta:
                parts.append(spark.read.parquet(*delta))
            return cover, parts
    return None, [
        spark.read.parquet(*existing_run_dirs(root, run_layouts, runs))
    ]


# ---------------------------------------------------------------------------
# Band-signature index (text-dedup roots).
# ---------------------------------------------------------------------------


def bucketize_sigindex(
    spark: SparkSession, root: str, n_buckets: int = 64
) -> dict:
    """Fold all committed sigindex run dirs into one bucketed table.

    Steps (crash window analysis in the module docstring): drop any
    previous table + data, write the re-aggregated index bucketed by
    (band, band_sig), then publish the coverage marker last."""
    runs = committed_runs(root, "sigindex")
    if not runs:
        raise ValueError(f"no committed sigindex runs under {root}")
    table = sigindex_table_name(root)
    marker = _marker_path(root)
    index = (
        spark.read.parquet(*existing_run_dirs(root, ("sigindex",), runs))
        .groupBy(*BUCKET_COLS)
        .agg(F.min("hub").alias("hub"))
    )
    cover = {
        "table": table,
        "buckets": n_buckets,
        "runs": [f"run={r}" for r in runs],
        "schema_ddl": _write_table(spark, index, root, _LAYOUT, table,
                                   BUCKET_COLS, n_buckets, marker),
    }
    # processed-ids twin table (covered by the SAME marker, so both
    # tables commit atomically): the resume's already-processed skip is
    # an anti-join of the new batch against every committed ledger ∪
    # retired id — at corpus scale that id set's distinct + anti-join
    # shuffle is the other daily corpus-sized movement. Pre-distincted
    # and bucketed by doc_id it anti-joins shuffle-free.
    cover.update(_write_procids(spark, root, "sigindex", runs, n_buckets))
    return _publish(marker, cover)


def load_sigindex_parts(
    spark: SparkSession, root: str, runs: list[str] | None = None
) -> list[DataFrame]:
    """The index a --resume run joins against, as one or two parts:
    [bucketed table (+ parquet delta of uncovered runs)] when a valid
    coverage marker exists, else [union of the raw parquet run dirs].
    ``runs`` are the committed sigindex run ids (default: all).
    Parts must be JOINED SEPARATELY by the consumer (a union of a
    bucketed and an unbucketed frame forfeits the scan's output
    partitioning and re-shuffles everything — the thing this module
    exists to avoid)."""
    if runs is None:
        runs = committed_runs(root, "sigindex")
    if not runs:
        raise ValueError(f"no committed sigindex runs under {root}")
    return _load_parts(spark, root, _marker_path(root), _LAYOUT, "",
                       BUCKET_COLS, runs, ("sigindex",))[1]


# ---------------------------------------------------------------------------
# Semantic twin: bucketed committed-vector layout for the SemDeDup resume.
#
# jobs/semantic_dedup_job.py --resume re-reads ALL committed vectors
# (kept + retired) every run — the linear read is inherent to cosine
# comparison — but the bipartite pair scan then SHUFFLES them on
# (cell, gb) every run, which at corpus scale is the expensive part of
# the movement. Persisting the committed vectors bucketed by
# (cell, gb) — gb precomputed at a fixed tile count g recorded in the
# marker — lets the cogrouped scan
# (similarity.cosine_pairs_bipartite_cogrouped) read them already
# partitioned: zero committed-side Exchange, only the new batch moves.
# The gb split is pure tiling (any g yields the identical pair set), so
# the accelerator is decision-invariant like the sigindex table above.
# A semantic run is committed once its ledger (written last) is.
# ---------------------------------------------------------------------------


def bucketize_semvectors(
    spark: SparkSession,
    root: str,
    n_buckets: int = 64,
    block_rows: int = 1024,
) -> dict:
    """Fold the committed (vec_id, embedding, cell) rows of a semantic
    dedup root into one (cell, gb, vid, vec) table bucketed by
    (cell, gb). The tile count g = ceil(n / (block_rows · C)) is fixed
    at bucketize time and recorded in the marker — resumes MUST reuse
    it (the loader hands it back) so gb assignment matches the bucket
    files."""
    runs = committed_runs(root, "ledger")
    if not runs:
        raise ValueError(f"no committed semantic runs under {root}")
    vec_dirs = existing_run_dirs(root, ("data", "retired"), runs)
    idx_dirs = existing_run_dirs(root, ("cellindex",), runs)
    if not vec_dirs or not idx_dirs:
        raise ValueError(f"{root} does not look like a semantic dedup root")
    n_cells = (
        spark.read.parquet(*idx_dirs).dropDuplicates(["seed_id"]).count()
    )
    cells = spark.read.parquet(*vec_dirs)
    n = cells.count()
    g = max(1, -(-n // (block_rows * max(1, n_cells))))

    table = semvector_table_name(root)
    marker = _vec_marker_path(root)
    pre = cells.select(
        F.col("cell"),
        F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("gb"),
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
    )
    cover = {
        "table": table,
        "buckets": n_buckets,
        "g": g,
        "runs": runs,
        "schema_ddl": _write_table(spark, pre, root, _VEC_LAYOUT, table,
                                   VEC_BUCKET_COLS, n_buckets, marker),
    }
    # processed-ids twin: the semantic ledger already holds each run's
    # kept ∪ retired ids pre-distincted, so it is the procids source
    cover.update(_write_procids(spark, root, "semvec", runs, n_buckets))
    return _publish(marker, cover)


def load_semvector_parts(
    spark: SparkSession, root: str, run_ids: list[str] | None = None
) -> list:
    """Committed-vector parts for a semantic --resume, in the format
    ``incremental_semantic_decisions`` consumes: a ``(DataFrame, g)``
    tuple for the bucketed (cell, gb, vid, vec) table plus a plain
    (vec_id, embedding, cell) DataFrame for any runs committed after
    the last bucketize; or a single plain part when no valid marker
    exists. Same staleness/fallback rules as the sigindex loader."""
    if run_ids is None:
        run_ids = committed_runs(root, "ledger")
    if not run_ids:
        raise ValueError(f"no committed semantic runs under {root}")
    cover, parts = _load_parts(
        spark, root, _vec_marker_path(root), _VEC_LAYOUT, "",
        VEC_BUCKET_COLS, sorted(run_ids), ("data", "retired"),
    )
    if cover is not None:
        parts[0] = (parts[0], int(cover["g"]))
    return parts


# ---------------------------------------------------------------------------
# Processed-ids table: the already-committed skip of every root kind.
# ---------------------------------------------------------------------------

# kind → (its coverage marker, the layouts holding a run's processed
# ids, the id column). Text-dedup and semantic roots share their index
# table's marker; extraction roots have a standalone one.
_PROCIDS = {
    "sigindex": (_marker_path, ("ledger", "retired"), "doc_id"),
    "semvec": (_vec_marker_path, ("ledger",), "vec_id"),
    "extract": (_extract_marker_path, ("ledger",), "doc_id"),
}


def _write_procids(
    spark: SparkSession, root: str, kind: str, runs: list[str],
    n_buckets: int,
) -> dict:
    """(Re)build the processed-ids table from the committed id dirs of
    ``runs``; returns its marker fields ({} when there are none)."""
    marker, layouts, id_col = _PROCIDS[kind]
    covered = set(runs)
    id_dirs = [
        run_path(root, layout, r)
        for layout in layouts
        for r in committed_runs(root, layout)
        if r in covered
    ]
    if not id_dirs:
        return {}
    table = _procids_table_name(root)
    ids = spark.read.parquet(*id_dirs).select(id_col).distinct()
    return {
        "procids_table": table,
        "procids_schema_ddl": _write_table(
            spark, ids, root, _PID_LAYOUT, table, (id_col,), n_buckets,
            marker(root),
        ),
        "procids_id_col": id_col,
    }


def load_processed_parts(
    spark: SparkSession, root: str, kind: str, runs: list[str]
) -> list[DataFrame]:
    """Processed-id parts for the already-committed skip: the bucketed
    procids table (when the root's coverage marker is valid and carries
    one) plus the plain id dirs of runs committed after the bucketize;
    else one plain part. ``runs`` are the root's committed run ids.
    Consumers chain LEFT ANTI joins over the parts (set difference
    against the union — exact, order-independent), which keeps the
    bucketed part's scan exchange-free and never needs a distinct:
    anti-join semantics ignore duplicate build-side rows. ``kind``
    picks the root kind: 'sigindex' (text roots), 'semvec' (semantic
    roots) or 'extract' (extraction roots)."""
    marker, layouts, id_col = _PROCIDS[kind]
    return _load_parts(spark, root, marker(root), _PID_LAYOUT, "procids_",
                       (id_col,), runs, layouts)[1]


def bucketize_extraction_ids(
    spark: SparkSession, root: str, n_buckets: int = 64
) -> dict:
    """Processed-ids table for an EXTRACTION root (jobs/extract_job.py):
    only the ids — there is no cross-run index to bucket, but the
    resume's anti-join against every committed ledger id is the same
    daily corpus-sized movement the dedup roots had. Covers LEDGERED
    runs only; orphan data dirs (crashed between data and ledger
    writes) keep flowing through `committed_doc_id_parts`' plain
    orphan union, so the crash-consistency contract is untouched.
    Standalone marker (these roots have no index marker to share)."""
    runs = committed_runs(root, "ledger")
    if not runs:
        raise ValueError(f"no committed ledger runs under {root}")
    cover = {"buckets": n_buckets, "runs": runs}
    cover.update(_write_procids(spark, root, "extract", runs, n_buckets))
    return _publish(_extract_marker_path(root), cover)


def bucketize_root(spark: SparkSession, root: str, n_buckets: int = 64) -> dict:
    """Dispatch for jobs/compact_job.py --bucket-index: a text-dedup
    root (sigindex/ layout) gets the band-signature table, a semantic
    root (cellindex/ layout) the committed-vector table, a plain
    extraction root (ledger/ only) the processed-ids table."""
    if glob.glob(os.path.join(root, "sigindex", "run=*")):
        return bucketize_sigindex(spark, root, n_buckets)
    if glob.glob(os.path.join(root, "cellindex", "run=*")):
        return bucketize_semvectors(spark, root, n_buckets)
    if glob.glob(os.path.join(root, "ledger", "run=*")):
        return bucketize_extraction_ids(spark, root, n_buckets)
    raise ValueError(
        f"{root} has no sigindex/, cellindex/ or ledger/ layout to bucketize"
    )
