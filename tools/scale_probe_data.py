"""Build the K× tiled scale-probe dataset used by OPTIMIZATION_r06.md
(the "10× scale probe" section) under .bench_cache — NEVER under
/root/testdata, which is read-only.

Tiling semantics (copy k of K, deterministic, no RNG):
  documents   doc_id = k·N + orig id (monotone blocks, preserves the
              incremental queries' midpoint-split semantics);
              copy k > 0 appends a ' c<k>' suffix token so copies are
              near- (not exact-) duplicates — without it every doc
              would gain 9 exact twins and the dedup-family workloads
              would measure the tiling, not the engine.
  embeddings  vec_id re-id as above; copy 0 is the source verbatim,
              copy k > 0 scales coordinate k (1-based) by 1.01 so
              copies are near- (cos ≈ 0.9999) not exact dups — hence
              K − 1 may not exceed the embedding dimension.
  events      event_id re-id; ts shifted +k days (keeps per-day
              volumes realistic instead of 10× on the same day).
  TPC-H       carried as-is (q1/q3 are scan+agg bound and not the
              probe's target).

Caveat recorded with the results: tiling multiplies every shingle's
document frequency by K, so pair-family intermediates (Σ df² shapes)
are DENSER than a real K× corpus — probe readings are upper bounds.

Usage:
    python tools/scale_probe_data.py [K] [src_sf_dir] [dst_dir]
    # defaults: 10 /root/testdata/sf0.1 /root/repo/.bench_cache/sfbig
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

TPCH = ("customer", "lineitem", "nation", "orders", "part", "region",
        "supplier")


def build(k: int, src: str, dst: str) -> dict:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT COUNT(*) FROM parquet_scan('{src}/documents.parquet')"
    ).fetchone()[0]
    n_vecs = con.execute(
        f"SELECT COUNT(*) FROM parquet_scan('{src}/embeddings.parquet')"
    ).fetchone()[0]
    n_events = con.execute(
        f"SELECT COUNT(*) FROM parquet_scan('{src}/events.parquet')"
    ).fetchone()[0]
    dim = con.execute(
        "SELECT MIN(len(embedding)) "
        f"FROM parquet_scan('{src}/embeddings.parquet')"
    ).fetchone()[0]
    if k - 1 > dim:
        raise SystemExit(
            f"K={k} needs {k - 1} embedding coordinates to perturb, but "
            f"the source has dimension {dim}: copies would be exact dups"
        )
    con.execute(f"""
    COPY (
      SELECT (c.k * {n_docs} + d.doc_id)::BIGINT AS doc_id,
             CASE WHEN c.k = 0 THEN d.text
                  ELSE d.text || ' c' || c.k END AS text,
             d.lang, d.source,
             length(CASE WHEN c.k = 0 THEN d.text
                         ELSE d.text || ' c' || c.k END)::BIGINT AS n_chars
      FROM parquet_scan('{src}/documents.parquet') d,
           (SELECT unnest(range({k})) AS k) c
      ORDER BY doc_id
    ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT (c.k * {n_vecs} + e.vec_id)::BIGINT AS vec_id,
             list_transform(e.embedding,
               (x, i) -> CASE WHEN i = c.k THEN x * 1.01
                         ELSE x END)::FLOAT[] AS embedding,
             e.label
      FROM parquet_scan('{src}/embeddings.parquet') e,
           (SELECT unnest(range({k})) AS k) c
      ORDER BY vec_id
    ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
    COPY (
      SELECT (c.k * {n_events} + e.event_id)::BIGINT AS event_id,
             e.ts + INTERVAL (c.k) DAY AS ts,
             e.user_id, e.event_type, e.value, e.props
      FROM parquet_scan('{src}/events.parquet') e,
           (SELECT unnest(range({k})) AS k) c
      ORDER BY event_id
    ) TO '{dst}/events.parquet' (FORMAT PARQUET)
    """)
    for t in TPCH:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    return {
        "documents": n_docs * k,
        "embeddings": n_vecs * k,
        "events": n_events * k,
    }


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = (sys.argv[3] if len(sys.argv) > 3
           else "/root/repo/.bench_cache/sfbig")
    if os.path.realpath(dst).startswith("/root/testdata"):
        raise SystemExit("refusing to write under /root/testdata")
    counts = build(k, src, dst)
    print({"dst": dst, "k": k, **counts})
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
