"""Training-sequence packing: concatenate-and-chop window assignment.

GPT-style training pipelines concatenate the tokenized corpus in a
fixed document order and chop it into fixed-size context windows
(budget B tokens); each document therefore occupies a contiguous token
span [start, start + n_tok) of the global stream and maps to windows
[start // B, (start + n_tok - 1) // B]. Knowing that mapping per doc is
what a packing/sharding stage needs: which windows a doc lands in, how
many windows it spans (boundary crossings cost attention-mask work),
and where each shard's stream offset begins.

The only global dependency is an ordered prefix sum of token counts —
the textbook single-partition-window trap. This implementation is a
two-phase prefix sum (VERDICT r4 item 4's DataFrame-native form):
range-exchange sort on doc_id, per-partition token totals via ONE
map-side-combined groupBy on spark_partition_id() (driver sees one
BIGINT per partition), offsets broadcast back, and an Arrow-batched
mapInPandas computes the local cumsum — no `.rdd`, no per-row Python,
no single-partition window. At 1000 executors the sort is the only
shuffle and it carries two BIGINTs per doc.

Everything is exact int64 (token counts and window ids), so the DuckDB
oracle (`__spark_entry__._PACK_DUCK`) re-derives the identical rows
with a plain window-function cumsum — no float rule needed.

The sorted frame is persisted between the two passes: the range
partitioner samples its bounds, and the pid-keyed offsets are only
meaningful if both passes see the SAME physical layout.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


@contextlib.contextmanager
def arrow_batch_override(spark: SparkSession, n: int):
    """Temporarily raise spark.sql.execution.arrow.maxRecordsPerBatch.

    The session-wide default (32, pipeline.WORKLOAD_SQL_CONFS) is sized
    for the OCR stage, where one row carries a full decoded page and a
    fat batch OOMs the Arrow transfer. Metadata-only mapInPandas stages
    (sequence packing: a handful of int64 columns) are the opposite
    regime — at 32 rows/batch a 4M-row pass pays ~125k Python/pandas
    batch round-trips of pure overhead (measured 29.5 s → ~4 s at
    batch 10k, local[16]).

    Scoped + restoring, per the session conf contract (ADVICE r4 /
    CLAUDE.md): wrap only EAGER work (the conf is read at execution
    time, so it must be live while the stage actually runs —
    pack_sequences materializes via an eager localCheckpoint inside the
    with-block), and the battery's _register re-applies the workload
    confs on every call as the second line of defense."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)

# DuckDB oracle: the same packing as ONE window-function cumsum. The
# oracle MAY use the single-partition window (it runs on a small-SF
# single node by definition); the Spark operator above must NOT — that
# asymmetry is the whole point of the two-phase shape, and
# tests/test_packing.py pins the absence of a Window node in the plan.
# Budget is inlined at 512 — change it here and in the battery's
# q_pack_sequences together.
PACK_SEQUENCES_DUCK = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         -- DuckDB window SUM over BIGINT widens to HUGEINT (→ float64
         -- in pandas); pin every output lane back to BIGINT so the
         -- driver's schema compare sees int64 on both sides
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_tok
  FROM t
)
SELECT doc_id, n_tok, start_tok,
       CAST(start_tok // 512 AS BIGINT) AS first_window,
       CAST((start_tok + n_tok - 1) // 512 AS BIGINT) AS last_window,
       CAST((start_tok + n_tok - 1) // 512 - start_tok // 512 + 1
            AS BIGINT) AS n_windows
FROM c
"""


def pack_sequences(
    docs: DataFrame, budget: int = 512, checkpoint: bool = True
) -> DataFrame:
    """(doc_id, n_tok, start_tok, first_window, last_window, n_windows)
    for the doc_id-ordered concatenate-and-chop packing at ``budget``
    tokens per context window. ``docs`` needs (doc_id, text); tokens
    are whitespace words (size(split(text, ' ')) — same convention as
    the token_count battery query, so '' counts 1).

    ``checkpoint=False`` is a plan-inspection hook for tests only: the
    default eager localCheckpoint truncates the visible plan to an RDD
    scan, and skipping it lets tests assert the absence of a Window
    node. Callers must keep the default — without the checkpoint a
    consumer that executes after unpersist() replays the range
    exchange, whose re-sampled bounds can shift rows across pids and
    silently invalidate the broadcast offsets.
    """
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    srt = (
        toks.orderBy("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    part_sums = {
        r["_pid"]: r["s"]
        for r in srt.groupBy("_pid").agg(F.sum("n_tok").alias("s")).collect()
    }
    offsets = {}
    acc = 0
    for i in sorted(part_sums):
        offsets[i] = acc
        acc += int(part_sums[i])

    schema = T.StructType(
        [
            docs.schema["doc_id"],
            T.StructField("n_tok", T.LongType(), False),
            T.StructField("start_tok", T.LongType(), False),
            T.StructField("first_window", T.LongType(), False),
            T.StructField("last_window", T.LongType(), False),
            T.StructField("n_windows", T.LongType(), False),
        ]
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if acc is None:  # first batch of this partition
                acc = offsets[int(pdf["_pid"].iloc[0])]
            n = pdf["n_tok"].to_numpy(dtype=np.int64)
            start = acc + np.concatenate(
                ([0], np.cumsum(n)[:-1])
            ).astype(np.int64)
            acc = int(start[-1] + n[-1])
            first = start // budget
            last = (start + n - 1) // budget
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": n,
                    "start_tok": start,
                    "first_window": first,
                    "last_window": last,
                    "n_windows": last - first + 1,
                }
            )

    out = srt.mapInPandas(assign, schema)
    if not checkpoint:
        return out  # caller inspects the plan; srt stays persisted
    # Metadata-only Arrow stage: the session's OCR-sized 32-row batch
    # cap costs ~125k pandas round-trips at 4M docs (measured 29.5 s
    # vs ~4 s at batch 10k, local[16]) — override for the eager
    # materialization only, restored by the context manager.
    with arrow_batch_override(docs.sparkSession, 10_000):
        out = out.localCheckpoint(eager=True)
    srt.unpersist()
    return out


def shard_offsets(spark, root: str) -> dict:
    """{run_id: global token offset} over a corpus-build root's
    packed/run=* shards, in run-id order.

    Per-run packing (corpus_build_job --pack-budget) keeps window ids
    LOCAL to each shard so committed runs never renumber; a consumer
    that wants one global token stream (e.g. epoch-level shuffling
    across shards) adds these offsets: global_start = offset[run] +
    start_tok. One aggregation over the packed layout (the run=<id>
    dir names parse as a partition column), one BIGINT per run to the
    driver — the same driver-payload discipline as the prefix sum
    above."""
    import os

    path = os.path.join(root, "packed")
    totals = {
        r["run"]: int(r["total"])
        for r in (
            spark.read.parquet(path)
            .groupBy("run")
            .agg(F.sum("n_tok").alias("total"))
            .collect()
        )
    }
    offsets = {}
    acc = 0
    for run in sorted(totals):
        offsets[run] = acc
        acc += totals[run]
    return offsets
