"""Structured Streaming variants (SURVEY.md §2.9).

The reference is strictly batch/request-response; the natural streaming
cut it notes is `readStream` on the input table + `foreachBatch`
running the identical extraction — nothing in the operator set is
order- or time-sensitive across documents, so the batch pipeline IS the
micro-batch body and correctness carries over verbatim.

`windowed_event_counts` demonstrates the watermark + tumbling-window
stateful path over the events table (late data dropped past the
watermark) — the building block a streaming OCR-metrics feed would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from onnxocr_spark.config import PipelineConfig, DEFAULT_CONFIG
from onnxocr_spark.operators.dedup import CW_PAIRS

DOCUMENTS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def run_extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream documents parquet dir → extraction → parquet sink.

    foreachBatch reuses run_extract unchanged; the checkpoint gives
    exactly-once per micro-batch (the streaming counterpart of the
    ledger-based batch resume in sinks/ledger.py).
    """
    from onnxocr_spark.pipeline import run_extract

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_path)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        run_extract(batch_df, cfg).write.mode("append").parquet(output_path)

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DEDUP_OUT_SCHEMA = "fp string, doc_id long, is_first boolean"
DEDUP_STATE_SCHEMA = "n long"


def streaming_exact_dedup(stream_docs: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): cross-batch
    exact dedup over the streaming documents table.

    Each document is fingerprinted like the batch `dedup_exact` query
    (md5 of the first-4-token prefix); per-fingerprint state carries the
    number of occurrences seen across ALL previous micro-batches, so a
    duplicate arriving hours after its original is still flagged.
    Emits (fp, doc_id, is_first) — is_first marks the keeper. Within a
    micro-batch, ties resolve by ascending doc_id (deterministic under
    any partitioning; the shuffle is the groupBy(fp) hash exchange, the
    state store is the checkpointed RocksDB/HDFS-backed Spark state).

    At 10^12 docs: state is one counter per distinct fingerprint,
    hash-partitioned — the same layout a batch groupBy would shuffle,
    but amortized incrementally per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    fps = stream_docs.select(
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 4))
        ).alias("fp"),
        "doc_id",
    )

    def fn(key, pdfs, state):
        import pandas as pd

        (seen,) = state.get if state.exists else (0,)
        # materialize every chunk of the group before sorting: a group
        # spanning multiple pandas chunks in one micro-batch must still
        # resolve ties by the GLOBAL ascending doc_id, not per-chunk
        ids = sorted(int(d) for pdf in pdfs for d in pdf["doc_id"])
        rows = []
        for did in ids:
            rows.append((key[0], did, seen == 0))
            seen += 1
        state.update((seen,))
        yield pd.DataFrame(rows, columns=["fp", "doc_id", "is_first"])

    return fps.groupBy("fp").applyInPandasWithState(
        fn,
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


NEAR_DEDUP_OUT_SCHEMA = "band_key string, doc_id long, is_first boolean"
NEAR_DEDUP_STATE_SCHEMA = "n long"

# Per-row (no streaming aggregation — chaining one before the stateful
# operator is disallowed) minhash over the doc's own token shingles,
# bit-identical to the batch _MINHASH_CORE_SPARK expressions: the same
# md5→conv base hash and the same 16 Carter-Wegman (a, b) pairs.


def _row_band_sigs() -> "F.Column":
    """array of 4 band signatures for one document row, equal to the
    batch bands CTE (band b = minhashes 4b..4b+3 joined by '|').
    Higher-order-function fold — interpreted, not codegen'd, which the
    batch path deliberately avoids (CLAUDE.md); acceptable here because
    micro-batches are small and the stateful groupBy needs per-row
    values, not a corpus aggregation."""
    toks = F.split("text", " ")
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1),
            F.element_at(toks, i + 2)
        ),
    )
    hb = F.transform(
        shingles,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            F.lit(2147483647),
        ),
    )
    mins = [
        F.array_min(
            F.transform(hb, lambda h: F.pmod(h * F.lit(a) + F.lit(b),
                                             F.lit(2147483647)))
        ).cast("string")
        for a, b in CW_PAIRS
    ]
    return F.array(*[
        F.concat_ws("|", *mins[4 * band: 4 * band + 4])
        for band in range(4)
    ])


def streaming_near_dedup(
    stream_docs: DataFrame, sigindex: DataFrame | None = None
) -> DataFrame:
    """Custom stateful operator: cross-batch ONLINE near-dup over the
    streaming documents table — the streaming twin of the batch
    `dedup_online_band_keepers` query (greedy LSH-band policy: a doc
    survives iff it is the first to emit EVERY one of its 4 band
    signatures; any previously-seen band, kept-or-dropped emitter
    alike, retires it).

    Emits one row per (band, doc): (band_key, doc_id, is_first) —
    is_first marks that this doc was the first emitter of that band
    signature across ALL micro-batches so far. A doc is a keeper iff
    all 4 of its rows have is_first (the consumer's 4-row groupBy;
    pytest pins streaming keepers ≡ the batch query on identical
    input). Docs under the 3-token shingle width emit no bands, exactly
    like the batch WHERE size(t) >= 3 guard.

    Equivalence contract (same as streaming_exact_dedup): batch keepers
    resolve first-ness by GLOBAL ascending doc_id, so micro-batches
    must arrive in doc_id order for the two to agree; within one
    micro-batch the operator sorts the group globally before marking.

    At 10^12 docs: state is one counter per distinct (band, signature)
    — the same keyspace the batch groupBy shuffles, amortized
    incrementally; each doc contributes 4 narrow rows to the exchange.

    ``sigindex`` (r5) bootstraps the stream from COMMITTED batch runs:
    pass the union of a dedup root's sigindex/run=* tables
    ((band, band_sig, hub) — the same index jobs/dedup_job.py --resume
    consumes) and every signature in it counts as already-seen, so no
    streamed doc can be first for it. The lookup is a STREAM-STATIC
    left join (the idiomatic Spark shape — the static side is a
    parquet-backed relation, no state blow-up, broadcast or
    shuffle-hash per micro-batch as Catalyst prefers); the stateful
    counter then starts at 1 for committed keys. This makes the stream
    the continuation of the batch online policy: keepers ≡ what
    `dedup_job.py --resume --policy online` would decide on the same
    docs (pinned by test)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    bands = (
        stream_docs
        .filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", F.posexplode(_row_band_sigs()).alias("band", "sig"))
        .select(
            F.concat_ws("#", F.col("band").cast("string"), "sig").alias(
                "band_key"
            ),
            "doc_id",
        )
    )
    if sigindex is not None:
        idx = (
            sigindex.select(
                F.concat_ws(
                    "#", F.col("band").cast("string"), "band_sig"
                ).alias("band_key")
            )
            # per-run index dirs may repeat a signature — collapse so
            # the stream-static join cannot duplicate band rows
            .dropDuplicates(["band_key"])
            .withColumn("_committed", F.lit(True))
        )
        bands = bands.join(idx, "band_key", "left")
    else:
        bands = bands.withColumn("_committed", F.lit(False))

    def fn(key, pdfs, state):
        import pandas as pd

        seen = state.get[0] if state.exists else None
        ids = []
        committed = False
        for pdf in pdfs:
            # .eq(True) treats the left-join's nulls as False without
            # the deprecated fillna object-downcast
            committed = committed or bool(pdf["_committed"].eq(True).any())
            ids.extend(int(d) for d in pdf["doc_id"])
        if seen is None:
            seen = 1 if committed else 0
        rows = []
        for did in sorted(ids):
            rows.append((key[0], did, seen == 0))
            seen += 1
        state.update((seen,))
        yield pd.DataFrame(rows, columns=["band_key", "doc_id", "is_first"])

    return bands.groupBy("band_key").applyInPandasWithState(
        fn,
        NEAR_DEDUP_OUT_SCHEMA,
        NEAR_DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming tumbling-window counts with a watermark (late rows past
    the watermark are dropped). Returns the streaming DataFrame; caller
    attaches a sink (tests use the memory sink + availableNow)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch so
        .parquet(events_path)               # watermarks advance between them
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            "total",
        )
    )
