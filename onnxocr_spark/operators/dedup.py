"""Duplicate-cluster resolution: candidate pairs → connected components
→ keeper per cluster.

A near-dup pipeline (MinHash-LSH / SimHash / embedding pairs) emits
PAIRS; deduplication needs CLUSTERS — if A~B and B~C, one keeper must
survive for {A, B, C} even though (A, C) was never emitted. That is
connected components, computed here by iterative minimum-label
propagation over the undirected pair graph:

    label(v) ← min(label(v), min over neighbors' labels)

with pointer jumping

    label(v) ← label(label(v))

composed into every round from `jump_from` (default 2) on, until a
fixpoint. Labels are always vertex ids with label(u) ≤ u, so the jump
is a plain self-lookup that composes the propagation with itself —
known-label distance doubles per jumping round and convergence is
O(log diameter) (the shortcutting idea behind large-star/small-star,
Kiveris et al., "Connected Components in MapReduce and Beyond"),
where plain propagation is O(diameter). Duplicate clusters are
usually near-cliques that converge in 2-3 plain rounds — jumping from
round 0 would double their per-round join cost for nothing (measured:
sf0.1 LSH keepers 5.8s plain vs 9.6s always-jump) — so the first
`jump_from` rounds propagate only, and the jump kicks in exactly for
the chain-shaped duplicate graphs a crawl corpus can produce (doc A
overlaps B overlaps C …). `max_iter` bounds the loop; hitting it
raises rather than returning a half-converged answer.

Deterministic: labels are doc ids, min is order-free, no RNG.
At 10^12 docs the state per iteration is one (vertex, label) row per
clustered doc — only docs that appear in a pair enter the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_component_keepers(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    jump_from: int = 2,
    stats: dict | None = None,
    small_collect_threshold: int = 100_000,
) -> DataFrame:
    """(doc_a, doc_b) pairs → (doc_id, keeper) with keeper = min id of
    the doc's connected component. Docs not in any pair are absent
    (they are their own keepers by definition). If `stats` is given,
    stats['rounds'] records the iterations executed (the last one is
    the fixpoint-confirming round) and stats['strategy'] which path
    ran.

    Adaptive strategy (r5): when the edge table is at most
    ``small_collect_threshold`` rows, closure runs as a driver-side
    union-find over one bounded collect — the same small-side
    adaptivity a broadcast join applies, and the honest answer for the
    common case where a dedup pass emits a few thousand edges while
    the iterative path pays 2+ Spark jobs per round in fixed latency.
    The union rule attaches the larger root under the smaller, so a
    set's root is ALWAYS its minimum member and find() is exactly the
    keeper — identical output to min-label propagation by definition
    (pinned by test against the distributed path). Above the threshold
    the distributed pointer-jumping loop below is untouched; pass 0 to
    force it."""
    spark = pairs.sparkSession
    # Materialize the DIRECTED pair list first (r6, guide §2.3/§2.4):
    # the old shape persisted the symmetrized union, whose one
    # materialization executed the (expensive — full minhash/GEMM)
    # pairs subtree TWICE, once per union branch, and the small path
    # then collected 2x the rows it needed. Union-find is undirected by
    # nature, so the driver path needs each pair once; the distributed
    # path symmetrizes from the persisted pairs cache (two cache scans,
    # zero recompute).
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).persist()
    n_pairs = e.count()  # also materializes the cache
    if 2 * n_pairs <= small_collect_threshold:
        from pyspark.sql import types as T

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in e.collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        e.unpersist()
        if stats is not None:
            stats["rounds"] = 0
            stats["strategy"] = "driver-union-find"
        id_t = pairs.schema[a_col].dataType
        import pandas as pd

        # pandas + Arrow for the local→DataFrame hop (guide §6): ~2.3×
        # the list-of-tuples pickle path at these sizes.
        out = pd.DataFrame(
            {"doc_id": list(parent), "keeper": [find(v) for v in parent]}
        )
        # BROADCAST hint (r6, guide §3.1): this path's label table is
        # ≤ small_collect_threshold rows BY CONSTRUCTION, but a
        # createDataFrame relation has no reliable size estimate, so
        # callers' keeper/anti joins were planned as sort-merge —
        # shuffling the corpus side against a few-KB local table. The
        # hint is safe exactly because the bound is structural; the
        # distributed path below stays unhinted (its label table is
        # O(clustered docs)).
        return F.broadcast(spark.createDataFrame(
            out,
            T.StructType([
                T.StructField("doc_id", id_t), T.StructField("keeper", id_t)
            ]),
        ))
    if stats is not None:
        stats["strategy"] = "distributed-pointer-jumping"
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    edges.count()  # materialize from the pairs cache, then free it
    e.unpersist()

    # initial label: min neighbor vs self. Iteration state policy:
    # persist each round and FREE the previous round's cache as soon as
    # the new one is materialized (block storage stays ~1 copy of the
    # vertex table), and cut lineage with an eager localCheckpoint every
    # 4th round — labels feed the plan twice per jumping round
    # (propagation + jump lookup), so the logical plan quadruples per
    # round and unbounded growth kills the driver on plan serialization
    # long before the data is big, while checkpointing EVERY round would
    # strand un-unpersistable checkpoint blocks per round. Local (not
    # reliable) checkpoints suffice: a lost executor fails the job and
    # the ledger-based resume re-runs it.
    labels = edges.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("l")
    ).withColumnRenamed("a", "v").localCheckpoint(eager=True)

    def _label_mass(df: DataFrame) -> object:
        # labels only ever DECREASE under min-propagation, so the total
        # label mass strictly decreases iff any vertex changed — a
        # single tiny aggregate instead of a join-based diff per round.
        # decimal(38,0): exact and overflow-free at 10^12-scale ids.
        return df.agg(F.sum(F.col("l").cast("decimal(38,0)"))).first()[0]

    mass = _label_mass(labels)
    rounds = 0
    prev_cached = None  # previous round's persisted labels
    for it in range(max_iter):
        rounds += 1
        # propagate: each vertex takes min(own label, neighbors' labels)
        neigh = (
            edges.join(labels.withColumnRenamed("v", "b"), "b")
            .groupBy("a")
            .agg(F.min("l").alias("nl"))
            .withColumnRenamed("a", "v")
        )
        plan = labels.join(neigh, "v", "left").select(
            "v", F.least("l", F.coalesce("nl", "l")).alias("l")
        )
        prop = None
        if it >= jump_from:
            # pointer jumping: label(v) ← label(label(v)). Every label
            # is a vertex id present in the propagated table and
            # label(u) ≤ u, so the lookup only ever decreases labels;
            # composing it with the propagation doubles the distance
            # labels travel per round → O(log diameter) once engaged.
            prop = plan.persist()
            lookup = prop.select(
                F.col("v").alias("_lk"), F.col("l").alias("_ll")
            )
            plan = prop.join(lookup, prop["l"] == lookup["_lk"], "left").select(
                "v", F.least("l", F.coalesce("_ll", "l")).alias("l")
            )
        checkpoint_round = it % 4 == 3
        new_labels = (
            plan.localCheckpoint(eager=True) if checkpoint_round
            else plan.persist()
        )
        new_mass = _label_mass(new_labels)  # materializes new_labels
        if prop is not None:
            prop.unpersist()
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = None if checkpoint_round else new_labels
        labels = new_labels
        if new_mass == mass:
            break
        mass = new_mass
    else:
        raise RuntimeError(f"label propagation did not converge in {max_iter} iters")
    if stats is not None:
        stats["rounds"] = rounds

    edges.unpersist()
    if prev_cached is not None:
        # The fixpoint landed on a persist round: swap the result's
        # backing store from a CacheManager-registered cache (a strong
        # reference that outlives the caller — each CC call on a
        # long-lived session would permanently leak one cached vertex
        # table) to a localCheckpoint, whose blocks the ContextCleaner
        # reclaims once the returned DataFrame is garbage-collected.
        # One extra cache-scan materialization, no shuffle.
        labels = labels.localCheckpoint(eager=True)
        prev_cached.unpersist(blocking=True)
    return labels.select(F.col("v").alias("doc_id"), F.col("l").alias("keeper"))


# ---------------------------------------------------------------------------
# Canonical Spark-SQL fragments for the text near-dup pipeline — the ONE
# definition both the driver contract (__spark_entry__) and the
# spark-submit dedup job build from. Every template leaves {docs_src}
# open: callers substitute a `SELECT doc_id, text FROM …` subquery
# (adaptively fan-out-hinted in the battery, a plain temp view in the
# job). Shapes are the plan-pinned ones: shingles via one explode of a
# per-row transform, base hash one md5 per shingle, 16 Carter-Wegman
# MINs in a single map-side-combined groupBy (shuffle ~1 row/doc),
# bands as array slices of the signature vector.

SHINGLES_SQL = """
    SELECT doc_id, explode(transform(sequence(1, size(t) - 2),
               i -> concat_ws(' ', t[i-1], t[i], t[i+1]))) AS shingle
    FROM (SELECT doc_id, split(text, ' ') AS t
          FROM ({docs_src}))
    WHERE size(t) >= 3
"""

# The 16 Carter-Wegman (a, b) pairs of the minhash family: h(x) =
# (a·x + b) mod (2^31 − 1). The streaming operator reuses this list;
# the DuckDB oracle in __spark_entry__ spells its own copy on purpose.
CW_PAIRS = (
    (921440328, 1784546027), (37701240, 354508152),
    (449796578, 306530153), (492247049, 349390190),
    (1743316459, 1077260002), (1166774449, 1452085244),
    (1661019430, 410452542), (911295768, 1645529458),
    (1647127509, 818920737), (1419034827, 691191258),
    (1646992099, 1648527430), (2024284797, 1729037751),
    (1806657237, 1159790259), (1066479870, 1618275302),
    (1646561307, 1467039869), (1967357840, 1377743954),
)

_CW_MINS = ",\n             ".join(
    f"MIN(pmod(hb * {a} + {b}, 2147483647))" for a, b in CW_PAIRS
)

MINHASH_CORE_SQL = """
SELECT doc_id,
       array({mins}) AS mh
FROM (
  SELECT doc_id,
         pmod(CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT),
              2147483647) AS hb
  FROM ({shingles})
)
GROUP BY doc_id
""".format(mins=_CW_MINS, shingles=SHINGLES_SQL)

LSH_PAIRS_SQL = """
WITH sig AS ({core}),
bands AS (
  SELECT doc_id, band,
         concat_ws('|', transform(slice(mh, band * 4 + 1, 4),
                                  x -> CAST(x AS STRING))) AS band_sig
  FROM sig LATERAL VIEW explode(sequence(0, 3)) x AS band
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
""".format(core=MINHASH_CORE_SQL)

# Star edges for connected components: every doc in a shared band
# connects to the band's MIN doc (the hub) instead of to every other
# member. The transitive closure is IDENTICAL to the clique pairs'
# (within one band, all members reach each other through the hub;
# across bands the union of stars has the same reachability as the
# union of cliques), but the edge count is O(N·bands) instead of
# O(Σ k² ) — on a corpus where one page is duplicated a million
# times, the clique formulation materializes 5·10¹¹ pairs in ONE band
# group (a skew bomb no AQE setting fixes; the pairs ARE quadratic),
# the star formulation 10⁶ rows. Shape: the minhash groupBy, one
# window over (band, band_sig), one DISTINCT — the k² self-join is
# gone entirely. LSH_PAIRS_SQL remains the operator whose OUTPUT is
# the pairs themselves; this is the edge source for closures.
STAR_EDGES_SQL = """
WITH sig AS ({core}),
bands AS (
  SELECT doc_id, band,
         concat_ws('|', transform(slice(mh, band * 4 + 1, 4),
                                  x -> CAST(x AS STRING))) AS band_sig
  FROM sig LATERAL VIEW explode(sequence(0, 3)) x AS band
)
SELECT DISTINCT doc_id AS doc_a, hub AS doc_b FROM (
  SELECT doc_id,
         MIN(doc_id) OVER (PARTITION BY band, band_sig) AS hub
  FROM bands
) WHERE doc_id <> hub
""".format(core=MINHASH_CORE_SQL)

# Per-doc LSH band signatures — the common fragment the pair/star/
# keeper templates inline, exposed on its own for the incremental
# cross-run path, which needs the raw (doc_id, band, band_sig) rows of
# ONLY the new batch.
BANDS_SQL = """
WITH sig AS ({core})
SELECT doc_id, band,
       concat_ws('|', transform(slice(mh, band * 4 + 1, 4),
                                x -> CAST(x AS STRING))) AS band_sig
FROM sig LATERAL VIEW explode(sequence(0, 3)) x AS band
""".format(core=MINHASH_CORE_SQL)

# Band-signature INDEX of a processed batch: one row per distinct
# (band, band_sig) carrying the min doc id (hub) that emitted it. This
# is what a committed dedup run persists so FUTURE runs never re-shingle
# its documents: a new doc that shares any band signature with any
# processed doc — kept OR retired (both are in the index; matching only
# keepers would miss transitive duplicates of retired docs) — joins this
# table instead of the processed corpus. Aggregated to distinct band
# signatures the index is far smaller than the per-doc band table, and
# the (band, band_sig) equi-join against it is skew-free: exactly one
# index row per signature, however many processed docs shared it.
BAND_INDEX_SQL = """
SELECT band, band_sig, MIN(doc_id) AS hub
FROM ({bands})
GROUP BY band, band_sig
""".format(bands=BANDS_SQL)


def star_edges_from_bands(bands: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) rows → star edges (doc_a, doc_b=hub):
    every doc points at its band group's min doc. DataFrame twin of
    STAR_EDGES_SQL for callers that already hold the bands rows (the
    dedup job computes bands ONCE and feeds both the edge closure and
    the persisted sigindex — at 100 TB a second shingle pass is the
    single most expensive thing to avoid)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_sig")
    return (
        bands.withColumn("hub", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("doc_id").alias("doc_a"), F.col("hub").alias("doc_b"))
        .distinct()
    )


def incremental_new_doc_decisions(
    new_docs: DataFrame,
    new_bands: DataFrame,
    index: DataFrame | list[DataFrame],
) -> DataFrame:
    """Keep/retire decision for a NEW batch of documents against the
    band-signature index of previously committed runs, without touching
    (or re-shingling) any processed document.

    Inputs: new_docs (doc_id) — every new doc, so band-less (<3-token)
    docs are decided too; new_bands (doc_id, band, band_sig) over new
    docs only; index (band, band_sig, hub) unioned over all prior runs
    (hubs may repeat across runs — extra parallel edges are harmless).

    Edge construction mirrors the full-corpus star-edge closure:
      - within-batch: doc → min new doc per (band, band_sig) window;
      - cross-run:    doc → -(hub+1) per matching index signature.
    Prior-run hubs are remapped to NEGATIVE vertex ids so min-label
    propagation implements committed-wins for any NONNEGATIVE id
    assignment (a corpus with negative doc ids would collide with the
    mapped hub range): a
    component touching any processed doc gets a negative keeper, and an
    all-new component's keeper is its min new doc id. A new doc is kept
    iff its keeper is itself (absent from the graph ⇒ trivially kept).

    Equivalence: when doc ids are monotone across batches (old < new,
    the natural append-only corpus order), the kept set equals what the
    full-corpus star-edge CC would decide for the same docs — a new doc
    reaches a processed doc through band-share chains iff the full pair
    graph connects them (every chain hop shares a band signature, and
    any signature shared with ANY processed doc is in the index), and
    an all-new component has identical membership in both graphs (a
    cross edge out of it would imply a full-graph pair with a processed
    doc). The dedup_incremental battery oracle tests exactly this: the
    DuckDB side re-derives decisions from the FULL corpus closure.

    Decisions only — keeper LABELS intentionally differ from the full
    run (the incremental graph omits processed-batch internal edges, so
    a component's min PROCESSED member may differ; its min NEW member
    and the touches-processed predicate do not).

    Scale: new-batch shingling is the only text-heavy work; the index
    join ships 16-byte signatures; CC state is one row per clustered
    NEW doc plus matched hubs. A daily 1%-ingest run costs ~1% of the
    full-corpus job."""
    # NOTE (r6 probe, negative result): do NOT localCheckpoint
    # new_bands here. The star window and the cross-run index join key
    # on the SAME (band, band_sig) columns, so AQE's runtime exchange
    # reuse already dedupes the bands subtree (job trace: exactly one
    # new-half minhash job before the change; a checkpoint read flat
    # wall, +2 jobs, and would pin an O(|new batch|) materialization).
    star = star_edges_from_bands(new_bands)
    # `index` may arrive as a LIST of parts (sinks/bucketed.py: the
    # bucketed base table + the post-bucketize parquet delta). Each
    # part is joined SEPARATELY — unioning a bucketed and an
    # unbucketed frame before the join would forfeit the bucketed
    # scan's output partitioning and re-shuffle the whole index; the
    # union of the per-part JOIN RESULTS (matches only, small) keeps
    # the index side exchange-free. Repeated (band, band_sig) rows
    # across parts only add parallel hub edges, which the CC absorbs.
    parts = index if isinstance(index, (list, tuple)) else [index]
    cross = None
    for part in parts:
        c = (
            new_bands.join(part, ["band", "band_sig"])
            .select(
                F.col("doc_id").alias("doc_a"),
                (-F.col("hub") - F.lit(1)).cast("bigint").alias("doc_b"),
            )
            .distinct()
        )
        cross = c if cross is None else cross.unionByName(c)
    labels = connected_component_keepers(star.unionByName(cross))
    return new_docs.join(labels, "doc_id", "left").select(
        "doc_id",
        (
            F.col("keeper").isNull() | (F.col("keeper") == F.col("doc_id"))
        ).alias("kept"),
    )


ONLINE_BAND_KEEPERS_SQL = """
WITH sig AS ({core}),
bands AS (
  SELECT doc_id, band,
         concat_ws('|', transform(slice(mh, band * 4 + 1, 4),
                                  x -> CAST(x AS STRING))) AS band_sig
  FROM sig LATERAL VIEW explode(sequence(0, 3)) x AS band
)
SELECT doc_id FROM (
  SELECT doc_id,
         MIN(doc_id) OVER (PARTITION BY band, band_sig) AS first_doc
  FROM bands
) GROUP BY doc_id HAVING bool_and(doc_id = first_doc)
""".format(core=MINHASH_CORE_SQL)
