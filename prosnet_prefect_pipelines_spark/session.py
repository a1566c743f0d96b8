"""SparkSession factory tuned for the engine's workloads.

Local testing runs on ``local[N]`` (single JVM); the configuration is
nevertheless written for a multi-executor cluster at ~100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a high initial number
- Arrow enabled for the few pandas-UDF paths (dedup/multimodal)
- session timezone pinned to UTC so timestamp semantics are stable and
  comparable with external oracles
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")

# Spark 4.1 logs one WARN per streaming state snapshot read without a
# checksum file; the engine writes none, so the line carries nothing.
_CHECKSUM_LOGGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "ChecksumCheckpointFileManager"
)
_QUIET_APPS: set[str] = set()


def _quiet_checksum_warnings(spark: SparkSession) -> None:
    """Raise that one logger to ERROR, once per SparkContext."""
    app = spark.sparkContext.applicationId
    if app in _QUIET_APPS:
        return
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        _CHECKSUM_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    _QUIET_APPS.add(app)


def get_spark(app_name: str = "prosnet_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet uses TIMESTAMP(NANOS); read as int64 nanos
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fall back from whole-stage codegen when the generated method
        # exceeds the JIT compile limit (8 KB bytecode): the triple-template
        # renderers produce ~45-branch expressions whose generated method
        # never JITs and whose Janino compile dominates runtime (observed
        # 10-90s erratic vs ~2s after)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # whole-stage codegen OFF by default: every plan in this engine's
        # query mix is executed cold (one action per unique plan), so the
        # Janino compile of each fused stage is paid every time and never
        # amortized — measured 12-15s per giant renderer plan and 91s -> 55s
        # across the headline bench, with no query regressing (the hot
        # expressions are string/struct munging where interpreted eval ties
        # codegen even warm). On a long-lived cluster session re-running the
        # same plans, flip SPARK_GRAFT_WSCG=true to amortize the compile.
        .config(
            "spark.sql.codegen.wholeStage",
            os.environ.get("SPARK_GRAFT_WSCG", "false"),
        )
        # Python Data Source filter pushdown (sources/rest_datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    # streaming state-store backend (opt r12, VERDICT r11 item 3): at
    # 100 TB state sizes RocksDB + changelog checkpointing is the right
    # backend (state >> heap; per-commit changelogs instead of full
    # snapshots), so it is one env flip away — but it is NOT the local
    # default because the A/B at bench state sizes (hundreds of state
    # rows) measured flat-to-slower: cold x3 per monitor, HDFS-backed vs
    # RocksDB+changelog — tumbling 1.3/1.3 vs 1.9/1.9 s, preference
    # 4.2/3.9 vs 4.4/4.1 s, neardup/entity within noise
    # (artifacts/statestore_ab_r12.json). The native store's open/commit
    # overhead only amortizes when state outgrows the in-memory map.
    if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_checksum_warnings(spark)
    return spark


def fan_out(df, spark: SparkSession | None = None):
    """Round-robin repartition to the session's core count.

    Use on SMALL inputs that feed expression-heavy map work (MinHash
    fingerprints, triple renderers): a local small-SF parquet file is a
    single row group, so file-split tuning (maxPartitionBytes /
    openCostInBytes) cannot raise scan parallelism — only one task can
    read the row group — and a 3-branch union of such scans runs the
    whole downstream projection on 3 of 32 cores (measured: the sf0.1
    band fingerprint at 1.57 s on the 3-partition corpus vs 0.34 s
    after fan-out). The shuffle moves the raw rows once, which is only
    worth paying when the per-row expression work dominates; at cluster
    scale a 100 TB table already arrives in thousands of row groups and
    callers should NOT fan out full-corpus scans (the helpers that use
    this do it behind session-lifetime memos or on micro-batch-sized
    frames)."""
    sess = spark or df.sparkSession
    return df.repartition(sess.sparkContext.defaultParallelism)


def _checkpoint_rdd(df):
    """The persisted RDD behind a ``localCheckpoint``-ed frame, else None."""
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
    except Py4JError:
        return None  # not a LogicalRDD
    return rdd if rdd.getStorageLevel().isValid() else None


def unpersist_checkpoint(df) -> None:
    """Release the storage blocks behind a ``localCheckpoint``-ed frame.

    ``DataFrame.localCheckpoint`` persists the physical RDD and wraps it
    in a ``LogicalRDD``; nothing in the public API releases those blocks
    (``DataFrame.unpersist`` only talks to the CacheManager), so every
    checkpoint leaks executor storage until LRU eviction. Call this ONLY
    when the checkpointed frame is dead — i.e. every plan derived from
    it has been eagerly materialized or collected. Unpersisting while a
    lazy child still needs the blocks is unrecoverable (localCheckpoint
    truncates lineage; there is nothing to recompute from).
    Best-effort: silently ignores frames that are not checkpoint-backed.
    """
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)


# (app_id, rdd_id) pairs of the checkpoints behind pinned frames
# (:func:`pin`): sweep_persistent_rdds never unpersists these. Keyed by
# application id because RDD ids restart near 0 in a new SparkContext
# within the same Python process: a bare-int registry could collide a
# stale protected id with an unrelated fresh RDD and permanently exempt
# it from the sweep.
_PROTECTED_CKPT_IDS: set[tuple[str, int]] = set()

# THE memo store, (applicationId, key) -> value, written only by
# :func:`memo` and cleared by :func:`reset_memo_fixtures`. Exposed as a
# one-element list under its old name for readers that sum entry counts.
_MEMO: dict[tuple[str, Hashable], object] = {}
_MEMO_CACHES: list[dict] = [_MEMO]


def memo(spark: SparkSession, key: Hashable, build: Callable[[], _T]) -> _T:
    """Session-lifetime memo: ``build()`` once per ``(applicationId, key)``.

    ``key`` names the fixture and its inputs (e.g. ``("dedup.corpus",
    sf_dir)``); the application id scopes it to the live SparkContext,
    and entries left by stopped contexts are evicted on the next miss
    (their frames reference blocks that can never be read again). Any
    Spark frame the value holds must come from :func:`pin`, so it is
    materialized before the memo hands it out and survives the sweep.
    """
    app = spark.sparkContext.applicationId
    if (app, key) not in _MEMO:
        for stale in [k for k in _MEMO if k[0] != app]:
            del _MEMO[stale]
        _MEMO[(app, key)] = build()
    return _MEMO[(app, key)]


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` as a checkpoint and exempt it from the sweep.

    The only way a memo holds a Spark frame. A frame that already is a
    checkpoint is not checkpointed again: a materialized one is only
    protected, a lazy one is materialized in place. Eager, because a
    lazy fixture's lineage runs through other lazy checkpoints that the
    between-query sweep would free before the fixture's first read.
    """
    rdd = _checkpoint_rdd(df)
    if rdd is None:
        df = df.localCheckpoint(eager=True)
        rdd = _checkpoint_rdd(df)
    elif not rdd.isCheckpointed():
        rdd.count()
    _PROTECTED_CKPT_IDS.add((df.sparkSession.sparkContext.applicationId, int(rdd.id())))
    return df


def reset_memo_fixtures(spark: SparkSession) -> int:
    """Reset every memoized fixture to first-touch state.

    Every memo value is built through :func:`memo` and every frame it
    holds is pinned through :func:`pin`, so clearing the one store and
    dropping every pin protection reaches all of them; the now
    unprotected blocks are swept and the number of RDDs unpersisted is
    returned. The next query that touches a memoized corpus, LSH pair
    frame or serving index rebuilds it, so repeat-cold bench passes pay
    the same build work as the first pass.
    """
    _MEMO.clear()
    _PROTECTED_CKPT_IDS.clear()
    return sweep_persistent_rdds(spark)


def sweep_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every persistent RDD that is not pinned; returns the count.

    Legal between any two independent queries, because memo values are
    built through :func:`memo` and the frames they hold are pinned
    through :func:`pin`, materialized: a fixture a later query reads
    never depends on a block the sweep can free. Everything else
    persisted is dead once the query that made it has run:
    ``localCheckpoint`` fixpoint and stream state, the lazy distrank
    range blocks (``operators/distrank.py _ranged_parts``, job-free at
    construction, so caller-must-sweep) and the near-dup monitor's
    foreachBatch barrier. A plan built before the sweep must not be
    executed after it. Protections left by stopped SparkContexts are
    pruned by app id; they can never match again.
    """
    n = 0
    try:
        app = spark.sparkContext.applicationId
        stale = {t for t in _PROTECTED_CKPT_IDS if t[0] != app}
        _PROTECTED_CKPT_IDS.difference_update(stale)
        it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            e = it.next()
            if (app, int(e.getKey())) in _PROTECTED_CKPT_IDS:
                continue
            e.getValue().unpersist(False)
            n += 1
    except Exception:
        pass
    return n


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf we rely on, on a session we did not build.

    The driver hands us its own SparkSession; timestamp comparisons against
    the DuckDB oracle (UTC-naive) require a UTC session timezone.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
    # default; read the physical int64 and handle nanos ourselves
    # (model.read_events) — exact in both engines.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
    _quiet_checksum_warnings(spark)
    # cold-plan workload: skip whole-stage codegen compile (see get_spark)
    spark.conf.set(
        "spark.sql.codegen.wholeStage", os.environ.get("SPARK_GRAFT_WSCG", "false")
    )
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf on some builds; get_spark sets it at build time
    if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb":
        # runtime-settable: StreamExecution clones the conf at query start
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    return spark
