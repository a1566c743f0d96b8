"""Checkpoint-hygiene helpers (session.py): targeted unpersist of dead
localCheckpoints, protection of session-lifetime memoized fixtures, and
the between-query sweep the bench / self-sweep harnesses run.

Why this exists: ``DataFrame.localCheckpoint`` persists the physical RDD
and nothing in the public API ever releases it, so a 570-query
one-session sweep accumulates every query's fixpoint/stream state until
LRU spill churn sets in. The sweep frees those blocks — but it must
never touch the memoized corpus/triples fixtures that LATER queries
still read (a truncated-lineage checkpoint is unrecomputable once its
blocks are gone; r8 observed exactly that failure before the protection
registry existed).
"""

from __future__ import annotations

import ast
import glob
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prosnet_prefect_pipelines_spark.session import (
    pin,
    sweep_persistent_rdds,
    unpersist_checkpoint,
)


def _n_persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_unpersist_checkpoint_releases_blocks(spark):
    sweep_persistent_rdds(spark)
    base = _n_persistent(spark)
    ck = spark.range(1000).select("id", (F.col("id") * 2).alias("y")).localCheckpoint()
    assert ck.count() == 1000
    assert _n_persistent(spark) == base + 1
    unpersist_checkpoint(ck)
    assert _n_persistent(spark) == base


def test_unpersist_checkpoint_ignores_plain_frames(spark):
    df = spark.range(10)
    unpersist_checkpoint(df)  # not checkpoint-backed: must not raise
    assert df.count() == 10


def test_sweep_skips_protected_fixtures(spark):
    sweep_persistent_rdds(spark)
    fixture = pin(spark.range(500).select("id"))
    dead = spark.range(200).select("id").localCheckpoint()
    assert dead.count() == 200
    assert fixture.count() == 500
    swept = sweep_persistent_rdds(spark)
    assert swept >= 1
    # the protected fixture must still be persisted AND readable
    assert _n_persistent(spark) >= 1
    assert fixture.count() == 500
    unpersist_checkpoint(fixture)


def test_pin_never_checkpoints_twice(spark):
    """pin materializes and protects; a frame that already is a
    checkpoint keeps its one checkpoint (an eager one is only protected,
    a lazy one is materialized in place)."""
    from prosnet_prefect_pipelines_spark.session import _PROTECTED_CKPT_IDS

    app = spark.sparkContext.applicationId
    for eager in (True, False):
        ck = spark.range(40).localCheckpoint(eager=eager)
        rdd = ck._jdf.queryExecution().analyzed().rdd()
        assert pin(ck) is ck
        assert rdd.isCheckpointed()
        assert (app, int(rdd.id())) in _PROTECTED_CKPT_IDS
        unpersist_checkpoint(ck)


def test_memoized_corpus_survives_sweep(spark, sf_dir):
    """The q_dedup corpus memo is pinned: a sweep between two queries
    that share it must not break the second one."""
    from prosnet_prefect_pipelines_spark.plans.q_dedup import corpus

    c = corpus(spark, sf_dir)
    n1 = c.count()  # materializes the lazy fixture checkpoint
    sweep_persistent_rdds(spark)
    n2 = corpus(spark, sf_dir).count()  # same memoized frame, post-sweep
    assert n1 == n2 > 0


def test_protection_is_app_scoped(spark):
    """Protected ids are keyed by application id (r12 ADVICE): a stale
    id recorded under a dead SparkContext must not exempt a fresh RDD
    with the colliding integer id from the sweep."""
    from prosnet_prefect_pipelines_spark.session import _PROTECTED_CKPT_IDS

    sweep_persistent_rdds(spark)
    base = _n_persistent(spark)
    ck = spark.range(300).localCheckpoint()
    assert ck.count() == 300
    rdd_id = int(ck._jdf.queryExecution().analyzed().rdd().id())
    # simulate a stale protection from a previous context: same integer
    # id, different app — the sweep must still release the block AND
    # prune the stale entry
    _PROTECTED_CKPT_IDS.add(("app-from-a-dead-context", rdd_id))
    swept = sweep_persistent_rdds(spark)
    assert swept >= 1
    assert _n_persistent(spark) == base
    assert ("app-from-a-dead-context", rdd_id) not in _PROTECTED_CKPT_IDS


def test_reset_memo_fixtures_forces_rebuild(spark, sf_dir):
    """reset_memo_fixtures returns the session to first-touch state:
    memo store empty, protections dropped, blocks swept — the next
    corpus() call rebuilds rather than reusing a dangling checkpoint."""
    from prosnet_prefect_pipelines_spark.plans.q_dedup import corpus
    from prosnet_prefect_pipelines_spark.session import (
        _MEMO,
        _PROTECTED_CKPT_IDS,
        reset_memo_fixtures,
    )

    c = corpus(spark, sf_dir)
    n1 = c.count()
    assert any(key == ("dedup.corpus", sf_dir) for _app, key in _MEMO)
    reset_memo_fixtures(spark)
    assert not _MEMO
    assert not _PROTECTED_CKPT_IDS
    c2 = corpus(spark, sf_dir)
    assert c2 is not c  # rebuilt, not the dangling frame
    assert c2.count() == n1


def test_memo_fixture_survives_sweep_before_first_run(spark, sf_dir):
    """A query's result must not depend on whether an earlier query ran
    before the between-query sweep: building dedup_minhash_lsh without
    running it memoizes the corpus and LSH pair fixtures, and the sweep
    that follows must leave dedup_clusters readable and identical."""
    from prosnet_prefect_pipelines_spark.plans.catalog import load
    from prosnet_prefect_pipelines_spark.session import reset_memo_fixtures

    queries, _ = load()
    reset_memo_fixtures(spark)
    want = sorted(queries["dedup_clusters"](spark, sf_dir).collect())
    reset_memo_fixtures(spark)
    queries["dedup_minhash_lsh"](spark, sf_dir)  # built, never run
    assert sweep_persistent_rdds(spark) >= 1  # the dead build-time checkpoints
    got = sorted(queries["dedup_clusters"](spark, sf_dir).collect())
    assert len(want) > 0
    assert got == want


_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ENGINE = os.path.join(_PKG, "prosnet_prefect_pipelines_spark")
# module-level dicts that are not session memos: the query registry
# (keyed by query name, filled at import) lives in catalog.py
_REGISTRY_MODULES = {"plans/catalog.py"}
# q_pipeline20 namespaces a scratch DIRECTORY by application id; it
# caches no value
_APP_ID_READERS = {"plans/q_pipeline20.py"}


def test_no_memo_outside_session_store():
    """Every memo goes through session.memo, so reset_memo_fixtures
    clears it: no engine module outside session.py declares a
    module-level cache dict, keys anything by applicationId, or
    protects a checkpoint itself (pin is the only protection)."""
    found = []
    for path in glob.glob(os.path.join(_ENGINE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _ENGINE).replace(os.sep, "/")
        if rel == "session.py":
            continue
        tree = ast.parse(open(path).read())
        for node in tree.body:
            value = getattr(node, "value", None)
            if (
                isinstance(node, (ast.Assign, ast.AnnAssign))
                and rel not in _REGISTRY_MODULES
                and (
                    (isinstance(value, ast.Dict) and not value.keys)
                    or (isinstance(value, ast.Call) and ast.unparse(value.func) == "dict")
                )
            ):
                found.append(f"{rel}:{node.lineno} module-level dict")
        for node in ast.walk(tree):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name in ("protect_checkpoint", "register_memo_cache", "_MEMO"):
                found.append(f"{rel}:{node.lineno} {name}")
            if name == "applicationId" and rel not in _APP_ID_READERS:
                found.append(f"{rel}:{node.lineno} applicationId")
    assert not found, found


def _frames(value):
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)


def test_memo_frames_are_pinned_and_reset_empties_store(spark, sf_dir):
    """Every frame a memo holds is a materialized, sweep-protected
    checkpoint (so no memo value is a lazy localCheckpoint), and
    reset_memo_fixtures leaves the store empty. Covers the five
    fixtures that used to be pinned lazily plus the non-frame memos."""
    from prosnet_prefect_pipelines_spark.plans import (
        q_dedup,
        q_index,
        q_pipeline37,
        q_pipeline42,
        q_pipeline85,
        q_render,
        tpch_graph,
    )
    from prosnet_prefect_pipelines_spark.render.person import render_person
    from prosnet_prefect_pipelines_spark.session import (
        _MEMO,
        _MEMO_CACHES,
        _PROTECTED_CKPT_IDS,
        reset_memo_fixtures,
    )
    from prosnet_prefect_pipelines_spark.streaming.tuning import staged_row_count

    reset_memo_fixtures(spark)
    triples = tpch_graph.triples_from_tpch(spark, sf_dir)
    q_dedup.lsh_pairs(spark, sf_dir)
    q_pipeline42._train_split(spark, sf_dir)
    q_pipeline85._v3_keep3(spark, sf_dir)
    q_index._city_subtree_cls(spark, triples, sf_dir)
    q_index._city_post_cols(spark)
    q_pipeline37._event_types(
        spark.read.parquet(f"{sf_dir}/events.parquet"), sf_dir
    )
    render_person(q_render.persons_from_tpch(spark, sf_dir))
    staged_row_count(spark, f"{sf_dir}/nation.parquet")

    assert _MEMO_CACHES == [_MEMO]
    assert len(_MEMO) == 11
    app = spark.sparkContext.applicationId
    frames = [f for v in _MEMO.values() for f in _frames(v)]
    assert len(frames) == 5
    for frame in frames:
        rdd = frame._jdf.queryExecution().analyzed().rdd()
        assert rdd.isCheckpointed()  # materialized before memo returned it
        assert (app, int(rdd.id())) in _PROTECTED_CKPT_IDS

    reset_memo_fixtures(spark)
    assert not _MEMO
    assert sum(len(c) for c in _MEMO_CACHES) == 0
    assert not _PROTECTED_CKPT_IDS
