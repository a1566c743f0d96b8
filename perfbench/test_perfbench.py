"""Tests of the benchmark's own helpers: metric names, result
fingerprints, the median/quartile helper, query order and input
generation. Run with ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

UNIT_RE = r"[A-Za-z0-9_/%.-]{1,16}"


@pytest.fixture(scope="module")
def benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid():
    for name in [*run.END_TO_END, *run.PER_LAYER, *WORKLOADS]:
        assert stats.valid_name(name), name
    for bad in ["", "q.a b", "-lead", "x" * 65, "a/b", "é"]:
        assert not stats.valid_name(bad), bad


def test_benchmark_json_matches_the_runner(benchmark_json):
    import re

    assert [w["name"] for w in benchmark_json["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m for m in benchmark_json["end_to_end"]}
    layer = {m["name"]: m for m in benchmark_json["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert {k: m["unit"] for k, m in layer.items()} == run.PER_LAYER
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in [*e2e.values(), *layer.values()]:
        assert re.fullmatch(UNIT_RE, m["unit"]) and m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"s": ["x", "y", None], "n": [1, 2, 3], "f": [0.5, float("nan"), 2.0]})
    b = a.iloc[[2, 0, 1]][["f", "s", "n"]].reset_index(drop=True)
    assert run.fingerprint(a) == run.fingerprint(b)
    assert run.fingerprint(a)[0] == 3


def test_fingerprint_sees_a_changed_value_or_row():
    a = pd.DataFrame({"s": ["x", "y"], "n": [1, 2]})
    assert run.fingerprint(a) != run.fingerprint(pd.DataFrame({"s": ["x", "y"], "n": [1, 3]}))
    assert run.fingerprint(a) != run.fingerprint(pd.concat([a, a.iloc[:1]]))


def test_quartiles_match_statistics_quantiles():
    vals = [9.1, 8.7, 10.4, 9.9, 9.0, 12.5, 8.8, 9.4, 9.6, 9.2]
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)
    assert stats.median(vals) == statistics.median(vals)


def test_query_order_is_a_seeded_permutation():
    names = [q for q, _ in WORKLOADS["prosopography"]["queries"]]
    assert run.query_order(names, 0) == names
    assert run.query_order(names, 7) == run.query_order(names, 7)
    assert sorted(run.query_order(names, 7)) == sorted(names)
    assert run.query_order(names, 7) != run.query_order(names, 8)


def test_generated_inputs_are_deterministic():
    a, b = datagen.build_tables(), datagen.build_tables()
    assert list(a) == list(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert a["documents"].num_rows == datagen.ROWS["documents"]
    assert not a["documents"].equals(datagen.build_tables(seed=7)["documents"])


def test_steady_pass_count_depends_only_on_seconds():
    assert run.steady_passes(30) == 3
    assert run.steady_passes(5) == run.MIN_STEADY
    assert run.steady_passes(45) == 4


def test_traced_passes_are_balanced_abba():
    t = run.TRACED_PASSES
    assert t.count(True) == t.count(False) >= 2
    assert list(t) == list(reversed(t)) and not t[0]


def test_generated_embeddings_are_unit_vectors():
    import numpy as np

    emb = datagen.build_tables()["embeddings"]
    vec = np.array(emb.column("embedding").to_pylist())
    assert vec.shape == (datagen.ROWS["embeddings"], 64)
    assert np.allclose(np.linalg.norm(vec, axis=1), 1.0, atol=1e-5)
