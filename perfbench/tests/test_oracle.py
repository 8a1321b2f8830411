import math

import pandas as pd
import pytest

from perfbench import oracle


def test_cache_is_keyed_by_seed_and_digest(tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return {"q": pd.DataFrame({"x": [len(calls)]})}

    root = str(tmp_path)
    sql = {"q": "SELECT 1 AS x"}
    a = oracle.oracle_answers(root, "w", 1, "d" * 64, sql, compute)
    b = oracle.oracle_answers(root, "w", 1, "d" * 64, sql, compute)
    assert len(calls) == 1 and a["q"].equals(b["q"])
    oracle.oracle_answers(root, "w", 2, "d" * 64, sql, compute)
    oracle.oracle_answers(root, "w", 1, "e" * 64, sql, compute)
    oracle.oracle_answers(root, "v", 1, "d" * 64, sql, compute)
    assert len(calls) == 4
    changed = {"q": "SELECT 2 AS x"}
    assert oracle.oracle_answers(root, "w", 1, "d" * 64, changed, compute)["q"]["x"][0] == 5
    assert len(calls) == 5
    paths = {oracle.cache_path(root, "w", 1, "d" * 64, sql),
             oracle.cache_path(root, "w", 1, "e" * 64, sql),
             oracle.cache_path(root, "w", 1, "d" * 64, changed)}
    assert len(paths) == 3


def test_minhash_banding_curve():
    assert oracle.minhash_miss_probability(1.0, 4, 4) == 0.0
    assert oracle.minhash_miss_probability(0.0, 4, 4) == 1.0
    assert oracle.minhash_miss_probability(0.9, 4, 4) == pytest.approx((1 - 0.9 ** 4) ** 4)


def test_miss_bound_is_mean_plus_four_sd_plus_one():
    p = [0.5, 0.5, 0.1]
    mean = 1.1
    sd = math.sqrt(0.25 + 0.25 + 0.09)
    assert oracle.miss_bound(p) == pytest.approx(mean + 4 * sd + 1)
    assert oracle.miss_bound([]) == 1.0
    assert oracle.miss_bound([0.0, 0.0]) == 1.0


PAIRS = pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11], "jaccard": [0.99, 0.99, 0.99]})


def test_components_exact_output_passes():
    got = pd.DataFrame({"vertex": [1, 2, 3, 10, 11], "component": [1, 1, 1, 10, 10]})
    problems, recall, _ = oracle.check_components(got, PAIRS, 4, 4)
    assert problems == [] and recall == 1.0


def test_components_one_miss_is_within_bound():
    got = pd.DataFrame({"vertex": [1, 2, 3], "component": [1, 1, 1]})
    problems, recall, detail = oracle.check_components(got, PAIRS, 4, 4)
    assert problems == [] and detail["dropped_vertices"] == 2 and recall == pytest.approx(0.6)


def test_components_false_merge_fails():
    got = pd.DataFrame({"vertex": [1, 2, 3, 10, 11], "component": [1, 1, 1, 1, 1]})
    problems, _, _ = oracle.check_components(got, PAIRS, 4, 4)
    assert any("merges" in p for p in problems)

