"""Output checks: DuckDB oracle answers, cached, and the LSH miss bound.

Exact queries must match their ``oracle_sql()`` twin under the
``tests/oracle_check.compare`` contract.  LSH queries must return no
false output (precision exactly 1); the oracle rows they miss must stay
within a bound derived from the banding curve.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import pickle

import numpy as np
import pandas as pd


def cache_path(cache_root: str, workload: str, seed: int, digest: str, sql) -> str:
    """One cache file per (workload, seed, input digest, oracle SQL), so
    changed inputs or a changed oracle query never reuse stale answers."""
    key = hashlib.sha256((digest + json.dumps(sql, sort_keys=True)).encode()).hexdigest()
    return os.path.join(cache_root, f"{workload}-seed{seed}-{key[:24]}.pkl")


def oracle_answers(
    cache_root: str, workload: str, seed: int, digest: str, sql, compute
) -> dict[str, pd.DataFrame]:
    """The cached answers for this key, or ``compute()`` stored under it.
    ``sql`` is the oracle query text ``compute`` runs.  Only files this
    function wrote are ever unpickled."""
    path = cache_path(cache_root, workload, seed, digest, sql)
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    answers = compute()
    os.makedirs(cache_root, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(answers, fh)
    os.replace(path + ".tmp", path)
    return answers


def _oracle_check():
    """The repository's oracle harness, ``tests/oracle_check.py``, loaded by
    path so that no other ``tests`` package can shadow it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tests", "oracle_check.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def duckdb_answers(data_dir: str, sql_by_name: dict[str, str], threads: int = 2):
    """Run each SQL over views of the parquet tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    try:
        return {name: con.execute(sql).df() for name, sql in sql_by_name.items()}
    finally:
        con.close()


# -- banding curves ---------------------------------------------------------

def minhash_miss_probability(jaccard: float, rows: int, bands: int) -> float:
    """P(a pair at this Jaccard shares no band): (1 - J^rows)^bands."""
    return (1.0 - jaccard ** rows) ** bands


def miss_bound(probabilities) -> float:
    """Allowed misses: expected misses plus four standard deviations of
    their (Poisson-binomial) count, plus one so that a rare single miss
    on a near-zero expectation is not an error."""
    p = np.asarray(list(probabilities), dtype=float)
    mean = float(p.sum())
    sd = float(np.sqrt((p * (1.0 - p)).sum()))
    return mean + 4.0 * sd + 1.0


# -- checks -------------------------------------------------------------------

class _Frame:
    """Adapter giving a collected pandas frame the ``toPandas`` that
    ``oracle_check.compare`` calls."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 — Spark's name
        return self._pdf


def check_exact(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    return _oracle_check().compare(_Frame(got), want, name)


def check_components(
    got: pd.DataFrame, pairs: pd.DataFrame, rows: int, bands: int
) -> tuple[list[str], float, dict]:
    """Connected components over LSH-found pairs vs the exact pair set.

    No false output: every returned vertex is in an oracle pair, every
    returned component lies inside one oracle component and is labelled by
    its minimum vertex.  Misses: a missed pair drops at most two vertices
    or splits one component, so dropped vertices must stay within twice the
    miss bound and splits within the bound.
    """
    problems: list[str] = []
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        parent[find(int(a))] = find(int(b))
    oracle_vertices = set(parent)
    vertices = got["vertex"].astype("int64")
    comps = got["component"].astype("int64")
    extra = set(vertices) - oracle_vertices
    if extra:
        problems.append(f"q_connected_components: {len(extra)} vertices in no oracle pair")
    if vertices.duplicated().any():
        problems.append("q_connected_components: a vertex appears twice")
    groups = pd.DataFrame({"v": vertices, "c": comps}).groupby("c")["v"]
    splits: dict[int, int] = {}
    for label, members in groups:
        members = [int(v) for v in members]
        if label != min(members):
            problems.append(f"q_connected_components: component {label} is not its minimum vertex")
        roots = {find(v) for v in members if v in oracle_vertices}
        if len(roots) > 1:
            problems.append(f"q_connected_components: component {label} merges oracle components")
        for r in roots:
            splits[r] = splits.get(r, 0) + 1
    n_splits = sum(n - 1 for n in splits.values())
    dropped = len(oracle_vertices - set(vertices))
    bound = miss_bound(
        minhash_miss_probability(j, rows, bands) for j in pairs["jaccard"]
    )
    if dropped > 2 * bound or n_splits > bound:
        problems.append(
            f"q_connected_components: {dropped} dropped vertices and {n_splits} "
            f"splits exceed the banding bound {bound:.2f}"
        )
    recall = (len(oracle_vertices) - dropped) / len(oracle_vertices) if oracle_vertices else 1.0
    return problems, recall, {
        "oracle_vertices": len(oracle_vertices), "dropped_vertices": dropped,
        "splits": n_splits, "miss_bound": bound,
    }

