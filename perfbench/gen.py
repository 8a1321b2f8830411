"""Seeded input generators for the benchmark workloads.

Every table mirrors the schema and value distributions of the TPC-H-like
fixture tables the library's queries are written against (FIXTURES.md):
uniform keys and measures, events ascending in time, and a 31-word
lower-case documents vocabulary with planted near-duplicates (a copy of an
earlier document plus the word ``dup``).  The same seed and parameters
always give byte-identical parquet files.

The documents corpus is replicated ``replicas`` times.  Replica 0 is the
base corpus; replica ``r > 0`` applies its own seeded permutation of
``a-z`` to every text with ``str.translate``.  A letter permutation is a
bijection on words, so word-trigram Jaccard within a replica is preserved,
and distinct permutations keep replicas from pairing with each other: the
near-duplicate pair count scales by exactly ``replicas``.
"""

from __future__ import annotations

import hashlib
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_WORD = "dup"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    a = np.datetime64(start, "D").astype("int64")
    b = np.datetime64(end, "D").astype("int64")
    return int(a), int(b)


def _random_dates_us(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = _days(start, end)
    return rng.integers(lo, hi + 1, n).astype("int64") * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def letter_permutations(seed: int, replicas: int) -> list[str]:
    """Per-replica images of ``a-z``: identity for replica 0, then
    ``replicas - 1`` distinct seeded permutations, none the identity."""
    rng = np.random.default_rng([seed, 0x5EED])
    letters = string.ascii_lowercase
    perms = [letters]
    while len(perms) < replicas:
        cand = "".join(rng.permutation(list(letters)))
        if cand not in perms:
            perms.append(cand)
    return perms


def replicate_texts(texts: list[str], perms: list[str]) -> list[list[str]]:
    """``texts`` rewritten once per permutation (replica-major)."""
    letters = string.ascii_lowercase
    out = []
    for image in perms:
        table = str.maketrans(letters, image)
        out.append([t.translate(table) for t in texts])
    return out


def base_documents(rng: np.random.Generator, n: int, dup_share: float) -> list[str]:
    """``n`` texts of 10-100 vocabulary words.  A ``dup_share`` of them are
    the copy of a distinct other text plus ``" dup"``, so every seed plants
    the same number of near-duplicate pairs and no chains."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    n_dups = int(round(n * dup_share))
    chosen = rng.permutation(n)[: 2 * n_dups]
    for original, dup in zip(chosen[:n_dups], chosen[n_dups:]):
        texts[dup] = texts[original] + " " + DUP_WORD
    return texts


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def lineitem_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """The ``lineitem`` table at scale factor ``sf``; its foreign keys range
    over the order, part and supplier counts of that scale factor."""
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(_random_dates_us(rng, n_line, "1995-01-02", "2001-11-04")),
    })


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` events over 30 days, ``ts`` ascending with ``event_id``."""
    start = int(np.datetime64("2024-01-01", "us").astype("int64"))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(
    rng: np.random.Generator, seed: int, base_docs: int, replicas: int, dup_share: float,
) -> pa.Table:
    base = base_documents(rng, base_docs, dup_share)
    texts = [t for rep in replicate_texts(base, letter_permutations(seed, replicas)) for t in rep]
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), base_docs)]
    source = np.array([f"src{i % 20}" for i in range(base_docs)])
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": pa.array(np.tile(lang, replicas)),
        "source": pa.array(np.tile(source, replicas)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def generate_dataset(root: str, seed: int, params: dict) -> tuple[str, str]:
    """Write (or reuse) the tables for ``params`` under ``root``:
    ``lineitem`` when ``sf`` is given, events when ``events`` is and
    documents when ``base_docs`` is.

    The directory is keyed by seed and a digest of ``params`` and of this
    generator's source, so a changed generator never reuses stale files.
    Returns ``(directory, input_digest)`` where the digest covers the
    written parquet bytes.
    """
    with open(__file__, "rb") as fh:
        code = fh.read()
    key = hashlib.sha256(code + json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(root, f"seed{seed}-{key}")
    stamp = os.path.join(out, "_DIGEST")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return out, fh.read().strip()
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"lineitem": lineitem_table(rng, params["sf"])} if "sf" in params else {}
    if "events" in params:
        tables["events"] = events_table(rng, params["events"], params["users"])
    if "base_docs" in params:
        tables["documents"] = documents_table(
            rng, seed, params["base_docs"], params["replicas"], params["dup_share"])
    paths = []
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        _write(table, path)
        paths.append(path)
    digest = file_digest(paths)
    with open(stamp + ".tmp", "w") as fh:
        fh.write(digest)
    os.replace(stamp + ".tmp", stamp)
    return out, digest
