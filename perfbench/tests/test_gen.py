import itertools
import string

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _trigram_pairs(texts, threshold=0.8):
    grams = []
    for t in texts:
        w = t.split()
        grams.append({" ".join(w[i:i + 3]) for i in range(len(w) - 2)})
    pairs = set()
    for a, b in itertools.combinations(range(len(texts)), 2):
        inter = len(grams[a] & grams[b])
        if inter and inter / len(grams[a] | grams[b]) >= threshold:
            pairs.add((a, b))
    return pairs


PARAMS = {"sf": 0.0005, "events": 300, "users": 20,
          "base_docs": 40, "replicas": 3, "dup_share": 0.2}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    d1, digest1 = gen.generate_dataset(str(tmp_path / "a"), 7, PARAMS)
    d2, digest2 = gen.generate_dataset(str(tmp_path / "b"), 7, PARAMS)
    _, digest3 = gen.generate_dataset(str(tmp_path / "c"), 8, PARAMS)
    assert digest1 == digest2
    assert digest1 != digest3
    assert pq.read_table(f"{d1}/documents.parquet").equals(pq.read_table(f"{d2}/documents.parquet"))


def test_cached_directory_is_reused(tmp_path):
    first = gen.generate_dataset(str(tmp_path), 3, PARAMS)
    assert gen.generate_dataset(str(tmp_path), 3, PARAMS) == first


def test_permutations_are_distinct_bijections():
    perms = gen.letter_permutations(5, 10)
    assert perms[0] == string.ascii_lowercase
    assert len(set(perms)) == 10
    for p in perms:
        assert sorted(p) == list(string.ascii_lowercase)
    assert gen.letter_permutations(5, 10) == perms


def test_near_duplicate_pairs_scale_exactly_with_replicas():
    rng = np.random.default_rng(11)
    base = gen.base_documents(rng, 40, 0.2)
    base_pairs = _trigram_pairs(base)
    assert base_pairs, "the base corpus must plant near-duplicates"
    replicas = gen.replicate_texts(base, gen.letter_permutations(11, 4))
    flat = [t for rep in replicas for t in rep]
    pairs = _trigram_pairs(flat)
    assert len(pairs) == 4 * len(base_pairs)
    n = len(base)
    assert all(a // n == b // n for a, b in pairs), "no pair may cross replicas"
