"""The benchmark's generators are deterministic in the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os

import pytest

import inputs

GENERATORS = {
    "retrieve": lambda seed, d: inputs.clustered_vectors(seed, d, 500, 16, 4, 8),
    "ingest": lambda seed, d: inputs.ingest_batches(seed, d, 2, 100, 5, 5, 3, 3),
    "corpus_clean": lambda seed, d: inputs.zipf_corpus(seed, d, 300, 400,
                                                       15, 15, 15),
}


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_inputs(name, tmp_path):
    gen = GENERATORS[name]
    gen(7, str(tmp_path / "a"))
    gen(7, str(tmp_path / "b"))
    gen(8, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_ingest_plants_the_declared_violations(tmp_path):
    out = inputs.ingest_batches(3, str(tmp_path), 2, 100, 5, 4, 3, 2)
    first, second = out["batches"]
    assert first["violations"] == {"duplicate id": 5, "embedder mismatch": 3,
                                   "null embedding": 2}
    assert second["violations"]["duplicate id"] == 5 + 4
    assert first["rows"] == 100 + 5 + 3 + 2
    assert len(out["inserted"]) == 200


def test_corpus_plants_duplicates_and_junk(tmp_path):
    out = inputs.zipf_corpus(3, str(tmp_path), 300, 400, 15, 15, 15)
    texts = list(out["texts"].values())
    assert len(texts) == 300
    assert len(texts) - len(set(texts)) >= 15
    assert len(out["low_quality"]) == 15
    assert all(not any(ch.isalpha() for ch in out["texts"][d])
               for d in out["low_quality"])


def test_exact_topk_orders_by_score_then_id():
    import numpy as np

    vecs = np.array([[1.0, 0.0], [2.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    got = inputs.exact_topk(vecs, ["d", "c", "b", "a"], np.array([[1.0, 0.0]]), 3)
    assert [i for i, _ in got[0]] == ["c", "d", "a"]
