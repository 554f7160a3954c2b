"""The generator is a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider

The sizes are shrunk so the test runs in seconds; the fingerprints
cover every array and string a workload receives.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


@pytest.fixture(autouse=True)
def small(monkeypatch):
    for name, value in (("SERVE_DOCS", 300), ("SERVE_POOL", 50),
                        ("SERVE_BATCHES", 10), ("INGEST_STANDING", 200),
                        ("INGEST_BATCH", 50), ("INGEST_DELETES", 5),
                        ("INGEST_BATCHES", 3)):
        monkeypatch.setattr(gen, name, value)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_fingerprint(workload, tmp_path):
    run = gen.GENERATORS[workload]
    a = run(7, str(tmp_path / "a"))["fingerprint"]
    b = run(7, str(tmp_path / "b"))["fingerprint"]
    c = run(8, str(tmp_path / "c"))["fingerprint"]
    assert a == b
    assert a != c


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_files(workload, tmp_path):
    run = gen.GENERATORS[workload]
    run(7, str(tmp_path / "a"))
    run(7, str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    for n in names:
        assert ((tmp_path / "a" / n).read_bytes()
                == (tmp_path / "b" / n).read_bytes()), n


def test_exact_topk_breaks_ties_on_id():
    import numpy as np

    C = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [2.0, 0.0]])
    ids, scores = gen.exact_topk(np.array([[1.0, 0.0]]), C,
                                 np.array([5, 3, 9, 4]), 3)
    assert ids.tolist() == [[3, 4, 5]]
    assert scores.tolist() == [[1.0, 1.0, 1.0]]
