"""The generator is deterministic: one seed, one byte sequence."""

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    gen.generate(workload, 8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert set(a) == set(c)
    # every docs file changes; the truth of dense_matchsets is
    # seed-independent by design (fixed cluster shape, ids in order)
    parts = [k for k in a if k.endswith(".parquet") and k != "truth.parquet"]
    assert parts and all(a[k] != c[k] for k in parts)


def test_planted_truth_shape(tmp_path):
    import pyarrow.parquet as pq

    gen.generate("dense_matchsets", 3, str(tmp_path / "d"))
    truth = pq.read_table(str(tmp_path / "d" / "truth.parquet")).to_pydict()
    p = gen.WORKLOADS["dense_matchsets"]
    clusters = set(truth["cluster"])
    assert len(clusters) == p["clusters"]
    assert len(truth["url"]) == p["clusters"] * p["cluster_size"]
    # every cluster is labelled by its smallest id
    for c in clusters:
        members = [u for u, k in zip(truth["url"], truth["cluster"]) if k == c]
        assert min(members) == c


def test_ensure_reuses_and_rebuilds_half_written(tmp_path):
    out = gen.ensure("dense_matchsets", 5, str(tmp_path))
    before = _digest(out)
    assert gen.ensure("dense_matchsets", 5, str(tmp_path)) == out
    os.remove(os.path.join(out, "_DONE"))
    assert gen.ensure("dense_matchsets", 5, str(tmp_path)) == out
    assert _digest(out) == before
