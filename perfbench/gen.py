"""Seeded corpus generator for the benchmark workloads.

The generator is the benchmark's own, independent of
``vid_dup_finder_lib_spark.corpus``, so that a change to the package can
never change the benchmark's input.  Each workload writes plain parquet
once per seed (pyarrow, fixed row-group size, fixed file count); the same
seed gives byte-identical files, and the program under test only ever sees
those files.

Planted structure.  Every near-dup cluster is a *base* document plus
members made from it by substituting a fixed share of token positions.
The base always carries the cluster's smallest id, so it is both the CC
label and the matchset seed, and every member is within one substitution
step of it.  Tokens are drawn uniformly from a 2^16-word vocabulary, so
documents from different clusters share (almost surely) no 3-shingle: a
verified edge between them would be a false positive, never a planted one.

Ground truth (``url -> cluster``, where ``cluster`` is the base's url and a
unique document is its own cluster) is written beside the docs as
``truth.parquet`` and is read only by the benchmark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
VOCAB_SIZE = 1 << 16
NUM_FILES = 8
ROW_GROUP = 2048

# workload -> generator parameters.  ``dup_share`` is the share of docs
# that sit in planted clusters; ``sub_rate`` the share of token positions a
# member substitutes relative to its base.
WORKLOADS = {
    "dense_matchsets": dict(
        clusters=16, cluster_size=40, doc_len=(150, 200), sub_rate=0.02,
    ),
    "incremental_fold": dict(
        store_docs=2_400, dup_share=0.30, cluster_sizes=(2, 4),
        doc_len=(200, 600), sub_rate=0.025,
        batch_docs=300, batch_dup_share=0.30,
    ),
}

_WORKLOAD_SALT = {name: i + 1 for i, name in enumerate(sorted(WORKLOADS))}


def _vocab() -> np.ndarray:
    """2^16 distinct six-letter words: i -> (i * 7919 + 12345) mod 26^6 is
    a bijection (7919 is prime and coprime with 26), spelled in base 26."""
    codes = (np.arange(VOCAB_SIZE, dtype=np.int64) * 7919 + 12345) % 26**6
    letters = np.empty((VOCAB_SIZE, 6), dtype="U1")
    for pos in range(6):
        letters[:, 5 - pos] = np.array(list("abcdefghijklmnopqrstuvwxyz"))[
            codes % 26
        ]
        codes //= 26
    return np.array(["".join(row) for row in letters], dtype=object)


class _Builder:
    """Accumulates (url, tokens, cluster) rows in id order."""

    def __init__(self, rng: np.random.Generator, prefix: str):
        self.rng = rng
        self.prefix = prefix
        self.next_id = 0
        self.urls: list[str] = []
        self.tokens: list[np.ndarray] = []
        self.clusters: list[str] = []

    def _url(self) -> str:
        url = f"https://{self.prefix}.example/doc/{self.next_id:08d}"
        self.next_id += 1
        return url

    def random_doc(self, lo: int, hi: int) -> np.ndarray:
        n = int(self.rng.integers(lo, hi + 1))
        return self.rng.integers(0, VOCAB_SIZE, size=n, dtype=np.int64)

    def perturb(self, base: np.ndarray, rate: float) -> np.ndarray:
        """Substitute ``round(rate * len)`` distinct positions (at least one)
        with a token that differs from the base's."""
        k = max(1, int(round(rate * len(base))))
        pos = self.rng.choice(len(base), size=k, replace=False)
        out = base.copy()
        out[pos] = (base[pos] + self.rng.integers(1, VOCAB_SIZE, size=k)) % VOCAB_SIZE
        return out

    def add(self, tokens: np.ndarray, cluster: str | None = None) -> str:
        url = self._url()
        self.urls.append(url)
        self.tokens.append(tokens)
        self.clusters.append(url if cluster is None else cluster)
        return url

    def add_cluster(self, base: np.ndarray, size: int, rate: float) -> str:
        """The base (smallest id of the cluster) plus ``size - 1`` members."""
        root = self.add(base)
        for _ in range(size - 1):
            self.add(self.perturb(base, rate), root)
        return root


def _crawl_like(b: _Builder, n_docs: int, p: dict) -> dict[str, np.ndarray]:
    """``n_docs`` docs, ``dup_share`` of them in clusters; returns the base
    tokens of every doc a later near-dup can derive from (cluster bases and
    unique docs), keyed by url."""
    lo, hi = p["doc_len"]
    smin, smax = p["cluster_sizes"]
    bases: dict[str, np.ndarray] = {}
    target_dups = int(round(p["dup_share"] * n_docs))
    n_dups = 0
    while n_dups < target_dups:
        size = int(b.rng.integers(smin, smax + 1))
        size = min(size, max(target_dups - n_dups, smin))
        base = b.random_doc(lo, hi)
        bases[b.add_cluster(base, size, p["sub_rate"])] = base
        n_dups += size
    while len(b.urls) < n_docs:
        doc = b.random_doc(lo, hi)
        bases[b.add(doc)] = doc
    return bases


def _table(b: _Builder, vocab: np.ndarray, rows: np.ndarray) -> pa.Table:
    texts = [" ".join(vocab[b.tokens[i]]) for i in rows]
    return pa.table(
        {
            "url": pa.array([b.urls[i] for i in rows], pa.string()),
            "text": pa.array(texts, pa.string()),
        }
    )


def _write_docs(b: _Builder, vocab: np.ndarray, rows: np.ndarray, out: str) -> None:
    """Rows in a seeded random order, split over NUM_FILES files, so no
    file (and no scan partition) holds whole clusters."""
    os.makedirs(out)
    order = b.rng.permutation(rows)
    for i, part in enumerate(np.array_split(order, NUM_FILES)):
        pq.write_table(
            _table(b, vocab, part),
            os.path.join(out, f"part-{i:05d}.parquet"),
            row_group_size=ROW_GROUP,
            compression="snappy",
        )


def _write_truth(b: _Builder, out: str) -> None:
    pq.write_table(
        pa.table({"url": b.urls, "cluster": b.clusters}),
        os.path.join(out, "truth.parquet"),
        row_group_size=1 << 20,
        compression="snappy",
    )


def generate(workload: str, seed: int, out: str) -> None:
    """Write the workload's inputs for ``seed`` into the new directory
    ``out`` (which must not exist)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    p = WORKLOADS[workload]
    rng = np.random.default_rng([VERSION, _WORKLOAD_SALT[workload], seed])
    vocab = _vocab()
    os.makedirs(out)
    if workload == "dense_matchsets":
        b = _Builder(rng, "dense")
        lo, hi = p["doc_len"]
        for _ in range(p["clusters"]):
            b.add_cluster(b.random_doc(lo, hi), p["cluster_size"], p["sub_rate"])
        _write_docs(b, vocab, np.arange(len(b.urls)), os.path.join(out, "docs"))
    else:  # incremental_fold
        b = _Builder(rng, "fold")
        bases = _crawl_like(b, p["store_docs"], p)
        n_store = len(b.urls)
        # the batch: near-dups of stored docs (perturbed from the stored
        # cluster's base, so they join that cluster) and unique new docs
        n_near = int(round(p["batch_dup_share"] * p["batch_docs"]))
        roots = sorted(bases)
        picks = rng.choice(len(roots), size=n_near, replace=True)
        lo, hi = p["doc_len"]
        for i in picks:
            root = roots[i]
            b.add(b.perturb(bases[root], p["sub_rate"]), root)
        while len(b.urls) < n_store + p["batch_docs"]:
            b.add(b.random_doc(lo, hi))
        _write_docs(b, vocab, np.arange(n_store), os.path.join(out, "store_docs"))
        _write_docs(
            b, vocab, np.arange(n_store, len(b.urls)), os.path.join(out, "batch")
        )
    _write_truth(b, out)


def ensure(workload: str, seed: int, root: str) -> str:
    """The workload's input directory under ``root``, generated on first
    use.  A half-written directory (no ``_DONE`` marker) is rebuilt, and
    the inputs of the workload's other seeds are removed, so the cache
    holds one seed per workload."""
    # the name carries the generator's parameters, so inputs cached under
    # other sizes are never reused
    params = hashlib.sha256(
        json.dumps([VERSION, WORKLOADS[workload]], sort_keys=True).encode()
    ).hexdigest()[:10]
    name = f"{workload}-{params}-s{seed}"
    out = os.path.join(root, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(f"{workload}-") and old != name:
                shutil.rmtree(os.path.join(root, old))
    if os.path.exists(out):
        shutil.rmtree(out)
    generate(workload, seed, out)
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok\n")
    return out
