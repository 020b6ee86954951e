"""The benchmark workloads.

Each workload times ONE user-facing call of the package on inputs the
benchmark generated (perfbench/gen.py):

* ``dense_matchsets`` -- ``api.search(docs, grouping="matchset")``;
* ``incremental_fold`` -- ``api.search_incremental(batch, store, prev,
  update_store=True)`` against a persisted ``PartitionedSignatureStore``.

``call()`` is the untraced call, consumed to a Python value.  ``traced()``
composes the same call from the public functions of each layer, one span
(and one Spark job group) per layer, materializing each layer's output so
that its work runs inside its own span.  Both return the same value, which
the run compares.  ``check()`` compares an output with the expected one.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vid_dup_finder_lib_spark import api
from vid_dup_finder_lib_spark.config import DEFAULT_CONFIG as CFG
from vid_dup_finder_lib_spark.operators.components import (
    connected_components,
    incremental_components,
)
from vid_dup_finder_lib_spark.operators.lsh import band_keys, candidate_pairs
from vid_dup_finder_lib_spark.operators.signatures import build_signatures
from vid_dup_finder_lib_spark.operators.verify import (
    attach_signatures,
    self_length_band,
    tolerance_predicate,
    verified_edges,
    with_distances,
)
from vid_dup_finder_lib_spark.plans.sigstore import PartitionedSignatureStore

TOL = CFG.default_tolerance
# the store's rewrite granularity, sized by the store's own rule
# (num_buckets ~ corpus rows / target bucket rows): ~150 docs a bucket
STORE_BUCKETS = 16


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_scores(truth: dict[str, str], clusters: dict[str, str]) -> tuple[float, float]:
    """(recall, precision) of the co-member pairs of ``clusters`` (doc ->
    output cluster, clustered docs only) against the planted clusters."""
    planted = sum(_pairs(n) for n in Counter(truth.values()).values() if n > 1)
    out = sum(_pairs(n) for n in Counter(clusters.values()).values())
    found = sum(
        _pairs(n) for n in Counter((truth[d], c) for d, c in clusters.items()).values()
    )
    return (found / planted if planted else 1.0, found / out if out else 1.0)


def _read_truth(path: str) -> dict[str, str]:
    t = pq.read_table(path).to_pydict()
    return dict(zip(t["url"], t["cluster"]))


def _max_bucket(sigs) -> int:
    keys = band_keys(sigs, CFG)
    return keys.groupBy("band_id", "band_hash").count().agg(F.max("count")).first()[0] or 0


def _layer_probe(sigs) -> dict[str, float]:
    """LSH counts of a signature table: band keys and the largest bucket."""
    return {
        "lsh.band_keys": band_keys(sigs, CFG).count(),
        "lsh.max_bucket": _max_bucket(sigs),
    }


class Workload:
    name = ""
    # median warm call on the 4-core reference host (perfbench/BASELINE.json),
    # in seconds; sets how many calls a run times (run.py)
    nominal_call_s: float

    def __init__(self, spark, data_dir: str, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.truth = _read_truth(os.path.join(data_dir, "truth.parquet"))

    def load(self, sub: str):
        return (
            self.spark.read.parquet(os.path.join(self.data_dir, sub))
            .localCheckpoint(eager=True)
        )

    def setup(self) -> None:
        self.docs = self.load("docs")
        self.n_docs = self.docs.count()

    def reset(self) -> None:
        """Bring mutable state back to its set-up value (outside timing)."""

    def call(self):
        raise NotImplementedError

    def traced(self, tr) -> tuple[object, dict[str, tuple[int, int]], dict[str, float]]:
        """(output, rows per layer, extra per-layer metrics)."""
        raise NotImplementedError

    def check(self, out) -> list[str]:
        """Errors of one output (empty when it is right)."""
        raise NotImplementedError

    def scores(self, out) -> tuple[float, float]:
        raise NotImplementedError

    def prepare_check(self) -> None:
        """Expensive once-per-run work for ``check``, run after the timed
        calls."""


class DenseMatchsets(Workload):
    """Output: frozenset of (cluster_id, id, is_seed) rows."""

    name = "dense_matchsets"
    nominal_call_s = 3.2

    def call(self):
        groups = api.search(self.docs, grouping="matchset")
        return frozenset(tuple(r) for r in groups.collect())

    def traced(self, tr):
        # matchset_groups runs connected_components internally; the two
        # layers are split here with the module's own replay function so
        # each runs in its own span (the output comparison guards drift)
        from vid_dup_finder_lib_spark.operators.grouping import (
            _greedy_matchset,
            _greedy_schema,
        )

        with tr.span("signatures"):
            sigs = build_signatures(self.docs, CFG, "url", "text").localCheckpoint(
                eager=True
            )
        with tr.span("lsh"):
            pairs = candidate_pairs(sigs, CFG)[0].localCheckpoint(eager=True)
        with tr.span("verify"):
            edges = verified_edges(pairs, sigs, CFG, tolerance=TOL).localCheckpoint(
                eager=True
            )
        with tr.span("components"):
            assignment = connected_components(edges).localCheckpoint(eager=True)
        with tr.span("grouping"):
            e = (
                edges.join(assignment.withColumnRenamed("id", "id1"), "id1")
                .select("component", "id1", "id2", "len1", "len2")
                .localCheckpoint(eager=True)
            )
            # the size guard's job, as matchset_groups runs it
            e.groupBy("component").count().agg(F.max("count")).collect()
            out = frozenset(
                tuple(r)
                for r in e.groupBy("component")
                .applyInPandas(_greedy_matchset, schema=_greedy_schema(edges))
                .collect()
            )
        n_sigs, n_pairs, n_edges = sigs.count(), pairs.count(), edges.count()
        rows = {
            "signatures": (self.n_docs, n_sigs),
            "lsh": (n_sigs, n_pairs),
            "verify": (n_pairs, n_edges),
            "components": (n_edges, assignment.count()),
            "grouping": (n_edges, len(out)),
        }
        extra = {
            **_layer_probe(sigs),
            "lsh.candidates": n_pairs,
            "verify.candidate_precision": n_edges / n_pairs,
            "components.components": assignment.select("component").distinct().count(),
            "grouping.groups": len({r[0] for r in out}),
        }
        return out, rows, extra

    def check(self, out) -> list[str]:
        got = {}
        for cluster, doc, is_seed in out:
            got.setdefault(cluster, set()).add(doc)
            if is_seed != (doc == cluster):
                return [f"group {cluster}: wrong seed flag on {doc}"]
        want = {}
        for doc, root in self.truth.items():
            want.setdefault(root, set()).add(doc)
        if got != {k: v for k, v in want.items() if len(v) > 1}:
            return [f"groups differ from the planted partition ({len(got)} groups)"]
        return []

    def scores(self, out):
        return pair_scores(self.truth, {doc: c for c, doc, _ in out})


class IncrementalFold(Workload):
    """Output: {id: component} over prev nodes and matched batch docs."""

    name = "incremental_fold"
    nominal_call_s = 5.4

    def setup(self) -> None:
        self.store_docs = self.load("store_docs")
        self.batch = self.load("batch")
        self.n_docs = self.batch.count()
        self.pristine = os.path.join(self.work_dir, "store-pristine")
        self.store_root = os.path.join(self.work_dir, "store")
        sigs = build_signatures(self.store_docs, CFG, "url", "text").localCheckpoint(
            eager=True
        )
        PartitionedSignatureStore(self.pristine, CFG, STORE_BUCKETS).write_full(sigs)
        # the assignment a caller holds from its previous run: the planted
        # clusters of the stored docs, labelled by their minimum id (the
        # run's full recomputation confirms it is what CC computes)
        stored = set(self.store_docs.select("url").toPandas()["url"])
        sizes = Counter(self.truth[d] for d in stored)
        prev = [(d, self.truth[d]) for d in sorted(stored) if sizes[self.truth[d]] > 1]
        self.prev = self.spark.createDataFrame(
            prev, "id string, component string"
        ).localCheckpoint(eager=True)
        self.n_prev = len(prev)
        self.expected = None
        self.reset()

    def reset(self) -> None:
        shutil.rmtree(self.store_root, ignore_errors=True)
        shutil.copytree(self.pristine, self.store_root)
        self.store = PartitionedSignatureStore(self.store_root, CFG, STORE_BUCKETS)

    def call(self):
        a = api.search_incremental(self.batch, self.store, self.prev, update_store=True)
        return {r[0]: r[1] for r in a.collect()}

    def traced(self, tr):
        store = self.store
        data_dir = os.path.join(self.store_root, "data")
        read_bytes = _dir_bytes(data_dir)
        store_rows = store.manifest()["row_count"]
        with tr.span("signatures"):
            sigs_new = build_signatures(self.batch, CFG, "url", "text").localCheckpoint(
                eager=True
            )
        n_new = sigs_new.count()
        with tr.span("api"):
            old_sigs = store.read(self.spark)
            overlap = sigs_new.select("id").join(
                old_sigs.select("id"), "id", "left_semi"
            ).count()
        if overlap:
            raise ValueError(f"{overlap} batch ids already in the store")
        with tr.span("lsh"):
            pairs_nn = candidate_pairs(sigs_new, CFG)[0].localCheckpoint(eager=True)
            rk = band_keys(old_sigs, CFG).select(
                "band_id", "band_hash", F.col("id").alias("id1")
            )
            ck = band_keys(sigs_new, CFG).select(
                "band_id", "band_hash", F.col("id").alias("id2")
            )
            pairs_no = (
                rk.join(ck, ["band_id", "band_hash"]).select("id1", "id2").distinct()
            ).localCheckpoint(eager=True)
        n_pairs = pairs_nn.count() + pairs_no.count()
        with tr.span("verify"):
            edges_nn = verified_edges(pairs_nn, sigs_new, CFG, tolerance=TOL).select(
                "id1", "id2"
            )
            edges_no = (
                with_distances(
                    attach_signatures(
                        pairs_no, old_sigs, need_shingles=False, need_tokens=True,
                        signatures2=sigs_new,
                    )
                )
                .where(
                    self_length_band(CFG)
                    & tolerance_predicate(CFG, TOL)
                    & (F.col("id1") != F.col("id2"))
                )
                .select("id1", "id2")
            )
            edges = edges_nn.unionByName(edges_no).localCheckpoint(eager=True)
        n_edges = edges.count()
        probe = _layer_probe(sigs_new.unionByName(old_sigs))  # before the upsert
        with tr.span("components"):
            assignment = incremental_components(self.prev, edges).localCheckpoint(
                eager=True
            )
        with tr.span("sigstore"):
            up = store.upsert(sigs_new)
        with tr.span("api"):
            out = {r[0]: r[1] for r in assignment.collect()}
        write_bytes = sum(
            _dir_bytes(os.path.join(data_dir, f"bucket={b}")) for b in up["dirty_buckets"]
        )
        batch_bytes = n_new * read_bytes / store_rows
        rows = {
            "signatures": (self.n_docs, n_new),
            "lsh": (n_new + store_rows, n_pairs),
            "verify": (n_pairs, n_edges),
            "components": (self.n_prev + n_edges, len(out)),
            "sigstore": (n_new, store.manifest()["row_count"]),
        }
        extra = {
            **probe,
            "lsh.candidates": n_pairs,
            "verify.candidate_precision": n_edges / n_pairs if n_pairs else 1.0,
            "components.components": len(set(out.values())),
            "sigstore.read_mb": read_bytes / 1e6,
            "sigstore.write_mb": write_bytes / 1e6,
            "sigstore.dirty_buckets": len(up["dirty_buckets"]),
            "sigstore.write_amplification": write_bytes / batch_bytes,
        }
        return out, rows, extra

    def prepare_check(self) -> None:
        """The fold must equal connected_components over the union corpus,
        searched in full."""
        union = self.store_docs.unionByName(self.batch)
        self.expected = {
            r[0]: r[1]
            for r in connected_components(api.find_edges(union, TOL, CFG)).collect()
        }

    def check(self, out) -> list[str]:
        if self.expected is None:
            raise RuntimeError("prepare_check() must run before check()")
        return [] if out == self.expected else ["fold differs from CC over the union"]

    def scores(self, out):
        return pair_scores(self.truth, out)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (DenseMatchsets, IncrementalFold)}
