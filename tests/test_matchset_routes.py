"""The two matchset routes give the same groups, and the fused one stays lean.

``matchset_groups`` runs the greedy replay in one task when the edge list
is within both ``components.SINGLE_TASK_MAX_EDGES`` and the
``max_component_edges`` cap, and splits the graph into connected
components (connected_components + applyInPandas per component)
otherwise.  Patching the cutoff to 0 forces the distributed route on the
same input; both must return the same rows.  This file is the check that
one global replay equals the per-component replays.
"""

import random
import uuid
from unittest import mock

import pytest
from hypothesis import given, settings, strategies as st
from test_matchset_fuzz import edges_strategy

from vid_dup_finder_lib_spark import api
from vid_dup_finder_lib_spark.config import SigConfig
from vid_dup_finder_lib_spark.corpus import CorpusBuilder
from vid_dup_finder_lib_spark.operators import components, grouping
from vid_dup_finder_lib_spark.operators.grouping import matchset_groups

STR_SCHEMA = "id1: string, id2: string, len1: long, len2: long"
LONG_SCHEMA = "id1: long, id2: long, len1: long, len2: long"


def _groups(df, **kw):
    return sorted(tuple(r) for r in matchset_groups(df, **kw).collect())


def _distributed(df, **kw):
    with mock.patch.object(components, "SINGLE_TASK_MAX_EDGES", 0):
        return _groups(df, **kw)


@settings(max_examples=15, deadline=None)
@given(raw_edges=edges_strategy, len_mod=st.integers(1, 4))
def test_routes_agree_on_fuzz_corpora(spark, raw_edges, len_mod):
    # raw edges as drawn: duplicates, both orientations and self-loops kept
    ids = {n: f"u{n:03d}" for n in range(18)}
    lens = {ids[n]: 100 + (n % len_mod) for n in range(18)}
    df = spark.createDataFrame(
        [(ids[a], ids[b], lens[ids[a]], lens[ids[b]]) for a, b in raw_edges],
        STR_SCHEMA,
    )
    fused = _groups(df)
    assert fused  # the strategy always draws one non-loop edge
    assert fused == _distributed(df)


def _random_graph(rng, n_nodes, n_edges, make_id):
    lens = {n: rng.choice([100, 101, 103]) for n in range(n_nodes)}
    edges = [tuple(rng.sample(range(n_nodes), 2)) for _ in range(n_edges)]
    edges += rng.sample(edges, n_edges // 4)  # exact duplicates
    edges += [(b, a) for a, b in rng.sample(edges, n_edges // 4)]  # reversed
    edges += [(n, n) for n in rng.sample(range(n_nodes), 5)]  # self-loops
    rng.shuffle(edges)
    return [(make_id(a), make_id(b), lens[a], lens[b]) for a, b in edges]


@pytest.mark.parametrize(
    "schema, make_id",
    [
        # non-ASCII ids: code-point order must match Spark's byte order
        (STR_SCHEMA, lambda n: f"https://é{n % 7}.example/{n:04d}"),
        # ids above 2**53: any float round-trip would merge neighbours
        (LONG_SCHEMA, lambda n: (1 << 62) + 3 * n),
    ],
    ids=["string", "long"],
)
def test_routes_agree_on_random_graphs(spark, schema, make_id):
    rng = random.Random(20240517)
    rows = _random_graph(rng, n_nodes=60, n_edges=90, make_id=make_id)
    df = spark.createDataFrame(rows, schema)
    fused = _groups(df)
    assert len({r[0] for r in fused}) > 1
    assert fused == _distributed(df)


def test_routes_agree_on_empty_edges(spark):
    df = spark.createDataFrame([], LONG_SCHEMA)
    assert _groups(df) == _distributed(df) == []


def _guard_graph(spark):
    # component A: a 10-edge star plus one duplicate row = 11 edge rows;
    # component B: 5 edges; an isolated self-loop counts toward no component
    rows = [(0, i, 100, 100) for i in range(1, 11)] + [(1, 0, 100, 100)]
    rows += [(50 + i, 51 + i, 100, 100) for i in range(5)]
    rows += [(99, 99, 100, 100)]
    return spark.createDataFrame(rows, LONG_SCHEMA)


def test_guard_raises_at_call_time_and_routes_on_the_cap(spark):
    df = _guard_graph(spark)
    with pytest.raises(ValueError, match="a component has 11 edges"):
        matchset_groups(df, max_component_edges=10)  # no action needed
    # 17 rows above the cap: the distributed route checks the components,
    # and none is above 11 edges, so no raise
    with mock.patch.object(
        grouping, "_single_task_matchset", wraps=grouping._single_task_matchset
    ) as fused:
        got = _groups(df, max_component_edges=11)
        assert not fused.called
        # a cap at or above the row count bounds every component: one task
        assert _groups(df, max_component_edges=17) == got
        assert fused.called
    assert {r[0] for r in got} == {0, 50, 52, 54}


def test_single_task_route_job_count(spark):
    """The fused tail is four jobs: checkpoint the narrow edges, count them
    (two jobs under AQE: the partial-count shuffle and the final
    aggregate), and the collect, which runs the one-task replay.  A change
    that brings back the component labelling, the edge⋈assignment join,
    the guard's aggregation or the per-component shuffle adds jobs and
    fails here."""
    cb = CorpusBuilder(seed=11)
    cb.make_clusters(
        num_clusters=3, first_size=4, size_step=2, intra_d=20, inter_d=200, doclen=300
    )
    docs = cb.to_spark(spark, partitions=4).localCheckpoint()
    edges = api.find_edges(docs, 0.100, SigConfig(lsh_bands=64))  # materialized

    sc = spark.sparkContext
    group = f"matchset-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "matchset_groups job count")
    try:
        rows = matchset_groups(edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(
        sum(1 for r in rows if r.cluster_id == c) for c in {r.cluster_id for r in rows}
    ) == [4, 6, 8]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 4, f"matchset_groups + collect ran {n_jobs} jobs (fused route: 4)"
