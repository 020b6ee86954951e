"""token_hamming_col against a pure-Python oracle, under both ANSI modes.

With ANSI off, ``size(NULL)`` is -1; a null token array must still give a
null distance (never -1, which would pass every radius) and its pair must
never become an edge.
"""

import pytest
from pyspark.sql import functions as F

from vid_dup_finder_lib_spark.config import SigConfig
from vid_dup_finder_lib_spark.operators.verify import token_hamming_col, verified_edges

CASES = [
    ([1, 2, 3], [1, 2, 3]),
    ([1, 2, 3], [1, 9, 3]),
    ([1, 2, 3], [4, 5, 6]),
    ([1, 2], [1, 2, 3, 4]),  # padded positions are mismatches
    ([7, 2, 3, 4], [1, 2]),
    ([], []),
    ([], [5, 6]),
    ([1, None, 3], [1, None, 4]),  # a null element never matches
    (None, [1, 2]),
    ([1, 2], None),
    (None, None),
]


def _oracle(a, b):
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    return sum(
        1
        for i in range(n)
        if i >= len(a) or i >= len(b) or a[i] is None or b[i] is None or a[i] != b[i]
    )


@pytest.fixture(params=["true", "false"], ids=["ansi", "no_ansi"])
def ansi(spark, request):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", old)


def test_token_hamming_matches_oracle(spark, ansi):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(CASES)],
        "i int, t1 array<bigint>, t2 array<bigint>",
    )
    out = df.select("i", token_hamming_col(F.col("t1"), F.col("t2")).alias("d"))
    assert dict(out.dtypes)["d"] == "bigint"
    got = {r.i: r.d for r in out.collect()}
    assert got == {i: _oracle(a, b) for i, (a, b) in enumerate(CASES)}


def test_null_token_array_never_becomes_edge(spark, ansi):
    sigs = spark.createDataFrame(
        [(1, 3, 0, [1, 2, 3]), (2, 3, 0, None), (3, 3, 0, [1, 2, 3])],
        "id long, doclen long, simhash long, token_hashes array<bigint>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id1 long, id2 long")
    edges = verified_edges(pairs, sigs, SigConfig(), tolerance=0.5)
    assert [(r.id1, r.id2, r.token_hamming) for r in edges.collect()] == [(1, 3, 0)]
