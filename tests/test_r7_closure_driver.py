"""r7: closure_clusters driver gate (python union-find) must be
row-identical to the distributed CC path."""

import pytest

from gliner_spark.operators.linking import closure_clusters


@pytest.fixture()
def pairs(spark):
    rows = [
        (1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (1, 3),
    ]
    return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _has_non_local_leaf(df):
    """The forced-off call really took the distributed plan: the driver
    tier's output has only LocalRelation leaves."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return any(
        leaves.apply(i).getClass().getSimpleName() != "LocalRelation"
        for i in range(leaves.size())
    )


def test_closure_driver_matches_distributed(pairs, tier):
    fast = closure_clusters(pairs, "doc_a", "doc_b", "doc_id", None)
    fast_rows = _rows(fast)
    with tier():
        slow = closure_clusters(pairs, "doc_a", "doc_b", "doc_id", None)
    assert _has_non_local_leaf(slow)
    assert fast_rows == _rows(slow)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in slow.schema.fields
    ]
    got = {r[0]: (r[1], r[2], r[3]) for r in fast_rows}
    assert got[1] == (1, 3, True)
    assert got[3] == (1, 3, False)
    assert got[8] == (8, 3, True)
    assert got[5] == (5, 2, True)


def test_closure_driver_string_ids(spark, tier):
    rows = [("doc-b", "doc-a"), ("doc-c", "doc-b")]
    pairs = spark.createDataFrame(rows, "doc_a string, doc_b string")
    fast = closure_clusters(pairs, "doc_a", "doc_b", "doc_id", None)
    fast_rows = _rows(fast)
    with tier():
        slow = closure_clusters(pairs, "doc_a", "doc_b", "doc_id", None)
    assert _has_non_local_leaf(slow)
    assert fast_rows == _rows(slow)
    assert fast_rows[0] == ("doc-a", "doc-a", 3, True)


def test_closure_driver_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = closure_clusters(pairs, "doc_a", "doc_b", "doc_id", None)
    assert out.count() == 0
