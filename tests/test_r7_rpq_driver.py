"""r7: the rpq_match driver gate (python product-BFS) must be
row-identical to the distributed tagged-min unroll, and must bail out
cleanly when the visited-state budget is exceeded."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.operators.rpq import RPQ_MAX_HOPS, rpq_match

EXPRS = [
    ("seq", ("plus", ("pred", "acquired")), ("pred", "based_in")),
    ("plus", ("pred", "acquired")),
    ("alt", ("pred", "based_in"), ("seq", ("inv", "founded"),
                                   ("pred", "works_at"))),
    ("star", ("alt", ("pred", "acquired"), ("inv", "acquired"))),
]


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("org:a", "acquired", "org:b", "organization", "organization", "d0"),
        ("org:b", "acquired", "org:c", "organization", "organization", "d0"),
        ("org:c", "based_in", "loc:x", "organization", "location", "d1"),
        ("org:a", "based_in", "loc:y", "organization", "location", "d1"),
        ("person:p", "founded", "org:a", "person", "organization", "d2"),
        ("person:p", "works_at", "org:c", "person", "organization", "d2"),
        ("org:d", "acquired", "org:d", "organization", "organization", "d3"),
        ("org:d", "based_in", "loc:x", "organization", "location", "d3"),
        # duplicate fact rows (distinct must collapse them identically)
        ("org:a", "acquired", "org:b", "organization", "organization", "d4"),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, subj_type string, "
        "obj_type string, doc_id string",
    )


@pytest.mark.parametrize("expr", EXPRS[:3])
def test_rpq_driver_matches_distributed(triples, tier, expr):
    if expr[0] == "star":
        return
    fast = rpq_match(triples, expr, RPQ_MAX_HOPS).collect()
    with tier():
        slow = rpq_match(triples, expr, RPQ_MAX_HOPS).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_rpq_driver_state_cap_falls_back(triples, tier):
    expr = EXPRS[0]
    # a 1-state budget always blows: result must equal the distributed one
    with tier(rpq_states=1):
        capped = rpq_match(triples, expr, RPQ_MAX_HOPS).collect()
    with tier():
        slow = rpq_match(triples, expr, RPQ_MAX_HOPS).collect()
    assert [tuple(r) for r in capped] == [tuple(r) for r in slow]


def test_rpq_driver_self_loop_and_inverse(triples, tier):
    # self-loop fact participates; inverse direction walks object->subject
    expr = ("seq", ("plus", ("pred", "acquired")), ("pred", "based_in"))
    fast = {tuple(r) for r in rpq_match(triples, expr, 5).collect()}
    assert ("org:d", "loc:x", 2) in fast  # via the org:d self-loop
    with tier():
        slow = {tuple(r) for r in rpq_match(triples, expr, 5).collect()}
    assert fast == slow


def test_rpq_driver_schema_matches(triples, tier):
    expr = EXPRS[1]
    fast = rpq_match(triples, expr, 4)
    with tier():
        slow = rpq_match(triples, expr, 4)
    assert fast.schema == slow.schema
