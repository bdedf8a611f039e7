"""r7: rdfs_types / subproperty_triples / egonet driver gates must be
row-identical to their distributed plans."""

import pytest

from gliner_spark.operators.graph_analytics import egonet
from gliner_spark.operators.ontology import rdfs_types, subproperty_triples


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("person:p", "works_at", "org:a", "person", "organization", "d0"),
        ("person:p", "founded", "org:b", "person", "organization", "d0"),
        ("org:a", "based_in", "loc:x", "organization", "location", "d1"),
        ("org:b", "acquired", "org:a", "organization", "organization", "d1"),
        ("person:q", "visited", "loc:x", "person", "location", "d2"),
        # already-asserted superproperty fact (anti-join must drop the
        # inferred duplicate)
        ("person:p", "affiliated_with", "org:a", "person", "organization",
         "d3"),
        ("media://m1", "depicts", "person:p", "media", "person", "d4"),
        ("org:c", "acquired", "org:c", "organization", "organization", "d5"),
        # duplicate fact rows
        ("person:p", "works_at", "org:a", "person", "organization", "d6"),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, subj_type string, "
        "obj_type string, doc_id string",
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_rdfs_driver_matches_distributed(triples, tier):
    fast = rdfs_types(triples)
    with tier():
        slow = rdfs_types(triples)
    assert _types(fast) == _types(slow)
    assert _rows(fast) == _rows(slow)
    # the subclass chain materializes ancestors with min hops
    got = {(r[0], r[1]): r[2] for r in fast.collect()}
    assert got[("person:p", "person")] == 0
    assert got[("person:p", "agent")] == 1
    assert got[("person:p", "entity")] == 2


def test_subproperty_driver_matches_distributed(triples, tier):
    fast = subproperty_triples(triples)
    with tier():
        slow = subproperty_triples(triples)
    assert _types(fast) == _types(slow)
    assert _rows(fast) == _rows(slow)
    got = {(r[0], r[1], r[2]): r[3] for r in fast.collect()}
    # works_at entails affiliated_with — but (p, affiliated_with, org:a)
    # is asserted, so only the founded-derived fact survives for org:b
    assert ("person:p", "affiliated_with", "org:b") in got
    assert ("person:p", "affiliated_with", "org:a") not in got


def test_egonet_driver_matches_distributed(triples, tier):
    fast = egonet(triples)
    with tier():
        slow = egonet(triples)
    assert _types(fast) == _types(slow)
    assert _rows(fast) == _rows(slow)
    # depth-2 person neighborhood includes the org->loc edge (loc:x is
    # at distance 1 via person:q's direct visit)
    assert ("org:a", "based_in", "loc:x", 1, 1) in {
        tuple(r) for r in fast.collect()
    }
