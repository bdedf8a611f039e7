"""r7: triad_census and summary_graph driver gates must be row-identical
to their distributed plans (including the audited pivot cap and the
WL-isolate fallback color)."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.metrics import skew_metrics
from gliner_spark.operators.graph_analytics import (
    summary_graph,
    triad_census,
)


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        # transitive triangle a->b, b->c, a->c (030T)
        ("org:a", "acquired", "org:b", "organization", "organization", "d0"),
        ("org:b", "acquired", "org:c", "organization", "organization", "d0"),
        ("org:a", "acquired", "org:c", "organization", "organization", "d0"),
        # cyclic triangle d->e, e->f, f->d (030C)
        ("org:d", "acquired", "org:e", "organization", "organization", "d1"),
        ("org:e", "acquired", "org:f", "organization", "organization", "d1"),
        ("org:f", "acquired", "org:d", "organization", "organization", "d1"),
        # mutual pair in a triangle (120)
        ("org:g", "partnered", "org:h", "organization", "organization", "d2"),
        ("org:h", "partnered", "org:g", "organization", "organization", "d2"),
        ("org:g", "acquired", "org:i", "organization", "organization", "d2"),
        ("org:h", "acquired", "org:i", "organization", "organization", "d2"),
        # self loop + isolate-ish entity for summary fallback
        ("org:z", "acquired", "org:z", "organization", "organization", "d3"),
        ("person:p", "founded", "org:a", "person", "organization", "d4"),
        ("media://m1", "depicts", "person:p", "media", "person", "d5"),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, subj_type string, "
        "obj_type string, doc_id string",
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_triads_driver_matches_distributed(triples, tier):
    fast = triad_census(triples)
    with tier():
        slow = triad_census(triples)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in slow.schema.fields
    ]  # nullability differs by construction (local relation), like every
    # pre-existing driver gate; the oracle compares names + values
    assert _rows(fast) == _rows(slow)
    # classes present as constructed
    cls = {r[0]: r[1] for r in fast.collect()}
    assert cls.get("030T") == 1
    assert cls.get("030C") == 1
    assert cls.get("120") == 1


def test_triads_driver_cap_audit_matches(triples, tier):
    fast = triad_census(triples, max_fanout=1)
    with tier():
        slow = triad_census(triples, max_fanout=1)
    assert _rows(fast) == _rows(slow)
    fa = skew_metrics(fast)["triad_pivot_cap"]
    sa = skew_metrics(slow)["triad_pivot_cap"]
    assert fa["n_dropped_rows"] == sa["n_dropped_rows"]
    assert fa["max_group_size"] == sa["max_group_size"]


def test_summary_driver_matches_distributed(triples, tier):
    fast = summary_graph(triples)
    with tier():
        slow = summary_graph(triples)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in slow.schema.fields
    ]  # nullability differs by construction (local relation), like every
    # pre-existing driver gate; the oracle compares names + values
    assert _rows(fast) == _rows(slow)
    # the self-loop-only entity must appear via the closed-form
    # fallback color on both sides (org:z has no non-self-loop edge)
    assert any(r[1] == "acquired" for r in fast.collect())
