"""r7 pass 3: driver-gated AMIE rule mining / inference must be
row-identical to the distributed self-join plans."""

import random

import pytest


@pytest.fixture(scope="module")
def triples(spark):
    rng = random.Random(37)
    people = [f"person:{i:02d}" for i in range(12)]
    orgs = [f"org:{i:02d}" for i in range(8)]
    rows = []
    for d in range(120):
        doc = f"doc-{d:04d}"
        s = rng.choice(people)
        o = rng.choice(orgs)
        # correlated predicates so direct AND inverse rules get support
        rows.append((doc, s, "works_at", o, "person", "organization", 0.9))
        if rng.random() < 0.5:
            rows.append((doc, s, "member_of", o, "person", "organization", 0.9))
        if rng.random() < 0.3:
            rows.append((doc, o, "employs", s, "organization", "person", 0.9))
        if rng.random() < 0.2:
            rows.append((doc, s, "knows", rng.choice(people), "person", "person", 0.9))
    return spark.createDataFrame(
        rows,
        "doc_id string, subj string, pred string, obj string, "
        "subj_type string, obj_type string, score double",
    )


def _rows(df):
    from gliner_spark.cache import release_caches

    out = sorted(tuple(r) for r in df.collect())
    release_caches(df)
    return out


def test_mine_rules_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_completion import mine_rules

    drv = _rows(mine_rules(triples))
    with tier():
        dist = _rows(mine_rules(triples))
    assert drv == dist
    assert len(drv) > 0
    assert any(r[2] == 1 for r in drv)  # inverse rules exercised


def test_mine_rules_driver_matches_min_support(spark, triples, tier):
    from gliner_spark.operators.kg_completion import mine_rules

    drv = _rows(mine_rules(triples, min_support=5))
    with tier():
        dist = _rows(mine_rules(triples, min_support=5))
    assert drv == dist


def test_apply_rules_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_completion import apply_rules

    drv = _rows(apply_rules(triples))
    with tier():
        dist = _rows(apply_rules(triples))
    assert drv == dist
    assert len(drv) > 0


def test_apply_rules_driver_matches_low_conf(spark, triples, tier):
    # a low floor admits many rules -> the anti-join branch is exercised
    from gliner_spark.operators.kg_completion import apply_rules

    drv = _rows(apply_rules(triples, min_conf_permille=100))
    with tier():
        dist = _rows(apply_rules(triples, min_conf_permille=100))
    assert drv == dist
