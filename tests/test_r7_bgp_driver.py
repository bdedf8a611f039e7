"""r7 pass 3: driver-gated BGP matching (conjunctive_match /
optional_match) must be row-identical to the distributed equi-join
chains, including ground-atom gates, neq NULL semantics and OPTIONAL
NULL extensions — and must raise the same validation errors."""

import random

import pytest


@pytest.fixture(scope="module")
def triples(spark):
    rng = random.Random(41)
    people = [f"person:{i:02d}" for i in range(15)]
    orgs = [f"org:{i:02d}" for i in range(10)]
    locs = [f"loc:{i:02d}" for i in range(6)]
    rows = []
    for d in range(150):
        doc = f"doc-{d:04d}"
        p, o, l_ = rng.choice(people), rng.choice(orgs), rng.choice(locs)
        rows.append((doc, p, "works_at", o, "person", "organization", 0.9))
        if rng.random() < 0.6:
            rows.append((doc, o, "based_in", l_, "organization", "location", 0.9))
        if rng.random() < 0.3:
            rows.append((doc, p, "visited", l_, "person", "location", 0.9))
        if rng.random() < 0.2:
            rows.append(
                (doc, rng.choice(orgs), "acquired", o,
                 "organization", "organization", 0.9)
            )
    # sparse predicate so OPTIONAL groups actually leave NULL extensions
    for o in orgs[:2]:
        rows.append(
            ("doc-ceo", people[0], "ceo_of", o, "person", "organization", 0.9)
        )
    return spark.createDataFrame(
        rows,
        "doc_id string, subj string, pred string, obj string, "
        "subj_type string, obj_type string, score double",
    )


def _rows(df):
    from gliner_spark.cache import release_caches

    out = sorted(
        tuple("\0NULL" if v is None else v for v in r) for r in df.collect()
    )
    release_caches(df)
    return out


PATTERN = [("?p", "works_at", "?o"), ("?o", "based_in", "?l")]


def test_conjunctive_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_query import conjunctive_match

    drv = _rows(conjunctive_match(triples, PATTERN))
    with tier():
        dist = _rows(conjunctive_match(triples, PATTERN))
    assert drv == dist
    assert len(drv) > 0


def test_conjunctive_driver_matches_constants_and_neq(spark, triples, tier):
    from gliner_spark.operators.kg_query import conjunctive_match

    atoms = [
        ("?p", "works_at", "?o"),
        ("?q", "works_at", "?o"),
    ]
    drv = _rows(conjunctive_match(triples, atoms, neq=(("p", "q"),)))
    with tier():
        dist = _rows(conjunctive_match(triples, atoms, neq=(("p", "q"),)))
    assert drv == dist
    assert len(drv) > 0


def test_conjunctive_driver_ground_existence(spark, triples, tier):
    from gliner_spark.operators.kg_query import conjunctive_match

    # pick one real edge for the ground atom
    s, o = triples.filter("pred = 'works_at'").select(
        "subj", "obj"
    ).first()
    hit = [(s, "works_at", o)]
    miss = [("person:zz", "works_at", "org:zz")]
    for atoms in (hit, miss):
        drv = _rows(conjunctive_match(triples, atoms))
        with tier():
            dist = _rows(conjunctive_match(triples, atoms))
        assert drv == dist
    assert len(_rows(conjunctive_match(triples, hit))) == 1
    assert len(_rows(conjunctive_match(triples, miss))) == 0


def test_conjunctive_driver_same_errors(spark, triples, tier):
    from gliner_spark.operators.kg_query import conjunctive_match

    for bad in (
        [("?a", "?varpred", "?b")],
        [("?a", "works_at", "?a")],
        [("?a", "works_at", "?b"), ("?c", "based_in", "?d")],
        [],
    ):
        with pytest.raises(ValueError):
            conjunctive_match(triples, bad)
        with pytest.raises(ValueError), tier():
            conjunctive_match(triples, bad)


def test_conjunctive_fanout_bail_falls_back(spark, triples, tier):
    # a pattern whose join fan-out exceeds the cap must transparently
    # fall back to the distributed plan with identical rows
    from gliner_spark.operators.kg_query import conjunctive_match

    atoms = [("?p", "works_at", "?o"), ("?q", "works_at", "?o")]
    full = _rows(conjunctive_match(triples, atoms))
    n_edges = (
        triples.filter("pred = 'works_at'")
        .select("subj", "obj").distinct().count()
    )
    # cap between the edge count (collect admits) and the join fan-out
    # (the _BgpFanoutBail fires) -> transparent distributed fallback
    cap = n_edges + 10
    assert len(full) > cap
    with tier(edges=cap):
        bailed = _rows(conjunctive_match(triples, atoms))
    with tier(edges=10**6):
        gated = _rows(conjunctive_match(triples, atoms))
    assert full == bailed == gated


def test_optional_null_extension_and_neq_semantics(spark, triples):
    # optional_match is deliberately NOT driver-gated (output-sized
    # fan-out belongs on the cluster); pin its NULL semantics here
    from gliner_spark.operators.kg_query import optional_match

    drv = _rows(optional_match(
        triples,
        [("?o", "based_in", "?l")],
        [[("?c", "ceo_of", "?o")], [("?p", "visited", "?l")]],
    ))
    assert len(drv) > 0
    assert any("\0NULL" in r for r in drv)
    neqd = _rows(optional_match(
        triples,
        [("?o", "based_in", "?l")],
        [[("?a", "acquired", "?o")]],
        neq=(("a", "o"),),
    ))
    assert all("\0NULL" not in r for r in neqd)


def test_optional_same_errors(spark, triples):
    from gliner_spark.operators.kg_query import optional_match

    req = [("?o", "based_in", "?l")]
    disconnected = [[("?x", "works_at", "?y")]]
    with pytest.raises(ValueError):
        optional_match(triples, req, disconnected)
    clash = [
        [("?a", "acquired", "?o")],
        [("?a", "works_at", "?o")],
    ]
    with pytest.raises(ValueError):
        optional_match(triples, req, clash)
