"""r7 pass 3: driver-gated kg_fusion ops must be row-identical to the
distributed plans (vote counts, contest windows, rarity top-m)."""

import random

import pytest


@pytest.fixture(scope="module")
def triples(spark):
    rng = random.Random(31)
    people = [f"person:{i:02d}" for i in range(10)]
    orgs = [f"org:{i:02d}" for i in range(8)]
    media = [f"img:{i:02d}" for i in range(4)]
    rows = []
    for d in range(80):  # repeated contested assertions across docs
        doc = f"doc-{d:04d}"
        for _ in range(rng.randint(1, 5)):
            s = rng.choice(people)
            if rng.random() < 0.2:
                rows.append(
                    (doc, s, "depicted_in", rng.choice(media),
                     "person", "media", 0.9)
                )
            else:
                rows.append(
                    (doc, s, rng.choice(["works_at", "founded", "leads"]),
                     rng.choice(orgs), "person", "organization", 0.9)
                )
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


def test_fuse_functional_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_fusion import fuse_functional

    drv = _rows(fuse_functional(triples))
    with tier():
        dist = _rows(fuse_functional(triples))
    assert drv == dist
    assert len(drv) > 0


def test_fuse_functional_driver_matches_min_objects(spark, triples, tier):
    from gliner_spark.operators.kg_fusion import fuse_functional

    drv = _rows(fuse_functional(triples, min_objects=3))
    with tier():
        dist = _rows(fuse_functional(triples, min_objects=3))
    assert drv == dist


def test_fact_rank_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_fusion import fact_rank

    drv = _rows(fact_rank(triples))
    with tier():
        dist = _rows(fact_rank(triples))
    assert drv == dist
    assert len(drv) > 0


def test_fact_rank_driver_matches_top1(spark, triples, tier):
    from gliner_spark.operators.kg_fusion import fact_rank

    drv = _rows(fact_rank(triples, top_m=1))
    with tier():
        dist = _rows(fact_rank(triples, top_m=1))
    assert drv == dist
