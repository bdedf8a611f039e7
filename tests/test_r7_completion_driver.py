"""r7: driver-gated kg_completion paths (negatives, cooc, walks) must be
row-identical to the distributed plans, including the eval scorers that
consume negative_samples."""

import random

import pytest


@pytest.fixture(scope="module")
def triples(spark):
    rng = random.Random(23)
    people = [f"person:{i:02d}" for i in range(12)]
    orgs = [f"org:{i:02d}" for i in range(12)]
    rows = []
    for d in range(60):  # multi-entity docs so cooc pairs reach support
        doc = f"doc-{d:04d}"
        for _ in range(rng.randint(1, 4)):
            s = rng.choice(people)
            o = rng.choice(orgs)
            rows.append(
                (doc, s, rng.choice(["works_at", "founded"]), o,
                 "person", "organization", 0.9)
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


def test_negatives_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_completion import negative_samples

    drv = _rows(negative_samples(triples))
    with tier():
        dist = _rows(negative_samples(triples))
    assert drv == dist
    assert len(drv) > 0


def _bits(rows):
    # repr distinguishes -0.0 from 0.0 and every double bit pattern
    return [tuple(repr(v) for v in r) for r in rows]


@pytest.mark.parametrize("scorer", ["transe", "distmult", "complex", "rotate"])
def test_margin_eval_over_driver_negatives(spark, triples, scorer, tier):
    from gliner_spark.operators.kg_completion import transe_margin_eval

    # r7 pass 3: the whole eval (sampler + scoring + aggregate) replays
    # on the driver below the gate; force-compare end to end, bit-exact
    # on the mean_margin doubles
    drv = _rows(transe_margin_eval(triples, scorer=scorer))
    with tier():
        dist = _rows(transe_margin_eval(triples, scorer=scorer))
    assert _bits(drv) == _bits(dist)
    assert len(drv) > 0


def test_margin_eval_unknown_scorer_raises(spark, triples):
    from gliner_spark.operators.kg_completion import transe_margin_eval

    with pytest.raises(ValueError):
        transe_margin_eval(triples, scorer="nope")


def test_ranking_metrics_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_completion import ranking_metrics

    drv = _rows(ranking_metrics(triples))
    with tier():
        dist = _rows(ranking_metrics(triples))
    assert drv == dist
    assert len(drv) > 0


def test_ranking_metrics_driver_matches_small_pool(spark, triples, tier):
    # a 2-entity pool forces the true-object and filtered exclusions to
    # decide almost every rank
    from gliner_spark.operators.kg_completion import ranking_metrics

    drv = _rows(ranking_metrics(triples, pool_cap=2))
    with tier():
        dist = _rows(ranking_metrics(triples, pool_cap=2))
    assert drv == dist


def test_cooc_driver_matches(spark, triples, tier):
    from gliner_spark.metrics import skew_metrics
    from gliner_spark.operators.kg_completion import cooc_candidates

    drv_df = cooc_candidates(triples)
    m = skew_metrics(drv_df)
    drv = _rows(drv_df)
    with tier():
        dist = _rows(cooc_candidates(triples))
    assert drv == dist
    assert len(drv) > 0
    assert "cooc_doc_cap" in m


def test_cooc_driver_matches_with_firing_cap(spark, triples, tier):
    from gliner_spark.operators.kg_completion import cooc_candidates

    drv = _rows(cooc_candidates(triples, doc_cap=3))
    with tier():
        dist = _rows(cooc_candidates(triples, doc_cap=3))
    assert drv == dist


def test_walks_driver_matches(spark, triples, tier):
    from gliner_spark.operators.kg_completion import walk_corpus

    drv = _rows(walk_corpus(triples))
    with tier():
        dist = _rows(walk_corpus(triples))
    assert drv == dist
    assert len(drv) > 0


def test_walks_driver_matches_with_firing_cap(spark, triples, tier):
    from gliner_spark.operators.kg_completion import walk_corpus

    drv = _rows(walk_corpus(triples, nbr_cap=2))
    with tier():
        dist = _rows(walk_corpus(triples, nbr_cap=2))
    assert drv == dist
