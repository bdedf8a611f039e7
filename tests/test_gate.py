"""The driver edge snapshot (gliner_spark/gate.py): every driver-gated
graph operator called on one triples frame shares ONE bounded collect of
it, and takes the same tier, with the same rows, as an operator that
collects on its own. Also pins the tier of every gated operator in the
benchmark mix, and the sorted output of every collect tier."""

import random

import pytest

BGP = [("?p", "works_at", "?o"), ("?o", "based_in", "?l"),
       ("?p", "visited", "?l")]

# the driver-gated ops of the benchmark mix, in mix order; every one but
# transe_eval (it reads obj_type) derives its view from the snapshot
MIGRATED = (
    "degree", "two_hop", "pagerank", "components", "triangles",
    "clustering", "node_similarity", "kcore", "lpa", "harmonic", "stress",
    "distances", "conjunctive",
)
GATED = MIGRATED + ("transe_eval",)


def _op(name):
    """op(triples, bound) with bound None = default gate, 0 = forced
    distributed plan."""
    from gliner_spark.operators import graph_analytics as ga
    from gliner_spark.operators.kg_completion import transe_margin_eval
    from gliner_spark.operators.kg_query import conjunctive_match

    edge_ops = {
        "degree": ga.entity_degrees,
        "two_hop": ga.two_hop_paths,
        "pagerank": ga.pagerank,
        "components": ga.entity_components,
        "triangles": ga.triangle_counts,
        "clustering": ga.clustering_coefficients,
        "node_similarity": ga.node_similarity,
        "kcore": ga.kcore,
        "lpa": ga.lpa_communities,
        "harmonic": ga.harmonic_centrality,
        "stress": ga.stress_centrality,
        "distances": ga.distance_profile,
    }
    if name in edge_ops:
        return lambda t, d=None: edge_ops[name](t, driver_max_edges=d)
    if name == "conjunctive":
        return lambda t, d=None: conjunctive_match(t, BGP, driver_max_rows=d)
    return lambda t, d=None: transe_margin_eval(t, driver_max_rows=d)


@pytest.fixture(scope="module")
def triples_path(spark, tmp_path_factory):
    """A small typed KG as a parquet table: the BGP's three predicates
    plus a noise predicate, with duplicate rows and self-loops."""
    rng = random.Random(5)
    people = [f"person:{i:02d}" for i in range(24)]
    orgs = [f"org:{i:02d}" for i in range(8)]
    places = [f"place:{i:02d}" for i in range(6)]
    rows = []
    for p in people:
        rows.append((p, "person", "works_at", rng.choice(orgs), "org"))
        rows.append((p, "person", "visited", rng.choice(places), "place"))
        for _ in range(3):
            rows.append((p, "person", "knows", rng.choice(people), "person"))
    for o in orgs:
        rows.append((o, "org", "based_in", rng.choice(places), "place"))
    rows += rows[:10]  # duplicate facts
    rows += [(p, "person", "knows", p, "person") for p in people[:3]]
    df = spark.createDataFrame(
        [(f"d{i % 17}", s, st, p, o, ot, 0.9)
         for i, (s, st, p, o, ot) in enumerate(rows)],
        "doc_id string, subj string, subj_type string, pred string, "
        "obj string, obj_type string, score double",
    )
    path = str(tmp_path_factory.mktemp("gate") / "triples")
    df.repartition(3).write.parquet(path)
    return path


def _read(spark, path):
    return spark.read.parquet(path)


def _rows(df):
    from gliner_spark.cache import release_caches

    out = sorted((tuple(r) for r in df.collect()), key=repr)
    release_caches(df)
    return out


def _tier(df):
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName()
             for i in range(leaves.size())}
    return "driver" if names <= {"LocalRelation"} else "distributed"


@pytest.fixture
def collects(monkeypatch):
    """Spy on the bounded collect primitives: the raw Arrow collect
    (every raw-tier collect, snapshot included) and the degraded tier's
    distinct collect."""
    import gliner_spark.operators.graph_analytics as ga

    calls = {"raw": 0, "degraded": 0}
    raw, degraded = ga._arrow_collect_bounded, ga._collected_edges

    def spy_raw(*a, **k):
        calls["raw"] += 1
        return raw(*a, **k)

    def spy_degraded(*a, **k):
        calls["degraded"] += 1
        return degraded(*a, **k)

    monkeypatch.setattr(ga, "_arrow_collect_bounded", spy_raw)
    monkeypatch.setattr(ga, "_collected_edges", spy_degraded)
    return calls


def test_mix_collects_the_frame_once(spark, triples_path, collects):
    t = _read(spark, triples_path)
    got = {name: _rows(_op(name)(t)) for name in MIGRATED}
    assert collects == {"raw": 1, "degraded": 0}
    for name in MIGRATED:
        assert got[name] == _rows(_op(name)(_read(spark, triples_path))), name


def test_release_caches_keeps_the_snapshot(spark, triples_path, collects):
    from gliner_spark.cache import release_caches

    t = _read(spark, triples_path)
    for name in ("degree", "triangles", "two_hop"):
        out = _op(name)(t)
        out.collect()
        release_caches(out)
    assert collects["raw"] == 1


def test_over_cap_frame_keeps_per_op_tiers(
    spark, triples_path, collects, monkeypatch
):
    import gliner_spark.operators.graph_analytics as ga

    t = _read(spark, triples_path)
    n_rows = t.count()
    n_bgp = t.filter(t.pred.isin([p for _s, p, _o in BGP])).count()
    n_nonloop = t.filter(t.subj != t.obj).count()
    assert n_bgp < n_nonloop <= n_rows
    monkeypatch.setattr(ga, "RAW_COLLECT_CAP", n_bgp)
    conj = _op("conjunctive")

    # no snapshot yet: the predicate view makes its own (small) collect
    # and keeps the driver tier
    out = conj(t)
    assert _tier(out) == "driver"
    assert collects == {"raw": 1, "degraded": 0}
    got = {"conjunctive": _rows(out)}

    # the snapshot collect is over the cap: degree degrades as before
    out = _op("degree")(t)
    assert collects["raw"] == 2
    got["degree"] = _rows(out)

    # projection views are counted over the cap and go straight to the
    # degraded (distinct-collect) tier, with no further raw collect
    for name in ("triangles", "two_hop", "components"):
        out = _op(name)(t)
        assert _tier(out) == "driver", name
        got[name] = _rows(out)
    assert collects == {"raw": 2, "degraded": 3}

    # a predicate view that fits still makes its own collect
    out = conj(t)
    assert _tier(out) == "driver"
    assert collects["raw"] == 3
    assert _rows(out) == got["conjunctive"]

    for name, rows in got.items():
        assert rows == _rows(_op(name)(_read(spark, triples_path), 0)), name


@pytest.mark.parametrize("name", GATED)
def test_gated_mix_op_tier_pin(spark, triples_path, name):
    t = _read(spark, triples_path)
    assert _tier(_op(name)(t)) == "driver"
    assert _tier(_op(name)(t, 0)) == "distributed"


def test_positive_cols_degraded_tier_sorted(spark, triples_path, monkeypatch):
    import gliner_spark.operators.graph_analytics as ga
    from gliner_spark.operators.kg_completion import _positive_cols

    t = _read(spark, triples_path).repartition(4)
    arrow_tier = _positive_cols(t, None)
    monkeypatch.setattr(ga, "RAW_COLLECT_CAP", 0)
    # keep the aggregate's 32 shuffle partitions apart, as on a cluster:
    # coalesced into one, the sort-aggregate output is sorted by chance
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        degraded = _positive_cols(t, None)
    finally:
        spark.conf.set(key, old)
    assert degraded is not None
    keys = list(zip(*degraded[:3]))
    assert keys == sorted(keys)
    assert degraded == arrow_tier


def test_frame_without_pred_collects_per_view(spark, collects):
    import gliner_spark.operators.graph_analytics as ga

    t = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("a", "b")],
        "subj string, obj string",
    )
    got = _rows(ga.triangle_counts(t))
    assert collects == {"raw": 1, "degraded": 0}
    assert got == _rows(ga.triangle_counts(t, driver_max_edges=0))
