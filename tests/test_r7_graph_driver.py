"""r7: the driver-gated small-graph paths must be row-identical to the
distributed plans for every operator that gained one (the _cc_driver
adaptive design generalized). Each op runs twice — driver path (default
gate) vs forced-distributed (the `tier` fixture) — on a random graph
with hubs, chains and isolated cliques."""

import random

import pytest


def _triples(spark, rows):
    return spark.createDataFrame(
        [(f"d{i}", s, p, o, "t", "t", 0.9) for i, (s, p, o) in enumerate(rows)],
        "doc_id string, subj string, pred string, obj string, "
        "subj_type string, obj_type string, score double",
    )


@pytest.fixture(scope="module")
def graph(spark):
    rng = random.Random(17)
    names = [f"person:{i:03d}" for i in range(30)] + [
        f"org:{i:03d}" for i in range(30)
    ]
    rows = list(
        {
            (rng.choice(names), rng.choice(["r", "s"]), rng.choice(names))
            for _ in range(220)
        }
    )
    # a chain (exercises depth) and an isolated clique
    rows += [(f"chain:{i}", "r", f"chain:{i+1}") for i in range(8)]
    rows += [
        (f"cliq:{a}", "r", f"cliq:{b}") for a in range(4) for b in range(4)
        if a < b
    ]
    return _triples(spark, rows)


def _rows(df):
    from gliner_spark.cache import release_caches

    out = sorted(tuple(r) for r in df.collect())
    release_caches(df)
    return out




@pytest.mark.parametrize(
    "name",
    [
        "lpa", "modularity", "wl", "hits", "bfs", "harmonic",
        "distances", "stress", "components", "kcore", "truss",
        "pagerank", "pagerank_dangling", "ppr", "pagerank_weighted",
        "triangles", "clustering", "node_similarity", "link_prediction",
        "squares", "two_hop", "stress_seeds3_depth2", "harmonic_depth6",
        "distances_depth6", "bfs_org_depth1",
    ],
)
def test_driver_paths_match_distributed(spark, graph, tier, name):
    import gliner_spark.operators.graph_analytics as ga

    fns = {
        "lpa": lambda: ga.lpa_communities(graph),
        "modularity": lambda: ga.partition_modularity(graph),
        "wl": lambda: ga.wl_colors(graph),
        "hits": lambda: ga.hits(graph),
        "bfs": lambda: ga.bfs_distances(graph),
        "harmonic": lambda: ga.harmonic_centrality(graph),
        "distances": lambda: ga.distance_profile(graph),
        "stress": lambda: ga.stress_centrality(graph),
        "components": lambda: ga.entity_components(graph),
        "kcore": lambda: ga.kcore(graph),
        "truss": lambda: ga.ktruss(graph),
        "pagerank": lambda: ga.pagerank(graph),
        "pagerank_dangling": lambda: ga.pagerank(graph, dangling=True),
        "ppr": lambda: ga.pagerank(graph, seed_prefix="person:"),
        "pagerank_weighted": lambda: ga.pagerank_weighted(graph),
        "triangles": lambda: ga.triangle_counts(graph),
        "clustering": lambda: ga.clustering_coefficients(graph),
        "node_similarity": lambda: ga.node_similarity(graph),
        "link_prediction": lambda: ga.link_prediction(graph),
        "squares": lambda: ga.square_counts(graph),
        "two_hop": lambda: ga.two_hop_paths(graph),
        "stress_seeds3_depth2": lambda: ga.stress_centrality(
            graph, n_seeds=3, depth=2
        ),
        "harmonic_depth6": lambda: ga.harmonic_centrality(graph, depth=6),
        "distances_depth6": lambda: ga.distance_profile(graph, depth=6),
        "bfs_org_depth1": lambda: ga.bfs_distances(
            graph, seed_prefix="org:", depth=1
        ),
    }
    with tier(edges=10_000_000):
        drv = _rows(fns[name]())
    with tier():
        dist = _rows(fns[name]())
    assert drv == dist, f"{name}: driver path diverges from distributed"
    assert len(drv) > 0


# the hop-distance family at its default parameters
HOP_OPS = {
    "bfs": lambda ga, t: ga.bfs_distances(t),
    "egonet": lambda ga, t: ga.egonet(t),
    "harmonic": lambda ga, t: ga.harmonic_centrality(t),
    "distances": lambda ga, t: ga.distance_profile(t),
    "stress": lambda ga, t: ga.stress_centrality(t),
}
# Spark jobs of each op's forced distributed tier on `graph`, its
# output collected, with AQE off and one shuffle partition: one job per
# checkpoint, broadcast and collect. (With AQE on, every query stage is
# a job of its own and their number follows the order stages complete
# in: stress read 55 in one run and 51 in the next.)
HOP_JOBS = {
    "bfs": 3, "egonet": 3, "harmonic": 5, "distances": 5, "stress": 5,
}


@pytest.mark.parametrize("name", sorted(HOP_OPS))
def test_hop_distance_job_counts(spark, graph, tier, name):
    """A checkpoint or an action added to a hop-distance plan shows up
    as a changed job count."""
    import uuid

    import gliner_spark.operators.graph_analytics as ga

    sc = spark.sparkContext
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",  # the fewest tasks
    }
    saved = {k: spark.conf.get(k) for k in confs}
    group = f"hop-jobs-{uuid.uuid4().hex}"
    for k, v in confs.items():
        spark.conf.set(k, v)
    sc.setJobGroup(group, name)
    try:
        with tier():
            rows = _rows(HOP_OPS[name](ga, graph))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert rows
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == HOP_JOBS[name], (name, jobs)


@pytest.mark.parametrize("name", sorted(HOP_OPS))
def test_hop_distance_ops_empty(spark, graph, tier, name):
    """Empty output on both tiers for a frame whose only facts are
    self-loops (no edge), and, for the prefix-seeded ops, for a seed
    prefix no entity matches."""
    import gliner_spark.operators.graph_analytics as ga

    loops = _triples(
        spark, [("person:a", "r", "person:a"), ("org:b", "s", "org:b")]
    )
    calls = [lambda: HOP_OPS[name](ga, loops)]
    if name in ("bfs", "egonet"):
        fn = ga.bfs_distances if name == "bfs" else ga.egonet
        calls.append(lambda: fn(graph, seed_prefix="nomatch:"))
    for call in calls:
        with tier(edges=10_000_000):
            assert _rows(call()) == []
        with tier():
            assert _rows(call()) == []


@pytest.mark.parametrize(
    "name",
    ["triangles", "clustering", "node_similarity", "link_prediction",
     "squares", "two_hop", "truss"],
)
def test_driver_paths_match_with_firing_caps(spark, graph, tier, name):
    """Same row identity with a tiny pivot cap so the audited drop
    branches execute on both sides."""
    import gliner_spark.operators.graph_analytics as ga

    fns = {
        "triangles": lambda: ga.triangle_counts(graph, max_fanout=4),
        "clustering": lambda: ga.clustering_coefficients(
            graph, max_fanout=4
        ),
        "node_similarity": lambda: ga.node_similarity(graph, max_fanout=4),
        "link_prediction": lambda: ga.link_prediction(graph, max_fanout=4),
        "squares": lambda: ga.square_counts(graph, max_fanout=4),
        "two_hop": lambda: ga.two_hop_paths(graph, max_fanout=2),
        "truss": lambda: ga.ktruss(graph, max_fanout=4),
    }
    from gliner_spark.metrics import skew_metrics

    with tier(edges=10_000_000):
        drv_df = fns[name]()
    m = skew_metrics(drv_df)
    drv = _rows(drv_df)
    with tier():
        dist = _rows(fns[name]())
    assert drv == dist, f"{name}: capped driver path diverges"
    # the cap genuinely fired on this graph
    assert any(v["n_dropped_rows"] > 0 for v in m.values()), m


def test_metapath_driver_matches(spark, graph, tier):
    from gliner_spark.metrics import skew_metrics
    from gliner_spark.operators.graph_analytics import metapath_counts

    drv_df = metapath_counts(graph, preds=("r", "s"))
    m = skew_metrics(drv_df)
    drv = _rows(drv_df)
    with tier():
        dist = _rows(metapath_counts(graph, preds=("r", "s")))
    assert drv == dist
    assert len(drv) > 0
    assert "metapath_hub_cap_1" in m


def test_metapath_driver_matches_firing_cap(spark, graph, tier):
    from gliner_spark.metrics import skew_metrics
    from gliner_spark.operators.graph_analytics import metapath_counts

    drv_df = metapath_counts(graph, preds=("r", "s", "r"), max_fanout=2)
    m = skew_metrics(drv_df)
    drv = _rows(drv_df)
    with tier():
        dist_df = metapath_counts(graph, preds=("r", "s", "r"), max_fanout=2)
    md = skew_metrics(dist_df)
    dist = _rows(dist_df)
    assert drv == dist
    # the cap must actually fire and the audits must agree with the
    # distributed capped_filter aggregates
    assert m["metapath_hub_cap_1"]["n_dropped_rows"] > 0
    assert m == md


def test_assortativity_driver_matches(spark, graph, tier):
    from gliner_spark.operators.graph_analytics import assortativity

    drv = [tuple(map(repr, r)) for r in _rows(assortativity(graph))]
    with tier():
        dist = [tuple(map(repr, r)) for r in _rows(assortativity(graph))]
    assert drv == dist


@pytest.mark.parametrize("opname", ["degrees", "degree_hist", "provenance", "pred_assoc"])
def test_profile_ops_driver_match(spark, graph, tier, opname):
    from gliner_spark.operators.graph_analytics import (
        degree_histogram,
        entity_degrees,
        entity_provenance,
        pred_association,
    )

    fns = {
        "degrees": entity_degrees,
        "degree_hist": degree_histogram,
        "provenance": entity_provenance,
        "pred_assoc": pred_association,
    }
    fn = fns[opname]
    drv = [tuple(map(repr, r)) for r in _rows(fn(graph))]
    with tier():
        dist = [tuple(map(repr, r)) for r in _rows(fn(graph))]
    assert drv == dist
    assert len(drv) > 0


def test_pred_assoc_driver_matches_min_support(spark, graph, tier):
    from gliner_spark.operators.graph_analytics import pred_association

    drv = _rows(pred_association(graph, min_support=5))
    with tier():
        dist = _rows(pred_association(graph, min_support=5))
    assert drv == dist
