"""The driver gate (gliner_spark/gate.py). The edge snapshot: every
driver-gated graph operator called on one triples frame shares ONE
bounded collect of it, and takes the same tier, with the same rows, as
an operator that collects on its own. Also pins the tier of every gated
operator, the sorted output of every collect tier, the degraded tier of
every grouped site, and that the gate stays behind one module."""

import ast
import pathlib
import random
import re

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
    """op(triples) on the default gate; under the `tier` fixture it
    takes the forced tier."""
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
        return edge_ops[name]
    if name == "conjunctive":
        return lambda t: conjunctive_match(t, BGP)
    return transe_margin_eval


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


def _leaf_names(df):
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())}


def _tier(df):
    return "driver" if _leaf_names(df) <= {"LocalRelation"} else "distributed"


@pytest.fixture
def collects(monkeypatch):
    """Spy on the bounded collect primitives: the raw Arrow collect
    (every raw-tier collect, snapshot included) and the degraded tier's
    distinct collect."""
    from gliner_spark import gate

    calls = {"raw": 0, "degraded": 0}
    raw, degraded = gate._arrow_collect_bounded, gate._collect_limited

    def spy_raw(*a, **k):
        calls["raw"] += 1
        return raw(*a, **k)

    def spy_degraded(*a, **k):
        calls["degraded"] += 1
        return degraded(*a, **k)

    monkeypatch.setattr(gate, "_arrow_collect_bounded", spy_raw)
    monkeypatch.setattr(gate, "_collect_limited", spy_degraded)
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
    spark, triples_path, collects, monkeypatch, tier
):
    from gliner_spark import gate

    t = _read(spark, triples_path)
    n_rows = t.count()
    n_bgp = t.filter(t.pred.isin([p for _s, p, _o in BGP])).count()
    n_nonloop = t.filter(t.subj != t.obj).count()
    assert n_bgp < n_nonloop <= n_rows
    monkeypatch.setattr(gate, "RAW_COLLECT_CAP", n_bgp)
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
        with tier():
            forced = _op(name)(_read(spark, triples_path))
        assert _tier(forced) == "distributed", name
        assert rows == _rows(forced), name


@pytest.mark.parametrize("name", GATED)
def test_gated_mix_op_tier_pin(spark, triples_path, tier, name):
    t = _read(spark, triples_path)
    assert _tier(_op(name)(t)) == "driver"
    with tier():
        assert _tier(_op(name)(t)) == "distributed"


def test_positive_cols_degraded_tier_sorted(spark, triples_path, monkeypatch):
    from gliner_spark import gate
    from gliner_spark.operators.kg_completion import _positive_cols

    t = _read(spark, triples_path).repartition(4)
    arrow_tier = _positive_cols(t)
    monkeypatch.setattr(gate, "RAW_COLLECT_CAP", 0)
    # keep the aggregate's 32 shuffle partitions apart, as on a cluster:
    # coalesced into one, the sort-aggregate output is sorted by chance
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        degraded = _positive_cols(t)
    finally:
        spark.conf.set(key, old)
    assert degraded is not None
    keys = list(zip(*degraded[:3]))
    assert keys == sorted(keys)
    assert degraded == arrow_tier


def test_frame_without_pred_collects_per_view(spark, collects, tier):
    import gliner_spark.operators.graph_analytics as ga

    t = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("a", "b")],
        "subj string, obj string",
    )
    got = _rows(ga.triangle_counts(t))
    assert collects == {"raw": 1, "degraded": 0}
    with tier():
        forced = ga.triangle_counts(t)
    assert got == _rows(forced)


# ---------------------------------------------------------------- tier pins


def _other_ops():
    """name -> op(frames) for every gated op outside the mix.
    `frames` holds the shared triples, documents and embeddings."""
    from gliner_spark.operators import dedup, similarity as sim
    from gliner_spark.operators import graph_analytics as ga
    from gliner_spark.operators import kg_completion as kc
    from gliner_spark.operators import kg_fusion as kf
    from gliner_spark.operators import ontology as on
    from gliner_spark.operators.rpq import rpq_match

    ops = {}
    for name in (
        "link_prediction", "bfs_distances", "partition_modularity",
        "entity_provenance", "ktruss", "metapath_counts", "wl_colors",
        "degree_histogram", "hits", "square_counts", "assortativity",
        "pred_association", "triad_census", "pagerank_weighted", "egonet",
        "summary_graph",
    ):
        ops[name] = lambda f, fn=getattr(ga, name): fn(f["triples"])
    ops["walk_corpus"] = lambda f: kc.walk_corpus(f["triples"])
    ops["rpq_match"] = lambda f: rpq_match(
        f["triples"], ("plus", ("pred", "knows"))
    )
    for mod, name in (
        (kc, "negative_samples"), (kc, "cooc_candidates"),
        (kc, "mine_rules"), (kc, "apply_rules"), (kc, "ranking_metrics"),
        (kf, "fuse_functional"), (kf, "fact_rank"),
        (on, "rdfs_types"), (on, "subproperty_triples"),
    ):
        ops[name] = lambda f, fn=getattr(mod, name): fn(f["triples"])
    for name in ("minhash_dedup", "winnow_overlap_pairs",
                 "containment_pairs"):
        ops[name] = lambda f, fn=getattr(dedup, name): fn(f["docs"])
    for name, kw in (
        ("cosine_topk", {}), ("ivf_topk", {}), ("kmeans_ivf_topk", {}),
        ("pq_topk", {}), ("pq_refine_topk", {"shortlist": 12}),
        ("ivfpq_topk", {}), ("ivfpq_refine_topk", {"shortlist": 12}),
        ("sq8_topk", {}),
    ):
        ops[name] = lambda f, fn=getattr(sim, name), kw=kw: fn(
            f["emb"], n_queries=6, k=4, **kw
        )
    ops["embedding_neardup"] = lambda f: sim.embedding_neardup(f["emb"])
    return ops


OTHER_GATED = tuple(sorted(_other_ops()))


@pytest.fixture(scope="module")
def frames(spark, triples_path, tmp_path_factory):
    """The shared triples, plus small documents and embeddings tables
    (parquet, so a forced-distributed plan reads a file scan). The
    documents are edited copies of 20 texts, so the dedup family finds
    candidate pairs."""
    rng = random.Random(9)
    words = [f"w{i}" for i in range(60)]
    texts = [[rng.choice(words) for _ in range(30)] for _ in range(20)]
    docs = []
    for i in range(200):
        toks = list(texts[i % 20])
        toks[rng.randrange(30)] = rng.choice(words)
        docs.append((i, " ".join(toks)))
    base = tmp_path_factory.mktemp("frames")
    spark.createDataFrame(docs, "doc_id bigint, text string").write.parquet(
        str(base / "docs")
    )
    spark.createDataFrame(
        [(i, [rng.uniform(-1.0, 1.0) for _ in range(64)], i % 8)
         for i in range(200)],
        "vec_id bigint, embedding array<float>, label int",
    ).write.parquet(str(base / "emb"))
    return {
        "triples": _read(spark, triples_path),
        "docs": spark.read.parquet(str(base / "docs")),
        "emb": spark.read.parquet(str(base / "emb")),
    }


@pytest.mark.parametrize("name", OTHER_GATED)
def test_gated_op_tier_pin(frames, tier, name):
    from gliner_spark.cache import release_caches

    op = _other_ops()[name]
    assert _tier(op(frames)) == "driver"
    with tier():
        forced = op(frames)
    assert _tier(forced) == "distributed"
    release_caches(forced)


@pytest.mark.parametrize("name", (
    "containment_pairs", "egonet", "summary_graph", "entity_components",
))
def test_containment_forced_plan_has_no_local_leaf(
    frames, tier, monkeypatch, name
):
    """Forced distributed (every bound zeroed), an op's nested gated
    stages are distributed as well: containment_pairs builds its winnow
    candidates in Spark, egonet its BFS distances, summary_graph its WL
    colors, and entity_components runs the CC loop, never the driver
    union-find. No stage of the plan is a driver replay, so no leaf of
    the optimized plan is a LocalRelation."""
    from gliner_spark.cache import release_caches
    from gliner_spark.operators import linking

    cc_calls = []
    cc_driver = linking._cc_driver

    def spy(*a):
        cc_calls.append(a)
        return cc_driver(*a)

    monkeypatch.setattr(linking, "_cc_driver", spy)
    ops = _other_ops()
    ops["entity_components"] = lambda f: _op("components")(f["triples"])
    with tier():
        forced = ops[name](frames)
    assert "LocalRelation" not in _leaf_names(forced)
    assert cc_calls == []
    release_caches(forced)


def test_closure_clusters_tier_pin(spark, triples_path, tier):
    from gliner_spark.operators.linking import closure_clusters

    pairs = _read(spark, triples_path).filter("pred = 'knows'").selectExpr(
        "subj AS doc_a", "obj AS doc_b"
    )
    assert _tier(closure_clusters(pairs, "doc_a", "doc_b", "doc_id")) == (
        "driver"
    )
    with tier():
        forced = closure_clusters(pairs, "doc_a", "doc_b", "doc_id")
    assert _tier(forced) == "distributed"


# ------------------------------------------------ degraded grouped tiers


def _grouped_site(name, t):
    """The op over frame `t` whose driver tier reads the grouped site."""
    from gliner_spark.operators import graph_analytics as ga
    from gliner_spark.operators import kg_completion as kc
    from gliner_spark.operators import kg_fusion as kf
    from gliner_spark.operators import ontology as on
    from gliner_spark.operators.linking import closure_clusters

    if name == "closure_clusters":
        pairs = t.filter("pred = 'knows'").selectExpr(
            "subj AS doc_a", "obj AS doc_b"
        )
        return closure_clusters(pairs, "doc_a", "doc_b", "doc_id")
    return {
        "_positive_cols": kc.negative_samples,
        "_vote_cols": kf.fuse_functional,
        "cooc_candidates": kc.cooc_candidates,
        "pagerank_weighted": ga.pagerank_weighted,
        "rdfs_types": on.rdfs_types,
        "subproperty_triples": on.subproperty_triples,
    }[name](t)


GROUPED_SITES = (
    "_positive_cols", "_vote_cols", "cooc_candidates", "pagerank_weighted",
    "rdfs_types", "subproperty_triples", "closure_clusters",
)


@pytest.mark.parametrize("name", GROUPED_SITES)
def test_degraded_grouped_tier_matches_raw_tier(
    spark, triples_path, monkeypatch, name
):
    """Past RAW_COLLECT_CAP every grouped site takes the degraded tier
    (Spark aggregate, then a limit-mode collect) and returns the raw
    tier's rows, sorted, and its op the raw tier's output."""
    from gliner_spark import gate

    t = _read(spark, triples_path).repartition(4)
    seen = {"rows": [], "limited": 0}
    group, limited = gate.group, gate._collect_limited

    def spy_group(*a, **k):
        tbl = group(*a, **k)
        seen["rows"].append(None if tbl is None else gate.rows(tbl))
        return tbl

    def spy_limited(*a, **k):
        seen["limited"] += 1
        return limited(*a, **k)

    monkeypatch.setattr(gate, "group", spy_group)
    monkeypatch.setattr(gate, "_collect_limited", spy_limited)

    def run():
        seen["rows"], seen["limited"] = [], 0
        out = _grouped_site(name, t)
        assert _tier(out) == "driver"
        return seen["rows"], seen["limited"], _rows(out)

    raw_rows, raw_limited, raw_out = run()
    assert raw_limited == 0
    assert raw_rows and all(r for r in raw_rows)
    monkeypatch.setattr(gate, "RAW_COLLECT_CAP", 0)
    # keep the aggregate's 32 shuffle partitions apart, as on a cluster:
    # coalesced into one, the sort-aggregate output is sorted by chance
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        deg_rows, deg_limited, deg_out = run()
    finally:
        spark.conf.set(key, old)
    assert deg_limited == len(deg_rows)
    assert deg_rows == raw_rows
    assert deg_out == raw_out


# ------------------------------------------------------------ one module

PKG = pathlib.Path(__file__).resolve().parent.parent / "gliner_spark"


def test_collects_stay_in_the_gate_module():
    bad = re.compile(
        r"\.toArrow\(|_arrow_collect_bounded|\.limit\([^)]*\+\s*1\s*\)"
        r"|def _(collected_\w+|degraded_dedup|sorted_distinct|local_df)\b"
    )
    hits = [
        f"{path.name}:{i}: {line.strip()}"
        for path in sorted((PKG / "operators").glob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if bad.search(line)
    ]
    assert hits == []


def test_bounds_live_in_the_gate_table():
    """No operator or helper takes a bound of its own, and the table
    reads no environment variable: forcing a tier is patching the
    table, and it reaches every nested gated call."""
    knobs = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "driver_max_" in line
    ]
    env = [
        f"{name}:{i}: {line.strip()}"
        for name in ("gate.py", "operators/rpq.py")
        for i, line in enumerate((PKG / name).read_text().splitlines(), 1)
        if re.search(r"\benviron\b|\bgetenv\b", line)
    ]
    assert knobs == []
    assert env == []


def test_tier_fixture_patches_the_table_for_a_block(tier):
    from gliner_spark import gate

    default = dict(gate.BOUNDS)
    with tier():
        assert set(gate.BOUNDS.values()) == {0}
    with tier(edges=7):
        assert gate.BOUNDS == {**default, "edges": 7}
    assert gate.BOUNDS == default


def test_gate_imports_no_operator():
    tree = ast.parse((PKG / "gate.py").read_text())
    mods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mods.add(node.module or "")
            mods.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
    assert not [m for m in mods if m.startswith("gliner_spark.operators")]
