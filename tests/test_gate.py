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


def _spy_collects(monkeypatch, calls):
    """Count the gate's one collect primitive into `calls` by mode:
    "raw" when collect_raw called it (every raw-tier collect, snapshot
    included), else "degraded" (the degraded tier's distinct collect,
    or a computed frame's)."""
    import sys

    from gliner_spark import gate

    collect = gate._arrow_collect_bounded

    def spy(*a, **k):
        raw = sys._getframe(1).f_code.co_name == "collect_raw"
        calls["raw" if raw else "degraded"] += 1
        return collect(*a, **k)

    monkeypatch.setattr(gate, "_arrow_collect_bounded", spy)


@pytest.fixture
def collects(monkeypatch):
    """Spy on the bounded collect primitive: raw-mode collects and the
    degraded tier's distinct collects, counted apart."""
    calls = {"raw": 0, "degraded": 0}
    _spy_collects(monkeypatch, calls)
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
    (Spark aggregate, then a collect capped at the bound) and returns
    the raw tier's rows, sorted, and its op the raw tier's output."""
    from gliner_spark import gate

    t = _read(spark, triples_path).repartition(4)
    seen = {"rows": []}
    calls = {"raw": 0, "degraded": 0}
    group = gate.group

    def spy_group(*a, **k):
        tbl = group(*a, **k)
        seen["rows"].append(None if tbl is None else gate.rows(tbl))
        return tbl

    monkeypatch.setattr(gate, "group", spy_group)
    _spy_collects(monkeypatch, calls)

    def run():
        seen["rows"], calls["degraded"] = [], 0
        out = _grouped_site(name, t)
        assert _tier(out) == "driver"
        return seen["rows"], calls["degraded"], _rows(out)

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


# --------------------------------------- capped collect, coded grouping

AGGS = [([], "count_all"), ("v", "sum"), ("v", "min"), ("v", "max"),
        ("t", "count_distinct"), ("t", "min"), ("t", "max"),
        ("s1", "count_distinct")]


def _chunked(rng, values, typ):
    """`values` as a chunked array cut at random points."""
    import pyarrow as pa

    cuts = sorted(rng.randrange(len(values) + 1) for _ in range(2))
    bounds = [0] + cuts + [len(values)]
    return pa.chunked_array(
        [values[a:b] for a, b in zip(bounds, bounds[1:])], typ
    )


def _random_table(rng, n):
    """A multi-chunk table: string keys s1 / s2 and an int64 key i (all
    with NULLs), an int64 value v and a non-key string t."""
    import pyarrow as pa

    words = [f"w{i:02d}" for i in range(12)] + ["", "W", "é", "wé"]

    def draw(make):
        return [None if rng.random() < 0.1 else make() for _ in range(n)]

    schema = pa.schema([
        pa.field("s1", pa.string(), metadata={"origin": "spark"}),
        pa.field("s2", pa.string()),
        pa.field("i", pa.int64()),
        pa.field("v", pa.int64()),
        pa.field("t", pa.string()),
    ])
    cols = [
        draw(lambda: rng.choice(words)),
        draw(lambda: rng.choice(words[:4])),
        draw(lambda: rng.randrange(-3, 4)),
        draw(lambda: rng.randrange(-100, 100)),
        draw(lambda: rng.choice(words)),
    ]
    return pa.Table.from_arrays(
        [_chunked(rng, c, f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def _py_grouped(table, keys, aggs):
    """The grouping in plain python: one dict per group, sorted by the
    keys with NULL last; aggregates skip NULLs (count_all counts rows)."""
    from gliner_spark.gate import _agg_name

    groups = {}
    for row in table.to_pylist():
        groups.setdefault(tuple(row[k] for k in keys), []).append(row)

    def agg(rows, col, fn):
        if fn == "count_all":
            return len(rows)
        vals = [r[col] for r in rows if r[col] is not None]
        if fn == "count_distinct":
            return len(set(vals))
        return {"sum": sum, "min": min, "max": max}[fn](vals) if vals else None

    out = [
        {**dict(zip(keys, key)),
         **{_agg_name(c, fn): agg(rows, c, fn) for c, fn in aggs}}
        for key, rows in groups.items()
    ]
    return sorted(out, key=lambda r: [(r[k] is None, r[k]) for k in keys])


@pytest.mark.parametrize("keys", (
    ["s1"], ["s1", "s2"], ["i", "s1"], ["s2", "i"], ["i"],
))
@pytest.mark.parametrize("n", (0, 1, 57, 400))
def test_coded_grouping_equals_string_grouping(keys, n):
    """group_table groups on codes; its output is the string group_by +
    sort_by's, schema and rows, on every aggregate (one over a non-key
    string, one over a key), and None past the bound. Keys of mixed
    types with NULLs are misgrouped by pyarrow 16's multi-key group_by
    itself, so there the rows are checked against plain python only."""
    from gliner_spark import gate

    for seed in range(4):
        rng = random.Random(seed * 1000 + n)
        table = _random_table(rng, n)
        want = table.group_by(keys).aggregate(AGGS)
        want = want.select(
            keys + [gate._agg_name(c, fn) for c, fn in AGGS]
        ).sort_by([(k, "ascending") for k in keys])
        n_groups = len(_py_grouped(table, keys, AGGS))
        got = gate.group_table(table, keys, AGGS, n_groups)
        assert got.schema.equals(want.schema, check_metadata=True)
        assert got.to_pylist() == _py_grouped(table, keys, AGGS)
        if len({table.schema.field(k).type for k in keys}) == 1:
            assert got.to_pylist() == want.to_pylist()
        if n_groups:
            assert gate.group_table(table, keys, AGGS, n_groups - 1) is None


def test_capped_collect_stops_early(spark, monkeypatch):
    """A frame of 3x the cap whose leaf stats are unknown (RDD-backed,
    so the stats probe lets it through) stops its collect past the cap:
    at most cap + one Arrow batch of rows reach Python, and the job is
    cancelled, not waited for (its last partitions would sleep for a
    minute), so none is left running. The session's next collect
    succeeds."""
    import time

    import pyarrow as pa

    from gliner_spark import gate

    cap = 5000
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    sc = spark.sparkContext

    # partitions 0-3 hold twice the cap; the padding makes their rows
    # outgrow the JVM's buffer on the stream, so they reach Python while
    # partitions 4-5 sleep
    def slow_tail(i, it):
        import time

        if i >= 4:
            time.sleep(60)
        return ((x, "p" * 100) for x in it)

    df = spark.createDataFrame(
        sc.parallelize(range(3 * cap), 6).mapPartitionsWithIndex(slow_tail),
        "x long, pad string",
    )
    assert not gate._stats_skip(df)
    seen = []
    load = gate._load_from_socket

    def spy(*a, **k):
        for item in load(*a, **k):
            if isinstance(item, pa.RecordBatch):
                seen.append(item.num_rows)
            yield item

    monkeypatch.setattr(gate, "_load_from_socket", spy)
    monkeypatch.setattr(gate, "RAW_COLLECT_CAP", cap)
    start = time.monotonic()
    assert gate.collect_raw(df) is None
    assert time.monotonic() - start < 30
    assert cap < sum(seen) <= cap + batch
    deadline = time.monotonic() + 30
    while sc.statusTracker().getActiveJobsIds() and (
        time.monotonic() < deadline
    ):
        time.sleep(0.1)
    assert sc.statusTracker().getActiveJobsIds() == []

    fast = spark.createDataFrame(
        sc.parallelize(range(3 * cap), 6).map(lambda x: (x,)), "x long"
    )
    monkeypatch.setattr(gate, "RAW_COLLECT_CAP", 3 * cap)
    tbl = gate.collect_raw(fast)
    assert tbl.column("x").to_pylist() == list(range(3 * cap))
    empty = gate.collect_raw(fast.limit(0))
    assert empty.num_rows == 0 and empty.schema == tbl.schema


# ------------------------------------------------------------ one module

PKG = pathlib.Path(__file__).resolve().parent.parent / "gliner_spark"


def test_collects_stay_in_the_gate_module():
    bad = re.compile(
        r"\.toArrow\(|_arrow_collect_bounded|\.limit\([^)]*\+\s*1\s*\)"
        r"|\.group_by\("
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
