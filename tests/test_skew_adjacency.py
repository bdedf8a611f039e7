"""Skew-salting equivalence + adjacency-mode parity tests."""

import dataclasses

from pyspark.sql import functions as F

from gliner_spark.config import PipelineConfig
from gliner_spark.operators.skew import hot_keys, salted_equi_join
from gliner_spark.presets import default_model
from gliner_spark.sources.synth import assembled_text, gen_doc


def test_salted_join_equals_plain_join(spark):
    # Zipfian fact table: key 'k0' dominates
    fact = spark.createDataFrame(
        [(f"k{min(i % 100, i % 7)}", i) for i in range(5000)], "k string, v long"
    )
    dim = spark.createDataFrame(
        [(f"k{i}", f"d{i}") for i in range(100)], "k string, d string"
    )
    plain = fact.join(dim, ["k"]).orderBy("v")
    salted = salted_equi_join(fact, dim, ["k"], salt=8).orderBy("v")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_hot_key_detection(spark):
    fact = spark.createDataFrame(
        [("hot", i) for i in range(1000)] + [(f"k{i}", i) for i in range(50)],
        "k string, v long",
    )
    hot = [r.k for r in hot_keys(fact, ["k"], min_count=100).collect()]
    assert hot == ["hot"]


def test_adjacency_mode_prunes_to_same_triples():
    """dot-adjacency pruning (reference base.py:2373-2402) must keep every
    pair the relation head would score > threshold — final triples equal
    the all-pairs mode (the prune is sound, just cheaper)."""
    base = default_model()
    cfg_dot = dataclasses.replace(base.config, adjacency_mode="dot")
    m_dot = dataclasses.replace(base, config=cfg_dot)
    for i in range(60):
        text = assembled_text(gen_doc(i)["spans"])
        mentions, tokens, _, _ = base.predict_doc(text)
        a = base.predict_relations_doc(tokens, mentions)
        b = m_dot.predict_relations_doc(tokens, mentions)
        assert a == b, i


def test_entity_pair_table_matches_udf_enumeration(spark):
    """Relational self-join pair plan == the UDF's all-pairs enumeration."""
    from gliner_spark.operators.extraction import extract_graph, mentions_table
    from gliner_spark.operators.pairs import entity_pair_table
    from gliner_spark.sources.synth import synth_docs

    model = default_model()
    mentions = mentions_table(
        extract_graph(synth_docs(spark, 100, partitions=4), model)
    ).cache()
    pairs = entity_pair_table(mentions, model.config.max_pairs_per_doc)
    got = pairs.groupBy("doc_id").count().collect()
    ment_counts = {
        r.doc_id: r.n for r in mentions.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    for r in got:
        e = ment_counts[r.doc_id]
        assert r["count"] == e * (e - 1)
    # directed: both (i,j) and (j,i) present
    sample = pairs.filter(F.col("head_idx") == 0).count()
    rev = pairs.filter(F.col("tail_idx") == 0).count()
    assert sample == rev


def test_cc_chain_converges_logarithmically(spark, tier):
    """A 200-node chain has diameter 199: plain min-propagation would need
    199 rounds (>> cc_max_iterations) and silently mis-cluster; pointer
    jumping must converge within the default 20."""
    from gliner_spark.operators.linking import connected_components
    from gliner_spark.config import PipelineConfig

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    # pin the DISTRIBUTED loop (tier() zeroes the cc_nodes bound of the
    # small-graph driver path) — this test is about the loop's round bound
    with tier():
        comp = connected_components(nodes, chain, PipelineConfig())
    rows = comp.collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}


def test_cc_driver_path_equals_distributed_path(spark, tier):
    """The adaptive small-graph union-find must produce the identical
    (id, component) clustering as the pointer-jumping loop — chains,
    cycles, singletons, and cross-links."""
    import random

    from gliner_spark.config import PipelineConfig
    from gliner_spark.operators.linking import connected_components

    rng = random.Random(7)
    n = 300
    edges = [(i, i + 1) for i in range(0, 80)]            # long chain
    edges += [(100 + i, 100 + (i + 1) % 30) for i in range(30)]  # cycle
    edges += [(rng.randrange(150, 250), rng.randrange(150, 250))
              for _ in range(60)]                          # random blob
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    fast = {r.id: r.component for r in connected_components(
        nodes, e, PipelineConfig()).collect()}
    with tier():
        dist = {r.id: r.component for r in connected_components(
            nodes, e, PipelineConfig()).collect()}
    assert fast == dist


def test_cc_disjoint_components(spark):
    from gliner_spark.operators.linking import connected_components
    from gliner_spark.config import PipelineConfig

    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (7, 8), (8, 9)], "src long, dst long"
    )
    comp = {r.id: r.component for r in
            connected_components(nodes, edges, PipelineConfig()).collect()}
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == 3
    assert comp[4] == comp[5] == 4
    assert comp[6] == 6
    assert comp[7] == comp[8] == comp[9] == 7


def test_lsh_block_cap_drops_degenerate_blocks(spark):
    """Oversized LSH blocks (the degenerate-shingle skew case) are dropped
    from pair generation instead of producing a quadratic join."""
    from gliner_spark.operators.linking import similarity_edges
    from gliner_spark.config import PipelineConfig

    # 40 near-identical surfaces -> one giant block under every band
    rows = [("org", f"acme corp {i}", 10) for i in range(40)]
    surfaces = spark.createDataFrame(rows, "label string, norm string, n_mentions long")
    open_cfg = PipelineConfig(link_max_block_size=1000, link_jaccard_threshold=0.5)
    # cap=1: any block with >= 2 members is "oversized" -> no pairs at all
    capped_cfg = PipelineConfig(link_max_block_size=1, link_jaccard_threshold=0.5)
    n_open = similarity_edges(surfaces, open_cfg).count()
    n_capped = similarity_edges(surfaces, capped_cfg).count()
    assert n_open > 0
    assert n_capped == 0
