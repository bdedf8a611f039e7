"""r7: the driver-gated canonicalize path must be row-identical to the
distributed LSH/verify/CC/representative plan (same shingle hash, minhash
perms, band fold, block cap, Jaccard and md5 ids)."""

import pytest


def _mentions(spark, rows):
    # (doc_id, label, norm) mention rows; other mention columns are unused
    # by canonicalize (it only reads label/norm via surface_table)
    return spark.createDataFrame(
        [(d, lb, nm) for d, lb, nm in rows],
        "doc_id string, label string, norm string",
    )


ROWS = (
    # near-dup surfaces that genuinely link at jaccard >= 0.6
    [("d1", "org", "acme corp")] * 5
    + [("d2", "org", "acme corp.")] * 2
    + [("d3", "org", "acme co")] * 1
    + [("d4", "person", "alice almeida")] * 3
    + [("d5", "person", "alice almeidaa")] * 1
    # same norm under two labels stays two surfaces
    + [("d6", "person", "mercury")] * 2
    + [("d7", "org", "mercury")] * 2
    + [("d8", "date", "2021-04-01")] * 1
)


def _run(spark):
    from gliner_spark.cache import release_caches
    from gliner_spark.config import PipelineConfig
    from gliner_spark.operators.linking import canonicalize

    entities, smap = canonicalize(_mentions(spark, ROWS), PipelineConfig())
    e = sorted(tuple(r) for r in entities.collect())
    s = sorted(tuple(r) for r in smap.collect())
    release_caches(entities)
    release_caches(smap)
    return e, s


def test_canonicalize_driver_parity(spark, tier):
    e_drv, s_drv = _run(spark)
    with tier():
        e_dist, s_dist = _run(spark)
    assert s_drv == s_dist
    assert e_drv == e_dist
    # the near-dups actually linked (the test exercises the verify+CC
    # path, not just singleton components)
    by_entity = {}
    for label, norm, eid, canonical, n in s_drv:
        by_entity.setdefault(eid, []).append(norm)
    assert any(len(v) >= 2 for v in by_entity.values())


def test_canonicalize_driver_audit(spark):
    from gliner_spark.config import PipelineConfig
    from gliner_spark.metrics import skew_metrics
    from gliner_spark.cache import release_caches
    from gliner_spark.operators.linking import canonicalize

    cfg = PipelineConfig()
    entities, smap = canonicalize(_mentions(spark, ROWS), cfg)
    m = skew_metrics(entities)
    assert "linking_lsh_block_cap" in m
    assert m["linking_lsh_block_cap"]["cap"] == cfg.link_max_block_size
    assert m["linking_lsh_block_cap"]["n_dropped_rows"] == 0
    assert m["linking_lsh_block_cap"]["max_group_size"] >= 1
    release_caches(entities)
    release_caches(smap)
