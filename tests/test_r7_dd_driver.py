"""r7: the driver-gated minhash dedup path must be row-identical to the
distributed banding/cap/verify plan."""

import pytest


@pytest.mark.parametrize("threshold", [0.5, 0.2])
def test_minhash_driver_matches_distributed(spark, threshold, tier):
    from gliner_spark.metrics import skew_metrics
    from gliner_spark.operators.dedup import minhash_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    drv = minhash_dedup(docs, threshold=threshold)
    with tier():
        dist = minhash_dedup(docs, threshold=threshold)
    rows_drv = sorted(tuple(r) for r in drv.collect())
    rows_dist = sorted(tuple(r) for r in dist.collect())
    from gliner_spark.cache import release_caches

    release_caches(dist)
    assert rows_drv == rows_dist
    assert len(rows_drv) > 0
    m = skew_metrics(drv)
    assert "dedup_lsh_bucket_cap" in m
