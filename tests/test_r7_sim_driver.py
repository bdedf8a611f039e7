"""r7: the driver-gated SRP near-dup path must be row-identical to the
distributed banding/cap/verify plan (sim rounded by the same F.round)."""

import pytest


@pytest.mark.parametrize("threshold", [0.3, 0.95])
def test_neardup_driver_matches_distributed(spark, threshold, tier):
    from gliner_spark.metrics import skew_metrics
    from gliner_spark.operators.similarity import embedding_neardup

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    drv = embedding_neardup(emb, threshold=threshold)
    with tier():
        dist = embedding_neardup(emb, threshold=threshold)
    rows_drv = sorted(tuple(r) for r in drv.collect())
    rows_dist = sorted(tuple(r) for r in dist.collect())
    assert rows_drv == rows_dist
    if threshold <= 0.3:
        assert len(rows_drv) > 0
        m = skew_metrics(drv)
        assert "neardup_srp_bucket_cap" in m
