"""r7: the ANN-family driver fast paths (numpy replays) must be
row-identical — including the IEEE sim doubles and every tie-break — to
the unchanged distributed plans."""

import pytest

from gliner_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    ivfpq_refine_topk,
    ivfpq_topk,
    kmeans_ivf_topk,
    pq_refine_topk,
    pq_topk,
    sq8_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _rows(df):
    return [tuple(r) for r in df.collect()]


OPS = {
    "cosine": lambda emb, **kw: cosine_topk(emb, n_queries=6, k=4, **kw),
    "ivf": lambda emb, **kw: ivf_topk(emb, n_queries=6, k=4, **kw),
    "kmeans_np1": lambda emb, **kw: kmeans_ivf_topk(
        emb, n_queries=6, k=4, nprobe=1, **kw
    ),
    "kmeans_np3": lambda emb, **kw: kmeans_ivf_topk(
        emb, n_queries=6, k=4, nprobe=3, **kw
    ),
    "pq": lambda emb, **kw: pq_topk(emb, n_queries=6, k=4, **kw),
    "pq_refine": lambda emb, **kw: pq_refine_topk(
        emb, n_queries=6, k=4, shortlist=12, **kw
    ),
    "ivfpq": lambda emb, **kw: ivfpq_topk(
        emb, n_queries=6, k=4, nprobe=2, **kw
    ),
    "ivfpq_refine": lambda emb, **kw: ivfpq_refine_topk(
        emb, n_queries=6, k=4, shortlist=12, nprobe=2, **kw
    ),
    "sq8": lambda emb, **kw: sq8_topk(emb, n_queries=6, k=4, **kw),
}


@pytest.mark.parametrize("name", sorted(OPS))
def test_sim_driver_matches_distributed(emb, name, tier):
    fn = OPS[name]
    fast = fn(emb)
    with tier():
        slow = fn(emb)
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in slow.schema.fields
    ]
    assert _rows(fast) == _rows(slow)
    assert len(_rows(fast)) > 0
