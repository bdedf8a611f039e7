"""r7: winnow fingerprint / overlap-pair / containment driver gates must
be row-identical to the distributed plans (audits included)."""

import pytest

from gliner_spark.metrics import skew_metrics
from gliner_spark.operators.dedup import containment_pairs, winnow_overlap_pairs
from gliner_spark.operators.text_analysis import winnow_fingerprints

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_winnow_fp_replay_matches_distributed(docs):
    # the fps replay feeds the pair gates; compare it against the
    # distributed fingerprint table (winnow_fingerprints itself stays
    # distributed — its output is corpus-row-sized)
    from gliner_spark.operators.text_analysis import (
        WINNOW_K,
        WINNOW_W,
        _winnow_fps_driver,
        _winnow_gram_rows,
    )

    rows = _winnow_gram_rows(docs, WINNOW_K)
    fps = _winnow_fps_driver(rows, WINNOW_W)
    want = {}
    for r in winnow_fingerprints(docs).collect():
        want.setdefault(r.doc_id, []).append((r.fp_pos, r.fp))
    got = {d: v for d, v in fps.items()}
    assert {d: sorted(v) for d, v in want.items()} == got


def test_winnow_pairs_driver_matches(docs, tier):
    fast = winnow_overlap_pairs(docs)
    with tier():
        slow = winnow_overlap_pairs(docs)
    assert _rows(fast) == _rows(slow)
    fa = skew_metrics(fast)["winnow_bucket_cap"]
    sa = skew_metrics(slow)["winnow_bucket_cap"]
    assert fa["n_dropped_rows"] == sa["n_dropped_rows"]
    assert fa["max_group_size"] == sa["max_group_size"]


def test_winnow_pairs_driver_cap_forced(docs, tier):
    fast = winnow_overlap_pairs(docs, bucket_cap=2)
    with tier():
        slow = winnow_overlap_pairs(docs, bucket_cap=2)
    assert _rows(fast) == _rows(slow)
    assert (
        skew_metrics(fast)["winnow_bucket_cap"]["n_dropped_rows"]
        == skew_metrics(slow)["winnow_bucket_cap"]["n_dropped_rows"]
    )


def test_containment_driver_matches(docs, tier):
    fast = containment_pairs(docs)
    with tier():
        slow = containment_pairs(docs)
    assert _rows(fast) == _rows(slow)
    # permille threshold exercised on both sides identically
    fast_low = containment_pairs(docs, min_permille=1)
    with tier():
        slow_low = containment_pairs(docs, min_permille=1)
    assert _rows(fast_low) == _rows(slow_low)
