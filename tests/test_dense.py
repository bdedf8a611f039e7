"""Dense-encoder path: npz checkpoint round-trip, Spark == single-process
bit-exact parity, partitioning invariance (core/dense.py; reference
span_rep.py:464-511 SpanMarkerV0 + model.py:639-691 save/load)."""

import numpy as np
import pytest

from gliner_spark.core.dense import (
    DenseCheckpoint,
    fold_hash_py,
    predict_spans_dense,
    random_quantized,
    score_doc_dense,
)
from gliner_spark.sources.synth import assembled_text, gen_doc

LABELS = ["person", "organization", "location", "date"]


def _ckpt():
    return random_quantized(LABELS)


def test_npz_round_trip(tmp_path):
    ck = _ckpt()
    p = str(tmp_path / "ck.npz")
    ck.save_npz(p)
    ck2 = DenseCheckpoint.load_npz(p)
    for f in ("emb", "w_start", "w_end", "w_out", "b_out", "label_matrix"):
        assert np.array_equal(getattr(ck, f), getattr(ck2, f)), f
    assert ck2.labels == LABELS
    assert (ck2.scale, ck2.bias, ck2.threshold, ck2.max_width) == (
        ck.scale, ck.bias, ck.threshold, ck.max_width,
    )
    # loaded checkpoint scores identically (bit-exact)
    text = assembled_text(gen_doc(3)["spans"])
    _, _, p1 = score_doc_dense(text, ck)
    _, _, p2 = score_doc_dense(text, ck2)
    assert np.array_equal(p1, p2)


def test_weights_are_dyadic():
    """The oracle-exactness precondition: every weight is k/256."""
    ck = _ckpt()
    for f in ("emb", "w_start", "w_end", "w_out", "b_out", "label_matrix"):
        v = getattr(ck, f) * 256.0
        assert np.array_equal(v, np.round(v)), f


def test_fold_hash_matches_spark_definition():
    # spot-check the fold against hand-rolled values
    assert fold_hash_py("") == 0
    h = 0
    for ch in "acme":
        h = (h * 1000003 + ord(ch)) % 2147483647
    assert fold_hash_py("acme") == h


def test_mean_pooled_prompts_single_token_labels():
    ck = _ckpt()
    V = ck.vocab_buckets
    for ci, lab in enumerate(LABELS):
        expect = ck.emb[fold_hash_py(lab) % V]
        assert np.array_equal(ck.label_matrix[ci], expect)


def test_spark_dense_matches_single_process(spark):
    from pyspark.sql import functions as F

    from gliner_spark.operators.extraction import extract_spans_dense
    from gliner_spark.sources.synth import synth_docs

    ck = _ckpt()
    n = 200
    docs = synth_docs(spark, n, partitions=8)
    got = {
        (r.doc_id, r.word_start, r.word_end, r.label): r.score
        for r in extract_spans_dense(docs, ck).collect()
    }
    expect = {}
    for i in range(n):
        d = gen_doc(i)
        text = assembled_text(d["spans"])
        for m in predict_spans_dense(text, ck):
            expect[(d["doc_id"], m["word_start"], m["word_end"], m["label"])] = m["score"]
    assert got.keys() == expect.keys()
    for k, v in expect.items():
        assert got[k] == v, k  # bit-exact float64 through Arrow


def test_sparkfile_weight_loading_matches_broadcast(spark, tmp_path):
    """Executor-side npz loading: ship the checkpoint FILE via sc.addFile
    and lazy-load it in the workers (core/dense.load_checkpoint_sparkfile)
    — rows must be bit-identical to the broadcast path. This is the seam a
    real exported GLiNER weight file drops into (reference
    model.py:639-691)."""
    from gliner_spark.operators.extraction import extract_spans_dense
    from gliner_spark.sources.synth import synth_docs

    ck = _ckpt()
    path = str(tmp_path / "ckpt_sparkfile_test.npz")
    ck.save_npz(path)
    docs = synth_docs(spark, 120, partitions=6)
    via_file = sorted(
        map(tuple, extract_spans_dense(docs, path).collect())
    )
    via_bc = sorted(
        map(tuple, extract_spans_dense(docs, ck).collect())
    )
    assert via_file == via_bc and len(via_file) > 0


@pytest.mark.parametrize("labels", [None, ["person"]], ids=["all", "person"])
@pytest.mark.parametrize("source", ["docs", "synth"])
def test_mentions_head_matches_graph_head(spark, source, labels):
    """The flat mentions head equals the graph head's exploded mentions,
    over either document source and with or without a label subset. Both
    heads call the same predict_doc, so this checks the document iterator
    and both output builders against each other."""
    from gliner_spark.operators.extraction import (
        extract_graph,
        extract_mentions,
        mentions_table,
        synth_ids,
    )
    from gliner_spark.presets import default_model
    from gliner_spark.sources.synth import synth_docs

    model = default_model()
    src = (
        synth_docs(spark, 200, partitions=8)
        if source == "docs"
        else synth_ids(spark, 200, partitions=8)
    )
    a = sorted(map(tuple, extract_mentions(src, model, labels=labels).collect()))
    b = sorted(
        map(tuple, mentions_table(extract_graph(src, model, labels=labels)).collect())
    )
    assert a == b and len(a) > 0


def test_dense_partitioning_invariance(spark):
    from gliner_spark.operators.extraction import extract_spans_dense
    from gliner_spark.sources.synth import synth_docs

    ck = _ckpt()
    a = sorted(
        map(tuple, extract_spans_dense(synth_docs(spark, 150, partitions=2), ck).collect())
    )
    b = sorted(
        map(tuple, extract_spans_dense(synth_docs(spark, 150, partitions=17), ck).collect())
    )
    assert a == b
