"""r7: every extraction head over the fused synth source (synth_ids) must
emit exactly the rows of its two-stage composition (synth_docs ->
extract_*)."""

import pytest

N = 400


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def model():
    from gliner_spark.presets import default_model

    return default_model()


def test_fused_graph_matches_two_stage(spark, model):
    from gliner_spark.operators.extraction import (
        extract_graph,
        mentions_table,
        synth_ids,
        triples_raw_table,
    )
    from gliner_spark.sources.synth import synth_docs

    fused = extract_graph(synth_ids(spark, N), model)
    two = extract_graph(synth_docs(spark, N, partitions=8), model)
    for tab in (mentions_table, triples_raw_table):
        assert _sorted_rows(tab(fused)) == _sorted_rows(tab(two))
    # span fingerprints identical too (resume/lineage invariant)
    assert _sorted_rows(fused.select("doc_id", "span_fp")) == _sorted_rows(
        two.select("doc_id", "span_fp")
    )


def test_fused_mentions_only_matches(spark, model):
    from gliner_spark.operators.extraction import (
        extract_mentions,
        synth_ids,
    )
    from gliner_spark.sources.synth import synth_docs

    labels = ["person", "location"]
    fused = extract_mentions(synth_ids(spark, N), model, labels=labels)
    two = extract_mentions(
        synth_docs(spark, N, partitions=8), model, labels=labels
    )
    assert _sorted_rows(fused) == _sorted_rows(two)


def test_fused_dense_and_encoder_match(spark):
    import os
    import tempfile

    import __spark_entry__ as entry
    from gliner_spark.operators.extraction import (
        extract_spans_dense,
        extract_spans_encoder,
        synth_ids,
    )
    from gliner_spark.sources.synth import synth_docs

    ck = entry._dense_ckpt()
    fused = extract_spans_dense(synth_ids(spark, N), ck)
    two = extract_spans_dense(synth_docs(spark, N, partitions=8), ck)
    rows = _sorted_rows(fused)
    assert rows == _sorted_rows(two)
    p = os.path.join(tempfile.gettempdir(), "gs_r7_fused_enc.npz")
    ck.save_npz(p)
    assert _sorted_rows(extract_spans_encoder(synth_ids(spark, N), p)) == rows


def test_fused_prompted_and_spans_match(spark, model):
    from gliner_spark.operators.extraction import (
        extract_triples_with_spans,
        synth_ids,
    )
    from gliner_spark.operators.prompted_re import extract_relations_prompted
    from gliner_spark.sources.synth import synth_docs

    docs = synth_docs(spark, N, partitions=8)
    assert _sorted_rows(
        extract_relations_prompted(synth_ids(spark, N), model)
    ) == _sorted_rows(extract_relations_prompted(docs, model))
    assert _sorted_rows(
        extract_triples_with_spans(synth_ids(spark, N), model)
    ) == _sorted_rows(extract_triples_with_spans(docs, model))
