"""Adversarial document-shape hardening: the extraction UDF must handle
every degenerate spans[] layout without crashing and preserve invariants."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.operators.extraction import (
    extract_graph,
    mentions_table,
    span_fingerprint,
    triples_raw_table,
)
from gliner_spark.presets import default_model
from gliner_spark.sources.synth import DOCS_DDL


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_DDL)


def _sp(kind, text, ref=None, off=0):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off}


# every degenerate spans[] layout the heads must survive
SHAPES = [
    ("d-empty-spans", []),
    ("d-empty-text", [_sp("text", "")]),
    ("d-whitespace", [_sp("text", "   \t  ")]),
    ("d-media-only", [_sp("media", "a caption", "media://cafe01")]),
    ("d-unicode", [_sp("text", "héllo wörld 🦊 — alice almeida works at acme corp .")]),
    ("d-newlines", [_sp("text", "alice almeida\nworks at\nacme corp .")]),
    ("d-long", [_sp("text", ("acme corp visited lisbon . " * 400).strip())]),
    ("d-punct", [_sp("text", "!!! ??? ,,, ... ;;; acme corp !!!")]),
    (
        "d-mixed",
        [
            _sp("media", "lead image", "media://aa"),
            _sp("text", "bruno borisov founded hooli corp ."),
            _sp("media", "mid image", "media://bb"),
            _sp("text", "hooli corp is based in porto ."),
        ],
    ),
]


def test_degenerate_doc_shapes(spark):
    model = default_model()
    rows = SHAPES
    docs = _docs(spark, rows)
    graph = extract_graph(docs, model).cache()
    got = {r.doc_id: r for r in graph.collect()}
    assert set(got) == {r[0] for r in rows}

    # invariant echo holds for every shape
    for doc_id, spans in rows:
        assert got[doc_id].span_fp == span_fingerprint(spans)

    # empty/whitespace/media-only docs: no mentions, no crash
    for d in ("d-empty-spans", "d-empty-text", "d-whitespace", "d-media-only"):
        assert got[d].mentions == []

    # unicode/newline docs still find the planted entities
    m_uni = {m.text for m in got["d-unicode"].mentions}
    assert {"alice almeida", "acme corp"} <= m_uni
    assert {m.text for m in got["d-newlines"].mentions} == {
        "alice almeida", "acme corp"
    }

    # mixed doc: depicts triples anchor to the first mention, one per media
    t_mixed = [t for t in got["d-mixed"].triples if t.pred == "depicts"]
    assert {t.obj for t in t_mixed} == {"media://aa", "media://bb"}
    assert all(t.subj == "bruno borisov" for t in t_mixed)
    # and the planted relations survive interleaving
    preds = {t.pred for t in got["d-mixed"].triples}
    assert {"founded", "based_in"} <= preds

    # long doc: bounded pair explosion (cap respected)
    assert len(got["d-long"].triples) <= model.config.max_pairs_per_doc * len(
        model.relations
    )

    # char offsets always slice exactly, on every doc
    for doc_id, spans in rows:
        text = " ".join(s["text"] for s in spans if s["kind"] == "text")
        for m in got[doc_id].mentions:
            assert text[m.start : m.end] == m.text


@pytest.mark.parametrize(
    "head",
    ["graph", "mentions", "dense", "encoder", "triples_spans", "prompted"],
)
def test_degenerate_doc_shapes_every_head(spark, extraction_heads, head):
    """Every extraction head runs the nine shapes on a docs frame without
    a task failure, and its rows name only input documents; the graph
    head emits one row for every document."""
    ids = {r[0] for r in SHAPES}
    got = {r.doc_id for r in extraction_heads[head](_docs(spark, SHAPES)).collect()}
    assert got <= ids
    if head == "graph":
        assert got == ids


def test_null_media_ref_and_duplicate_surfaces(spark):
    model = default_model()
    rows = [
        ("d-dup", [_sp("text", "acme corp acquired acme corp .")]),
        ("d-null-ref", [_sp("media", "cap", None), _sp("text", "lena moreau visited cork .")]),
    ]
    graph = extract_graph(_docs(spark, rows), model).cache()
    got = {r.doc_id: r for r in graph.collect()}
    # duplicate surface -> two distinct mentions, self-relation allowed
    dup = got["d-dup"]
    assert len(dup.mentions) == 2
    assert {(m.start, m.end) for m in dup.mentions} == {(0, 9), (19, 28)}
    assert any(t.pred == "acquired" for t in dup.triples)
    # null media_ref: depicts triple object is null-safe (skipped or null)
    nr = got["d-null-ref"]
    for t in nr.triples:
        if t.pred == "depicts":
            assert t.obj is None or t.obj == ""
