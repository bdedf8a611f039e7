"""Stage 1+2: extraction heads over one document source, as ONE mapInArrow pass.

Mirrors the reference's relex forward, which emits entities and relations in
a single model pass (gliner/modeling/base.py:2256-2495, decoder.py:1121-93):
per document there is zero cross-document communication (SURVEY §3.3), so
every extraction head is "per batch of documents: assemble the text, call
the model, append output columns" — one Arrow-vectorized UDF, no shuffle,
no second scan of the corpus for relations.

Three pieces, shared by every head:
- the document source: a docs frame (doc_id, spans), or `synth_ids(...)`,
  a spark.range id range that runs gen_doc per id inside the same UDF (the
  synthetic spans never cross the Python->JVM->Python boundary between a
  synth stage and an extract stage; every doc is a pure function of its
  id, so the rows equal those over synth_docs(...));
- one per-batch document iterator (`_batch_docs`) yielding
  (doc_id, kinds, texts, refs) from either source;
- one runner (`_run`): ships the model or checkpoint once (sc.broadcast,
  or sc.addFile for a checkpoint path), prunes a docs frame to
  (doc_id, spans), and runs mapInArrow with the head's DDL.

A head is a per-batch accumulator: `add_doc(doc_id, kinds, texts, refs)`
then `finish() -> RecordBatch`. The graph head builds nested
mentions[]/triples[] arrays from offsets; the flat heads build typed
columns from row tuples.

The model object is broadcast once per job (the reference's frozen-prompt
mode, model.py:2455-2541, proves label embeddings can be precomputed and
reused for every batch — our broadcast variable is exactly that).

Scale notes (100 TB):
- input scan only reads (doc_id, spans) — column pruning reaches parquet;
- output is nested per doc (mentions[], triples[]) then exploded — explode
  is narrow (no shuffle).
"""

from __future__ import annotations

import hashlib
import os
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gliner_spark.core.dense import load_checkpoint_sparkfile, predict_spans_dense
from gliner_spark.core.encoders import DenseCheckpointBackend, SpanEncoder
from gliner_spark.core.model import GlinerSparkModel, normalize_surface

GRAPH_DDL = (
    "doc_id string, "
    "span_fp string, "
    "mentions array<struct<ent_idx:int,start:int,end:int,text:string,"
    "label:string,score:double,norm:string>>, "
    "triples array<struct<subj:string,pred:string,obj:string,"
    "subj_type:string,obj_type:string,score:double>>"
)
MENTIONS_DDL = (
    "doc_id string, ent_idx int, start int, end int, text string, "
    "label string, score double, norm string"
)
DENSE_SPANS_DDL = (
    "doc_id string, word_start int, word_end int, label string, score double"
)
TRIPLES_SPANS_DDL = (
    "doc_id string, subj string, pred string, obj string, "
    "h_ws int, h_we int, t_ws int, t_we int, score double"
)


def _span_fp_bytes(kind, text, ref) -> bytes:
    """THE single per-span byte encoding behind span_fp — shared by the
    dict/Row path (span_fingerprint) and the flat-array Arrow path so the
    resume/lineage invariant can never silently diverge between them
    (r5 review finding)."""
    return f"{kind}\x00{text}\x00{ref or ''}\x01".encode("utf-8")


def span_fingerprint(spans) -> str:
    """Order-sensitive fingerprint of the (kind, text, media_ref) sequence —
    the per-row invariant the pipeline must preserve (input_hint)."""
    h = hashlib.blake2b(digest_size=16)
    for sp in spans:
        kind = sp["kind"] if isinstance(sp, dict) else sp.kind
        text = sp["text"] if isinstance(sp, dict) else sp.text
        ref = sp["media_ref"] if isinstance(sp, dict) else sp.media_ref
        h.update(_span_fp_bytes(kind, text, ref))
    return h.hexdigest()


def _graph_arrow_types():
    import pyarrow as pa

    mention_t = pa.struct(
        [
            ("ent_idx", pa.int32()), ("start", pa.int32()),
            ("end", pa.int32()), ("text", pa.string()),
            ("label", pa.string()), ("score", pa.float64()),
            ("norm", pa.string()),
        ]
    )
    triple_t = pa.struct(
        [
            ("subj", pa.string()), ("pred", pa.string()),
            ("obj", pa.string()), ("subj_type", pa.string()),
            ("obj_type", pa.string()), ("score", pa.float64()),
        ]
    )
    out_schema = pa.schema(
        [
            ("doc_id", pa.string()), ("span_fp", pa.string()),
            ("mentions", pa.list_(mention_t)),
            ("triples", pa.list_(triple_t)),
        ]
    )
    return mention_t, triple_t, out_schema


class _GraphBatchAccum:
    """Per-batch columnar accumulator for the mentions+triples pass:
    every output value is appended to a flat python list and the nested
    mentions[]/triples[] columns are built ONCE per batch as pyarrow
    ListArray(StructArray) via offsets — no per-row dicts, no pandas
    block manager. The graph head of extract_graph, over either document
    source; its mentions equal extract_mentions' rows
    (test_mentions_head_matches_graph_head)."""

    def __init__(self, model, labels=None):
        self.model = model
        self.labels = labels
        self.o_doc, self.o_fp = [], []
        self.m_off = [0]
        self.m_idx, self.m_s, self.m_e = [], [], []
        self.m_text, self.m_label, self.m_score, self.m_norm = [], [], [], []
        self.t_off = [0]
        self.t_subj, self.t_pred, self.t_obj = [], [], []
        self.t_st, self.t_ot, self.t_sc = [], [], []

    def add_doc(self, doc_id, kinds, texts, refs):
        """kinds/texts/refs: the doc's span fields, in span order."""
        import hashlib

        text = " ".join(
            t for kd, t in zip(kinds, texts) if kd == "text"
        )
        mentions, tokens, _, _ = self.model.predict_doc(
            text, labels=self.labels
        )
        rels = self.model.predict_relations_doc(tokens, mentions)
        norms, labs = [], []
        for k, m in enumerate(mentions):
            n = normalize_surface(m["text"])
            self.m_idx.append(k)
            self.m_s.append(m["start"])
            self.m_e.append(m["end"])
            self.m_text.append(m["text"])
            self.m_label.append(m["label"])
            self.m_score.append(m["score"])
            self.m_norm.append(n)
            norms.append(n)
            labs.append(m["label"])
        self.m_off.append(len(self.m_idx))
        for r in rels:
            self.t_subj.append(norms[r["head_idx"]])
            self.t_pred.append(r["relation"])
            self.t_obj.append(norms[r["tail_idx"]])
            self.t_st.append(labs[r["head_idx"]])
            self.t_ot.append(labs[r["tail_idx"]])
            self.t_sc.append(r["score"])
        if norms:  # media spans participate as triple objects
            for kd, ref in zip(kinds, refs):
                if kd == "media":
                    self.t_subj.append(norms[0])
                    self.t_pred.append("depicts")
                    self.t_obj.append(ref)
                    self.t_st.append(labs[0])
                    self.t_ot.append("media")
                    self.t_sc.append(1.0)
        self.t_off.append(len(self.t_subj))
        self.o_doc.append(doc_id)
        # identical bytes to span_fingerprint() over dict rows —
        # _span_fp_bytes is the single shared encoding
        h = hashlib.blake2b(digest_size=16)
        for kd, t, ref in zip(kinds, texts, refs):
            h.update(_span_fp_bytes(kd, t, ref))
        self.o_fp.append(h.hexdigest())

    def finish(self):
        import pyarrow as pa

        mention_t, triple_t, out_schema = _graph_arrow_types()
        mentions_arr = pa.ListArray.from_arrays(
            pa.array(self.m_off, pa.int32()),
            pa.StructArray.from_arrays(
                [
                    pa.array(self.m_idx, pa.int32()),
                    pa.array(self.m_s, pa.int32()),
                    pa.array(self.m_e, pa.int32()),
                    pa.array(self.m_text, pa.string()),
                    pa.array(self.m_label, pa.string()),
                    pa.array(self.m_score, pa.float64()),
                    pa.array(self.m_norm, pa.string()),
                ],
                fields=list(mention_t),
            ),
        )
        triples_arr = pa.ListArray.from_arrays(
            pa.array(self.t_off, pa.int32()),
            pa.StructArray.from_arrays(
                [
                    pa.array(self.t_subj, pa.string()),
                    pa.array(self.t_pred, pa.string()),
                    pa.array(self.t_obj, pa.string()),
                    pa.array(self.t_st, pa.string()),
                    pa.array(self.t_ot, pa.string()),
                    pa.array(self.t_sc, pa.float64()),
                ],
                fields=list(triple_t),
            ),
        )
        return pa.RecordBatch.from_arrays(
            [
                pa.array(self.o_doc, pa.string()),
                pa.array(self.o_fp, pa.string()),
                mentions_arr,
                triples_arr,
            ],
            schema=out_schema,
        )


class synth_ids(NamedTuple):
    """The synthetic document source: ids 0..n_docs-1 in `partitions`
    contiguous ranges (spark.range; one fewer exchange than synth_docs'
    round-robin repartition), each turned into gen_doc(id, seed) inside
    the extraction UDF. Pass it wherever an `extract_*` takes `docs`."""

    spark: SparkSession
    n_docs: int
    seed: int = 42
    partitions: int = 32


def _batch_docs(rb, seed):
    """(doc_id, kinds, texts, refs) for each document of one input batch,
    the spans in order. `seed` None: a docs-frame batch, read columnar —
    the nested span structs come out as three flat child arrays plus
    per-doc lengths, so no per-span python dicts are ever built (to_pylist
    on a list<struct> column was a measurable slice of batch time).
    Otherwise a synth id batch: gen_doc once per id."""
    if seed is not None:
        from gliner_spark.sources.synth import gen_doc

        for i in rb.column(0).to_pylist():
            d = gen_doc(int(i), seed)
            spans = d["spans"]
            yield (
                d["doc_id"],
                [sp["kind"] for sp in spans],
                [sp["text"] for sp in spans],
                [sp["media_ref"] for sp in spans],
            )
        return
    import pyarrow.compute as pc  # explicit: pa.compute is NOT auto-loaded

    doc_ids = rb.column(rb.schema.get_field_index("doc_id"))
    spans_col = rb.column(rb.schema.get_field_index("spans"))
    lengths = [v.as_py() for v in pc.list_value_length(spans_col)]
    flat = spans_col.flatten()
    kinds = flat.field("kind").to_pylist()
    texts = flat.field("text").to_pylist()
    refs = flat.field("media_ref").to_pylist()
    pos = 0
    for doc_id, n_spans in zip(doc_ids.to_pylist(), lengths):
        lo, hi = pos, pos + (n_spans or 0)
        pos = hi
        yield doc_id, kinds[lo:hi], texts[lo:hi], refs[lo:hi]


# driver-side registry of shipped checkpoint basenames (collision guard)
_SHIPPED_CKPTS: dict = {}


def _ship_checkpoint(sc, ckpt_path) -> str:
    """sc.addFile a checkpoint npz with the basename-collision guard;
    returns the SparkFiles basename executors load by.

    SparkFiles keys executor files (and our per-worker cache) by BASENAME:
    two different checkpoints sharing a basename within one APPLICATION
    would silently serve the first one's weights — the registry key
    includes applicationId so a fresh SparkContext (fresh SparkFiles
    state) never trips a stale-process collision."""
    path = os.path.abspath(str(ckpt_path))
    name = os.path.basename(path)
    reg_key = (sc.applicationId, name)
    prev = _SHIPPED_CKPTS.get(reg_key)
    if prev is not None and prev != path:
        raise ValueError(
            f"checkpoint basename collision: {name!r} already shipped "
            f"from {prev!r} in this application; rename {path!r} "
            "(SparkFiles is basename-keyed per application)"
        )
    _SHIPPED_CKPTS[reg_key] = path
    sc.addFile(path)
    return name


def _run(docs, payload, ddl: str, head) -> DataFrame:
    """The one extraction runner: docs (a docs frame or synth_ids) ->
    ONE mapInArrow with schema `ddl`, zero shuffle.

    payload is the model or checkpoint object, shipped by an explicit
    sc.broadcast (once per executor, not per task closure — what matters
    when the weights are a real 100MB+ encoder), or a PATH to an .npz
    checkpoint, shipped by sc.addFile and lazy-loaded + cached per
    executor python worker (core/dense.load_checkpoint_sparkfile) — the
    seam a real exported GLiNER weight file drops into without pickling
    the arrays through the broadcast block store. head(payload, schema)
    makes one batch's accumulator; schema is `ddl` as an Arrow schema,
    parsed once on the driver."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    synth = isinstance(docs, synth_ids)
    spark = docs.spark if synth else docs.sparkSession
    sc = spark.sparkContext
    if isinstance(payload, (str, os.PathLike)):
        name = _ship_checkpoint(sc, payload)

        def load():
            return load_checkpoint_sparkfile(name)
    else:
        bc = sc.broadcast(payload)

        def load():
            return bc.value

    schema = to_arrow_schema(StructType.fromDDL(ddl))
    seed = docs.seed if synth else None

    def fn(batches):
        value = load()
        for rb in batches:
            acc = head(value, schema)
            for doc in _batch_docs(rb, seed):
                acc.add_doc(*doc)
            yield acc.finish()

    if not synth:
        src = docs.select("doc_id", "spans")  # column pruning to the scan
    elif docs.partitions:
        src = spark.range(0, docs.n_docs, 1, docs.partitions)
    else:
        src = spark.range(docs.n_docs)
    return src.mapInArrow(fn, schema=ddl)


def _doc_text(kinds, texts) -> str:
    """The model input: the doc's text spans joined by one space."""
    return " ".join(t for kd, t in zip(kinds, texts) if kd == "text")


class _FlatHead:
    """Per-batch accumulator of flat output rows: add_doc appends one
    tuple per row (in schema order), finish builds each typed column
    once — no per-row dicts, no pandas block manager."""

    def __init__(self, value, schema):
        self.value, self.schema, self.rows = value, schema, []

    def finish(self):
        import pyarrow as pa

        cols = list(zip(*self.rows)) or [()] * len(self.schema)
        return pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, self.schema)],
            schema=self.schema,
        )


class _MentionsHead(_FlatHead):
    def __init__(self, model, schema, labels=None):
        super().__init__(model, schema)
        self.labels = labels

    def add_doc(self, doc_id, kinds, texts, refs):
        mentions, _, _, _ = self.value.predict_doc(
            _doc_text(kinds, texts), labels=self.labels
        )
        self.rows += [
            (doc_id, k, m["start"], m["end"], m["text"], m["label"],
             m["score"], normalize_surface(m["text"]))
            for k, m in enumerate(mentions)
        ]


class _DenseHead(_FlatHead):
    def add_doc(self, doc_id, kinds, texts, refs):
        self.rows += [
            (doc_id, m["word_start"], m["word_end"], m["label"], m["score"])
            for m in predict_spans_dense(_doc_text(kinds, texts), self.value)
        ]


class _EncoderHead(_FlatHead):
    """Scores through the SpanEncoder protocol: the label prompts are
    derived via encode_labels once per batch (a few label strings —
    negligible next to the per-doc scoring)."""

    def __init__(self, ckpt, schema):
        super().__init__(ckpt, schema)
        self.enc = SpanEncoder(DenseCheckpointBackend(ckpt))
        self.lm = self.enc.encode_labels(ckpt.labels)
        self.marker = ckpt.marker()

    def add_doc(self, doc_id, kinds, texts, refs):
        ck = self.value
        span_idx, valid, probs = self.enc.score_text(
            _doc_text(kinds, texts), self.marker, self.lm, ck.scale,
            ck.bias, ck.max_width,
        )
        if probs.size == 0:
            return
        # one vectorized mask instead of a nonzero per valid row
        # (row-major emission order unchanged)
        keep = valid[:, None] & (probs >= ck.threshold)
        self.rows += [
            (doc_id, int(span_idx[i, 0]), int(span_idx[i, 1]),
             ck.labels[int(c)], float(probs[i, c]))
            for i, c in zip(*np.nonzero(keep))
        ]


class _TriplesSpansHead(_FlatHead):
    def add_doc(self, doc_id, kinds, texts, refs):
        m = self.value
        mentions, tokens, _, _ = m.predict_doc(_doc_text(kinds, texts))
        for r in m.predict_relations_doc(tokens, mentions):
            h, t = mentions[r["head_idx"]], mentions[r["tail_idx"]]
            self.rows.append(
                (doc_id, normalize_surface(h["text"]), r["relation"],
                 normalize_surface(t["text"]), h["word_start"],
                 h["word_end"], t["word_start"], t["word_end"], r["score"])
            )


def extract_graph(
    docs: DataFrame | synth_ids, model: GlinerSparkModel, labels=None
) -> DataFrame:
    """docs -> nested per-doc graph rows (GRAPH_DDL): mentions[] and
    triples[] (media spans become 'depicts' triples of the first
    mention) plus the span fingerprint. `labels` restricts extraction to
    a per-run label subset (zero-shot selection, reference
    predict_entities model.py:2333)."""
    return _run(
        docs, model, GRAPH_DDL,
        lambda m, _schema: _GraphBatchAccum(m, labels=labels),
    )


def extract_mentions(
    docs: DataFrame | synth_ids, model: GlinerSparkModel, labels=None
) -> DataFrame:
    """NER-only mode with an optional per-request label subset — the
    zero-shot surface (labels chosen at query time, reference
    predict_entities model.py:2333 + make_mapping utils.py:182-212).
    Flat mention rows (MENTIONS_DDL), no relation pass; the same rows as
    mentions_table(extract_graph(docs, model, labels=labels))."""
    return _run(
        docs, model, MENTIONS_DDL,
        lambda m, schema: _MentionsHead(m, schema, labels=labels),
    )


def extract_spans_dense(docs: DataFrame | synth_ids, ckpt) -> DataFrame:
    """Dense-encoder scoring stage: embedding lookup -> SpanMarkerV0 ->
    prompt matmul -> sigmoid >= threshold (core/dense.py; reference
    span_rep.py:464-511 + base.py:474). Emits the scored span grid — the
    decode stage is shared with the gather path and gated separately.

    ckpt is either a DenseCheckpoint (shipped by sc.broadcast) or a PATH
    to an .npz checkpoint file (shipped by sc.addFile; see _run)."""
    return _run(docs, ckpt, DENSE_SPANS_DDL, _DenseHead)


def extract_spans_encoder(docs: DataFrame | synth_ids, ckpt_path) -> DataFrame:
    """Scored span grid through the pluggable `SpanEncoder` BACKEND
    protocol (core/encoders.py) — the seam a real trained GLiNER drops
    into (reference model.py:639-691 load path; encoder.py:868-879 word
    vectors). The executor-side python worker builds
    SpanEncoder(DenseCheckpointBackend(ckpt)) from a SparkFiles-shipped
    npz, derives the mean-pooled label-prompt matrix through the protocol
    (encoders.SpanEncoder.encode_labels — reference label-encoder mean
    pooling, base.py:83-121), and scores each doc with
    SpanEncoder.score_text. Output contract and math are identical to
    extract_spans_dense (tests/test_encoders_seam.py proves the adapter
    bit-equal to core/dense.score_doc_dense), so the kg_mentions_dense
    oracle gates this path too — swapping in a torch/ONNX backend touches
    ZERO Spark code."""
    return _run(docs, ckpt_path, DENSE_SPANS_DDL, _EncoderHead)


def extract_triples_with_spans(
    docs: DataFrame | synth_ids, model: GlinerSparkModel
) -> DataFrame:
    """Relation triples annotated with head/tail WORD spans — the input the
    relex word-span evaluator matches on (reference evaluator.py:210-255:
    exact (rel_label, h_span, t_span) tuples). Text relations only (media
    'depicts' triples carry no spans)."""
    return _run(docs, model, TRIPLES_SPANS_DDL, _TriplesSpansHead)


def mentions_table(graph: DataFrame) -> DataFrame:
    """Explode to the mentions schema (FIXTURES.md §4)."""
    return graph.select(
        "doc_id", F.explode("mentions").alias("m")
    ).select(
        "doc_id",
        F.col("m.ent_idx").alias("ent_idx"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.text").alias("text"),
        F.col("m.label").alias("label"),
        F.col("m.score").alias("score"),
        F.col("m.norm").alias("norm"),
    )


def triples_raw_table(graph: DataFrame) -> DataFrame:
    """Explode to raw (surface-form) triples."""
    return graph.select(
        "doc_id", F.explode("triples").alias("t")
    ).select("doc_id", "t.*")
