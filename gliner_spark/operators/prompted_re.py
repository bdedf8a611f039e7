"""Prompt-based two-pass relation extraction.

Reference: GLiNERRelationExtractor (gliner/multitask/relation_extraction.py:
13-181) — pass 1 runs NER over the bare text; per document, composite
labels ``"{entity_text} <> {relation}"`` are built from the pass-1 entity
set × the relation list (prepare_source_relation, :82-92); pass 2 scores
the prompted text against those per-doc labels and each hit parses back
into (source, relation, target) (process_predictions, :94-127).

Spark shape: one more head of the extraction runner (extraction._run) —
the two passes are fused into ONE mapInArrow. Per-doc label lists are
plain per-row state, so chaining the passes inside the UDF keeps the
whole pipeline a single narrow stage (zero shuffle, one corpus scan),
instead of materializing pass-1 output and re-joining it for pass 2. The
model ships by sc.broadcast once per executor.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame

from gliner_spark.core.model import GlinerSparkModel
from gliner_spark.operators.extraction import (
    _doc_text,
    _FlatHead,
    _run,
    synth_ids,
)

PROMPTED_RE_DDL = (
    "doc_id string, source string, relation string, target string, "
    "score double, start int, end int"
)


class _PromptedHead(_FlatHead):
    def __init__(self, model, schema, rel_list, entities):
        super().__init__(model, schema)
        self.rel_list, self.entities = rel_list, entities

    def add_doc(self, doc_id, kinds, texts, refs):
        m = self.value
        text = _doc_text(kinds, texts)
        # pass 1: NER
        mentions, toks, st, en = m.predict_doc(text, labels=self.entities)
        # per-doc composite labels (prepare_source_relation :82-92;
        # unique entity texts × relations)
        uniq = list(dict.fromkeys(mn["text"] for mn in mentions))
        comp = [f"{ent} <> {rel}" for rel in self.rel_list for ent in uniq]
        # pass 2: composite-label scoring + parse-back (pass-1 tokens
        # reused — same splitter, same text)
        self.rows += [
            (doc_id, r["source"], r["relation"], r["target"], r["score"],
             r["start"], r["end"])
            for r in m.predict_doc_composite(
                text, comp, pretokenized=(toks, st, en)
            )
        ]


def extract_relations_prompted(
    docs: DataFrame | synth_ids,
    model: GlinerSparkModel,
    relations: Optional[Sequence[str]] = None,
    entities: Optional[Sequence[str]] = None,
) -> DataFrame:
    """docs -> (doc_id, source, relation, target, score, start, end).

    relations: relation label list for the composite prompts (defaults to
        the model's full relation set — reference __call__ `relations`).
    entities: pass-1 entity label subset (reference `entities` arg).
    """
    rel_list: List[str] = list(relations) if relations else list(model.relations)
    return _run(
        docs, model, PROMPTED_RE_DDL,
        lambda m, schema: _PromptedHead(m, schema, rel_list, entities),
    )
