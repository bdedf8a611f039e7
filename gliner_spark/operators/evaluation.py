"""Join-based micro P/R/F1 (reference evaluator semantics).

Mirrors gliner/evaluation/evaluator.py:33-194: exact-match counting of
(key...) tuples, micro-averaged — expressed as joins + counts (SURVEY §2.4),
never a collect.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def micro_prf(pred: DataFrame, gold: DataFrame, keys: List[str]) -> DataFrame:
    """One-row (n_pred, n_gold, tp, precision, recall, f1).

    Exact-match on `keys`, duplicates collapsed (set semantics, matching the
    reference's set-style counting). SINGLE-PASS: one full-outer join + one
    aggregation — three separate count() actions would re-run the entire
    upstream (including any model UDFs) once each.
    """
    p = pred.select(*keys).distinct().withColumn("in_p", F.lit(1))
    g = gold.select(*keys).distinct().withColumn("in_g", F.lit(1))
    agg = p.join(g, keys, "full_outer").agg(
        F.coalesce(F.sum("in_p"), F.lit(0)).cast("long").alias("n_pred"),
        F.coalesce(F.sum("in_g"), F.lit(0)).cast("long").alias("n_gold"),
        F.coalesce(F.sum(F.col("in_p") * F.col("in_g")), F.lit(0))
        .cast("long")
        .alias("tp"),
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(0.0)
    return (
        agg.withColumn("precision", prec)
        .withColumn("recall", rec)
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(0.0),
        )
        .select("n_pred", "n_gold", "tp", "precision", "recall", "f1")
    )


def span_prf(pred_mentions: DataFrame, gold_mentions: DataFrame) -> DataFrame:
    """Span micro-F1 on (doc_id, label, start, end) — evaluator.py:132-194."""
    return micro_prf(pred_mentions, gold_mentions, ["doc_id", "label", "start", "end"])


def relex_prf(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Relex WORD-SPAN micro-F1: exact (rel_label, head_span, tail_span)
    matching — the reference relation evaluator's strict mode
    (evaluator.py:210-255). Inputs carry (doc_id, pred, h_ws, h_we, t_ws,
    t_we), e.g. from extraction.extract_triples_with_spans."""
    return micro_prf(
        pred, gold, ["doc_id", "pred", "h_ws", "h_we", "t_ws", "t_we"]
    )


def docred_prf(
    pred: DataFrame, gold: DataFrame, per_doc: bool = False
) -> DataFrame:
    """DocRED-style relation evaluation (reference GLiNERDocREDEvaluator,
    multitask/relation_extraction.py:184-280): predictions and gold are
    compared as ``"source <> relation <> target"`` STRING SETS.

    per_doc=False reproduces the reference exactly — it flattens labels
    across documents into one global set (identical strings from different
    docs collapse); per_doc=True keys by doc_id (the stricter variant).
    Inputs: (doc_id, source, relation, target)-shaped DataFrames."""
    key = F.concat_ws(" <> ", "source", "relation", "target").alias("triple")
    cols = (["doc_id", key] if per_doc else [key])
    keys = (["doc_id", "triple"] if per_doc else ["triple"])
    return micro_prf(pred.select(*cols), gold.select(*cols), keys)


def squad_prf(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """SQuAD-style extractive-QA scoring (reference GLiNERSquadEvaluator,
    question_answering.py:139-230): exact-match rate + mean token-overlap
    F1 over (doc_id, answer) vs (doc_id, gold_answer). Token overlap uses
    set semantics (answers are short surfaces).

    Protocol (SQuAD official eval): the GOLD question set is the
    population — per question, score = MAX over its reference answers
    (a question may carry several), a question with no prediction
    scores 0, and `n` counts questions, never pred x gold pairs."""
    p = pred.select("doc_id", F.col("answer").alias("p"))
    g = gold.select("doc_id", F.col("gold_answer").alias("g"))
    j = g.join(p, "doc_id", "left")
    pt, gt = F.split("p", " "), F.split("g", " ")
    inter = F.size(F.array_intersect(pt, gt)).cast("double")
    prec = inter / F.size(pt)
    rec = inter / F.size(gt)
    f1 = F.coalesce(
        F.when(inter > 0, 2 * prec * rec / (prec + rec)), F.lit(0.0)
    )
    em = F.coalesce((F.col("p") == F.col("g")).cast("double"), F.lit(0.0))
    per_q = j.groupBy("doc_id").agg(
        F.max(em).alias("em"), F.max(f1).alias("f1")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("em"), 6).alias("exact_match"),
        F.round(F.avg("f1"), 6).alias("token_f1"),
    )


def keyword_extractor_prf(docs: DataFrame, set_a: List[str], set_b: List[str]) -> DataFrame:
    """Fully-relational P/R/F1 between two deterministic keyword extractors
    over documents — the oracle-checkable instance of the evaluator operator
    (one dataflow; pred = tokens in set_a, gold = tokens in set_b)."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    pred = toks.filter(F.col("tok").isin(set_a))
    gold = toks.filter(F.col("tok").isin(set_b))
    return micro_prf(pred, gold, ["doc_id", "tok"])


def linking_quality(surface_map: DataFrame) -> DataFrame:
    """Entity-resolution quality of canonicalization vs alias-group gold:
    mention-weighted B-cubed P/R/F1 (Bagga & Baldwin 1998, the standard
    coreference/ER cluster metric) plus pairwise P/R/F1 (Menestrina et
    al. 2010), per label, in integer MICRO-UNITS so the DuckDB oracle
    replays every division bit-for-bit (the ev_rotate trick: quantize
    per-cell BEFORE summing so aggregation order can't matter).

    Gold alias groups: the synthetic gazetteer builds organization
    surfaces as stem x suffix ("acme corp"/"acme industries"), so gold
    identity for organizations is the stem (first token) and the full
    surface otherwise. That makes BOTH error directions observable:
    the LSH linker under-merges when it misses a stem pair (recall < 1)
    and over-merges when it bridges distinct golds (precision < 1) —
    against a surface-identity gold, recall would be structurally 1
    because linking keys on the normalized surface.

    Shape at scale: surface_map is the post-linking vocabulary table
    (surfaces saturate far below corpus size); everything here is three
    grouped integer aggregates over it plus label-key joins of per-label
    singletons. The mention-weighted cells ride n_mentions — no pass
    over the mention table itself. Pairwise numerators are C(n,2) in
    bigint; at >~10^6 mentions per gold group the 10^6-scaled ratios
    approach bigint range — permille units would be the scale valve.
    """
    from gliner_spark.cache import attach_caches, forward_caches

    sm = surface_map.select(
        "label",
        "entity_id",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.when(
            F.col("label") == "organization", F.split("norm", " ")[0]
        )
        .otherwise(F.col("norm"))
        .alias("gold_id"),
    )
    cells = (
        sm.groupBy("label", "entity_id", "gold_id")
        .agg(F.sum("n_mentions").alias("inter"))
        .persist()
    )
    csize = cells.groupBy("label", "entity_id").agg(
        F.sum("inter").alias("csize")
    )
    gsize = cells.groupBy("label", "gold_id").agg(
        F.sum("inter").alias("gsize")
    )
    j = cells.join(csize, ["label", "entity_id"]).join(
        gsize, ["label", "gold_id"]
    )
    per_cells = j.groupBy("label").agg(
        F.sum("inter").cast("long").alias("n_mentions"),
        F.expr("sum((1000000 * inter * inter) DIV csize)").alias("b3p_num"),
        F.expr("sum((1000000 * inter * inter) DIV gsize)").alias("b3r_num"),
        F.expr("sum((inter * (inter - 1)) DIV 2)").alias("tp_pairs"),
    )
    per_c = csize.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.expr("sum((csize * (csize - 1)) DIV 2)").alias("pred_pairs"),
    )
    per_g = gsize.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_gold"),
        F.expr("sum((gsize * (gsize - 1)) DIV 2)").alias("gold_pairs"),
    )

    res = per_cells.join(per_c, "label").join(per_g, "label")
    b3p = F.expr("b3p_num DIV n_mentions")
    b3r = F.expr("b3r_num DIV n_mentions")
    pwp = F.when(
        F.col("pred_pairs") > 0,
        F.expr("(1000000 * tp_pairs) DIV pred_pairs"),
    ).otherwise(F.lit(0))
    pwr = F.when(
        F.col("gold_pairs") > 0,
        F.expr("(1000000 * tp_pairs) DIV gold_pairs"),
    ).otherwise(F.lit(0))
    out = (
        res.withColumn("b3_p_micro", b3p.cast("long"))
        .withColumn("b3_r_micro", b3r.cast("long"))
        .withColumn("pw_p_micro", pwp.cast("long"))
        .withColumn("pw_r_micro", pwr.cast("long"))
        .withColumn(
            "b3_f1_micro",
            F.when(
                F.col("b3_p_micro") + F.col("b3_r_micro") > 0,
                F.expr("(2 * b3_p_micro * b3_r_micro)"
                       " DIV (b3_p_micro + b3_r_micro)"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "pw_f1_micro",
            F.when(
                F.col("pw_p_micro") + F.col("pw_r_micro") > 0,
                F.expr("(2 * pw_p_micro * pw_r_micro)"
                       " DIV (pw_p_micro + pw_r_micro)"),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .select(
            "label", "n_mentions", "n_clusters", "n_gold",
            "b3_p_micro", "b3_r_micro", "b3_f1_micro",
            "pw_p_micro", "pw_r_micro", "pw_f1_micro",
        )
        .orderBy("label")
    )
    return attach_caches(forward_caches(out, surface_map), cells)
