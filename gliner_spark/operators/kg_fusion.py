"""Knowledge-fusion operators over the constructed graph: conflict
resolution and fact ranking — what a consumer runs on the triples table
right before publishing an entity.

- fuse_functional: single-truth selection for conflicting object
  assertions — the knowledge-fusion vote of Dong et al. 2014 (Knowledge
  Vault) / Dong et al. 2009 (truth discovery), reduced to its
  deterministic core: per (subj, pred) with >= 2 distinct asserted
  objects, pick the object with the most distinct supporting documents
  and report how contested the choice was.
- fact_rank: top-m fact selection per entity for entity-card /
  summarization use (the LinkSum / RELIN shape, Thalhammer et al.
  2016): rank a subject's facts by support x inverse predicate
  frequency so rare-predicate, well-attested facts rise above
  boilerplate.

Reference scope note: urchade/GLiNER emits mentions/relations
(model.py predict_entities); fusing the emitted triples into a
publishable graph is the beyond-reference pipeline mandate
(SURVEY.md §2.11).

Determinism contract: votes are exact distinct-doc counts, scores are
integer products with floor-division rarity units, ties break on the
lexicographically smallest object / (pred, obj) — bit-replayable in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import forward_caches
from gliner_spark.gate import local_result

FUSE_MIN_OBJECTS = 2   # emit only genuinely contested (subj, pred) groups
FACT_TOP_M = 3         # facts kept per entity card
FR_UNIT = 1_000_000    # rarity micro-units (1.0 == 1e6)


def _vote_cols(
    triples: DataFrame, driver_max_rows: int | None, exclude_media: bool
):
    """Tiered bounded collect of the distinct-doc vote counts per
    (subj, pred, obj) — the shared driver-gate entry of fuse_functional
    and fact_rank. The countDistinct replays with pyarrow count_distinct
    (exact on strings) on gate.group's raw tier. Returns column lists
    (subs, preds, objs, counts) sorted by (subj, pred, obj) if the
    distinct-fact count fits the bound, else None."""
    base = (
        triples.filter(F.col("obj_type") != "media")
        if exclude_media
        else triples
    )
    tbl = gate.group(
        base, ["subj", "pred", "obj"], [("doc_id", "count_distinct")],
        driver_max_rows,
    )
    return None if tbl is None else tuple(c.to_pylist() for c in tbl.columns)


def _fuse_driver(cols, min_objects: int):
    """Driver replay of fuse_functional's contest windows over the
    collected (subj, pred, obj, n_support) votes, which arrive sorted by
    (subj, pred, obj): per contiguous (subj, pred) group the winner is
    max n_support with ties to the smallest obj (== the row_number
    window's (desc n_support, asc obj) order), and confidence is the
    same nonneg integer DIV. All-integer output."""
    subs, preds, objs, ns = cols
    out = []
    i, n = 0, len(subs)
    while i < n:
        j = i
        best_obj, best_n, total = None, -1, 0
        while j < n and subs[j] == subs[i] and preds[j] == preds[i]:
            total += ns[j]
            if ns[j] > best_n:  # objs ascend within the group
                best_n, best_obj = ns[j], objs[j]
            j += 1
        n_objects = j - i
        if n_objects >= min_objects:
            out.append((
                subs[i], preds[i], best_obj, best_n, n_objects, total,
                (1000 * best_n) // total,
            ))
        i = j
    return out


def _fact_rank_driver(cols, top_m: int):
    """Driver replay of fact_rank's rarity scoring + per-subject top-m
    window over the collected votes (sorted by (subj, pred, obj)):
    rarity = FR_UNIT DIV per-pred distinct-fact count, score =
    n_support * rarity, rank by (desc score, asc pred, asc obj). All
    integer arithmetic; group order matches the output orderBy."""
    subs, preds, objs, ns = cols
    predfreq: dict = {}
    for p in preds:
        predfreq[p] = predfreq.get(p, 0) + 1
    rarity = {p: FR_UNIT // c for p, c in predfreq.items()}
    out = []
    i, n = 0, len(subs)
    while i < n:
        j = i
        while j < n and subs[j] == subs[i]:
            j += 1
        group = sorted(
            (
                (-(ns[k] * rarity[preds[k]]), preds[k], objs[k], ns[k])
                for k in range(i, j)
            )
        )
        for rank, (negscore, p, o, sup) in enumerate(
            group[:top_m], start=1
        ):
            out.append((subs[i], rank, p, o, sup, -negscore))
        i = j
    return out


def fuse_functional(
    triples: DataFrame, min_objects: int = FUSE_MIN_OBJECTS,
    driver_max_rows: int | None = None,
) -> DataFrame:
    """Resolve conflicting object assertions per (subj, pred) by
    distinct-document vote.

    For every (subj, pred) carrying at least `min_objects` distinct
    objects, emit the winning object (most distinct supporting docs;
    ties to the lexicographically smallest object) plus the contest
    profile: how many rival objects, the total vote mass, and the
    winner's share in integer permille. Media objects are excluded —
    they are refs, not competing truth claims (same rule as
    cooc_candidates).

    Shape at scale: one distinct-doc vote aggregate on
    (subj, pred, obj), then a window over (subj, pred) whose width is
    the number of DISTINCT objects asserted for one subject-predicate —
    a Zipf-small contest set (rival truth claims, not corpus rows), so
    no cap is needed: the window sorts claims, it never joins them.
    """
    # r7: below the shared distinct-fact bound the vote aggregate and
    # the contest windows replay on the driver from one raw Arrow
    # collect (all-integer output); the distributed plan (unchanged) is
    # the scale path above it
    cols = _vote_cols(triples, driver_max_rows, exclude_media=True)
    if cols is not None:
        return local_result(
            triples, _fuse_driver(cols, min_objects),
            "subj string, pred string, obj_fused string, "
            "n_support long, n_objects long, total_votes long, "
            "confidence_permille long",
            ["subj", "pred"],
        )
    votes = (
        triples.filter(F.col("obj_type") != "media")
        .groupBy("subj", "pred", "obj")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_support"))
    )
    g = Window.partitionBy("subj", "pred")
    w = Window.partitionBy("subj", "pred").orderBy(
        F.desc("n_support"), F.asc("obj")
    )
    out = (
        votes.withColumn("n_objects", F.count(F.lit(1)).over(g).cast("long"))
        .withColumn("total_votes", F.sum("n_support").over(g).cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1) & (F.col("n_objects") >= min_objects)
        )
        .select(
            "subj",
            "pred",
            F.col("obj").alias("obj_fused"),
            "n_support",
            "n_objects",
            "total_votes",
            F.expr("1000 * n_support DIV total_votes").alias(
                "confidence_permille"
            ),
        )
        .orderBy("subj", "pred")
    )
    return forward_caches(out, triples)


def fact_rank(
    triples: DataFrame, top_m: int = FACT_TOP_M,
    driver_max_rows: int | None = None,
) -> DataFrame:
    """Top-m facts per subject entity for an entity card.

    Score = n_support * (FR_UNIT DIV n_facts(pred)): distinct-doc
    support scaled by inverse predicate frequency (rarity in integer
    micro-units over the DISTINCT-fact count of the predicate), the
    exponent-free core of the tf-idf-style fact ranking entity
    summarizers use (LinkSum's frequency backlink mix) — a
    well-attested rare-predicate fact beats an equally-attested
    boilerplate one. Ties break on (pred, obj) so ranks are total.

    Shape at scale: one vote aggregate on (subj, pred, obj), one tiny
    per-predicate distinct-fact count broadcast back, one window over
    subj whose width is the entity's own fact count (bounded by the
    extractor's per-doc emission, not the corpus).
    """
    # r7: same driver gate as fuse_functional (shared _vote_cols entry;
    # fact_rank votes over ALL facts, media included)
    cols = _vote_cols(triples, driver_max_rows, exclude_media=False)
    if cols is not None:
        return local_result(
            triples, _fact_rank_driver(cols, top_m),
            "entity string, rank long, pred string, obj string, "
            "n_support long, fact_score long",
            ["entity", "rank"],
        )
    facts = triples.groupBy("subj", "pred", "obj").agg(
        F.countDistinct("doc_id").cast("long").alias("n_support")
    )
    predfreq = facts.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_facts_pred")
    )
    w = Window.partitionBy("subj").orderBy(
        F.desc("fact_score"), F.asc("pred"), F.asc("obj")
    )
    out = (
        facts.join(F.broadcast(predfreq), "pred")
        .withColumn("rarity", F.expr(f"{FR_UNIT} DIV n_facts_pred"))
        .withColumn(
            "fact_score",
            (F.col("n_support") * F.col("rarity")).cast("long"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_m)
        .select(
            F.col("subj").alias("entity"),
            F.col("rank").cast("long").alias("rank"),
            "pred",
            "obj",
            "n_support",
            "fact_score",
        )
        .orderBy("entity", "rank")
    )
    return forward_caches(out, triples)
