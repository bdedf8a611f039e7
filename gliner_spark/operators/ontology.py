"""RDFS-style ontology materialization over the constructed KG — the
type-inference step a production KG runs after extraction (what
Jena/RDFox call forward-chaining the rdfs9/rdfs11 entailments): close
every asserted entity type upward through the subclass hierarchy and
materialize one (entity, type, depth) row per entailed class, plus
rdfs7 subproperty expansion of the triple set itself.

Reference scope note: urchade/GLiNER emits flat typed mentions; the
ontology layer is beyond-reference pipeline mandate (SURVEY.md §2.11).

Spark-first shape: the ontology is a dozen constant axioms, so its
transitive closure is computed AT PLAN BUILD in pure python (no
iterative job for a constant) and shipped as a broadcast literal join
table; the data-side work is one distinct over (entity, asserted_type)
pairs — vocabulary-sized, not corpus-sized — one broadcast join, and
one grouped min. Nothing iterates over the cluster for the hierarchy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import forward_caches
from gliner_spark.gate import local_result

# subclass DAG (child -> parent). Multi-level chains exercise rdfs11
# transitivity; the two-parent diamond would also be legal (dict of
# lists) but the gazetteer's four types don't motivate one.
SUBCLASS = {
    "person": "agent",
    "organization": "agent",
    "agent": "entity",
    "location": "place",
    "place": "entity",
    "date": "temporal",
    "temporal": "entity",
    "media": "resource",
    "resource": "entity",
}

# subproperty axioms (child -> parent), rdfs7: p sub q, (x p y) => (x q y)
SUBPROPERTY = {
    "works_at": "affiliated_with",
    "founded": "affiliated_with",
    "born_in": "linked_to_place",
    "visited": "linked_to_place",
    "based_in": "linked_to_place",
}


def _closure(dag: dict) -> list:
    """[(cls, ancestor, hops)] with hops >= 1, plus implicit (c, c, 0).

    Pure python over the constant axiom set; raises on cycles."""
    out = []
    for c in sorted(set(dag) | set(dag.values())):
        seen, cur, hops = {c}, c, 0
        while cur in dag:
            cur, hops = dag[cur], hops + 1
            if cur in seen:
                raise ValueError(f"subclass cycle through {cur!r}")
            seen.add(cur)
            out.append((c, cur, hops))
    return out


def rdfs_types(
    triples: DataFrame, driver_max_rows: int | None = None
) -> DataFrame:
    """Materialized entity-type table under rdfs9/rdfs11.

    Output: (entity, type, depth) — depth = min subclass hops from an
    asserted type (0 = asserted directly by the extractor). One row per
    entailed (entity, type); ordered for the oracle."""
    asserted_raw = triples.select(
        F.col("subj").alias("entity"), F.col("subj_type").alias("cls")
    ).unionByName(
        triples.select(
            F.col("obj").alias("entity"), F.col("obj_type").alias("cls")
        )
    )
    arows = gate.dedup(asserted_raw, ("entity", "cls"), driver_max_rows)
    if arows is not None:
        # driver path (GRAPH_DRIVER_MAX_EDGES gate): the closure is a
        # python constant already; replay the broadcast join + grouped
        # min over one bounded collect of the distinct (entity, type)
        # pairs
        up_map: dict = {}
        for c, anc, hops in _closure(SUBCLASS):
            up_map.setdefault(c, []).append((anc, hops))
        best: dict = {}
        for e_, c_ in arows:
            if best.get((e_, c_), 1 << 30) > 0:
                best[(e_, c_)] = 0
            for anc, hops in up_map.get(c_, ()):
                k = (e_, anc)
                if hops < best.get(k, 1 << 30):
                    best[k] = hops
        data = sorted((e_, t_, d_) for (e_, t_), d_ in best.items())
        return local_result(
            triples, data, "entity string, type string, depth long",
            ["entity", "type"],
        )
    asserted = asserted_raw.distinct()
    closure = local_result(
        triples, _closure(SUBCLASS), "cls string, anc string, hops int",
        forward=False,
    )
    direct = asserted.select(
        "entity", F.col("cls").alias("type"), F.lit(0).alias("hops")
    )
    up = asserted.join(F.broadcast(closure), "cls").select(
        "entity", F.col("anc").alias("type"), "hops"
    )
    out = (
        direct.unionByName(up)
        .groupBy("entity", "type")
        .agg(F.min("hops").cast("long").alias("depth"))
        .orderBy("entity", "type")
    )
    return forward_caches(out, triples)


def subproperty_triples(
    triples: DataFrame, driver_max_rows: int | None = None
) -> DataFrame:
    """rdfs7 forward chaining: materialize the triples entailed by the
    subproperty axioms that are not already asserted.

    Output: (subj, pred, obj, via_pred, subj_type, obj_type) — one row
    per distinct entailed fact, `via_pred` = the asserted predicate that
    produced it (provenance). Entailed facts already asserted under the
    superproperty are anti-joined out (closed-world materialization
    delta, the same contract as kg_completion.apply_rules).

    Shape: broadcast axiom join + one distinct + one anti-join."""
    brows = gate.dedup(
        triples, ("subj", "pred", "obj", "subj_type", "obj_type"),
        driver_max_rows,
    )
    if brows is not None:
        # driver path (GRAPH_DRIVER_MAX_EDGES gate): axiom join,
        # distinct and anti-join replayed over one bounded collect of
        # the distinct typed facts
        known = {(s_, p_, o_) for s_, p_, o_, _st, _ot in brows}
        inferred = {
            (s_, SUBPROPERTY[p_], o_, p_, st_, ot_)
            for s_, p_, o_, st_, ot_ in brows
            if p_ in SUBPROPERTY
        }
        data = sorted(
            r for r in inferred if (r[0], r[1], r[2]) not in known
        )
        return local_result(
            triples, data,
            "subj string, pred string, obj string, via_pred string, "
            "subj_type string, obj_type string",
            ["subj", "pred", "obj", "via_pred"],
        )
    ax = local_result(
        triples, sorted(SUBPROPERTY.items()), "pred string, super string",
        forward=False,
    )
    base = triples.select(
        "subj", "pred", "obj", "subj_type", "obj_type"
    ).distinct()
    inferred = (
        base.join(F.broadcast(ax), "pred")
        .select(
            "subj",
            F.col("super").alias("pred"),
            "obj",
            F.col("pred").alias("via_pred"),
            "subj_type",
            "obj_type",
        )
        .distinct()
    )
    # no distinct: left_anti is existence-only, so deduplicating the
    # probe side would just add a shuffle
    known = triples.select("subj", "pred", "obj")
    out = inferred.join(known, ["subj", "pred", "obj"], "left_anti").orderBy(
        "subj", "pred", "obj", "via_pred"
    )
    return forward_caches(out, triples)
