"""Conjunctive query (basic graph pattern) matching over the
constructed KG — the SPARQL BGP / Datalog conjunctive-query core that
makes a triples table *queryable* rather than merely materialized.

- conjunctive_match: bind a connected pattern of (subj, pred, obj)
  atoms with ?variables against the canonical triples table and return
  one row per distinct variable binding.

Reference scope note: urchade/GLiNER emits the triples
(model.py predict_entities / predict_relations); answering structured
queries over the emitted graph is the beyond-reference pipeline
mandate (SURVEY.md §2.11).

Spark-first shape: every atom compiles to a predicate-filtered
projection of the triples scan (the pred filter is pushed to the
parquet/source scan; only subj/obj columns survive pruning), and the
pattern compiles to a chain of equi-joins on shared variables — the
exact plan a SPARQL engine's worst-case-optimal alternatives degrade
to for acyclic patterns, and the one Catalyst can optimize: selective
atoms become broadcast sides under AQE, join order within the chain
reorders freely because each step is a plain inner equi-join.
Disconnected patterns are rejected (they would be cartesian products).

Determinism contract: output is the DISTINCT set of bindings, columns
named by variable sorted lexicographically — replayable as a plain
self-join in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import forward_caches
from gliner_spark.gate import edge_rows, local_result


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _pattern_edge_index(triples: DataFrame, all_atoms, driver_max_rows):
    """Driver-gate entry of conjunctive_match / optional_match: the
    distinct (subj, pred, obj) edges restricted to the pattern's
    constant predicates (the gate's predicate view: derived from the
    frame's edge snapshot if one exists, else one bounded collect).
    Returns {pred: [(s, o), ...]} or None (caller keeps the distributed
    plan)."""
    preds = sorted({p for _s, p, _o in all_atoms if not _is_var(p)})
    rows = edge_rows(triples, "preds", driver_max_rows, preds)
    if rows is None:
        return None
    idx: dict = {}
    for s, p, o in rows:
        idx.setdefault(p, []).append((s, o))
    return idx


def _atom_rows(edge_index, i: int, s: str, p: str, o: str):
    """_bind_pattern's atom_df replayed: (cols, distinct rows) of one
    atom's bindings, with the same validation errors."""
    if _is_var(p):
        raise ValueError(f"atom {i}: predicate must be constant, got {p!r}")
    if _is_var(s) and _is_var(o) and s == o:
        raise ValueError(f"atom {i}: self-loop variable {s!r} twice")
    edges = edge_index.get(p, [])
    if _is_var(s) and _is_var(o):
        cols = (s[1:], o[1:])
        rows = set(edges)
    elif _is_var(s):
        cols = (s[1:],)
        rows = {(es,) for es, eo in edges if eo == o}
    elif _is_var(o):
        cols = (o[1:],)
        rows = {(eo,) for es, eo in edges if es == s}
    else:
        # fully ground atom: <=1-row existence gate
        cols = (f"_ground_{i}",)
        rows = {(1,)} if any(e == (s, o) for e in edges) else set()
    return cols, sorted(rows)


class _BgpFanoutBail(Exception):
    """Raised when a replay join would materialize more rows than the
    driver should hold — the caller falls back to the distributed plan
    (sound for ANY pattern: the count precedes the materialize, so the
    bail costs one counting pass, never the blowup itself)."""


def _join_rows(left, right, shared, max_rows: int, how: str = "inner"):
    """Hash equi-join of two (cols, rows) binding frames on the shared
    variables; 'left' adds NULL extension for unmatched left rows.
    Column layout = left cols + right's non-shared cols (the final
    select fixes output order, so layout only has to be consistent).
    Counts the prospective output FIRST and raises _BgpFanoutBail past
    max_rows."""
    lcols, lrows = left
    rcols, rrows = right
    li = [lcols.index(v) for v in shared]
    ri = [rcols.index(v) for v in shared]
    rrest = [i for i, c in enumerate(rcols) if c not in shared]
    out_cols = tuple(lcols) + tuple(rcols[i] for i in rrest)
    idx: dict = {}
    for rr in rrows:
        idx.setdefault(tuple(rr[i] for i in ri), []).append(
            tuple(rr[i] for i in rrest)
        )
    keys = [tuple(lr[i] for i in li) for lr in lrows]
    n_out = sum(
        len(idx.get(k, ())) or (1 if how == "left" else 0) for k in keys
    )
    if n_out > max_rows:
        raise _BgpFanoutBail(n_out)
    out = []
    nulls = (None,) * len(rrest)
    for lr, key in zip(lrows, keys):
        exts = idx.get(key)
        if exts:
            for ext in exts:
                out.append(lr + ext)
        elif how == "left":
            out.append(lr + nulls)
    return out_cols, out


def _cross_rows(left, right, max_rows: int):
    lcols, lrows = left
    rcols, rrows = right
    if len(lrows) * len(rrows) > max_rows:
        raise _BgpFanoutBail(len(lrows) * len(rrows))
    return tuple(lcols) + tuple(rcols), [
        lr + rr for lr in lrows for rr in rrows
    ]


def _bind_pattern_rows(edge_index, atoms, max_rows: int):
    """_bind_pattern replayed over the collected edge index: the same
    atom frames, connectivity checks and equi-join chain, as
    (cols, rows). Row multisets are identical to the distributed chain
    (atom frames distinct + uniqueness-preserving equi-joins). Raises
    _BgpFanoutBail if any join would exceed max_rows."""
    if not atoms:
        raise ValueError("empty pattern")
    bound = None
    bound_vars: set = set()
    for i, (s, p, o) in enumerate(atoms):
        frame = _atom_rows(edge_index, i, s, p, o)
        avars = {t[1:] for t in (s, o) if _is_var(t)}
        if bound is None:
            bound, bound_vars = frame, avars
            continue
        shared = sorted(bound_vars & avars)
        if shared:
            bound = _join_rows(bound, frame, shared, max_rows)
        elif not avars:
            bound = _cross_rows(bound, frame, max_rows)
        elif not bound_vars:
            bound = _cross_rows(frame, bound, max_rows)
        else:
            raise ValueError(
                f"atom {i} {(s, p, o)!r} shares no variable with the "
                "pattern so far — disconnected patterns are cartesian "
                "products and are rejected; reorder the atoms"
            )
        bound_vars |= avars
    return bound, bound_vars


def conjunctive_match(
    triples: DataFrame,
    atoms: list,
    neq: tuple = (),
    driver_max_rows: int | None = None,
) -> DataFrame:
    """Match a conjunctive pattern against (subj, pred, obj) triples.

    atoms: [(subj_term, pred, obj_term), ...] where a term starting
    with "?" is a variable and anything else is an entity constant;
    pred is always a constant (bounded predicate vocabulary — regular
    path queries over predicates live in metapath_counts).
    neq: pairs of variable names that must bind to distinct entities
    (the SPARQL `FILTER(?a != ?b)` idiom).

    Returns one row per distinct binding; columns are the variable
    names (without "?") sorted lexicographically.

    Shape at scale: atom k contributes |edges(pred_k)| rows pruned to
    two columns; the running binding set only ever grows by the join
    selectivity of shared variables, never by cartesian blowup —
    connectivity is enforced. Self-joins of the same predicate are
    fine (distinct alias per atom)."""
    # r7: below the pattern-predicates edge bound the whole BGP chain
    # replays on the driver (hash equi-joins over the collected distinct
    # edges, same validation, same NULL-excluding neq); the predicate-
    # pushed join plan (unchanged) is the scale path above it. A
    # fan-out bail keeps the replay sound for ANY pattern: every join
    # counts its output before materializing and a blowup falls back to
    # the distributed plan at the cost of one counting pass.
    edge_index = _pattern_edge_index(triples, atoms, driver_max_rows)
    if edge_index is not None:
        try:
            (cols, rows), bound_vars = _bind_pattern_rows(
                edge_index, atoms, gate.bound(driver_max_rows)
            )
        except _BgpFanoutBail:
            edge_index = None
        if edge_index is not None:
            for a, b in neq:
                ia, ib = cols.index(a), cols.index(b)
                rows = [
                    r for r in rows
                    if r[ia] is not None and r[ib] is not None
                    and r[ia] != r[ib]
                ]
            out_cols = sorted(v for v in bound_vars)
            if not out_cols:
                return local_result(
                    triples, [(True,)] if rows else [], "matched boolean"
                )
            sel = [cols.index(c) for c in out_cols]
            return local_result(
                triples, [tuple(r[i] for i in sel) for r in rows],
                ", ".join(f"{c} string" for c in out_cols), out_cols,
            )
    bound, bound_vars = _bind_pattern(triples, atoms)
    for a, b in neq:
        bound = bound.filter(F.col(a) != F.col(b))
    out_cols = sorted(v for v in bound_vars)
    if not out_cols:
        # fully-ground pattern: a pure existence check — 1 row
        # (matched=true) when every atom holds, 0 rows otherwise
        out = bound.select(F.lit(True).alias("matched")).limit(1)
    else:
        # r7 (guide §2.4, "a distinct on data that is already unique"):
        # every atom frame is DISTINCT and the chain only ever
        # equi-joins on shared variables, so each variable-binding
        # combination appears exactly once in `bound`; the projection
        # keeps EVERY bound variable (out_cols == bound_vars, ground
        # markers are constant <=1-row gates), so a final distinct was a
        # full extra shuffle+aggregate of the result set that removed
        # nothing. The output row SET is unchanged.
        out = bound.select(*out_cols).orderBy(*out_cols)
    return forward_caches(out, triples)


def _bind_pattern(triples: DataFrame, atoms: list):
    """Compile a connected BGP to (bindings DF, bound variable set) —
    shared by conjunctive_match and optional_match."""
    if not atoms:
        raise ValueError("empty pattern")

    def atom_df(i: int, s: str, p: str, o: str) -> DataFrame:
        if _is_var(p):
            raise ValueError(f"atom {i}: predicate must be constant, got {p!r}")
        if _is_var(s) and _is_var(o) and s == o:
            raise ValueError(f"atom {i}: self-loop variable {s!r} twice")
        e = triples.filter(F.col("pred") == p)
        cols = []
        if _is_var(s):
            cols.append(F.col("subj").alias(s[1:]))
        else:
            e = e.filter(F.col("subj") == s)
        if _is_var(o):
            cols.append(F.col("obj").alias(o[1:]))
        else:
            e = e.filter(F.col("obj") == o)
        if not cols:
            # fully ground atom: contributes only an existence check
            cols = [F.lit(1).alias(f"_ground_{i}")]
        return e.select(*cols).distinct()

    bound = None
    bound_vars: set = set()
    for i, (s, p, o) in enumerate(atoms):
        df = atom_df(i, s, p, o)
        avars = {t[1:] for t in (s, o) if _is_var(t)}
        if bound is None:
            bound, bound_vars = df, avars
            continue
        shared = sorted(bound_vars & avars)
        if shared:
            bound = bound.join(df, shared)
        elif not avars:
            # fully ground atom: ≤1-row existence gate, broadcast side
            bound = bound.crossJoin(F.broadcast(df))
        elif not bound_vars:
            # everything so far was ground (≤1 row) — gate the new atom
            bound = df.crossJoin(F.broadcast(bound))
        else:
            raise ValueError(
                f"atom {i} {(s, p, o)!r} shares no variable with the "
                "pattern so far — disconnected patterns are cartesian "
                "products and are rejected; reorder the atoms"
            )
        bound_vars |= avars
    return bound, bound_vars


def optional_match(
    triples: DataFrame,
    atoms: list,
    optional: list,
    neq: tuple = (),
) -> DataFrame:
    """SPARQL OPTIONAL: required BGP left-outer-joined with each
    optional group's bindings (SPARQL 1.1 §8 OPTIONAL == the algebra's
    LeftJoin); variables bound only inside an unmatched optional group
    come back NULL — "return the org and, IF KNOWN, who acquired it".

    atoms: the required pattern (conjunctive_match semantics).
    optional: list of OPTIONAL groups, each a list of atoms forming a
    connected pattern that shares >= 1 variable with the REQUIRED part
    (a disconnected OPTIONAL would be a cartesian decoration and is
    rejected, same policy as the required chain).

    Supported fragment = WELL-DESIGNED patterns (Perez, Arenas &
    Gutierrez, TODS 2009 — the fragment where LeftJoin evaluation is
    spec-correct): each group's join variables must come from the
    required pattern (never from another OPTIONAL group — a NULL join
    key would silently differ from SPARQL's compatible-mapping
    semantics, so chained OPTIONALs are REJECTED, not mis-evaluated),
    and two groups may not both introduce the same new variable.

    Shape at scale: each group compiles to the same predicate-pushed
    distinct-binding subplan as the required pattern, then ONE left
    equi-join on the shared variables — no new shuffle class beyond
    conjunctive_match; the null-extension is free in the join.

    Determinism contract: distinct bindings, variable columns sorted
    lexicographically, NULLs last within the final orderBy."""
    # r7 NOTE: optional_match is deliberately NOT driver-gated. The
    # conjunctive gate was measured and kept (38k-row outputs, 1.35 ->
    # 0.60 s at sf0.1), but OPTIONAL's null-extended fan-out is
    # output-sized (~2M rows for the declared query at sf0.1): the
    # local materialize + createDataFrame measured 5.0 s against the
    # distributed plan's 1.3 s, and a bail-after-collect would tax
    # every at-scale call with a wasted collect. Result-sized outputs
    # belong on the cluster; the distributed plan below (already
    # no-op-distinct-free from pass 1) stays the only path.
    bound, bound_vars = _bind_pattern(triples, atoms)
    req_vars = set(bound_vars)
    introduced: set = set()
    for group in optional:
        g, gvars = _bind_pattern(triples, group)
        shared = sorted(req_vars & gvars)
        if not shared:
            raise ValueError(
                f"OPTIONAL group {group!r} shares no variable with the "
                "required pattern — rejected (cartesian decoration, or a "
                "chained OPTIONAL outside the well-designed fragment)"
            )
        new_vars = gvars - req_vars
        clash = sorted(new_vars & introduced)
        if clash:
            raise ValueError(
                f"OPTIONAL group {group!r} re-introduces variable(s) "
                f"{clash} already bound by a previous OPTIONAL group — "
                "outside the well-designed fragment"
            )
        introduced |= new_vars
        # the group's bindings are already DISTINCT (atom frames are
        # distinct, equi-joins on shared variables preserve uniqueness),
        # so the left-join multiplicity is exactly one row per
        # (required binding x optional binding) with no extra shuffle
        bound = bound.join(g, shared, "left")
        bound_vars |= gvars
    for a, b in neq:
        bound = bound.filter(F.col(a) != F.col(b))
    out_cols = sorted(v for v in bound_vars)
    # r7: the final distinct was a no-op for the same reason (see
    # conjunctive_match) — required x optional combinations are unique,
    # NULL-extensions included; dropping it removes a full shuffle +
    # aggregate of the (fan-out sized) result set
    out = bound.select(*out_cols).orderBy(
        *[F.col(c).asc_nulls_last() for c in out_cols]
    )
    return forward_caches(out, triples)
