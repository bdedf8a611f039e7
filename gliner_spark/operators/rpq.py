"""Regular path queries (SPARQL 1.1 property paths) over the
constructed KG: evaluate a regex over predicates — sequence `/`,
alternation `|`, `+`, `*`, inverse `^pred` — returning all (src, dst)
entity pairs connected by a matching path, with the minimum matching
path length.

Reference scope note: urchade/GLiNER emits triples; path querying is
beyond-reference pipeline mandate (SURVEY §2.11). Semantics follow
SPARQL 1.1 §9 property paths (W3C REC-sparql11-query §9.1), except
that a top-level expression matching the EMPTY path is rejected
(SPARQL's zero-length-path semantics would emit one (x, x) row per
graph TERM; callers wanting reflexive pairs union them explicitly).

Spark-first shape (the textbook distributed-RPQ plan): the expression
compiles to an NFA in PYTHON at plan build (Thompson construction +
epsilon elimination — the automaton is a constant, never cluster
work), the transition table broadcasts onto the distinct edge set
once to form the PRODUCT-GRAPH move relation (<= |E| x |Q| rows), and
evaluation is level-synchronous semi-naive BFS over (src, node,
state) — per round ONE equi-join frontier x moves plus an anti-join
against the visited set, so work is proportional to NEW product
states, cycles terminate by construction, and first-reach round =
exact min hops (each move consumes exactly one edge). Same loop
hygiene as transitive_closure (localCheckpoint per round, early exit
on empty frontier)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gliner_spark.cache import forward_caches
from gliner_spark.gate import edge_rows, local_result

RPQ_MAX_HOPS = 6

# r7 driver gate: product-BFS state budget for the python replay. The
# blowup risk of a dense expression is |V| x |Q| visited product states
# summed over sources; the replay counts them as it goes and bails out
# to the distributed plan the moment the budget is exceeded, so the
# gate is sound for ANY expression (no a-priori density estimate
# needed). Env-tunable; 0 disables the driver path.
import os as _os

RPQ_STATE_CAP = int(_os.environ.get("GS_RPQ_STATE_CAP", "2000000"))


def _rpq_driver(erows, transitions, accepting, max_hops, state_cap):
    """Python product-graph BFS over one bounded collect of the distinct
    fact rows. Result-identical to the distributed tagged-min unroll:
    first-reach BFS depth == min walk length == the unroll's min level
    (the visited set only suppresses re-visits the min absorbs), and
    every accepting state is checked at its first reach, per source.
    Returns sorted (src, dst, min_hops) tuples, or None when the summed
    visited-state count exceeds state_cap (caller falls back to the
    distributed plan — the bail-out IS the density pre-gate)."""
    moves_by_pred: dict = {}
    for q1, p, d, q2 in transitions:
        moves_by_pred.setdefault(p, []).append((q1, d, q2))
    adj: dict = {}
    nodes = set()
    for s, p, o in erows:
        nodes.add(s)
        nodes.add(o)
        for q1, d, q2 in moves_by_pred.get(p, ()):
            if d == "fwd":
                adj.setdefault((s, q1), []).append((o, q2))
            else:
                adj.setdefault((o, q1), []).append((s, q2))
    acc = set(accepting)
    results: dict = {}
    total_states = 0
    for src in nodes:
        start = (src, 0)
        visited = {start}
        frontier = [start]
        for h in range(1, max_hops + 1):
            nxt = []
            for st in frontier:
                for st2 in adj.get(st, ()):
                    if st2 not in visited:
                        visited.add(st2)
                        nxt.append(st2)
                        if st2[1] in acc:
                            key = (src, st2[0])
                            if key not in results:
                                results[key] = h
            if not nxt:
                break
            frontier = nxt
        total_states += len(visited)
        if total_states > state_cap:
            return None
    return sorted((s, d, h) for (s, d), h in results.items())


def compile_nfa(expr) -> tuple:
    """Compile a path expression AST to an epsilon-free NFA.

    AST: ("pred", p) | ("inv", p) | ("seq", e...) | ("alt", e...) |
    ("plus", e) | ("star", e).

    Returns (transitions, accepting, start_accepting) with transitions
    a sorted list of (state, pred, direction, next_state) —
    direction "fwd"/"inv" — state 0 the start state. Deterministic:
    states are numbered by construction order, output sorted."""
    eps: dict = {}
    moves: list = []
    counter = [0]

    def new_state() -> int:
        counter[0] += 1
        return counter[0] - 1

    def link(a: int, b: int) -> None:
        eps.setdefault(a, set()).add(b)

    def build(e) -> tuple:
        """Textbook Thompson: every construct gets FRESH start/end
        states (reusing a shared source state would leak sibling
        alternatives into + / * loop-backs — e.g. `a|b+` must not
        accept "ba"). Returns (start, end)."""
        op = e[0]
        if op in ("pred", "inv"):
            s, t = new_state(), new_state()
            moves.append((s, e[1], "fwd" if op == "pred" else "inv", t))
            return s, t
        if op == "seq":
            parts = [build(p) for p in e[1:]]
            if not parts:
                raise ValueError("empty seq")
            for (_, t1), (s2, _) in zip(parts, parts[1:]):
                link(t1, s2)
            return parts[0][0], parts[-1][1]
        if op == "alt":
            s, t = new_state(), new_state()
            if len(e) < 2:
                raise ValueError("empty alt")
            for p in e[1:]:
                ps, pt = build(p)
                link(s, ps)
                link(pt, t)
            return s, t
        if op in ("plus", "star"):
            # fresh wrapper states: a skip/loop epsilon between INTERNAL
            # states composes with the sub-expression's own epsilons and
            # admits entry mid-iteration (e.g. (a a+)* must not accept
            # a single "a")
            ps, pt = build(e[1])
            q, f = new_state(), new_state()
            link(q, ps)
            link(pt, f)
            link(f, q)  # loop: another full iteration may follow
            if op == "star":
                link(q, f)  # zero iterations
            return q, f
        raise ValueError(f"unknown path operator {op!r}")

    start0 = new_state()  # state 0 = global start
    assert start0 == 0
    estart, accept = build(expr)
    link(0, estart)

    def closure(q: int) -> set:
        out, todo = {q}, [q]
        while todo:
            for n in eps.get(todo.pop(), ()):
                if n not in out:
                    out.add(n)
                    todo.append(n)
        return out

    # epsilon elimination, source side (delta'(q, a) = union of moves
    # from every state q epsilon-reaches); accepting' = every state
    # that epsilon-reaches the accept state
    clos = {q: closure(q) for q in range(counter[0])}
    all_transitions = {
        (q, p, d, t)
        for (s, p, d, t) in moves
        for q in range(counter[0])
        if s in clos[q]
    }
    # prune states unreachable from the start: every surviving
    # transition row multiplies into an |edges(pred)|-sized slice of
    # the product move relation, so dead copies directly inflate the
    # broadcast table and the materialized product graph
    succ: dict = {}
    for (q, _, _, t) in all_transitions:
        succ.setdefault(q, set()).add(t)
    reach, todo = {0}, [0]
    while todo:
        for t in succ.get(todo.pop(), ()):
            if t not in reach:
                reach.add(t)
                todo.append(t)
    transitions = sorted(
        r for r in all_transitions if r[0] in reach
    )
    accepting = sorted(
        q for q in reach if accept in clos[q]
    )
    return transitions, accepting, accept in clos[0]


def rpq_match(
    triples: DataFrame, expr, max_hops: int = RPQ_MAX_HOPS,
    driver_max_edges: int | None = None,
    state_cap: int | None = None,
) -> DataFrame:
    """All (src, dst, min_hops) pairs whose connecting path matches
    `expr` within max_hops edges (bounded RPQ, min_hops exact — the
    same bounded-semantics contract as transitive_closure)."""
    transitions, accepting, empty_ok = compile_nfa(expr)
    if empty_ok:
        raise ValueError(
            "path expression matches the empty path — zero-length "
            "semantics are excluded (wrap the reflexive pairs yourself)"
        )
    if not transitions:
        raise ValueError("path expression has no satisfiable transition")

    # r7 driver gate (the generalized _cc_driver design): below the edge
    # bound, run the product BFS in python from one bounded collect of
    # the distinct fact rows; bail out to the distributed plan if the
    # visited product-state budget is exceeded (see _rpq_driver). The
    # distributed unroll below is unchanged — the 100 TB path, and the
    # fallback for dense expressions.
    cap = RPQ_STATE_CAP if state_cap is None else state_cap
    if cap > 0 and max_hops >= 1:
        erows = edge_rows(triples, "spo", driver_max_edges)
        if erows is not None:
            data = _rpq_driver(
                erows, transitions, accepting, max_hops, cap
            )
            if data is not None:
                return local_result(
                    triples, data, "src string, dst string, min_hops long",
                    ["src", "dst"],
                )

    # self-loop facts stay in: SPARQL path semantics match them (the
    # product BFS handles them like any cycle; the visited anti-join
    # terminates). transitive_closure's self-pair EXCLUSION is that
    # operator's contract, not this one's.
    e = triples.select("subj", "pred", "obj").distinct()
    tdf = local_result(
        triples, transitions, "q1 int, pred string, dir string, q2 int",
        forward=False,
    )
    fwd = e.join(
        F.broadcast(tdf.filter(F.col("dir") == "fwd")), "pred"
    ).select(
        F.col("subj").alias("node_from"),
        F.col("obj").alias("node_to"),
        "q1",
        "q2",
    )
    inv = e.join(
        F.broadcast(tdf.filter(F.col("dir") == "inv")), "pred"
    ).select(
        F.col("obj").alias("node_from"),
        F.col("subj").alias("node_to"),
        "q1",
        "q2",
    )
    moves = fwd.union(inv).localCheckpoint()

    acc = sorted(set(accepting))
    nodes = (
        e.select(F.col("subj").alias("node"))
        .union(e.select("obj"))
        .distinct()
    )
    start = nodes.select(
        F.col("node").alias("src"), "node", F.lit(0).alias("state")
    ).localCheckpoint()
    # r7 (guide §2.4): tagged-min lazy unroll replaces the per-hop
    # localCheckpoint + anti-join + empty-frontier probe (4 jobs/hop).
    # Level h = distinct product states reachable in exactly h moves;
    # min_hops = min h with an accepting arrival per (src, dst) — equal
    # to the old first-reach BFS (min product-walk length == shortest
    # product path; the anti-join only suppressed re-visits the min now
    # absorbs). One action; repeated level subtrees share shuffles via
    # ReusedExchange; `moves`/`start` are the checkpointed leaves.
    lev = start
    parts = []
    for h in range(1, max_hops + 1):
        lev = (
            lev.join(
                moves,
                (lev["node"] == moves["node_from"])
                & (lev["state"] == moves["q1"]),
            )
            .select("src", F.col("node_to").alias("node"),
                    F.col("q2").alias("state"))
            .distinct()
        )
        parts.append(
            lev.filter(F.col("state").isin(acc)).select(
                "src",
                F.col("node").alias("dst"),
                F.lit(h).cast("long").alias("min_hops"),
            )
        )
    from gliner_spark.cache import attach_caches

    results = parts[0]
    for p in parts[1:]:
        results = results.union(p)
    out = (
        results.groupBy("src", "dst")
        .agg(F.min("min_hops").alias("min_hops"))
        .orderBy("src", "dst")
    )
    # moves/start checkpoints ride the output as releasable handles
    return attach_caches(forward_caches(out, triples), moves, start)
