"""Graph analytics over the materialized (subj, pred, obj) triples — the
consumption layer a KG-construction pipeline feeds (degree profiles, path
counting, centrality). Beyond the reference's own surface (it stops at
triple emission); these are the first queries users run on the output.

Scale + determinism design:
- node/edge tables derive from DISTINCT projections of the fact table —
  map-side-combined aggregates, never a self-join of raw rows;
- the 2-hop join caps mid-node fan-out (the hub-skew guard: a celebrity
  node would otherwise contribute deg^2 pairs — same defense as the LSH
  bucket caps in dedup/linking);
- PageRank runs a FIXED number of rounds in pure bigint micro-units
  (rank DIV out_deg contributions) — order-independent integer sums, so
  the result is deterministic under any partitioning AND bit-reproducible
  by the ANSI-SQL oracle (no IEEE accumulation anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import attach_caches, forward_caches
from gliner_spark.gate import (
    edge_rows,
    graph_edges_raw,
    local_result,
    undirected_edges_raw,
    view_table,
)
from gliner_spark.metrics import attach_audits, capped_filter

PR_UNIT = 1_000_000   # rank micro-units (1.0 == 1e6)
PR_DAMP = 850         # damping * 1000
PR_ITERS = 3
TWO_HOP_MAX_FANOUT = 64

# r7 adaptive small-graph gate (the _cc_driver design generalized): at or
# below the edge bound (gliner_spark/gate.py: BOUNDS["edges"], 0
# disables every driver path) the iterative centrality /
# community operators run their loop on the driver — arithmetic-
# identical pure-integer replays, parity-tested against the distributed
# plans, which remain the >bound (100 TB) path. The operators over a
# triples frame share ONE bounded collect per frame (the gate's driver
# edge snapshot) and derive their edge view from it.


def _fold_hash_py(s: str) -> int:
    """functions/text.fold_hash replayed in python (ascii('') = 0 makes
    the empty string hash 0, like the one-element sequence the JVM
    expression folds)."""
    if not s:
        return 0
    h = 0
    for ch in s:
        h = (h * 1000003 + ord(ch)) % 2147483647
    return h


def _fold_hash_many(strs):
    """Vectorized _fold_hash_py over a list of strings (numpy int64
    array result, identical values). numpy's 'U' dtype is UTF-32, so
    viewing it as uint32 yields exactly the code points ord() folds;
    padding NULs are masked out. h < 2^31 and m ~ 2^20 keep every
    intermediate < 2^52, overflow-free in int64. The pure-python fold
    was ~1 s of every kg_completion driver replay at sf0.1 (guide §1.2
    order: this is per-task work, attacked after the shuffles)."""
    import numpy as np

    if len(strs) == 0:
        return np.zeros(0, dtype=np.int64)
    arr = np.asarray(strs, dtype="U")
    maxlen = arr.dtype.itemsize // 4
    if maxlen == 0:
        return np.zeros(len(strs), dtype=np.int64)
    # transpose-copy the uint32 view (contiguous per-column slices,
    # half the bytes of an int64 astype; the fold promotes per column)
    codes = np.ascontiguousarray(
        arr.view(np.uint32).reshape(len(strs), maxlen).T
    )
    h = np.zeros(len(strs), dtype=np.int64)
    for j in range(maxlen):
        c = codes[j]
        live = c > 0
        h = np.where(live, (h * 1000003 + c) % 2147483647, h)
    return h


def _adj_from_und(rows):
    """Symmetric adjacency dict from collected undirected (a, b) rows."""
    adj: dict = {}
    for r in rows:
        a, b = r[0], r[1]
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return adj


def _driver_seeds(adj, n_seeds: int):
    """The n_seeds nodes with the smallest (fold_hash(id), id) — the same
    deterministic hash-scrambled sample the distributed TakeOrdered
    picks."""
    import heapq

    nodes_l = list(adj)
    hs = _fold_hash_many(nodes_l).tolist()
    return [
        n for _h, n in heapq.nsmallest(n_seeds, zip(hs, nodes_l))
    ]


def _duckdb_round6(x):
    """round(x, 6) with DuckDB's double semantics: std::round(x*1e6)/1e6 —
    half away from zero evaluated on the BINARY double, preserving -0.0.

    Spark's F.round goes through BigDecimal HALF_UP on the shortest decimal
    repr, which (a) drops the sign of -0.0 (BigDecimal has no signed zero)
    and (b) can pick the other 6th-decimal neighbour when the binary value
    sits just past a printed .5 boundary. The kg_modularity oracle replays
    DuckDB's arithmetic, so communities with e_intra=0 emit q_contrib=-0.0
    there but +0.0 from F.round — the one CORRECTNESS_r06 hash-fail.

    floor(|y|) is exact and |y| - floor(|y|) is an exact fp subtraction for
    |y| < 2^53, so the >= 0.5 compare reproduces std::round bit-for-bit in
    that range (|q_contrib| <= 1 => |y| <= 1e6 here)."""
    y = x * F.lit(1e6)
    a = F.abs(y)
    t = F.floor(a)  # LongType; promotes back to double exactly below
    mag = t + F.when(a - t >= F.lit(0.5), F.lit(1.0)).otherwise(F.lit(0.0))
    r = F.when(y < 0, -mag).otherwise(F.when(y > 0, mag).otherwise(y))
    return r / F.lit(1e6)


def graph_edges(triples: DataFrame) -> DataFrame:
    """Distinct directed (src, dst) edges from the canonical triples."""
    return graph_edges_raw(triples).distinct()


def entity_degrees(triples: DataFrame) -> DataFrame:
    """Per-node degree profile: out/in edge counts and distinct predicates.

    Two grouped aggregates (map-side partial) merged on the node id via a
    full outer join — the fact table is scanned once per direction and
    never self-joined."""
    # r7 pass 3: below the node bound both role aggregates replay as
    # pyarrow group_bys over the frame's raw spo view (the edge
    # snapshot) and merge in a dict (the full-outer join + fills in
    # python; all-integer output)
    tbl = None
    if gate.bound() > 0:
        tbl = view_table(triples, "spo")
    if tbl is not None:
        aggs = [("pred", "count_distinct"), ([], "count_all")]
        out_t = gate.group(None, ["subj"], aggs, tbl)
        in_t = gate.group(None, ["obj"], aggs, tbl)
        if out_t is not None and in_t is not None:
            prof: dict = {}
            for e, npred, odeg in gate.rows(out_t):
                prof[e] = [odeg, 0, npred, 0]
            for e, npred, ideg in gate.rows(in_t):
                p = prof.setdefault(e, [0, 0, 0, 0])
                p[1] = ideg
                p[3] = npred
            data = sorted(
                (e, p[0], p[1], p[2], p[3], p[0] + p[1])
                for e, p in prof.items()
            )
            return local_result(
                triples, data,
                "entity string, out_deg long, in_deg long, "
                "n_pred_out long, n_pred_in long, degree long",
                ["entity"],
            )
    out = triples.groupBy(F.col("subj").alias("entity")).agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.countDistinct("pred").alias("n_pred_out"),
    )
    inn = triples.groupBy(F.col("obj").alias("entity")).agg(
        F.count(F.lit(1)).alias("in_deg"),
        F.countDistinct("pred").alias("n_pred_in"),
    )
    return forward_caches(
        out.join(inn, "entity", "full_outer")
        .na.fill(0, ["out_deg", "n_pred_out", "in_deg", "n_pred_in"])
        .select(
            "entity",
            F.col("out_deg").cast("long").alias("out_deg"),
            F.col("in_deg").cast("long").alias("in_deg"),
            F.col("n_pred_out").cast("long").alias("n_pred_out"),
            F.col("n_pred_in").cast("long").alias("n_pred_in"),
            (F.col("out_deg") + F.col("in_deg")).cast("long").alias("degree"),
        )
        .orderBy("entity"),
        triples,
    )


def two_hop_paths(
    triples: DataFrame, max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """(src, dst, n_paths) over 2-hop walks src -> mid -> dst (src != dst),
    counted over the DISTINCT edge set.

    Mid nodes with out-fanout > max_fanout are excluded from the hop join:
    at web scale a hub mid contributes in_deg x out_deg pairs, so the cap
    bounds the join output by |E| * max_fanout. The cap is AUDITED,
    never silent (capped-hub edge counts ride the returned frame — read
    with metrics.skew_metrics)."""
    e = graph_edges(triples)
    erows = edge_rows(triples, "directed")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): hop join replay with
        # the audited mid-node out-fanout cap, exact integer counts
        fwd: dict = {}
        for r in erows:
            fwd.setdefault(r[0], []).append(r[1])
        n_dropped = 0
        max_fan = 0
        for src_n, ds in fwd.items():
            fan = len(ds)
            max_fan = max(max_fan, fan)
            if fan > max_fanout:
                n_dropped += fan
        counts: dict = {}
        for r in erows:
            s, mid = r[0], r[1]
            ds = fwd.get(mid)
            if ds is None or len(ds) > max_fanout:
                continue
            for d in ds:
                if s != d:
                    key = (s, d)
                    counts[key] = counts.get(key, 0) + 1
        audit = {
            "guard": "two_hop_hub_cap",
            "n_dropped_rows": n_dropped,
            "max_group_size": max_fan,
            "cap": int(max_fanout),
        }
        return local_result(
            triples, [(s, d, n) for (s, d), n in sorted(counts.items())],
            "src string, dst string, n_paths long", ["src", "dst"],
            audits=[audit],
        )
    w = Window.partitionBy("src")
    ok_mid, audit = capped_filter(
        e.withColumn("fan", F.count(F.lit(1)).over(w)),
        "fan", max_fanout, "two_hop_hub_cap",
    )
    a = e.select(F.col("src"), F.col("dst").alias("mid"))
    b = ok_mid.select(F.col("src").alias("mid"), F.col("dst"))
    out = (
        a.join(b, "mid")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy("src", "dst")
    )
    return forward_caches(attach_audits(out, audit), triples)


def entity_components(triples: DataFrame, cfg=None) -> DataFrame:
    """Connected components of the (undirected) entity graph — the
    community/link-structure query KG consumers run right after degree
    profiles. Reuses the adaptive CC machinery from entity linking
    (operators/linking.connected_components: driver union-find under the
    configured bound, distributed min-label propagation + pointer jumping
    above it — O(log diameter) rounds at 100 TB). component = the
    lexicographically smallest entity id reachable, so the output is a
    pure function of the edge set (no hashing — the ANSI-SQL oracle
    replays it with a recursive fixpoint).

    Returns (entity, component, component_size) sorted by size desc."""
    from gliner_spark.config import PipelineConfig
    from gliner_spark.operators.linking import connected_components

    if cfg is None:
        cfg = PipelineConfig()
    e = graph_edges(triples)
    erows = edge_rows(triples, "directed")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): the node set here IS
        # the edge endpoints, so one bounded edge collect feeds the same
        # union-by-min union-find _cc_driver runs — without the separate
        # nodes.count / nodes.collect / edge-collect jobs (UTF-8 byte
        # order == codepoint order, so python string min matches the
        # JVM's binary string comparison)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in erows:
            for n in (r[0], r[1]):
                if n not in parent:
                    parent[n] = n
        for r in erows:
            a, b = find(r[0]), find(r[1])
            if a != b:
                if a < b:
                    parent[b] = a
                else:
                    parent[a] = b
        comp_d: dict = {}
        for n in parent:
            comp_d.setdefault(find(n), []).append(n)
        data = [
            (n, c, len(members))
            for c, members in comp_d.items()
            for n in members
        ]
        return local_result(
            triples, data,
            "entity string, component string, component_size long",
            [F.desc("component_size"), F.asc("component"), F.asc("entity")],
        )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = connected_components(
        nodes, e.select("src", "dst"), cfg
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return forward_caches(
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("entity"), "component", "component_size"
        )
        .orderBy(
            F.desc("component_size"), F.asc("component"), F.asc("entity")
        ),
        triples,
    )


def incremental_components(
    assign: DataFrame, new_edges: DataFrame, cfg=None
) -> DataFrame:
    """Fold a DELTA edge batch into an existing component assignment
    WITHOUT touching the old graph — the incremental connected-
    components maintenance a streamed KG needs at finalize time: the
    stream appends edge projections to a sink; each drain folds only
    the new edges and the component labels they touch.

    `assign` is (entity, component) under entity_components' contract
    (component = MIN reachable entity id); `new_edges` is (src, dst).
    Returns the updated full (entity, component, component_size),
    EXACTLY equal to entity_components over (old graph + new edges) —
    not an approximation — because min-id labels compose: map each new
    edge's endpoints to their current labels (a new entity is its own
    provisional label), run CC over that LABEL graph (delta-sized, not
    graph-sized), and the min reachable label of a merged group is the
    min entity id of the merged member sets. Untouched components never
    enter the closure.

    Scale shape: two broadcast-able equi-joins to label the delta
    endpoints, one CC over a graph whose node count is bounded by
    2x|delta| (the adaptive driver/pointer-jumping machinery from
    linking), one remap join against the assignment — the full graph is
    never re-read, which is the whole point at 100 TB: a day's delta
    folds in delta time. Repeated folds compose (pytest-pinned against
    full recompute per fold)."""
    from gliner_spark.config import PipelineConfig
    from gliner_spark.operators.linking import connected_components

    if cfg is None:
        cfg = PipelineConfig()
    e = (
        new_edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    amap = assign.select(
        F.col("entity").alias("node"), F.col("component").alias("label")
    )
    lab = (
        e.join(
            amap.select(F.col("node").alias("src"), F.col("label").alias("la")),
            "src", "left",
        )
        .join(
            amap.select(F.col("node").alias("dst"), F.col("label").alias("lb")),
            "dst", "left",
        )
        .select(
            F.coalesce("la", F.col("src")).alias("src"),
            F.coalesce("lb", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    lnodes = (
        lab.select(F.col("src").alias("id"))
        .union(lab.select(F.col("dst").alias("id")))
        .distinct()
    )
    closed = connected_components(lnodes, lab, cfg)
    new_ents = (
        e.select(F.col("src").alias("entity"))
        .union(e.select(F.col("dst").alias("entity")))
        .distinct()
        .join(assign.select("entity"), "entity", "left_anti")
        .select("entity", F.col("entity").alias("component"))
    )
    full = assign.select("entity", "component").unionByName(new_ents)
    remapped = full.join(
        closed.select(
            F.col("id").alias("component"), F.col("component").alias("newc")
        ),
        "component",
        "left",
    ).select(
        "entity", F.coalesce("newc", F.col("component")).alias("component")
    )
    sizes = remapped.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return forward_caches(
        remapped.join(sizes, "component")
        .select("entity", "component", "component_size")
        .orderBy(
            F.desc("component_size"), F.asc("component"), F.asc("entity")
        ),
        new_edges,
    )


def pagerank(
    triples: DataFrame,
    iters: int = PR_ITERS,
    damping: int = PR_DAMP,
    reliable_checkpoint: bool = False,
    checkpoint_dir: str = "",
    dangling: bool = False,
    seed_prefix: str = "",
) -> DataFrame:
    """Integer PageRank over the distinct edge set: fixed `iters` rounds of
    r'(v) = (1-d) + d * sum_{u->v} (r(u) DIV out_deg(u)),
    all in bigint micro-units (PR_UNIT == rank 1.0). By default
    dangling-node mass is dropped (documented simplification, mirrored
    exactly by the oracle); dangling=True adds the standard uniform
    redistribution — each round the total rank of sink nodes (no
    out-edges) is summed (ONE extra 1-row aggregate, an anti-join vs the
    out-degree table) and every node receives `DT DIV N` extra inbound
    mass before damping:
    r'(v) = (1-d) + d * (sum_contribs(v) + DT DIV N), still pure bigint —
    deterministic under any partitioning and replayed exactly by the
    kg_pagerank_dangling oracle.

    Integer contributions make the per-node sum order-independent — the
    result is bit-identical under any partitioning/engine, unlike a float
    PageRank whose accumulation order varies per shuffle. Each round is
    one join (ranks x edges) + one grouped sum; the edge table is
    MATERIALIZED once (eager checkpoint — a persist() alone would be a
    no-op here, since no action runs before this function returns the lazy
    result) and its 2*iters+2 downstream references read the checkpoint
    instead of re-running the distinct shuffle. On a real cluster pass
    reliable_checkpoint=True (+ checkpoint_dir=hdfs://...): an executor
    loss invalidates localCheckpoint blocks — the same trade the CC loop's
    cc_reliable_checkpoint config covers (operators/linking.py).

    seed_prefix (r5): PERSONALIZED PageRank — importance relative to a
    seed set rather than the uniform prior. Seeds = nodes whose id starts
    with the prefix (entity ids are 'label:hash', so 'person:' seeds all
    person entities); r0(v) = UNIT*is_seed(v) and the teleport term
    becomes (1-d)*UNIT*is_seed(v): rank mass originates at and teleports
    back to the seeds only (standard PPR, still pure bigint — the kg_ppr
    oracle replays it). Mutually exclusive with dangling=True (the
    uniform sink redistribution contradicts seeded teleport)."""
    if seed_prefix and dangling:
        raise ValueError("personalized + dangling redistribution is not "
                         "defined here; pick one")
    if not reliable_checkpoint:
        erows = edge_rows(triples, "directed")
        if erows is not None:
            # driver path (BOUNDS["edges"] gate): the bigint
            # PageRank rounds replayed exactly (DIV == // for the
            # nonneg operands here) for all three variants
            edges_d = [(r[0], r[1]) for r in erows]
            nodes_d = sorted({x for ed in edges_d for x in ed})
            if dangling and not nodes_d:
                return local_result(triples, [], "node string, rank long")
            od_d: dict = {}
            for u, _v in edges_d:
                od_d[u] = od_d.get(u, 0) + 1
            base_d = PR_UNIT * (1000 - damping) // 1000
            if seed_prefix:
                ranks_d = {
                    n: PR_UNIT if n.startswith(seed_prefix) else 0
                    for n in nodes_d
                }
            else:
                ranks_d = {n: PR_UNIT for n in nodes_d}
            n_nodes_d = len(nodes_d)
            for _ in range(iters):
                s = {n: 0 for n in nodes_d}
                for u, v in edges_d:
                    s[v] += ranks_d[u] // od_d[u]
                if dangling:
                    dt = sum(r for n, r in ranks_d.items() if n not in od_d)
                    share = dt // n_nodes_d
                    ranks_d = {
                        n: base_d + (damping * (s[n] + share)) // 1000
                        for n in nodes_d
                    }
                elif seed_prefix:
                    ranks_d = {
                        n: (base_d if n.startswith(seed_prefix) else 0)
                        + (damping * s[n]) // 1000
                        for n in nodes_d
                    }
                else:
                    ranks_d = {
                        n: base_d + (damping * s[n]) // 1000
                        for n in nodes_d
                    }
            return local_result(
                triples, list(ranks_d.items()), "node string, rank long",
                [F.desc("rank"), F.asc("node")],
            )
    e = graph_edges(triples)
    if reliable_checkpoint:
        sc = e.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(
                checkpoint_dir or tempfile.mkdtemp(prefix="gs_pr_ckpt_")
            )
        e = e.checkpoint()
    else:
        e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    od = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    base = PR_UNIT * (1000 - damping) // 1000
    n_nodes = None
    if dangling:
        nodes = nodes.persist()
        n_nodes = nodes.count()  # materializes the persist; N is fixed
        if n_nodes == 0:
            # empty edge set: the share expression would be DIV 0 (ANSI
            # raises); match the non-dangling path's empty result
            nodes.unpersist()
            return local_result(triples, [], "node string, rank long")
    if seed_prefix:
        _seed = F.col("node").startswith(seed_prefix)
        ranks = nodes.select(
            "node",
            F.when(_seed, F.lit(PR_UNIT)).otherwise(F.lit(0))
            .cast("long").alias("rank"),
        )
    else:
        ranks = nodes.select(
            "node", F.lit(PR_UNIT).cast("long").alias("rank")
        )
    prev_ckpt = None
    for _ in range(iters):
        if dangling:
            # ADVICE r4: the dangling round references `ranks` twice
            # (contrib join + sink-mass anti-join), so a lazy frame doubles
            # the logical plan every iteration (~2^iters analysis cost).
            # Materialize once per round — same trade as the CC loop; on a
            # real cluster reliable_checkpoint=True survives executor loss.
            ranks = (
                ranks.checkpoint() if reliable_checkpoint
                else ranks.localCheckpoint()
            )
            # ADVICE r5: checkpoint()/localCheckpoint() are eager, so once
            # the new round's blocks exist the previous round's are dead
            # weight — drop them instead of letting PR_ITERS rounds of rank
            # RDDs pile up in storage until GC.
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            prev_ckpt = ranks
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(od.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank DIV out_deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        if dangling:
            # total sink mass this round: 1-row aggregate over the ranks
            # of nodes absent from the out-degree table, broadcast back
            share = (
                ranks.join(od, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("_dt"))
                .select(F.expr(f"_dt DIV {n_nodes}").alias("_share"))
            )
            ranks = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(share))
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({damping} * (coalesce(s, 0) + _share)) "
                            "DIV 1000"
                        )
                    ).cast("long").alias("rank"),
                )
            )
        else:
            base_col = (
                F.when(
                    F.col("node").startswith(seed_prefix), F.lit(base)
                ).otherwise(F.lit(0))
                if seed_prefix else F.lit(base)
            )
            ranks = (
                nodes.join(contrib, "node", "left")
                .select(
                    "node",
                    (
                        base_col
                        + F.expr(
                            f"({damping} * coalesce(s, 0)) DIV 1000"
                        )
                    ).cast("long").alias("rank"),
                )
            )
    out = ranks.orderBy(F.desc("rank"), F.asc("node"))
    if dangling:
        out = attach_caches(out, nodes)
    return forward_caches(out, triples)


def undirected_edges(triples: DataFrame) -> DataFrame:
    """Canonical UNDIRECTED distinct edge set (a < b) of the entity graph
    — the shared input of triangle_counts / clustering_coefficients."""
    return undirected_edges_raw(triples).distinct()


def triangle_counts(
    triples: DataFrame,
    max_fanout: int = TWO_HOP_MAX_FANOUT,
    und: DataFrame | None = None,
) -> DataFrame:
    """Per-entity triangle participation counts over the UNDIRECTED
    distinct entity graph — the clustering-coefficient numerator and the
    standard "how clique-ish is this entity's neighborhood" KG signal.

    Node-ordered compact-forward enumeration: canonical undirected edges
    (a < b), wedges generated only from the SMALLEST node of the triangle
    (a-b, a-c with b < c), closed by one semi-join against the edge set —
    every triangle is found exactly once, as joins + aggregates (no UDF).
    Wedge generation from a pivot costs C(deg, 2) pairs, so pivots with
    canonical-degree > max_fanout are excluded and AUDITED (same
    capped_filter contract as two_hop_paths; the closing-edge lookup uses
    the UNCAPPED edge set). When the cap fires, every triangle whose
    SMALLEST member was a capped pivot is missed, so the emitted counts
    are LOWER BOUNDS for the capped pivots and their higher-id neighbors
    — the audit row records how many pivots were dropped, and
    clustering_coefficients surfaces the affected entities with a per-row
    `capped` flag. Pure integer counts — the kg_triangles oracle replays
    the same enumeration relationally.

    `und` optionally supplies a pre-built (possibly persisted) canonical
    undirected edge set so composing operators (clustering_coefficients)
    don't re-run the same distinct-exchange twice in one query."""
    if und is None:
        rows = edge_rows(triples, "undirected")
        if rows is not None:
            # driver path (BOUNDS["edges"] gate): _tri_driver is
            # the audited-cap compact-forward replay
            counts, audit = _tri_driver(
                {(r[0], r[1]) for r in rows}, max_fanout
            )
            return local_result(
                triples, sorted(counts.items()),
                "entity string, n_triangles long", ["entity"],
                audits=[audit],
            )
        und = undirected_edges(triples)
    w = Window.partitionBy("a")
    capped, audit = capped_filter(
        und.withColumn("fan", F.count(F.lit(1)).over(w)),
        "fan", max_fanout, "triangle_pivot_cap",
    )
    u1 = capped.select("a", F.col("b").alias("x"))
    u2 = capped.select("a", F.col("b").alias("y"))
    wedges = u1.join(u2, "a").filter(F.col("x") < F.col("y"))
    tris = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    members = (
        tris.select(F.col("a").alias("entity"))
        .union(tris.select(F.col("x").alias("entity")))
        .union(tris.select(F.col("y").alias("entity")))
    )
    out = (
        members.groupBy("entity")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("entity")
    )
    return forward_caches(attach_audits(out, audit), triples)


def clustering_coefficients(
    triples: DataFrame, max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """Local clustering coefficient per entity over the undirected
    distinct graph: cc(v) = 2*T(v) / (k(v)*(k(v)-1)), with T(v) the
    triangle participation count (triangle_counts, same audited pivot
    cap) and k(v) the number of distinct undirected neighbors. The
    ratio is ONE division of two exact bigints (2*T and k*(k-1)), so the
    kg_clustering oracle replays it bit-for-bit; entities with k < 2
    have no defined coefficient and are emitted with cc = 0.0 (the
    conventional fill), entities absent from the edge set are omitted.

    `capped` (ADVICE r5): when the triangle pivot cap fires, triangles
    pivoted at a capped node are missed, understating T(v) for that node
    and its higher-id neighbors. Rather than leaving the understatement
    observable only in the aggregate audit, each affected row carries
    capped = true so consumers can tell exact coefficients from lower
    bounds. With no capped pivots (the normal case) every row is false.

    Plan shape (r6): the canonical undirected edge set is computed ONCE
    and persisted at the branch point (it feeds the degree aggregate, the
    triangle subplan, and the capped-pivot flag — previously the same
    distinct ran twice per query); the persist handle rides on the output
    for release_caches. Aggregates and equi-joins only."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): triangle replay +
        # degree/capped bookkeeping in python; the one double division is
        # computed raw and rounded back IN Spark with the same F.round
        eset = {(r[0], r[1]) for r in rows}
        adj = _adj_from_und(rows)
        counts, audit = _tri_driver(eset, max_fanout)
        fwd_deg: dict = {}
        for a, _b in eset:
            fwd_deg[a] = fwd_deg.get(a, 0) + 1
        capped_piv = {a for a, d in fwd_deg.items() if d > max_fanout}
        affected = set(capped_piv)
        for a, b in eset:
            if a in capped_piv:
                affected.add(b)
        data = [
            (
                n,
                len(nbrs),
                counts.get(n, 0),
                (
                    float(2 * counts.get(n, 0))
                    / float(len(nbrs) * (len(nbrs) - 1))
                )
                if len(nbrs) >= 2
                else 0.0,
                n in affected,
            )
            for n, nbrs in adj.items()
        ]
        return local_result(
            triples, data,
            "entity string, k long, n_triangles long, _raw double, "
            "capped boolean",
            ["entity"],
            select=[
                "entity", "k", "n_triangles",
                F.when(F.col("k") >= 2, F.round("_raw", 6))
                .otherwise(F.lit(0.0)).alias("clustering"),
                "capped",
            ],
            audits=[audit],
        )
    und = undirected_edges(triples).persist()
    deg = (
        und.select(F.col("a").alias("entity"))
        .union(und.select(F.col("b").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    tri = triangle_counts(triples, max_fanout=max_fanout, und=und)
    capped_piv = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("fan"))
        .filter(F.col("fan") > max_fanout)
        .select("a")
    )
    affected = (
        capped_piv.select(F.col("a").alias("entity"))
        .union(
            und.join(F.broadcast(capped_piv), "a", "left_semi")
            .select(F.col("b").alias("entity"))
        )
        .distinct()
        .withColumn("capped", F.lit(True))
    )
    out = (
        deg.join(tri, "entity", "left")
        # no broadcast hint: `affected` contains every neighbor of every
        # capped pivot — a capped hub has > max_fanout neighbors, so the
        # set is only small when the cap never fires; let AQE decide.
        .join(affected, "entity", "left")
        .select(
            "entity",
            "k",
            F.coalesce("n_triangles", F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.when(
                F.col("k") >= 2,
                F.round(
                    (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                    / (F.col("k") * (F.col("k") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
            F.coalesce("capped", F.lit(False)).alias("capped"),
        )
        .orderBy("entity")
    )
    return attach_caches(
        forward_caches(attach_audits(out, tri), triples), und
    )


def node_similarity(
    triples: DataFrame, max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """Neighborhood Jaccard for every canonical undirected entity edge
    (a, b): J = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over the undirected
    distinct graph — the classic link-prediction / entity-resolution
    signal ("how much do these two connected entities share their
    neighborhoods"), the per-EDGE counterpart of the per-entity
    clustering coefficient. |N(a) ∪ N(b)| = k(a) + k(b) - common (note
    a ∈ N(b) and b ∈ N(a), so the union counts both endpoints — the
    standard edge-Jaccard convention; J < 1 for any real edge pair).

    Plan shape: common neighbors are enumerated compact-forward like
    triangle_counts — wedges (x, y) pivot at the shared neighbor, pivots
    with degree > max_fanout excluded and AUDITED (C(deg, 2) blowup
    bound; counts for edges touching a capped pivot's neighborhood are
    LOWER BOUNDS, recorded in the audit row). One symmetric adjacency is
    built from the persisted canonical edge set and shared by the degree
    aggregate and the wedge join; joins + aggregates only, one exact
    bigint division per row — the kg_node_similarity oracle replays it
    bit-for-bit."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): full-neighborhood
        # wedge counting with the audited pivot cap; the Jaccard double
        # is computed raw and rounded back IN Spark with the same F.round
        eset = {(r[0], r[1]) for r in rows}
        adj = _adj_from_und(rows)
        common: dict = {}
        n_dropped = 0
        max_fan = 0
        for node, nbrs in adj.items():
            fan = len(nbrs)
            max_fan = max(max_fan, fan)
            if fan > max_fanout:
                n_dropped += fan
                continue
            ns = sorted(nbrs)
            for i in range(len(ns)):
                for j in range(i + 1, len(ns)):
                    key = (ns[i], ns[j])
                    common[key] = common.get(key, 0) + 1
        data = [
            (
                a, b, common.get((a, b), 0), len(adj[a]), len(adj[b]),
                float(common.get((a, b), 0))
                / float(len(adj[a]) + len(adj[b]) - common.get((a, b), 0)),
            )
            for a, b in eset
        ]
        audit = {
            "guard": "nodesim_pivot_cap",
            "n_dropped_rows": n_dropped,
            "max_group_size": max_fan,
            "cap": int(max_fanout),
        }
        return local_result(
            triples, data,
            "a string, b string, common long, k_a long, k_b long, "
            "_raw double",
            ["a", "b"],
            select=[
                "a", "b", "common", "k_a", "k_b",
                F.round("_raw", 6).alias("jaccard"),
            ],
            audits=[audit],
        )
    und = undirected_edges(triples).persist()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    deg = sym.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    w = Window.partitionBy("node")
    capped, audit = capped_filter(
        sym.withColumn("fan", F.count(F.lit(1)).over(w)),
        "fan", max_fanout, "nodesim_pivot_cap",
    )
    s1 = capped.select("node", F.col("nbr").alias("x"))
    s2 = capped.select("node", F.col("nbr").alias("y"))
    wedges = s1.join(s2, "node").filter(F.col("x") < F.col("y"))
    cn = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("common")
    )
    out = (
        und.join(
            cn,
            (und["a"] == cn["x"]) & (und["b"] == cn["y"]),
            "left",
        )
        .join(deg.select(F.col("node").alias("a"), F.col("k").alias("k_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("k").alias("k_b")), "b")
        .select(
            "a",
            "b",
            F.coalesce("common", F.lit(0)).cast("long").alias("common"),
            "k_a",
            "k_b",
            F.round(
                F.coalesce("common", F.lit(0)).cast("double")
                / (F.col("k_a") + F.col("k_b")
                   - F.coalesce("common", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
        .orderBy("a", "b")
    )
    return attach_caches(
        forward_caches(attach_audits(out, audit), triples), und
    )


KCORE_K = 3
KCORE_MAX_ROUNDS = 16


def kcore(
    triples: DataFrame,
    k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """k-core of the undirected entity graph: the maximal subgraph in
    which every member keeps degree >= k WITHIN the subgraph — the
    standard dense-nucleus extraction (Seidman 1983; the usual KG recipe
    for separating a hub core from pendant/noise entities before
    community analysis). Computed by iterative peeling: drop nodes whose
    current degree < k, recompute degrees over the surviving edges,
    repeat to fixpoint. Returns survivors as (entity, core_degree) with
    core_degree the degree INSIDE the k-core (>= k by construction).

    Determinism + oracle: peeling is confluent (the k-core is unique and
    independent of removal order), so fixed-round replay is exact — the
    kg_kcore oracle unrolls KCORE_MAX_ROUNDS peel rounds (idempotent
    after convergence) while this side early-exits the round after no
    node fell below k. Pure integer degree counts; no tie-breaking
    anywhere.

    Scale shape: each round is one symmetrized map-side-combined degree
    aggregate + two left-anti joins against the (typically tiny) peeled
    set, localCheckpoint per round to cut lineage (same loop hygiene as
    connected_components / dangling pagerank, including unpersisting the
    previous round's blocks). Rounds are bounded: a graph with peel depth
    > max_rounds raises rather than returning a non-fixpoint (CC's
    convergence contract); real KGs converge in a handful of rounds —
    depth equals the longest chain of cascading removals, not |V|."""
    erows = edge_rows(triples, "undirected")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): the same confluent
        # peel over one bounded edge collect, including the bounded-round
        # non-convergence contract
        eset = {(r[0], r[1]) for r in erows}
        done = False
        for _ in range(max_rounds):
            deg: dict = {}
            for a, b in eset:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            bad = {n for n, d in deg.items() if d < k}
            if not bad:
                done = True
                break
            eset = {(a, b) for a, b in eset if a not in bad and b not in bad}
        if not done:
            raise RuntimeError(
                f"kcore(k={k}) did not converge within {max_rounds} "
                "rounds; raise max_rounds (peel depth exceeds the bound)"
            )
        deg = {}
        for a, b in eset:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return local_result(
            triples, sorted(deg.items()), "entity string, core_degree long",
            ["entity"],
        )
    edges = undirected_edges(triples).localCheckpoint()
    prev = edges
    converged = False
    for _ in range(max_rounds):
        sym = edges.select(F.col("a").alias("node")).union(
            edges.select(F.col("b").alias("node"))
        )
        deg = sym.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("core_degree")
        )
        # bad is referenced three times this round (convergence probe +
        # two anti-joins) — materialize the tiny peeled set once instead
        # of running the degree aggregate thrice
        bad = deg.filter(F.col("core_degree") < k).localCheckpoint()
        if bad.limit(1).count() == 0:
            bad.unpersist()
            converged = True
            break
        edges = (
            edges.join(
                bad.select(F.col("node").alias("a")), "a", "left_anti"
            )
            .join(bad.select(F.col("node").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
        bad.unpersist()
        prev.unpersist()
        prev = edges
    if not converged:
        raise RuntimeError(
            f"kcore(k={k}) did not converge within {max_rounds} rounds; "
            "raise max_rounds (peel depth exceeds the bound)"
        )
    out = (
        edges.select(F.col("a").alias("entity"))
        .union(edges.select(F.col("b").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .orderBy("entity")
    )
    return forward_caches(out, triples)


LP_UNIT = 1_000_000
LP_TOP = 100


def link_prediction(
    triples: DataFrame,
    top: int = LP_TOP,
    max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """Missing-link candidates by Resource Allocation index (Zhou,
    Lü & Zhang 2009 — the strongest of the classic local similarity
    indices): for every NON-adjacent pair (a, b) sharing at least one
    neighbor, score = sum over common neighbors c of 1/deg(c), here in
    exact integer micro-units (LP_UNIT DIV deg(c)) so the ranking is
    bit-deterministic and the kg_link_prediction oracle replays it. The
    KG-completion primitive: "these two entities are probably related,
    the extractor just never saw them in one document".

    Plan shape: candidate pairs are wedges pivoted at the shared
    neighbor (the SAME audited-cap compact-forward enumeration as
    node_similarity — a hub pivot contributes C(deg, 2) wedges, so
    pivots above max_fanout are excluded and audited; RA discounts hub
    evidence by 1/deg anyway, so the cap drops exactly the
    lowest-information wedges), anti-joined against the edge set to keep
    non-edges, grouped-sum scored, global top-N. Joins + aggregates
    only."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): RA wedges with the
        # audited pivot cap, non-edge filter, integer micro-unit scores,
        # deterministic top-N — all exact (LP_UNIT DIV deg == // nonneg)
        eset = {(r[0], r[1]) for r in rows}
        adj = _adj_from_und(rows)
        scores: dict = {}
        n_dropped = 0
        max_fan = 0
        for node, nbrs in adj.items():
            fan = len(nbrs)
            max_fan = max(max_fan, fan)
            if fan > max_fanout:
                n_dropped += fan
                continue
            ra = LP_UNIT // fan
            ns = sorted(nbrs)
            for i in range(len(ns)):
                for j in range(i + 1, len(ns)):
                    key = (ns[i], ns[j])
                    if key in eset:
                        continue  # existing edges are not candidates
                    s, c = scores.get(key, (0, 0))
                    scores[key] = (s + ra, c + 1)
        ranked = sorted(
            scores.items(), key=lambda kv: (-kv[1][0], kv[0][0], kv[0][1])
        )[:top]
        audit = {
            "guard": "linkpred_pivot_cap",
            "n_dropped_rows": n_dropped,
            "max_group_size": max_fan,
            "cap": int(max_fanout),
        }
        return local_result(
            triples, [(a, b, c, s) for (a, b), (s, c) in ranked],
            "a string, b string, common long, ra_score long",
            audits=[audit],
        )
    und = undirected_edges(triples).persist()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    w = Window.partitionBy("node")
    capped, audit = capped_filter(
        sym.withColumn("fan", F.count(F.lit(1)).over(w)),
        "fan", max_fanout, "linkpred_pivot_cap",
    )
    # wedge (x, y) at pivot `node` carries the pivot's RA contribution.
    # capped_filter drops its cap column, and node groups survive it
    # wholesale, so re-counting over the capped frame reproduces each
    # surviving pivot's true degree.
    capped = capped.withColumn("fan", F.count(F.lit(1)).over(w))
    s1 = capped.select("node", F.col("nbr").alias("x"), "fan")
    s2 = capped.select("node", F.col("nbr").alias("y"))
    wedges = s1.join(s2, "node").filter(F.col("x") < F.col("y"))
    nonedges = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    scored = (
        nonedges.select(
            "x", "y", F.expr(f"{LP_UNIT} DIV fan").alias("ra")
        )
        .groupBy("x", "y")
        .agg(
            F.sum("ra").cast("long").alias("ra_score"),
            F.count(F.lit(1)).cast("long").alias("common"),
        )
    )
    out = (
        scored.orderBy(F.desc("ra_score"), F.asc("x"), F.asc("y"))
        .limit(top)
        .select(
            F.col("x").alias("a"), F.col("y").alias("b"),
            "common", "ra_score",
        )
    )
    return attach_caches(
        forward_caches(attach_audits(out, audit), triples), und
    )


BFS_DEPTH = 4


def _bfs_dist_driver(edge_pairs, seed_prefix: str, depth: int) -> dict:
    """Multi-source directed BFS replay over collected distinct
    (src, dst) edge pairs: {node: first-reach distance} for every node
    within `depth` hops of any seed (id startswith seed_prefix). The
    level-order assignment is order-independent (first reach == min
    dist). Shared by bfs_distances and egonet."""
    adj_d: dict = {}
    node_set = set()
    for r in edge_pairs:
        adj_d.setdefault(r[0], []).append(r[1])
        node_set.add(r[0])
        node_set.add(r[1])
    dist_d = {n: 0 for n in node_set if n.startswith(seed_prefix)}
    frontier = list(dist_d)
    for d in range(1, depth + 1):
        nxt = []
        for u in frontier:
            for v in adj_d.get(u, ()):
                if v not in dist_d:
                    dist_d[v] = d
                    nxt.append(v)
        if not nxt:
            break
        frontier = nxt
    return dist_d


def bfs_distances(
    triples: DataFrame,
    seed_prefix: str = "person:",
    depth: int = BFS_DEPTH,
) -> DataFrame:
    """Minimum directed-hop distance from any SEED entity (id starts with
    `seed_prefix`) within `depth` hops over the distinct edge set — the
    multi-hop neighborhood query ("everything within 4 hops of a person")
    that KG consumers run for subgraph extraction and provenance
    expansion. Level-synchronous BFS: each round expands the current
    frontier one hop and keeps only NEWLY reached nodes (anti-join
    against everything already distanced), so every node is assigned its
    first = minimum distance exactly once; pure integers, no tie-breaks.

    Early exit on an empty frontier equals running all `depth` rounds
    (later rounds are no-ops), so the kg_bfs oracle's fixed unrolled
    levels replay this bit-for-bit. Scale shape: one equi-join +
    distinct + anti-join per round over the localCheckpointed edge set
    (frontiers shrink after the expansion wave); depth is a constant, so
    the plan is a fixed pipeline, not a data-dependent recursion."""
    erows = edge_rows(triples, "directed")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): multi-source
        # directed BFS replay over one bounded edge collect
        dist_d = _bfs_dist_driver(erows, seed_prefix, depth)
        return local_result(
            triples, list(dist_d.items()), "node string, dist long",
            ["dist", "node"],
        )
    e = graph_edges(triples).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # r7 (guide §2.4): one lazy fixed-depth plan instead of a per-level
    # localCheckpoint + anti-join + empty-frontier probe (4 jobs/level):
    # level d = level d-1 expanded one directed hop (join + distinct),
    # tagged with d; dist = min d per node == first-reach BFS distance
    # (min walk length is the shortest-path length; levels past the true
    # reach are empty and contribute nothing, like the old early exit).
    lev0 = (
        nodes.filter(F.col("node").startswith(seed_prefix))
        .select("node")
        .localCheckpoint()
    )
    lev = lev0
    parts = [lev0.select("node", F.lit(0).cast("long").alias("dist"))]
    for d in range(1, depth + 1):
        lev = (
            lev.join(e, lev["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        parts.append(lev.select("node", F.lit(d).cast("long").alias("dist")))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.union(p)
    dist = allp.groupBy("node").agg(F.min("dist").cast("long").alias("dist"))
    # e / seed-level checkpoints ride the output as releasable handles
    # (ADVICE r6: loop operators should expose their surviving
    # checkpoints to release_caches instead of pinning blocks until GC)
    return attach_caches(
        forward_caches(dist.orderBy("dist", "node"), triples), e, lev0
    )


LPA_ROUNDS = 4


def _lpa_driver(adj, rounds: int) -> dict:
    """Synchronous LPA replay: plurality neighbor label, ties -> min
    label — exactly the grouped-count + (desc c, asc lbl) row_number
    pick of the distributed rounds."""
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for node, nbrs in adj.items():
            cnt: dict = {}
            for v in nbrs:
                lab = labels[v]
                cnt[lab] = cnt.get(lab, 0) + 1
            new[node] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def lpa_communities(
    triples: DataFrame, rounds: int = LPA_ROUNDS,
    und: DataFrame | None = None, sort: bool = True,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert & Kumara 2007, made deterministic): every node starts labeled
    with its own id; each round EVERY node simultaneously adopts the
    plurality label among its neighbors, ties broken by MINIMUM label —
    no randomized visit order, no asynchronous races, so the result is a
    pure function of the graph and bit-replayable by the kg_lpa oracle.
    A fixed `rounds` bound replaces "iterate to consensus": synchronous
    LPA need not converge at all (bipartite structures oscillate), so
    bounded rounds IS the spec, not an approximation of it — and a round
    that changes no label is a fixpoint (new = f(old)), so the full
    unroll run here equals the oracle's round CTEs exactly.

    Communities complement the other graph gates: connected components
    give reachability-level grouping, k-core gives density nuclei; LPA
    gives the mesoscale "who clusters with whom" split inside a
    component. Returned as (entity, community) with community = the
    surviving label (an entity id), ordered by entity.

    Scale shape: each round is one equi-join of the symmetric adjacency
    against the current (node, lbl) map, one (node, lbl) grouped count
    (map-side partial — the shuffle carries at most one row per distinct
    neighbor label per node, never one per edge), and one per-node
    row_number window over those counts (partition size <= the node's
    distinct neighbor-label count <= its degree; the same hub exposure
    as the degree aggregate itself, no C(deg,2) blowup anywhere).
    r7 (guide §2.4): the fixed `rounds` unroll is ONE lazy plan — the
    old per-round localCheckpoint + changed-probe pair (2 jobs/round)
    existed only to drive the early exit, and a no-change round is a
    fixpoint (new = f(old)), so running the full unroll lazily computes
    the identical labels in a single action; each round references its
    predecessor exactly once, so lineage stays linear. `und`: a
    caller-materialized canonical undirected edge set to share
    (partition_modularity passes its own so one query runs the distinct
    once — the clustering_coefficients lesson); `sort=False` skips the
    output sort for composing consumers."""
    own_und = None
    if und is None:
        rows = edge_rows(triples, "undirected")
        if rows is not None:
            # driver path (BOUNDS["edges"] gate): _lpa_driver is
            # the exact synchronous-LPA replay over one bounded collect
            labels_d = _lpa_driver(_adj_from_und(rows), rounds)
            return local_result(
                triples, list(labels_d.items()),
                "entity string, community string",
                ["entity"] if sort else (),
            )
        und = own_und = undirected_edges(triples).localCheckpoint()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    labels = (
        sym.select("node")
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(rounds):
        labels = (
            sym.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    out = labels.select(
        F.col("node").alias("entity"), F.col("lbl").alias("community")
    )
    if sort:
        out = out.orderBy("entity")
    out = forward_caches(out, triples)
    if own_und is not None:
        out = attach_caches(out, own_und)  # releasable (ADVICE r6)
    return out


def _duckdb_round6_py(x: float) -> float:
    """Python replay of _duckdb_round6 (std::round(x*1e6)/1e6, half away
    from zero on the binary double, -0.0 preserved)."""
    import math

    y = x * 1e6
    a = abs(y)
    t = math.floor(a)
    mag = t + (1.0 if a - t >= 0.5 else 0.0)
    if y < 0:
        r = -mag
    elif y > 0:
        r = mag
    else:
        r = y
    return r / 1e6


def partition_modularity(
    triples: DataFrame, rounds: int = LPA_ROUNDS,
) -> DataFrame:
    """Newman modularity decomposition of the LPA partition — the
    standard "are these communities real" score, per community and in
    EXACT arithmetic: for community c with e_c intra-community edges and
    d_c total member degree over an m-edge undirected graph,

        q_c = e_c/m - (d_c/(2m))^2 = (4*m*e_c - d_c^2) / (4*m^2)

    and Q = sum_c q_c (in [-1/2, 1]; ~0 means the partition is no better
    than random). Numerator and denominator are exact bigints here, and
    the single rounded division reproduces DuckDB's round() on the
    binary double (_duckdb_round6, incl. -0.0), so the kg_modularity
    oracle replays it bit-for-bit. (Bigint validity bound: 4*m*e_c needs m*e_c < 2^61 — fine up
    to ~1.5e9 edges; past that a consumer switches the final division to
    doubles, the standard practice at that scale.)

    Plan shape: ONE canonical undirected distinct, localCheckpointed and
    shared by the LPA rounds, the degree aggregate and the intra-edge
    count (the clustering_coefficients single-distinct lesson); m rides
    as a broadcast 1-row aggregate (no driver collect); two label joins
    + three grouped aggregates, no window wider than a node's label
    candidates."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): LPA + the exact
        # integer modularity decomposition over one bounded edge collect;
        # the one double division replays DuckDB's round via
        # _duckdb_round6_py (same floats: int->double exact below 2^53,
        # IEEE division both engines)
        adj = _adj_from_und(rows)
        labels_d = _lpa_driver(adj, rounds)
        m = len(rows)
        e_intra: dict = {}
        for r in rows:
            ca = labels_d[r[0]]
            if ca == labels_d[r[1]]:
                e_intra[ca] = e_intra.get(ca, 0) + 1
        comm: dict = {}
        for node, c in labels_d.items():
            n_nodes, d_total = comm.get(c, (0, 0))
            comm[c] = (n_nodes + 1, d_total + len(adj[node]))
        data = [
            (
                c,
                n_nodes,
                e_intra.get(c, 0),
                d_total,
                _duckdb_round6_py(
                    float(4 * m * e_intra.get(c, 0) - d_total * d_total)
                    / float(4 * m * m)
                ),
            )
            for c, (n_nodes, d_total) in comm.items()
        ]
        return local_result(
            triples, data,
            "community string, n_nodes long, e_intra long, d_total long, "
            "q_contrib double",
            ["community"],
        )
    und = undirected_edges(triples).localCheckpoint()
    # the LPA unroll is lazy (r7); this operator reads it three times
    # (both intra-edge endpoints + the degree-sum join), so materialize
    # the final labels once
    labels = lpa_communities(triples, rounds, und=und, sort=False)
    labels = labels.localCheckpoint()
    la = labels.select(F.col("entity").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("entity").alias("b"), F.col("community").alias("cb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_intra"))
    )
    deg = (
        und.select(F.col("a").alias("entity"))
        .union(und.select(F.col("b").alias("entity")))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    comm = (
        labels.join(deg, "entity", "left")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce("k", F.lit(0))).cast("long").alias("d_total"),
        )
    )
    mrow = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    out = (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(mrow))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_intra", F.lit(0)).cast("long").alias("e_intra"),
            "d_total",
            _duckdb_round6(
                (
                    4 * F.col("m") * F.coalesce("e_intra", F.lit(0))
                    - F.col("d_total") * F.col("d_total")
                ).cast("double")
                / (4 * F.col("m") * F.col("m"))
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )
    return attach_caches(forward_caches(out, triples), und, labels)


def schema_profile(triples: DataFrame) -> DataFrame:
    """Schema/ontology induction over the emitted triples: one grouped
    aggregate per (subj_type, pred, obj_type) signature with triple
    count, distinct subject/object entity counts and the functionality
    ratio n_triples/n_subjects (≈1 means the predicate is functional —
    each subject carries at most one object; >1 means multi-valued) —
    the profile a KG consumer reads FIRST to learn what the extractor
    actually emitted, and the standard input to ontology alignment /
    constraint mining. Single map-side-combined aggregate (distincts are
    per-group partial), no joins; deterministic (count DESC, signature)
    ordering."""
    out = (
        triples.groupBy("subj_type", "pred", "obj_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subjects"),
            F.countDistinct("obj").cast("long").alias("n_objects"),
        )
        .select(
            "subj_type",
            "pred",
            "obj_type",
            "n_triples",
            "n_subjects",
            "n_objects",
            F.round(
                F.col("n_triples").cast("double") / F.col("n_subjects"), 6
            ).alias("functionality"),
        )
        .orderBy(
            F.desc("n_triples"), "subj_type", "pred", "obj_type"
        )
    )
    return forward_caches(out, triples)


FUNCTIONAL_PERMILLE = 900  # quasi-functional threshold (>= 90.0%)


def cardinality_constraints(triples: DataFrame) -> DataFrame:
    """Per-predicate cardinality-constraint mining: how close each
    predicate is to functional (one object per subject) and
    inverse-functional (one subject per object), in exact permille, plus
    the quasi-constraint verdicts at the 90% threshold — the AMIE-style
    constraint profile an ontology consumer mines from a constructed KG
    to flag extraction errors (a 97%-functional `born_in` with 12
    violating subjects is 12 probable extractor mistakes).

    Two two-level grouped aggregates (subject side and object side),
    merged on the predicate — map-side partial throughout, no joins
    wider than |predicates| rows, exact integer permille (floor DIV)."""
    so = triples.groupBy("pred", "subj").agg(
        F.countDistinct("obj").alias("n_obj")
    )
    fwd = so.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.sum(F.when(F.col("n_obj") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_functional"),
        F.max("n_obj").cast("long").alias("max_objs"),
    )
    os_ = triples.groupBy("pred", "obj").agg(
        F.countDistinct("subj").alias("n_subj")
    )
    inv = os_.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_objects"),
        F.sum(F.when(F.col("n_subj") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_inv_functional"),
        F.max("n_subj").cast("long").alias("max_subjs"),
    )
    out = (
        fwd.join(inv, "pred")
        .withColumn(
            "functional_permille",
            F.expr("1000 * n_functional DIV n_subjects"),
        )
        .withColumn(
            "inverse_permille",
            F.expr("1000 * n_inv_functional DIV n_objects"),
        )
        .select(
            "pred",
            "n_subjects",
            "n_functional",
            "max_objs",
            "functional_permille",
            (F.col("functional_permille") >= FUNCTIONAL_PERMILLE).alias(
                "is_functional"
            ),
            "n_objects",
            "n_inv_functional",
            "max_subjs",
            "inverse_permille",
            (F.col("inverse_permille") >= FUNCTIONAL_PERMILLE).alias(
                "is_inverse_functional"
            ),
        )
        .orderBy("pred")
    )
    return forward_caches(out, triples)


def entity_provenance(triples: DataFrame) -> DataFrame:
    """Per-entity provenance card: distinct supporting documents, triple
    participation split by role, distinct predicates, and the first/last
    document ids — the "where did this node come from" record every KG
    with provenance tracking materializes next to the entity table
    (W3C PROV flavor), and the evidence index for manual auditing.

    One UNION ALL of the two role projections feeding one grouped
    aggregate — a single shuffle on the entity id."""
    # r7 pass 3: the whole card aggregates in pyarrow C++ over one raw
    # Arrow collect (count_distinct / count_all / sum / min / max —
    # UTF-8 binary min/max == Spark string min/max); gate on the
    # distinct entity count
    tbl = None
    if gate.bound() > 0:
        tbl = gate.collect_raw(
            triples.select("doc_id", "pred", "subj", "obj")
        )
    if tbl is not None:
        import pyarrow as pa

        n = tbl.num_rows
        sides_t = pa.concat_tables([
            tbl.select(["doc_id", "pred", "subj"])
            .rename_columns(["doc_id", "pred", "entity"])
            .append_column("as_subj", pa.array([1] * n, pa.int64())),
            tbl.select(["doc_id", "pred", "obj"])
            .rename_columns(["doc_id", "pred", "entity"])
            .append_column("as_subj", pa.array([0] * n, pa.int64())),
        ])
        agg = gate.group(None, ["entity"], [
            ("doc_id", "count_distinct"),
            ([], "count_all"),
            ("as_subj", "sum"),
            ("pred", "count_distinct"),
            ("doc_id", "min"),
            ("doc_id", "max"),
        ], sides_t)
        if agg is not None:
            data = [
                (e, nd, nt, ns, nt - ns, np_, fd, ld)
                for e, nd, nt, ns, np_, fd, ld in gate.rows(agg)
            ]
            return local_result(
                triples, data,
                "entity string, n_docs long, n_triples long, "
                "n_as_subj long, n_as_obj long, n_preds long, "
                "first_doc string, last_doc string",
                ["entity"],
            )
    sides = triples.select(
        "doc_id", "pred", F.col("subj").alias("entity"),
        F.lit(1).alias("as_subj"),
    ).unionAll(
        triples.select(
            "doc_id", "pred", F.col("obj").alias("entity"),
            F.lit(0).alias("as_subj"),
        )
    )
    out = (
        sides.groupBy("entity")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.sum("as_subj").cast("long").alias("n_as_subj"),
            (F.count(F.lit(1)) - F.sum("as_subj"))
            .cast("long")
            .alias("n_as_obj"),
            F.countDistinct("pred").cast("long").alias("n_preds"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("entity")
    )
    return forward_caches(out, triples)


TRUSS_K = 4            # every surviving edge sits in >= k-2 triangles
TRUSS_MAX_ROUNDS = 8


def _ktruss_driver(erows, k, max_rounds, max_fanout):
    """Driver replay of the audited-cap edge peel: per round, wedges come
    only from pivots whose canonical forward-degree is <= max_fanout
    (capped_filter over Window.partitionBy('a')), closure checks the
    UNCAPPED edge set, support < k-2 edges peel — confluent, bounded
    rounds. Returns (survivor rows, per-round audit dicts)."""
    eset = {(r[0], r[1]) for r in erows}
    audits = []
    for r in range(max_rounds + 1):
        fwd: dict = {}
        for a, b in eset:
            fwd.setdefault(a, []).append(b)
        n_dropped = 0
        max_fan = 0
        sup = {e: 0 for e in eset}
        for a, bs in fwd.items():
            fan = len(bs)
            max_fan = max(max_fan, fan)
            if fan > max_fanout:
                n_dropped += fan
                continue
            bss = sorted(bs)
            for i in range(len(bss)):
                for j in range(i + 1, len(bss)):
                    x, y = bss[i], bss[j]
                    if (x, y) in eset:
                        sup[(a, x)] += 1
                        sup[(a, y)] += 1
                        sup[(x, y)] += 1
        audits.append(
            {
                "guard": f"truss_pivot_cap_{r}",
                "n_dropped_rows": n_dropped,
                "max_group_size": max_fan,
                "cap": int(max_fanout),
            }
        )
        bad = {e for e in eset if sup[e] < k - 2}
        if not bad:
            return (
                sorted((a, b, sup[(a, b)]) for a, b in eset),
                audits,
            )
        eset -= bad
    raise RuntimeError(
        f"ktruss(k={k}) did not converge within {max_rounds} rounds; "
        "raise max_rounds (peel depth exceeds the bound)"
    )


def ktruss(
    triples: DataFrame,
    k: int = TRUSS_K,
    max_rounds: int = TRUSS_MAX_ROUNDS,
    max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """k-truss of the undirected entity graph: the maximal subgraph in
    which every EDGE participates in >= k-2 triangles within the
    subgraph (Cohen 2008) — the edge-centric sibling of kcore and the
    standard cohesive-community nucleus (a k-truss is always inside the
    (k-1)-core but much denser). Returned as the surviving edges
    (a, b, support) with support counted INSIDE the truss.

    Computed by iterative edge peeling: count per-edge triangle support
    with the compact-forward enumeration (wedges only from the smallest
    node, AUDITED pivot cap, closure semi-join against the UNCAPPED
    current edge set — triangle_counts' exact shape), drop edges with
    support < k-2, repeat to fixpoint. Peeling is confluent (the
    k-truss is unique), so the kg_truss oracle's fixed unroll of
    max_rounds rounds (idempotent after convergence) replays the
    early-exited fixpoint exactly; a graph with peel depth > max_rounds
    raises rather than returning a non-fixpoint (kcore's contract).
    When the pivot cap fires, support is a lower bound and peeling is
    correspondingly more aggressive — deterministic either way, and the
    per-round audits record it.

    Scale shape per round: one windowed fan count, one wedge self-join
    bounded by cap * |edges|, one closure semi-join, one grouped count,
    one left join + filter; localCheckpoint per round with the previous
    round unpersisted (CC loop hygiene)."""
    erows = edge_rows(triples, "undirected")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate) — _ktruss_driver
        # replays the audited peel; per-round cap audits ride the output
        # as local 1-row frames so skew_metrics keeps working
        data, audit_dicts = _ktruss_driver(erows, k, max_rounds, max_fanout)
        return local_result(
            triples, data, "a string, b string, support long", ["a", "b"],
            audits=audit_dicts,
        )

    def support(edges, tag):
        w = Window.partitionBy("a")
        capped, audit = capped_filter(
            edges.withColumn("fan", F.count(F.lit(1)).over(w)),
            "fan", max_fanout, tag,
        )
        u1 = capped.select("a", F.col("b").alias("x"))
        u2 = capped.select("a", F.col("b").alias("y"))
        wedges = u1.join(u2, "a").filter(F.col("x") < F.col("y"))
        tris = wedges.join(
            edges.select(F.col("a").alias("x"), F.col("b").alias("y")),
            ["x", "y"],
            "left_semi",
        )
        sup = (
            tris.select("a", F.col("x").alias("b"))
            .union(tris.select("a", F.col("y").alias("b")))
            .union(tris.select(F.col("x").alias("a"), F.col("y").alias("b")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )
        return sup, audit

    edges = undirected_edges(triples).localCheckpoint()
    prev = edges
    audits = []
    out = None
    # max_rounds + 1: same peel-plus-confirm bound as kcore
    for r in range(max_rounds + 1):
        sup, audit = support(edges, f"truss_pivot_cap_{r}")
        audits.append(audit)
        joined = edges.join(sup, ["a", "b"], "left").select(
            "a", "b",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        bad = joined.filter(F.col("support") < k - 2).localCheckpoint()
        if bad.limit(1).count() == 0:
            bad.unpersist()
            out = joined.orderBy("a", "b")
            break
        edges = (
            joined.join(bad.select("a", "b"), ["a", "b"], "left_anti")
            .select("a", "b")
            .localCheckpoint()
        )
        bad.unpersist()
        prev.unpersist()
        prev = edges
    if out is None:
        raise RuntimeError(
            f"ktruss(k={k}) did not converge within {max_rounds} rounds; "
            "raise max_rounds (peel depth exceeds the bound)"
        )
    return forward_caches(attach_audits(out, *audits), triples)


# default fixture metapath: founders' companies' locations
METAPATH = ("founded", "based_in")


def metapath_counts(
    triples: DataFrame,
    preds: tuple = METAPATH,
    max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """Typed metapath instance counts: (src, dst, n_paths) over walks
    src -p1-> m1 -p2-> ... -pk-> dst following the GIVEN predicate
    sequence — the bounded regular-path query (SPARQL property path /
    heterogeneous-network metapath of Sun et al. 2011) that a typed KG
    makes meaningful where the untyped two_hop_paths cannot.

    Per-step distinct edge sets filtered to the step predicate; every
    join step caps the join-key fan-out of its right side with the same
    AUDITED contract as the 2-hop hub cap, so step i's output is
    bounded by |frontier_i| * max_fanout and a hub entity can never
    quadratically blow up the walk join. Self-loop walks (src == dst)
    are excluded at the end."""
    if len(preds) < 2:
        raise ValueError("metapath needs at least 2 predicates")
    # r7: below the distinct-edge bound the audited hub-capped walk
    # joins replay on the driver from one bounded collect of the
    # metapath predicates' edges (all-integer output; per-step audit
    # frames keep skew_metrics working). The capped join chain
    # (unchanged) is the scale path above it.
    rows = edge_rows(triples, "preds", preds)
    if rows is not None:
        from collections import Counter

        by_pred: dict = {}
        for s, p, o in rows:
            by_pred.setdefault(p, []).append((s, o))
        frontier = by_pred.get(preds[0], [])
        audits = []
        for k, p in enumerate(preds[1:], start=1):
            adj: dict = {}
            for s, o in by_pred.get(p, []):
                adj.setdefault(s, []).append(o)
            n_dropped = sum(
                len(v) for v in adj.values() if len(v) > max_fanout
            )
            max_sz = max((len(v) for v in adj.values()), default=0)
            ok = {
                s: v for s, v in adj.items() if len(v) <= max_fanout
            }
            frontier = [
                (s, nxt)
                for (s, mid) in frontier
                for nxt in ok.get(mid, ())
            ]
            audits.append({
                "guard": f"metapath_hub_cap_{k}",
                "n_dropped_rows": n_dropped,
                "max_group_size": max_sz,
                "cap": int(max_fanout),
            })
        cnt = Counter((s, d) for s, d in frontier if s != d)
        return local_result(
            triples, sorted((s, d, n) for (s, d), n in cnt.items()),
            "src string, dst string, n_paths long", ["src", "dst"],
            audits=audits,
        )
    steps = [
        triples.filter(F.col("pred") == p)
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        for p in preds
    ]
    frontier = steps[0]
    audits = []
    for k, step in enumerate(steps[1:], start=1):
        w = Window.partitionBy("src")
        ok, audit = capped_filter(
            step.withColumn("fan", F.count(F.lit(1)).over(w)),
            "fan", max_fanout, f"metapath_hub_cap_{k}",
        )
        audits.append(audit)
        frontier = frontier.join(
            ok.select(
                F.col("src").alias("dst"), F.col("dst").alias("nxt")
            ),
            "dst",
        ).select("src", F.col("nxt").alias("dst"))
    out = (
        frontier.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy("src", "dst")
    )
    return forward_caches(attach_audits(out, *audits), triples)


WL_ROUNDS = 3


def _wl_driver_colors(adj: dict, rounds: int) -> dict:
    """WL refinement replay (the wl_colors driver-path core, shared with
    summary_graph): init color = fold_hash(type prefix), update = own
    color folded with the sorted neighbor-color multiset, FOLD_M/P31
    arithmetic identical to the distributed rounds."""
    from gliner_spark.functions.text import FOLD_M, P31

    cols_d = {
        n: _fold_hash_py(n.split(":", 1)[0]) for n in adj
    }
    for _ in range(rounds):
        new = {}
        for node, nbrs in adj.items():
            acc = 0
            for c in sorted(cols_d[v] for v in nbrs):
                acc = (acc * FOLD_M + c) % P31
            new[node] = (cols_d[node] * FOLD_M + acc) % P31
        cols_d = new
    return cols_d


def wl_colors(
    triples: DataFrame, rounds: int = WL_ROUNDS,
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement over the
    undirected entity graph (Weisfeiler & Leman 1968; the WL-kernel
    relabeling of Shervashidze et al. 2011): every entity starts with a
    color derived from its TYPE, then for a fixed number of rounds each
    entity's color is re-hashed together with the SORTED multiset of its
    neighbors' colors. After r rounds two entities share a color iff
    their radius-r typed neighborhoods are indistinguishable — the
    standard structural-role signature used for graph-kernel features,
    role-equivalent entity grouping, and cheap candidate pruning before
    expensive graph-isomorphism or entity-matching checks on a
    constructed KG. Returns (entity, wl_color, class_size) with
    class_size the number of entities sharing the final color.

    Determinism + oracle: the refinement hash is pure bigint arithmetic
    — init color = fold_hash(type prefix) (functions/text.fold_hash),
    update = (own * FOLD_M + foldl((acc, c) -> (acc * FOLD_M + c) % P31,
    0, sorted neighbor colors)) % P31 — so the kg_wl oracle replays it
    exactly with list_sort + list_reduce over unrolled MATERIALIZED
    round CTEs. Sorting the neighbor multiset removes the only
    order-sensitivity; no floats, no tie-breaking.

    Scale shape per round: one equi-join of the symmetrized edge list
    against the current (entity, color) frame, one sorted-list
    aggregate, one join for the entity's own color — all shuffles on
    the entity key, state exactly |V| rows, localCheckpoint per round
    with the previous round unpersisted (CC loop hygiene). Neighbor
    lists are degree-sized; a 100 TB graph's hubs make the collect_list
    large but it stays O(deg), the same bound every degree aggregate
    here already carries."""
    from gliner_spark.functions.text import FOLD_M, P31, fold_hash

    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): the refinement hash
        # is pure bigint arithmetic — replayed exactly (fold_hash of the
        # type prefix, sorted neighbor colors, same FOLD_M/P31 folds)
        adj = _adj_from_und(rows)
        cols_d = _wl_driver_colors(adj, rounds)
        sizes: dict = {}
        for c in cols_d.values():
            sizes[c] = sizes.get(c, 0) + 1
        return local_result(
            triples, [(n, c, sizes[c]) for n, c in cols_d.items()],
            "entity string, wl_color long, class_size long", ["entity"],
        )
    und = undirected_edges(triples).localCheckpoint()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    colors = (
        sym.select("node")
        .distinct()
        .select(
            F.col("node").alias("entity"),
            fold_hash(F.substring_index("node", ":", 1))
            .cast("long")
            .alias("color"),
        )
    )
    # r7 (guide §2.4): the fixed-round refinement is ONE lazy plan — the
    # old per-round localCheckpoint job existed only for loop hygiene;
    # each round reads its predecessor twice (neighbor + own color), and
    # those two identical subtrees share their shuffle via ReusedExchange
    # at runtime, so nothing is computed twice.
    for _ in range(rounds):
        nb = (
            sym.join(
                colors.select(F.col("entity").alias("nbr"), "color"), "nbr"
            )
            .groupBy("node")
            .agg(F.array_sort(F.collect_list("color")).alias("cs"))
        )
        colors = (
            nb.join(
                colors.select(
                    F.col("entity").alias("node"),
                    F.col("color").alias("own"),
                ),
                "node",
            )
            .select(
                F.col("node").alias("entity"),
                (
                    (
                        F.col("own") * F.lit(FOLD_M)
                        + F.aggregate(
                            "cs",
                            F.lit(0).cast("long"),
                            lambda acc, x: (acc * F.lit(FOLD_M) + x)
                            % F.lit(P31),
                        )
                    )
                    % F.lit(P31)
                )
                .cast("long")
                .alias("color"),
            )
        )
    w = Window.partitionBy("color")
    out = colors.select(
        "entity",
        F.col("color").alias("wl_color"),
        F.count(F.lit(1)).over(w).cast("long").alias("class_size"),
    ).orderBy("entity")
    return attach_caches(forward_caches(out, triples), und)


def degree_histogram(triples: DataFrame) -> DataFrame:
    """Exact log2-bucketed degree-distribution histogram of the
    undirected entity graph — the first scale-free / power-law profile
    read on a constructed KG (Barabasi-Albert style degree plots), and
    the skew diagnostic that tells an operator where the hub caps and
    salting thresholds should sit BEFORE running the expensive wedge
    operators. One row per occupied bucket b = floor(log2(degree)):
    (bucket, lo, hi, n_entities, sum_degree), exact integers only.

    The bucket index is computed as length(bin(degree)) - 1 — the bit
    length of the degree minus one — identically on the Spark side
    (F.bin) and the DuckDB oracle (bin()), avoiding float log2 entirely.
    Plan: one symmetrized map-side-combined degree aggregate, one
    16-ish-row bucket aggregate — two shuffles total, output size
    log2(max_degree) rows at ANY corpus scale."""
    # r7 pass 3: bucket index = bit_length - 1 == length(bin(d)) - 1
    # exactly; the replay is one collected-edge degree counter plus an
    # all-integer bucket fold
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        deg: dict = {}
        for a, b_ in rows:
            deg[a] = deg.get(a, 0) + 1
            deg[b_] = deg.get(b_, 0) + 1
        buckets: dict = {}
        for d in deg.values():
            k = d.bit_length() - 1
            bb = buckets.get(k)
            if bb is None:
                buckets[k] = [d, d, 1, d]
            else:
                if d < bb[0]:
                    bb[0] = d
                if d > bb[1]:
                    bb[1] = d
                bb[2] += 1
                bb[3] += d
        data = sorted(
            (k, 1 << k, (2 << k) - 1, v[0], v[1], v[2], v[3])
            for k, v in buckets.items()
        )
        return local_result(
            triples, data,
            "bucket long, lo long, hi long, min_degree long, "
            "max_degree long, n_entities long, sum_degree long",
            ["bucket"],
        )
    und = undirected_edges(triples)
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    b = (F.length(F.bin(F.col("degree"))) - F.lit(1)).cast("long")
    out = (
        deg.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("degree").cast("long").alias("sum_degree"),
        )
        .withColumn(
            "lo",
            F.expr("CAST(shiftleft(1L, CAST(bucket AS INT)) AS BIGINT)"),
        )
        .withColumn(
            "hi",
            F.expr(
                "CAST(shiftleft(2L, CAST(bucket AS INT)) - 1 AS BIGINT)"
            ),
        )
        .select(
            "bucket", "lo", "hi", "min_degree", "max_degree",
            "n_entities", "sum_degree",
        )
        .orderBy("bucket")
    )
    return forward_caches(out, triples)


HC_SEEDS = 16
HC_DEPTH = 4
HC_UNIT = 1_000_000



def _tri_driver(eset: set, cap: int):
    """Compact-forward triangle counting replay with the audited pivot
    cap: wedges only from pivots with canonical forward-degree <= cap;
    closure checks the UNCAPPED edge set. Returns ({entity: n_triangles},
    audit dict)."""
    fwd: dict = {}
    for a, b in eset:
        fwd.setdefault(a, []).append(b)
    counts: dict = {}
    n_dropped = 0
    max_fan = 0
    for a, bs in fwd.items():
        fan = len(bs)
        max_fan = max(max_fan, fan)
        if fan > cap:
            n_dropped += fan
            continue
        bss = sorted(bs)
        for i in range(len(bss)):
            for j in range(i + 1, len(bss)):
                x, y = bss[i], bss[j]
                if (x, y) in eset:
                    counts[a] = counts.get(a, 0) + 1
                    counts[x] = counts.get(x, 0) + 1
                    counts[y] = counts.get(y, 0) + 1
    audit = {
        "guard": "triangle_pivot_cap",
        "n_dropped_rows": n_dropped,
        "max_group_size": max_fan,
        "cap": int(cap),
    }
    return counts, audit


def _seed_bfs_matrix(adj, seeds, depth: int):
    """Driver replay of _seed_bfs: (nodes, D) with D[i, j] the
    first-reach distance of nodes[j] from seeds[i] (-1 unreached) — a
    CSR numpy level-synchronous BFS (first reach == min dist is
    order-independent). It replaced a per-node python loop that was
    ~0.8 s of every seed-BFS-consuming driver path at sf0.1."""
    import numpy as np

    nodes = list(adj)
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.fromiter(
        (len(adj[x]) for x in nodes), dtype=np.int64, count=n
    )
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    indices = np.fromiter(
        (idx[v] for x in nodes for v in adj[x]),
        dtype=np.int64,
        count=int(indptr[-1]),
    )
    D = np.full((len(seeds), n), -1, dtype=np.int32)
    for i, s in enumerate(seeds):
        dist = D[i]
        si = idx[s]
        dist[si] = 0
        front = np.array([si], dtype=np.int64)
        for d in range(1, depth + 1):
            cnt = indptr[front + 1] - indptr[front]
            total = int(cnt.sum())
            if total == 0:
                break
            offsets = np.repeat(indptr[front], cnt)
            within = np.arange(total) - np.repeat(
                np.cumsum(cnt) - cnt, cnt
            )
            nbrs = indices[offsets + within]
            nbrs = nbrs[dist[nbrs] < 0]
            if nbrs.size == 0:
                break
            nbrs = np.unique(nbrs)
            dist[nbrs] = d
            front = nbrs
    return nodes, D


def _seed_bfs(triples: DataFrame, n_seeds: int, depth: int) -> DataFrame:
    """Shared multi-source BFS over the undirected entity graph:
    (seed, node, dist) for the n_seeds hash-chosen seeds, dist <= depth,
    first reach = min dist. Used by harmonic_centrality and
    distance_profile (stress_centrality carries path counts, so it keeps
    its own Brandes variant).

    r7 (guide §2.4): the per-level localCheckpoint + anti-join +
    empty-frontier-probe loop (4 jobs per level) is replaced by ONE lazy
    fixed-depth plan: level d's reachable set is the previous level
    expanded one hop (join + distinct), every level is tagged with its
    d, and dist = min d per (seed, node) — identical to first-reach BFS
    (min walk length == shortest-path length), with empty levels beyond
    the true eccentricity contributing nothing, exactly like the old
    early exit. 3 jobs total (und + seeds checkpoints + the caller's
    action); the repeated level subtrees share their shuffles via
    ReusedExchange. The returned frame is localCheckpointed — callers
    attach it to their output as a releasable cache handle."""
    from gliner_spark.functions.text import fold_hash

    und = undirected_edges(triples).localCheckpoint()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    seeds = (
        sym.select("node")
        .distinct()
        .withColumn("h", fold_hash("node"))
        .orderBy("h", "node")
        .limit(n_seeds)
        .select(F.col("node").alias("seed"))
        .localCheckpoint()
    )
    lev = seeds.select("seed", F.col("seed").alias("node"))
    parts = [lev.select("seed", "node", F.lit(0).cast("long").alias("dist"))]
    for d in range(1, depth + 1):
        lev = (
            lev.join(sym, "node")
            .select("seed", F.col("nbr").alias("node"))
            .distinct()
        )
        parts.append(
            lev.select("seed", "node", F.lit(d).cast("long").alias("dist"))
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.union(p)
    dist = (
        allp.groupBy("seed", "node")
        .agg(F.min("dist").cast("long").alias("dist"))
        .localCheckpoint()
    )
    seeds.unpersist()
    und.unpersist()
    return dist


def harmonic_centrality(
    triples: DataFrame,
    n_seeds: int = HC_SEEDS,
    depth: int = HC_DEPTH,
) -> DataFrame:
    """Seed-sampled harmonic centrality over the undirected entity graph
    (Boldi & Vigna 2014's preferred centrality; estimated from a fixed
    seed sample in the Eppstein & Wang 2004 style): centrality(v) =
    sum over sampled seeds s reaching v within `depth` hops of
    1/dist(s, v), here in exact integer micro-units (HC_UNIT DIV dist)
    so the ranking is bit-deterministic. The "which entities sit at the
    center of the graph" query that degree alone gets wrong (degree is
    local; harmonic rewards being CLOSE to everything).

    Seeds are the n_seeds entities with the smallest (fold_hash(id), id)
    — a deterministic hash-scrambled sample, no RNG — and distances come
    from one multi-source level-synchronous BFS carrying (seed, node)
    pairs: each round expands the frontier one undirected hop, distinct,
    anti-joined against already-distanced pairs (first reach = min
    dist), exactly bfs_distances' loop lifted to a seed column. Entities
    no seed reaches within `depth` are absent (estimated centrality 0).

    Scale shape: BFS state is at most n_seeds x |V| rows with n_seeds a
    small constant — linear in the graph, never quadratic; one
    equi-join + distinct + anti-join per round over the
    localCheckpointed symmetric edge list, then one grouped integer
    aggregate. The seed pick is a TakeOrdered top-k (no global sort
    materialized)."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): one bounded collect
        # of the distinct undirected edges, integer BFS + harmonic sums
        # in python — arithmetic-identical (HC_UNIT DIV dist == // for
        # nonneg), parity-tested against the distributed plan below
        import numpy as np

        adj = _adj_from_und(rows)
        seeds = _driver_seeds(adj, n_seeds)
        nodes_l, D = _seed_bfs_matrix(adj, seeds, depth)
        pos = D > 0
        harm = (
            (HC_UNIT // np.where(pos, D, 1).astype(np.int64)) * pos
        ).sum(axis=0)
        cnt = pos.sum(axis=0)
        return local_result(
            triples,
            [
                (n, int(h), int(c))
                for n, h, c in zip(nodes_l, harm.tolist(), cnt.tolist())
                if c > 0
            ],
            "entity string, harmonic long, n_seeds_reached long",
            [F.desc("harmonic"), "entity"],
        )
    dist = _seed_bfs(triples, n_seeds, depth)
    out = (
        dist.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.expr(f"CAST(sum({HC_UNIT} DIV dist) AS BIGINT)").alias(
                "harmonic"
            ),
            F.count(F.lit(1)).cast("long").alias("n_seeds_reached"),
        )
        .select(F.col("node").alias("entity"), "harmonic", "n_seeds_reached")
        .orderBy(F.desc("harmonic"), "entity")
    )
    return attach_caches(forward_caches(out, triples), dist)


HITS_ROUNDS = 2
HITS_UNIT = 1_000_000


def hits(
    triples: DataFrame, rounds: int = HITS_ROUNDS,
) -> DataFrame:
    """Integer HITS hubs-and-authorities over the distinct directed edge
    set (Kleinberg 1999): fixed `rounds` of mutual reinforcement —
    authority(v) = sum of hub over in-neighbors, hub(v) = sum of the new
    authority over out-neighbors — with each side renormalized to
    HITS_UNIT micro-units via a DIV by the round's maximum instead of
    the usual L2 norm. The directed counterpart of PageRank the KG
    cares about when edges mean citation/attribution: authorities are
    the heavily-pointed-at entities, hubs the heavy pointers.

    Integer contract (same as pagerank): all sums are bigint, the
    normalization is (HITS_UNIT * s) DIV max(s) with nonneg operands —
    order-independent under any partitioning and bit-replayed by the
    kg_hits oracle (unrolled MATERIALIZED rounds, max via a 1-row cross
    join). Since scores are capped at HITS_UNIT after every half-round,
    the headroom bound is max weighted in/out degree <= 2^63 / HITS_UNIT
    (~9.2e12) — lower HITS_UNIT for graphs with hotter hubs.

    Scale shape: per half-round one equi-join of the checkpointed edge
    list against the |V|-row score frame + one grouped sum + one 1-row
    max aggregate broadcast back; score frames are localCheckpointed per
    round with the previous round unpersisted (dangling-PR hygiene), so
    the logical plan stays flat."""
    if rounds < 1:
        raise ValueError("hits needs rounds >= 1 (0 rounds would have "
                         "no authority scores to return)")
    erows = edge_rows(triples, "directed")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): the integer HITS
        # rounds replayed exactly ((UNIT * s) DIV max == // for nonneg,
        # max floored at 1 like the greatest(max, 1) aggregate)
        edges_d = [(r[0], r[1]) for r in erows]
        nodes_d = sorted({x for ed in edges_d for x in ed})
        hub_d = {n: HITS_UNIT for n in nodes_d}
        auth_d: dict = {}
        for _ in range(rounds):
            s = {n: 0 for n in nodes_d}
            for u, v in edges_d:
                s[v] += hub_d[u]
            mx = max(max(s.values(), default=0), 1)
            auth_d = {n: (HITS_UNIT * s[n]) // mx for n in nodes_d}
            s2 = {n: 0 for n in nodes_d}
            for u, v in edges_d:
                s2[u] += auth_d[v]
            mx2 = max(max(s2.values(), default=0), 1)
            hub_d = {n: (HITS_UNIT * s2[n]) // mx2 for n in nodes_d}
        return local_result(
            triples, [(n, auth_d[n], hub_d[n]) for n in nodes_d],
            "entity string, authority long, hub long",
            [F.desc("authority"), "entity"],
        )
    e = graph_edges(triples).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    hub = nodes.select(
        "node", F.lit(HITS_UNIT).cast("long").alias("score")
    )
    auth = None
    prev = []

    def _normalized(raw, prev_list):
        """nodes left-joined to raw sums, renormalized to HITS_UNIT.

        r7: the checkpoint sits on the RAW per-node sums (one execution
        of the half-round), not on the normalized frame — the old shape
        checkpointed AFTER the broadcast-max crossJoin, so the max
        aggregate's broadcast job and the checkpoint job each executed
        the full join+sum lineage (2x per half-round). The max and the
        normalization projection now both read the checkpointed sums."""
        full = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("s")
        ).localCheckpoint()
        prev_list.append(full)
        mx = full.agg(F.greatest(F.max("s"), F.lit(1)).alias("_mx"))
        return full.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr(f"({HITS_UNIT} * s) DIV _mx").cast("long").alias("score"),
        )

    for _ in range(rounds):
        cur = []
        a_raw = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score").alias("s"))
        )
        auth = _normalized(a_raw, cur)
        h_raw = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("score").alias("s"))
        )
        hub = _normalized(h_raw, cur)
        for p in prev:
            p.unpersist()
        prev = cur
    out = (
        auth.withColumnRenamed("score", "authority")
        .join(hub.withColumnRenamed("score", "hub"), "node")
        .select(F.col("node").alias("entity"), "authority", "hub")
        .orderBy(F.desc("authority"), "entity")
    )
    return attach_caches(forward_caches(out, triples), e, nodes, *prev)


def reciprocity(triples: DataFrame) -> DataFrame:
    """Per-predicate edge reciprocity over the distinct directed edge
    set: of the predicate's (s, o) edges, how many have the reverse
    (o, s) edge under the SAME predicate — emitted as exact counts plus
    an integer permille. The directed-structure profile that separates
    symmetric predicates (married_to) from hierarchical ones (ceo_of)
    — the cheap complement to mine_rules' inverse rules (this one is
    per-predicate aggregate truth, that one emits the rule).

    Shape at scale: one distinct projection, one self left-semi join on
    the reversed composite key (pred, o, s) — full-pair keys, no hub
    blowup — and one grouped count each; two shuffles total."""
    d = (
        triples.filter(F.col("subj") != F.col("obj"))
        .select("pred", "subj", "obj")
        .distinct()
    )
    n = d.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    recip = (
        d.join(
            d.select(
                "pred",
                F.col("obj").alias("subj"),
                F.col("subj").alias("obj"),
            ),
            ["pred", "subj", "obj"],
            "left_semi",
        )
        .groupBy("pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_recip"))
    )
    out = (
        n.join(recip, "pred", "left")
        .select(
            "pred",
            "n_edges",
            F.coalesce(F.col("n_recip"), F.lit(0)).cast("long")
            .alias("n_recip"),
        )
        .withColumn(
            "recip_permille", F.expr("1000 * n_recip DIV n_edges")
        )
        .orderBy("pred")
    )
    return forward_caches(out, triples)


def square_counts(
    triples: DataFrame, max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """Per-entity 4-cycle (square) participation counts over the
    undirected distinct entity graph — the bipartite-ish clustering
    signal (rectangle counting, Wang et al. 2005 / the C4 analog of
    triangle counting): co-purchase, co-mention and affiliation
    structures show up as squares long before triangles.

    Enumeration: every 4-cycle x-m1-y-m2-x is two common-neighbor
    wedges over its diagonal (x, y), so squares-through-a-diagonal-
    endpoint = C(w(x, y), 2) with w the common-neighbor count. Wedges
    are generated from each pivot's full neighborhood (x < y kills the
    mirror; C(deg, 2) pairs per pivot, so pivots over `max_fanout` are
    excluded and AUDITED — the triangle_counts cap contract: emitted
    counts are LOWER BOUNDS when the cap fires), grouped by the
    diagonal, then C(w, 2) = w*(w-1) DIV 2 is attributed to both
    diagonal endpoints. Every node of a square is an endpoint of
    exactly one of its two diagonals, so each square contributes
    exactly once per member node. Pure integer counts, replayed
    relationally by the kg_squares oracle."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): diagonal-wedge
        # square counting with the audited pivot cap, exact integers
        adj = _adj_from_und(rows)
        common: dict = {}
        n_dropped = 0
        max_fan = 0
        for node, nbrs in adj.items():
            fan = len(nbrs)
            max_fan = max(max_fan, fan)
            if fan > max_fanout:
                n_dropped += fan
                continue
            ns = sorted(nbrs)
            for i in range(len(ns)):
                for j in range(i + 1, len(ns)):
                    key = (ns[i], ns[j])
                    common[key] = common.get(key, 0) + 1
        sq_counts: dict = {}
        for (x, y), w_ in common.items():
            if w_ >= 2:
                sq = (w_ * (w_ - 1)) // 2
                sq_counts[x] = sq_counts.get(x, 0) + sq
                sq_counts[y] = sq_counts.get(y, 0) + sq
        audit = {
            "guard": "square_pivot_cap",
            "n_dropped_rows": n_dropped,
            "max_group_size": max_fan,
            "cap": int(max_fanout),
        }
        return local_result(
            triples, sorted(sq_counts.items()),
            "entity string, n_squares long", ["entity"], audits=[audit],
        )
    und = undirected_edges(triples)
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    w = Window.partitionBy("node")
    capped, audit = capped_filter(
        sym.withColumn("fan", F.count(F.lit(1)).over(w)),
        "fan", max_fanout, "square_pivot_cap",
    )
    u1 = capped.select("node", F.col("nbr").alias("x"))
    u2 = capped.select("node", F.col("nbr").alias("y"))
    diag = (
        u1.join(u2, "node")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .filter(F.col("w") >= 2)
        .withColumn("sq", F.expr("(w * (w - 1)) DIV 2"))
    )
    members = diag.select(F.col("x").alias("entity"), "sq").union(
        diag.select(F.col("y").alias("entity"), "sq")
    )
    out = (
        members.groupBy("entity")
        .agg(F.sum("sq").cast("long").alias("n_squares"))
        .orderBy("entity")
    )
    return forward_caches(attach_audits(out, audit), triples)


STRESS_SEEDS = 8
STRESS_DEPTH = 4


def _stress_driver_np(adj, seeds, depth: int) -> dict:
    """{node: [stress_sum, n_seeds_reached]} — per-seed two-phase
    Brandes with integer path counts, the driver replay of
    stress_centrality's distributed plan (sigma = sum of level-(d-1)
    predecessor sigmas; g = 1 + sum of g over one-level-deeper
    neighbors; through = sigma * (g - 1) for dist >= 1), over a CSR
    adjacency with np.add.at accumulation — all int64 (sigma sums and
    g sums are order-independent integer additions)."""
    import numpy as np

    nodes = list(adj)
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.fromiter(
        (len(adj[x]) for x in nodes), dtype=np.int64, count=n
    )
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    indices = np.fromiter(
        (idx[v] for x in nodes for v in adj[x]),
        dtype=np.int64,
        count=int(indptr[-1]),
    )
    stress_sum = np.zeros(n, dtype=np.int64)
    reach_cnt = np.zeros(n, dtype=np.int64)
    for s in seeds:
        si = idx[s]
        dist = np.full(n, -1, dtype=np.int32)
        sigma = np.zeros(n, dtype=np.int64)
        dist[si] = 0
        sigma[si] = 1
        levels = [np.array([si], dtype=np.int64)]
        front = levels[0]
        for d in range(1, depth + 1):
            cnt = indptr[front + 1] - indptr[front]
            total = int(cnt.sum())
            if total == 0:
                break
            offsets = np.repeat(indptr[front], cnt)
            within = np.arange(total) - np.repeat(
                np.cumsum(cnt) - cnt, cnt
            )
            nbr = indices[offsets + within]
            src_rep = np.repeat(front, cnt)
            fresh = np.unique(nbr[dist[nbr] < 0])
            if fresh.size == 0:
                break
            dist[fresh] = d
            mask = dist[nbr] == d
            np.add.at(sigma, nbr[mask], sigma[src_rep[mask]])
            levels.append(fresh)
            front = fresh
        g = np.ones(n, dtype=np.int64)
        for li in range(len(levels) - 1, -1, -1):
            lv = levels[li]
            cnt = indptr[lv + 1] - indptr[lv]
            total = int(cnt.sum())
            if total == 0:
                continue
            offsets = np.repeat(indptr[lv], cnt)
            within = np.arange(total) - np.repeat(
                np.cumsum(cnt) - cnt, cnt
            )
            nbr = indices[offsets + within]
            src_rep = np.repeat(lv, cnt)
            mask = dist[nbr] == li + 1
            np.add.at(g, src_rep[mask], g[nbr[mask]])
        for li in range(1, len(levels)):
            lv = levels[li]
            stress_sum[lv] += sigma[lv] * (g[lv] - 1)
            reach_cnt[lv] += 1
    return {
        nodes[i]: [int(stress_sum[i]), int(reach_cnt[i])]
        for i in np.flatnonzero(reach_cnt)
    }


def stress_centrality(
    triples: DataFrame,
    n_seeds: int = STRESS_SEEDS,
    depth: int = STRESS_DEPTH,
) -> DataFrame:
    """Seed-sampled stress centrality over the undirected entity graph —
    the INTEGER member of the betweenness family (Shimbel 1953;
    Brandes 2001 §6 lists it next to betweenness): stress(v) = number
    of shortest paths that pass THROUGH v, here summed over shortest
    paths that start at a fixed hash-chosen seed sample and are at most
    `depth` hops long (the same Eppstein-Wang-style estimation contract
    as harmonic_centrality). Betweenness proper divides per-pair
    dependencies (sigma_st(v)/sigma_st — IEEE fractions whose
    accumulation order varies per shuffle); stress keeps the raw path
    COUNTS, so the whole computation stays in bigint and replays
    bit-for-bit in the kg_stress oracle. The "broker / chokepoint"
    signal degree and harmonic both miss: a bridge node between two
    communities has modest degree but enormous through-traffic.

    Two-phase Brandes shape, all joins + grouped integer sums:
    - forward: level-synchronous multi-source BFS carrying sigma =
      #shortest paths from the seed (per level: expand the previous
      frontier, SUM predecessor sigmas per (seed, node), anti-join
      against already-reached pairs — first reach = shortest, and
      summing across the whole previous level before the anti-join
      counts every shortest predecessor exactly once);
    - backward: g(v) = 1 + sum of g over the seed's shortest-path-DAG
      successors (a node w one level deeper with an edge v-w), computed
      deepest-level-up — g counts the shortest continuations below v,
      so sigma(v) * (g(v) - 1) is exactly the number of seed-rooted
      shortest paths through v to some strictly-deeper target.

    Magnitudes: sigma <= Delta^depth and g <= (1+Delta)^depth, so the
    per-row product is bounded by ~Delta^(2*depth) — with the default
    depth 4 that keeps bigint headroom up to average shortest-DAG
    branching ~180; graphs hotter than that should drop `depth` (the
    estimate is depth-bounded by contract, same as harmonic/BFS).

    Scale shape: state is at most n_seeds x |V| rows per direction
    (n_seeds a small constant); per round one equi-join against the
    localCheckpointed symmetric edge list + one grouped sum; level
    frames are checkpointed (the backward pass re-reads each exactly
    once, and the loop stays flat)."""
    from gliner_spark.functions.text import fold_hash

    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): pure-integer Brandes
        # replay over the undirected edge view (_stress_driver_np)
        adj = _adj_from_und(rows)
        seeds = _driver_seeds(adj, n_seeds)
        st = _stress_driver_np(adj, seeds, depth)
        return local_result(
            triples, [(n, v[0], v[1]) for n, v in st.items()],
            "entity string, stress long, n_seeds_reached long",
            [F.desc("stress"), "entity"],
        )
    und = undirected_edges(triples).localCheckpoint()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    seeds = (
        sym.select("node")
        .distinct()
        .withColumn("h", fold_hash("node"))
        .orderBy("h", "node")
        .limit(n_seeds)
        .select(F.col("node").alias("seed"))
        .localCheckpoint()
    )
    # r7 (guide §2.4): ONE checkpointed distance frame from the lazy
    # tagged-min BFS (min walk length == shortest distance; the same
    # reformulation as _seed_bfs), then the sigma and g chains are built
    # LAZILY over dist's per-level filters — level sets are cheap scans
    # of the checkpoint, every chain step references its predecessor
    # once, and one final action executes the whole two-phase Brandes
    # instead of ~4 jobs per level.
    lev = seeds.select("seed", F.col("seed").alias("node"))
    parts = [lev.select("seed", "node", F.lit(0).cast("long").alias("dist"))]
    for d in range(1, depth + 1):
        lev = (
            lev.join(sym, "node")
            .select("seed", F.col("nbr").alias("node"))
            .distinct()
        )
        parts.append(
            lev.select("seed", "node", F.lit(d).cast("long").alias("dist"))
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.union(p)
    dist = (
        allp.groupBy("seed", "node")
        .agg(F.min("dist").cast("long").alias("dist"))
        .localCheckpoint()
    )
    levels = [
        dist.filter(F.col("dist") == d).select("seed", "node")
        for d in range(depth + 1)
    ]
    # forward sigma: sigma(level d) = per-(seed, node) sum of level d-1
    # predecessor sigmas over the shortest-path DAG (the inner join with
    # level d replaces the old anti-join-vs-visited: both keep exactly
    # the first-reached pairs)
    sig = [
        levels[0].select("seed", "node", F.lit(1).cast("long").alias("sigma"))
    ]
    for d in range(1, depth + 1):
        sig.append(
            sig[d - 1].join(sym, "node")
            .groupBy("seed", F.col("nbr").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(levels[d], ["seed", "node"])
        )
    # backward accumulation, deepest level up: g = 1 + sum of successor
    # g along the shortest-path DAG (edge + one level deeper); levels
    # past the true reach are empty frames and contribute nothing,
    # exactly like the old early exit
    per_level_g = {
        depth: levels[depth].select(
            "seed", "node", F.lit(1).cast("long").alias("g")
        )
    }
    for li in range(depth - 1, -1, -1):
        succ = (
            levels[li]
            .join(sym, "node")
            .join(
                per_level_g[li + 1].select(
                    "seed", F.col("node").alias("nbr"),
                    F.col("g").alias("gn"),
                ),
                ["seed", "nbr"],
            )
            .groupBy("seed", "node")
            .agg(F.sum("gn").alias("sg"))
        )
        per_level_g[li] = (
            levels[li]
            .join(succ, ["seed", "node"], "left")
            .select(
                "seed", "node",
                (F.lit(1) + F.coalesce(F.col("sg"), F.lit(0)))
                .cast("long").alias("g"),
            )
        )
    through = None
    for li in range(1, depth + 1):
        part = sig[li].join(
            per_level_g[li], ["seed", "node"]
        ).select(
            "seed", "node",
            (F.col("sigma") * (F.col("g") - F.lit(1))).alias("thr"),
        )
        through = part if through is None else through.union(part)
    out = (
        through.groupBy("node")
        .agg(
            F.sum("thr").cast("long").alias("stress"),
            F.count(F.lit(1)).cast("long").alias("n_seeds_reached"),
        )
        .select(F.col("node").alias("entity"), "stress", "n_seeds_reached")
        .orderBy(F.desc("stress"), "entity")
    )
    return attach_caches(forward_caches(out, triples), und, seeds, dist)


def distance_profile(
    triples: DataFrame,
    n_seeds: int = HC_SEEDS,
    depth: int = HC_DEPTH,
) -> DataFrame:
    """Seed-sampled shortest-distance distribution of the undirected
    entity graph — the effective-diameter readout (the d50/d90 "six
    degrees" profile of Leskovec et al.'s graph-evolution work,
    estimated from a fixed hash-chosen seed sample exactly like
    harmonic_centrality): one row per hop distance d in 1..depth with
    the exact number of sampled (seed, node) pairs first reached at d,
    the running cumulative, and the cumulative share in permille of all
    reached pairs. The d value where reached_permille crosses 900 is
    the standard effective diameter; a rising tail at d == depth says
    the horizon clipped the profile (increase depth).

    Same multi-source BFS state and bounds as harmonic_centrality
    (n_seeds x |V| rows, one join + distinct + anti-join per round);
    the profile itself is one grouped count + a cumulative window over
    <= depth rows. All integers — the kg_distances oracle replays the
    unrolled levels and the permille division exactly."""
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate) — same BFS replay as
        # harmonic_centrality; the histogram/cumulative/permille are
        # exact integer folds (1000 * cum DIV total == // for nonneg)
        import numpy as np

        adj = _adj_from_und(rows)
        seeds = _driver_seeds(adj, n_seeds)
        _nodes_l, D = _seed_bfs_matrix(adj, seeds, depth)
        vals = D[D > 0]
        bc = np.bincount(vals, minlength=depth + 1)
        hist_d = {
            d: int(c) for d, c in enumerate(bc.tolist()) if d > 0 and c
        }
        total = sum(hist_d.values())
        data, cum = [], 0
        for d in sorted(hist_d):
            cum += hist_d[d]
            data.append((d, hist_d[d], cum, 1000 * cum // total))
        return local_result(
            triples, data,
            "dist long, n_pairs long, cum_pairs long, "
            "reached_permille long",
            ["dist"],
        )
    dist = _seed_bfs(triples, n_seeds, depth)
    hist = (
        dist.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = Window.orderBy("dist").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = Window.orderBy("dist").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = (
        hist.withColumn("cum_pairs", F.sum("n_pairs").over(w).cast("long"))
        .withColumn("_total", F.sum("n_pairs").over(total).cast("long"))
        .withColumn(
            "reached_permille",
            F.expr("1000 * cum_pairs DIV _total"),
        )
        .select("dist", "n_pairs", "cum_pairs", "reached_permille")
        .orderBy("dist")
    )
    return attach_caches(forward_caches(out, triples), dist)


def assortativity(triples: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected entity graph (Newman 2002
    Phys. Rev. Lett. 89, 208701): the Pearson correlation of the degrees
    at either end of an edge — positive means hubs attach to hubs
    (social-network shape), negative means hubs attach to leaves
    (star/hub-and-spoke shape, the usual KG outcome). One row:
    (n_edges, s_jk, s_sum, s_sq, assortativity) where the first four
    are EXACT bigint edge-moment sums over each undirected edge's
    endpoint degrees (j, k) — s_jk = sum(j*k), s_sum = sum(j+k),
    s_sq = sum(j^2 + k^2) — and the coefficient is the single IEEE op
    round((4*M*s_jk - s_sum^2) / (2*M*s_sq - s_sum^2), 6) (NULL for a
    degree-regular graph where the denominator is 0). The integer
    moments are also the mergeable partial state: shard them, sum them,
    divide once.

    Shape at scale: the canonical undirected edge set, one symmetric
    degree aggregate, two broadcast-able joins to tag edge endpoints,
    one map-side-combined 1-row aggregate."""
    # r7: below the undirected-edge bound the exact integer edge moments
    # replay on the driver from one bounded collect; the raw IEEE
    # division is NOT replayed — the moment row goes back as a local
    # relation and the SAME when/round expression below emits the
    # coefficient, so the bits cannot drift
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        deg: dict = {}
        for a, b in rows:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        s_jk = s_sum = s_sq = 0
        for a, b in rows:
            j, k = deg[a], deg[b]
            s_jk += j * k
            s_sum += j + k
            s_sq += j * j + k * k
        return local_result(
            triples, [(len(rows), s_jk, s_sum, s_sq)],
            "n_edges long, s_jk long, s_sum long, s_sq long",
            select=[
                "n_edges", "s_jk", "s_sum", "s_sq",
                F.when(
                    (2 * F.col("n_edges") * F.col("s_sq")
                     - F.col("s_sum") * F.col("s_sum")) == 0,
                    F.lit(None).cast("double"),
                )
                .otherwise(
                    F.round(
                        (4 * F.col("n_edges") * F.col("s_jk")
                         - F.col("s_sum") * F.col("s_sum")).cast("double")
                        / (2 * F.col("n_edges") * F.col("s_sq")
                           - F.col("s_sum") * F.col("s_sum")),
                        6,
                    )
                )
                .alias("assortativity"),
            ],
        )
    und = undirected_edges(triples).localCheckpoint()
    sym = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    deg = sym.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    tagged = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("j")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("k")),
            "b",
        )
    )
    out = (
        tagged.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum(F.col("j") * F.col("k")).cast("long").alias("s_jk"),
            F.sum(F.col("j") + F.col("k")).cast("long").alias("s_sum"),
            F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
            .cast("long").alias("s_sq"),
        )
        .select(
            "n_edges", "s_jk", "s_sum", "s_sq",
            F.when(
                (2 * F.col("n_edges") * F.col("s_sq")
                 - F.col("s_sum") * F.col("s_sum")) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    (4 * F.col("n_edges") * F.col("s_jk")
                     - F.col("s_sum") * F.col("s_sum")).cast("double")
                    / (2 * F.col("n_edges") * F.col("s_sq")
                       - F.col("s_sum") * F.col("s_sum")),
                    6,
                )
            )
            .alias("assortativity"),
        )
    )
    return forward_caches(out, triples)


PRED_ASSOC_MIN_SUPPORT = 2


def pred_association(
    triples: DataFrame, min_support: int = PRED_ASSOC_MIN_SUPPORT,
) -> DataFrame:
    """Subject-level predicate association — which predicates co-occur
    on the same subject more than chance (the attribute-association
    complement to mine_rules: rules need the same (x, y) PAIR under two
    predicates, this only needs the same SUBJECT, so it surfaces schema
    co-occurrence like founded+based_in on organizations even when the
    objects differ). lift = N * n_pair / (n_a * n_b) over subject
    frequencies — integer cross-products, one rounded division (the
    cooc_candidates contract).

    Shape at scale: distinct (subj, pred) incidence, a pair self-join
    keyed on subj whose per-key width is the subject's DISTINCT
    PREDICATE count (bounded by the ontology's predicate vocabulary,
    not by corpus size — hub subjects add rows, not predicates),
    support filter, two broadcast-able frequency joins."""
    # r7 pass 3: below the incidence bound the pair self-join replays
    # like the vectorized cooc counting — collected distinct (subj,
    # pred) rows arrive sorted, per-subject pred lists are ascending
    # slices, pairs via triu gathers + np.unique, lift raw double with
    # the same F.round applied back in Spark
    sp_rows = edge_rows(triples, "sp")
    if sp_rows is not None:
        import numpy as np

        subs_l = [r[0] for r in sp_rows]
        preds_l = [r[1] for r in sp_rows]
        uniq_p = sorted(set(preds_l))
        n_p = len(uniq_p)
        pid = {p: i for i, p in enumerate(uniq_p)}
        ids = np.fromiter(
            (pid[p] for p in preds_l), np.int64, count=len(preds_l)
        )
        if subs_l:
            s_arr = np.asarray(subs_l, dtype=object)
            starts = np.concatenate((
                [0], np.nonzero(s_arr[1:] != s_arr[:-1])[0] + 1,
                [len(subs_l)],
            ))
            sizes = np.diff(starts)
        else:
            starts = np.zeros(1, np.int64)
            sizes = np.zeros(0, np.int64)
        n_subj = len(sizes)
        freq = np.bincount(ids, minlength=n_p)
        tri_cache: dict = {}
        chunks = []
        for k in np.nonzero(sizes >= 2)[0]:
            s = int(sizes[k])
            seg = ids[starts[k]:starts[k] + s]
            if s not in tri_cache:
                tri_cache[s] = np.triu_indices(s, 1)
            ii, jj = tri_cache[s]
            chunks.append(seg[ii] * n_p + seg[jj])
        data = []
        if chunks:
            uk, cnt = np.unique(np.concatenate(chunks), return_counts=True)
            for t in np.nonzero(cnt >= min_support)[0]:
                key = int(uk[t])
                npair = int(cnt[t])
                ia, ib = key // n_p, key % n_p
                na, nb = int(freq[ia]), int(freq[ib])
                data.append((
                    uniq_p[ia], uniq_p[ib], npair, na, nb,
                    float(n_subj * npair) / float(na * nb),
                ))
        return local_result(
            triples, data,
            "pred_a string, pred_b string, n_pair long, "
            "n_a long, n_b long, _raw double",
            ["pred_a", "pred_b"],
            select=[
                "pred_a", "pred_b", "n_pair", "n_a", "n_b",
                F.round("_raw", 6).alias("lift"),
            ],
        )
    sp = triples.select("subj", "pred").distinct()
    n_subj = sp.agg(F.countDistinct("subj").cast("long").alias("n_subj"))
    freq = sp.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = sp.select("subj", F.col("pred").alias("pred_a"))
    b = sp.select("subj", F.col("pred").alias("pred_b"))
    pairs = (
        a.join(b, "subj")
        .filter(F.col("pred_a") < F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    out = (
        pairs.join(
            F.broadcast(
                freq.select(
                    F.col("pred").alias("pred_a"), F.col("n").alias("n_a")
                )
            ),
            "pred_a",
        )
        .join(
            F.broadcast(
                freq.select(
                    F.col("pred").alias("pred_b"), F.col("n").alias("n_b")
                )
            ),
            "pred_b",
        )
        .crossJoin(F.broadcast(n_subj))
        .select(
            "pred_a", "pred_b", "n_pair", "n_a", "n_b",
            F.round(
                (F.col("n_subj") * F.col("n_pair")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("pred_a", "pred_b")
    )
    return forward_caches(out, triples)


def _triad_driver(erows, cap: int):
    """Directed triad-census replay over one bounded collect of the
    distinct DIRECTED edges: canonical undirected sides + audited pivot
    cap exactly like _tri_driver, direction flags from the directed set,
    the same reciprocity/cyclic CASE. Returns ({class: count}, audit)."""
    eset_dir = set(erows)
    und_set = set()
    for s, d in eset_dir:
        und_set.add((s, d) if s < d else (d, s))
    fwd: dict = {}
    for a, b in und_set:
        fwd.setdefault(a, []).append(b)

    def flag(u, v):
        return (1 if (u, v) in eset_dir else 0) + (
            2 if (v, u) in eset_dir else 0
        )

    counts: dict = {}
    n_dropped = 0
    max_fan = 0
    for a, bs in fwd.items():
        fan = len(bs)
        max_fan = max(max_fan, fan)
        if fan > cap:
            n_dropped += fan
            continue
        bss = sorted(bs)
        for i in range(len(bss)):
            for j in range(i + 1, len(bss)):
                x, y = bss[i], bss[j]
                if (x, y) not in und_set:
                    continue
                f1, f2, f3 = flag(a, x), flag(a, y), flag(x, y)
                n_recip = (
                    (f1 == 3) + (f2 == 3) + (f3 == 3)
                )
                if n_recip == 3:
                    cls = "300"
                elif n_recip == 2:
                    cls = "210"
                elif n_recip == 1:
                    cls = "120"
                elif (f1 == 1 and f3 == 1 and f2 == 2) or (
                    f1 == 2 and f3 == 2 and f2 == 1
                ):
                    cls = "030C"
                else:
                    cls = "030T"
                counts[cls] = counts.get(cls, 0) + 1
    audit = {
        "guard": "triad_pivot_cap",
        "n_dropped_rows": n_dropped,
        "max_group_size": max_fan,
        "cap": int(cap),
    }
    return counts, audit


def triad_census(
    triples: DataFrame, max_fanout: int = TWO_HOP_MAX_FANOUT,
) -> DataFrame:
    """Collapsed Davis-Leinhardt triad census of the DIRECTED entity
    graph, restricted to closed triads (triangles): one row per class
    with exact counts. Classes: reciprocal-pair count 0/1/2/3 with the
    classic cyclic-vs-transitive split at zero reciprocity —
    '030T' (transitive: a feed-forward hierarchy motif), '030C' (cyclic:
    the feedback loop), '120' (one mutual pair), '210' (two), '300'
    (complete mutual). The motif profile that separates hierarchical
    extraction graphs (ceo_of chains — 030T-heavy) from social/symmetric
    ones (married_to clusters — 300-heavy); the directed refinement of
    triangle_counts.

    Enumeration: compact-forward over the canonical UNDIRECTED edge set
    with the audited pivot cap (identical contract to triangle_counts —
    counts are lower bounds when the cap fires), then each triangle's
    three undirected sides join their direction flag (1 = low->high
    only, 2 = high->low only, 3 = both) from one broadcast-able
    distinct-edge projection, and a CASE expression classifies. Joins +
    one tiny aggregate; the kg_triads oracle replays the same flags and
    CASE bit-for-bit."""
    erows = edge_rows(triples, "directed")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): _triad_driver
        # replays the capped compact-forward enumeration + direction
        # flags + CASE classification exactly; audit frame keeps
        # skew_metrics working
        counts, audit = _triad_driver(erows, max_fanout)
        return local_result(
            triples, sorted(counts.items()),
            "triad_type string, n_triangles long", ["triad_type"],
            audits=[audit],
        )
    # und feeds three subplans (flags, fan window, closure semi-join)
    # and flags joins onto tris three times — persist both branch
    # points once instead of re-running the distinct exchanges
    e = graph_edges(triples)
    und = undirected_edges(triples).persist()
    flags_base = (
        und.join(
            e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .withColumn("fwd", F.lit(1)),
            ["a", "b"], "left",
        )
        .join(
            e.select(F.col("dst").alias("a"), F.col("src").alias("b"))
            .withColumn("bwd", F.lit(2)),
            ["a", "b"], "left",
        )
        .select(
            "a", "b",
            (F.coalesce("fwd", F.lit(0)) + F.coalesce("bwd", F.lit(0)))
            .alias("flag"),
        )
    )
    flags = flags_base.persist()
    w = Window.partitionBy("a")
    capped, audit = capped_filter(
        und.withColumn("fan", F.count(F.lit(1)).over(w)),
        "fan", max_fanout, "triad_pivot_cap",
    )
    u1 = capped.select("a", F.col("b").alias("x"))
    u2 = capped.select("a", F.col("b").alias("y"))
    tris = (
        u1.join(u2, "a")
        .filter(F.col("x") < F.col("y"))
        .join(
            und.select(F.col("a").alias("x"), F.col("b").alias("y")),
            ["x", "y"], "left_semi",
        )
    )
    # sides (a<x<y): f1 = a-x, f2 = a-y, f3 = x-y (flag on least->greatest)
    tagged = (
        tris.join(
            flags.select(
                F.col("a"), F.col("b").alias("x"), F.col("flag").alias("f1")
            ),
            ["a", "x"],
        )
        .join(
            flags.select(
                F.col("a"), F.col("b").alias("y"), F.col("flag").alias("f2")
            ),
            ["a", "y"],
        )
        .join(
            flags.select(
                F.col("a").alias("x"), F.col("b").alias("y"),
                F.col("flag").alias("f3"),
            ),
            ["x", "y"],
        )
    )
    n_recip = (
        F.when(F.col("f1") == 3, 1).otherwise(0)
        + F.when(F.col("f2") == 3, 1).otherwise(0)
        + F.when(F.col("f3") == 3, 1).otherwise(0)
    )
    # zero-reciprocity orientation: cyclic iff the three single arcs
    # rotate — a->x, x->y, y->a  (1,1,2)  or  a->y, y->x, x->a (2,2,1)
    cyclic = (
        (F.col("f1") == 1) & (F.col("f3") == 1) & (F.col("f2") == 2)
    ) | ((F.col("f1") == 2) & (F.col("f3") == 2) & (F.col("f2") == 1))
    cls = (
        F.when(n_recip == 3, F.lit("300"))
        .when(n_recip == 2, F.lit("210"))
        .when(n_recip == 1, F.lit("120"))
        .when(cyclic, F.lit("030C"))
        .otherwise(F.lit("030T"))
    )
    out = (
        tagged.select(cls.alias("triad_type"))
        .groupBy("triad_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("triad_type")
    )
    return attach_caches(
        forward_caches(attach_audits(out, audit), triples), und, flags
    )


WPR_ITERS = PR_ITERS


def pagerank_weighted(
    triples: DataFrame, iters: int = WPR_ITERS, damping: int = PR_DAMP,
) -> DataFrame:
    """Support-weighted integer PageRank: edge weight = number of
    DISTINCT documents asserting any triple on that (src, dst) edge, so
    rank flows along well-evidenced edges — the centrality a KG consumer
    actually wants when extraction noise is in play (a single
    hallucinated triple moves negligible mass; a fact asserted by a
    thousand docs dominates its source's out-flow). Same fixed-round
    bigint contract as `pagerank`: contribution over edge e =
    (rank(src) * w(e)) DIV sum_out_w(src) — integer, order-independent,
    bit-replayed by the kg_pagerank_weighted oracle; dangling mass
    dropped exactly like the default unweighted gate.

    Shape: one distinct-doc edge-weight aggregate up front (map-side
    combined), then per round one join + grouped sum over the
    localCheckpointed weighted edge table — identical economics to the
    unweighted loop."""
    ew_frame = (
        triples.filter(F.col("subj") != F.col("obj"))
        .select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"), "doc_id"
        )
        .distinct()
        .groupBy("src", "dst")
        .agg(F.countDistinct("doc_id").cast("long").alias("w"))
    )
    # r7: the distinct-doc weight aggregate replays on the driver
    # (pyarrow count_distinct == Spark countDistinct on exact strings);
    # the cluster aggregate was two exchanges per call
    wt = gate.group(
        triples.filter(F.col("subj") != F.col("obj")),
        ["subj", "obj"], [("doc_id", "count_distinct")],
    )
    if wt is not None:
        # driver path (BOUNDS["edges"] gate): weighted bigint
        # rounds replayed exactly ((rank * w) DIV out_w == // nonneg)
        edges_d = gate.rows(wt)
        nodes_d = sorted({x for u, v, _w in edges_d for x in (u, v)})
        ow_d: dict = {}
        for u, _v, w_ in edges_d:
            ow_d[u] = ow_d.get(u, 0) + w_
        base_d = PR_UNIT * (1000 - damping) // 1000
        ranks_d = {n: PR_UNIT for n in nodes_d}
        for _ in range(iters):
            s = {n: 0 for n in nodes_d}
            for u, v, w_ in edges_d:
                s[v] += (ranks_d[u] * w_) // ow_d[u]
            ranks_d = {
                n: base_d + (damping * s[n]) // 1000 for n in nodes_d
            }
        return local_result(
            triples, list(ranks_d.items()), "node string, rank long",
            [F.desc("rank"), F.asc("node")],
        )
    ew = ew_frame.localCheckpoint()
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
    )
    ow = ew.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("long").alias("out_w")
    )
    base = PR_UNIT * (1000 - damping) // 1000
    ranks = nodes.select("node", F.lit(PR_UNIT).cast("long").alias("rank"))
    for _ in range(iters):
        contrib = (
            ew.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(ow.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank * w) DIV out_w").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping} * coalesce(s, 0)) DIV 1000")
            ).cast("long").alias("rank"),
        )
    out = ranks.orderBy(F.desc("rank"), F.asc("node"))
    return forward_caches(out, triples)


CLOSURE_MAX_DEPTH = 4


def transitive_closure(
    triples: DataFrame, pred: str = "acquired",
    max_depth: int = CLOSURE_MAX_DEPTH,
) -> DataFrame:
    """Bounded transitive closure of one predicate's edge set:
    all (src, dst, min_depth) pairs with a directed `pred`-path of
    length <= max_depth — ownership-chain / taxonomy resolution (the
    SPARQL `pred+` property path, Datalog's canonical recursive query).
    Over `acquired` this answers "which orgs does X ultimately control,
    and through how many hops".

    Semi-naive evaluation (the Datalog textbook plan, and the only one
    that scales): each round extends only the FRONTIER — pairs first
    reached last round — by one edge join, then anti-joins the known
    pair set so work is proportional to NEW pairs, never to all paths.
    Cycles are safe: a min-depth witness is always a simple path, and
    the anti-join stops re-expansion. Fixed round budget with early
    exit on an empty frontier; per-round localCheckpoint cuts lineage
    (same loop hygiene as the CC/k-core loops). Self-return pairs
    (cycle back to the start) are excluded from the output.

    Determinism: min_depth is an exact integer; the DuckDB oracle
    replays it as a depth-bounded recursive CTE grouped to min."""
    e = (
        triples.filter(F.col("pred") == pred)
        .filter(F.col("subj") != F.col("obj"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    best = e.withColumn("min_depth", F.lit(1).cast("long")).localCheckpoint()
    frontier = best.select("src", "dst")
    prev_best, prev_frontier = best, None
    for d in range(2, max_depth + 1):
        nxt = (
            frontier.join(
                e.select(F.col("src").alias("dst"), F.col("dst").alias("d2")),
                "dst",
            )
            .select("src", F.col("d2").alias("dst"))
            .distinct()
            .join(best.select("src", "dst"), ["src", "dst"], "left_anti")
            .localCheckpoint()
        )
        # the previous frontier fed only this round's join (nxt is
        # eagerly checkpointed) — release it, CC/k-core loop hygiene
        if prev_frontier is not None:
            prev_frontier.unpersist()
        prev_frontier = nxt
        if nxt.limit(1).count() == 0:
            break
        best = best.union(
            nxt.withColumn("min_depth", F.lit(d).cast("long"))
        ).localCheckpoint()
        prev_best.unpersist()
        prev_best = best
        frontier = nxt
    out = best.filter(F.col("src") != F.col("dst")).orderBy(
        "src", "dst"
    )
    # the surviving checkpoints (final best + last frontier) ride the
    # output as releasable handles
    handles = [e, best] + (
        [prev_frontier] if prev_frontier is not None else []
    )
    return attach_caches(forward_caches(out, triples), *handles)


EGONET_DEPTH = 2


def egonet(
    triples: DataFrame,
    seed_prefix: str = "person:",
    depth: int = EGONET_DEPTH,
) -> DataFrame:
    """K-hop ego-network export: the INDUCED subgraph on all entities
    within `depth` directed hops of any seed (bfs_distances node set) —
    one row per distinct (subj, pred, obj) whose BOTH endpoints are in
    the neighborhood, annotated with each endpoint's hop distance.
    This is the entity-card / provenance-expansion subgraph a KG
    consumer materializes around an entity of interest ("everything
    about persons and what their 2-hop neighborhood connects to").

    Shape at scale: the BFS loop's economics (fixed depth, frontier
    equi-joins), then two semi-style inner equi-joins of the distinct
    fact set against the distanced node set — the node set is the
    small side (neighborhood-sized) and broadcasts under AQE; no
    windows, no fan-out beyond the facts already in the neighborhood."""
    frows = edge_rows(triples, "spo")
    if frows is not None:
        # driver path (BOUNDS["edges"] gate): BFS distances +
        # both endpoint joins replayed over one bounded collect of the
        # distinct facts (edges exclude self-loops, like graph_edges)
        dist_d = _bfs_dist_driver(
            [(s_, o_) for s_, _p, o_ in frows if s_ != o_],
            seed_prefix, depth,
        )
        data = sorted(
            (s_, p_, o_, dist_d[s_], dist_d[o_])
            for s_, p_, o_ in frows
            if s_ in dist_d and o_ in dist_d
        )
        return local_result(
            triples, data,
            "subj string, pred string, obj string, "
            "dist_subj long, dist_obj long",
            ["subj", "pred", "obj"],
        )
    dist = bfs_distances(triples, seed_prefix, depth)
    t = triples.select("subj", "pred", "obj").distinct()
    out = (
        t.join(
            dist.select(
                F.col("node").alias("subj"),
                F.col("dist").alias("dist_subj"),
            ),
            "subj",
        )
        .join(
            dist.select(
                F.col("node").alias("obj"),
                F.col("dist").alias("dist_obj"),
            ),
            "obj",
        )
        .select("subj", "pred", "obj", "dist_subj", "dist_obj")
        .orderBy("subj", "pred", "obj")
    )
    return forward_caches(out, triples)


def summary_graph(
    triples: DataFrame, rounds: int = WL_ROUNDS,
) -> DataFrame:
    """Structural KG summary: the QUOTIENT GRAPH of the fact set under
    WL-color equivalence (DataGuide/bisimulation-style graph
    summarization — Goldman & Widom 1997; quotient summaries surveyed
    in Cebiric et al., VLDB J. 2019): every entity maps to its
    wl_colors() class after `rounds` refinements, and each summary edge
    (subj_color, pred, obj_color) aggregates the distinct facts between
    the two role classes with fact / distinct-subject /
    distinct-object counts. The result is a schema-sized sketch of a
    corpus-sized graph — what a query planner, a schema-drift monitor,
    or a "what does this KG look like" dashboard actually loads.

    Entities with no non-self-loop edge never enter WL refinement;
    their color is the closed form an isolated node's refinement
    reaches — c_r = c_0 * FOLD_M^r mod P31 (empty neighbor multiset
    folds to 0) — computed in-row, bit-identical to running the loop.

    Shape at scale: wl_colors' per-round bound (state |V| rows,
    edge-join + sorted-degree aggregate) plus two |V|-side equi-joins
    of the distinct fact set and one grouped count; output is
    |colors|^2-bounded but in practice schema-sized (role classes x
    predicates)."""
    from gliner_spark.functions.text import FOLD_M, P31, fold_hash

    erows = edge_rows(triples, "spo")
    if erows is not None:
        # driver path (BOUNDS["edges"] gate): WL colors + the
        # closed-form isolate fallback + quotient aggregation replayed
        # in python over one bounded collect of the distinct facts
        und_pairs = {
            (s_, o_) if s_ < o_ else (o_, s_)
            for s_, _p, o_ in erows
            if s_ != o_
        }
        adj = _adj_from_und(sorted(und_pairs))
        cols_d = _wl_driver_colors(adj, rounds)
        k_d = pow(FOLD_M, rounds, P31)
        fb_cache: dict = {}

        def _color(n):
            c = cols_d.get(n)
            if c is None:
                pref = n.split(":", 1)[0]
                c = fb_cache.get(pref)
                if c is None:
                    c = (_fold_hash_py(pref) * k_d) % P31
                    fb_cache[pref] = c
            return c

        agg: dict = {}
        for s_, p_, o_ in erows:
            key = (_color(s_), p_, _color(o_))
            slot = agg.get(key)
            if slot is None:
                slot = agg[key] = [0, set(), set()]
            slot[0] += 1
            slot[1].add(s_)
            slot[2].add(o_)
        data = [
            (sc, p_, oc, n, len(ss), len(os_))
            for (sc, p_, oc), (n, ss, os_) in sorted(agg.items())
        ]
        return local_result(
            triples, data,
            "subj_color long, pred string, obj_color long, "
            "n_facts long, n_subjects long, n_objects long",
            ["subj_color", "pred", "obj_color"],
        )
    wl = wl_colors(triples, rounds).select("entity", "wl_color")
    k = pow(FOLD_M, rounds, P31)

    def fallback(col):
        # fold_hash < P31 < 2^31 and k < 2^31: the product stays < 2^62
        return (
            fold_hash(F.substring_index(col, ":", 1)) * F.lit(k)
        ) % F.lit(P31)

    base = triples.select("subj", "pred", "obj").distinct()
    colored = (
        base.join(
            wl.select(
                F.col("entity").alias("subj"), F.col("wl_color").alias("sc")
            ),
            "subj",
            "left",
        )
        .join(
            wl.select(
                F.col("entity").alias("obj"), F.col("wl_color").alias("oc")
            ),
            "obj",
            "left",
        )
        .select(
            F.coalesce("sc", fallback(F.col("subj")))
            .cast("long")
            .alias("subj_color"),
            "pred",
            F.coalesce("oc", fallback(F.col("obj")))
            .cast("long")
            .alias("obj_color"),
            "subj",
            "obj",
        )
    )
    out = (
        colored.groupBy("subj_color", "pred", "obj_color")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.countDistinct("subj").cast("long").alias("n_subjects"),
            F.countDistinct("obj").cast("long").alias("n_objects"),
        )
        .orderBy("subj_color", "pred", "obj_color")
    )
    return forward_caches(out, triples)
