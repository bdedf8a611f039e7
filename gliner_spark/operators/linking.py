"""Entity linking + canonicalization (SURVEY §2.10 / §7 step 5).

Not present in the reference (it stops at mentions/relations); required by
the north rule. Everything here is built-in DataFrame ops — no Python UDFs:

1. surface aggregation: mentions -> distinct (label, norm) surfaces with
   counts. This collapses the Zipf head (a hot surface like "acme corp"
   becomes ONE row regardless of how many million mentions carry it), which
   is the first and biggest skew defense.
2. minhash/LSH blocking: char-shingle minhash signatures (xxhash64 +
   affine rehash + array_min, all JVM-side), banded into block keys;
   candidate pairs come from an equi-join on band keys — never an all-pairs
   cross join.
3. verification: exact Jaccard on shingle sets (array_intersect /
   array_union) >= threshold -> similarity edges.
4. connected components: min-label propagation with pointer jumping (path
   compression — the doubling trick from Kiveris et al.'s MapReduce CC
   family), localCheckpoint per round to cut lineage; O(log diameter)
   rounds with a hard non-convergence guard.
5. canonical surface per component = highest mention count (ties: shortest,
   then lexicographically smallest norm) -> entities table + surface->entity
   map used to rewrite triples onto canonical ids.

Skew handling: oversized LSH blocks (a band key shared by > max_block
surfaces, e.g. a degenerate shingle) are dropped from pair generation with a
logged count — identity pairs are never needed because a surface is always
linked to itself by construction. AQE skew-join splitting handles residual
imbalance at the pair join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import attach_caches
from gliner_spark.config import PipelineConfig
from gliner_spark.gate import local_result
from gliner_spark.metrics import attach_audits, capped_filter

# affine rehash constants for minhash permutations (fixed, public constants;
# any odd multiplier works). Shingle hashes are first reduced into a 31-bit
# domain so a*h+b stays < 2^62 — ANSI-mode (Spark 4 default) overflow-safe.
_P31 = 2147483647  # 2^31 - 1 (Mersenne prime)


def _minhash_cols(shingle_hash_col, rows: int):
    perms = []
    for j in range(rows):
        a = 2 * ((j * 0x9E3779B1) % (_P31 // 2 - 1)) + 1
        b = (j * 0x85EBCA77) % _P31
        perms.append(
            F.array_min(
                F.transform(
                    shingle_hash_col,
                    lambda h: (F.pmod(h, F.lit(_P31)) * F.lit(a) + F.lit(b))
                    % F.lit(_P31),
                )
            ).alias(f"mh_{j}")
        )
    return perms


def surface_table(mentions: DataFrame) -> DataFrame:
    """Distinct (label, norm) surfaces with mention counts (map-side combine
    via partial aggregation — Catalyst provides partial/final for free)."""
    return mentions.groupBy("label", "norm").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )


def _char_fold_hash(s):
    """Arithmetic shingle hash from codepoints (engine-neutral: the SQL
    oracle reproduces it exactly; xxhash64 would not be). For k=3:
    ((cp1 * 1000003 + cp2) % P31 * 1000003 + cp3) % P31 — ANSI-overflow-safe
    (cp <= 0x10FFFF, every product < 2^62)."""
    h = F.ascii(F.substring(s, 1, 1)).cast("long")
    for i in (2, 3):
        h = (h * F.lit(1000003) + F.ascii(F.substring(s, i, 1)).cast("long")) % F.lit(_P31)
    return h


def _with_shingles(surfaces: DataFrame, k: int) -> DataFrame:
    assert k == 3, "char-fold hash below is specialized for k=3"
    pad = F.concat(F.lit(" "), F.col("norm"), F.lit(" "))
    n = F.greatest(F.length(pad) - (k - 1), F.lit(1))
    # dynamic-start substring via Column.substr(expr, expr) — JVM-side
    shingles = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: pad.substr(i, F.lit(k)))
    )
    return surfaces.withColumn("shingles", shingles).withColumn(
        "sh_hash", F.transform(F.col("shingles"), _char_fold_hash)
    )


def banded_surfaces(surfaces: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(label, norm, shingles, band, sig) LSH band keys for each surface —
    the shared blocking stage of similarity_edges and the incremental
    delta↔existing candidate join (canonicalize_incremental). UNCAPPED:
    callers apply their own bucket-cap policy."""
    rows, bands = cfg.link_minhash_rows, cfg.link_minhash_bands
    per_band = rows // bands
    sh = _with_shingles(surfaces, cfg.link_shingle_size)
    sh = sh.select("label", "norm", "shingles", *_minhash_cols(F.col("sh_hash"), rows))

    band_cols = []
    for b in range(bands):
        sig = F.lit(0).cast("long")
        for j in range(b * per_band, (b + 1) * per_band):
            sig = (sig * F.lit(1000003) + F.col(f"mh_{j}")) % F.lit(_P31)
        band_cols.append(F.struct(F.lit(b).alias("band"), sig.alias("sig")))
    return sh.select(
        "label", "norm", "shingles",
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select("label", "norm", "shingles", "bk.band", "bk.sig")


def similarity_edges(surfaces: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """LSH-blocked candidate pairs verified by exact Jaccard.

    Returns (label, norm_a, norm_b) undirected edges (norm_a < norm_b).
    """
    blocked = banded_surfaces(surfaces, cfg)

    # skew guard: drop degenerate blocks (identity linkage is implicit);
    # the cap is observed — dropped-row counts ride the caller's action
    # (metrics.skew_metrics) instead of firing silently
    w = Window.partitionBy("label", "band", "sig")
    blocked, _block_audit = capped_filter(
        blocked.withColumn("block_n", F.count(F.lit(1)).over(w)),
        "block_n", cfg.link_max_block_size, "linking_lsh_block_cap",
    )

    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.label") == F.col("b.label"),
                F.col("a.band") == F.col("b.band"),
                F.col("a.sig") == F.col("b.sig"),
                F.col("a.norm") < F.col("b.norm"),
            ],
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.norm").alias("norm_b"),
            F.col("a.shingles").alias("sh_a"),
            F.col("b.shingles").alias("sh_b"),
        )
        .dropDuplicates(["label", "norm_a", "norm_b"])
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    out = pairs.withColumn("jaccard", jac).filter(
        F.col("jaccard") >= cfg.link_jaccard_threshold
    ).select("label", "norm_a", "norm_b")
    return attach_audits(out, _block_audit)


def _cc_driver(nodes: DataFrame, edge_rows: list) -> DataFrame:
    """Driver-side union-find for component graphs that fit comfortably in
    driver memory (the caller gates on BOTH node and edge counts, and
    hands in the already-collected edge rows — the edge subplan evaluates
    exactly once). One bounded node collect replaces ~2 Spark actions per
    pointer-jumping round; the output contract is identical (component =
    min reachable node id: union-by-min keeps every root the minimum of
    its set). Edges must reference ids present in nodes (raises otherwise
    — see inline note)."""
    parent = {r.id: r.id for r in nodes.collect()}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for src, dst in edge_rows:
        if src not in parent or dst not in parent:
            # the distributed loop's behavior for unknown endpoints is an
            # accident of its propagate union (it emits rows for them but
            # never seeds their own ids) — refuse instead of silently
            # diverging; canonicalize always passes a closed node set
            raise ValueError(
                f"connected_components: edge ({src}, {dst}) references "
                "an id absent from nodes; pass a closed node set"
            )
        a, b = find(src), find(dst)
        if a != b:
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    rows = [(i, find(i)) for i in parent]
    # id type follows the input (long surface hashes in canonicalize,
    # string entity ids in graph_analytics.entity_components)
    id_type = dict(nodes.dtypes)["id"]
    return local_result(
        nodes, rows, f"id {id_type}, component {id_type}", forward=False
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, cfg: PipelineConfig,
    n_nodes: int | None = None,
) -> DataFrame:
    """Min-id label propagation WITH pointer jumping (path compression).

    nodes: (id long); edges: (src long, dst long) undirected (one direction
    given). Returns (id, component) with component = min node id reachable.

    Adaptive small-graph path: at or below gate.bound("cc_nodes") nodes
    (pass n_nodes if the caller already knows the count), union-find runs
    on the driver (_cc_driver) — the post-aggregation surface graph is
    Zipf-collapsed and tiny, and each distributed round costs two actions.
    Above the threshold, the distributed loop below is the 100 TB design:

    Each round does (a) a propagation step — component = min over self and
    neighbors' components — and (b) a pointer-jumping step — component <-
    component[component], doubling the hop distance covered per round.
    Plain propagation needs O(diameter) rounds (a 64-node chain would NOT
    converge within cc_max_iterations and would silently yield a wrong
    clustering); with jumping, rounds are O(log diameter). Non-convergence
    raises instead of returning a wrong answer.
    """
    # persist the edge subplan up front: the small-graph gate's bounded
    # collect, and (on bucket overflow) the distributed loop's symmetrized
    # view, both read it — without the persist an overflowing collect would
    # silently re-evaluate the expensive LSH/verify subplan a second time
    edges = edges.persist()
    max_nodes = gate.bound("cc_nodes")
    if max_nodes > 0:
        n = n_nodes if n_nodes is not None else nodes.count()
        if n <= max_nodes:
            # bound the edge collect too (a dense similarity graph can
            # carry far more edges than nodes): ONE limited collect both
            # checks the bound and feeds the union-find
            edge_rows = gate.collect_rows(
                edges, ("src", "dst"), max_nodes * 8
            )
            if edge_rows is not None:
                out = _cc_driver(nodes, edge_rows)
                edges.unpersist()
                return out
    # sym: every loop round's jobs traverse it; built from the persisted
    # edges so the union's two branches hit the cache, not the raw subplan
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    comp = nodes.select(F.col("id"), F.col("id").alias("component"))
    converged = False
    for _ in range(cfg.cc_max_iterations):
        # (a) propagate: min(component of self, components of neighbors)
        neigh = (
            sym.join(comp, sym.src == comp.id)
            .select(F.col("dst").alias("id"), F.col("component"))
        )
        prop = (
            comp.select("id", "component")
            .union(neigh)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # (b) pointer jump: component <- min(component, component[component])
        parent = prop.select(
            F.col("id").alias("component"), F.col("component").alias("grand")
        )
        new_comp = prop.join(parent, "component", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("grand", F.col("component"))
            ).alias("component"),
        )
        # cut lineage per round; reliable variant survives executor loss
        # (cluster profile — see PipelineConfig.cc_reliable_checkpoint)
        if cfg.cc_reliable_checkpoint:
            sc = new_comp.sparkSession.sparkContext
            if sc.getCheckpointDir() is None:
                import tempfile

                sc.setCheckpointDir(
                    cfg.cc_checkpoint_dir
                    or tempfile.mkdtemp(prefix="gs_cc_ckpt_")
                )
            new_comp = new_comp.checkpoint()
        else:
            new_comp = new_comp.localCheckpoint()
        changed = (
            new_comp.alias("n")
            .join(comp.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        comp = new_comp
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{cfg.cc_max_iterations} rounds; raise cc_max_iterations"
        )
    return comp


def closure_clusters(
    pairs: DataFrame, a_col: str, b_col: str, out_col: str, cfg=None
) -> DataFrame:
    """Shared closure-cluster shape (r5 review): verified similarity pairs
    (a_col, b_col) -> transitive closure via connected_components ->
    (out_col, cluster, cluster_size, keep) with cluster = MIN reachable id
    and keep = this row IS the representative. The single implementation
    behind dedup.duplicate_clusters (minhash pairs over doc ids) and
    similarity.semantic_clusters (SRP pairs over vec ids) — keep/size/
    ordering semantics can never drift between them. Callers own audit/
    cache forwarding from their pair source."""
    if cfg is None:
        cfg = PipelineConfig()
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    # r7 driver gate (BOUNDS["edges"]): the verified pair set is
    # Zipf-collapsed and usually tiny (often already a local relation
    # from a driver-gated pair source) — union-find + sizes + keep
    # replayed in python from one bounded collect; the distributed CC
    # below is unchanged above the bound. component = MIN reachable id,
    # identical to _cc_driver's union-by-min.
    erows = gate.dedup(edges, ("src", "dst"))
    if erows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for s_, d_ in erows:
            parent.setdefault(s_, s_)
            parent.setdefault(d_, d_)
            rs, rd = find(s_), find(d_)
            if rs != rd:
                parent[rd] = rs
        groups: dict = {}
        for node in parent:
            groups.setdefault(find(node), []).append(node)
        data = []
        for members in groups.values():
            cluster = min(members)
            sz = len(members)
            for node in members:
                data.append((node, cluster, sz, node == cluster))
        data.sort(key=lambda r: (r[1], r[0]))
        id_t = dict(pairs.dtypes)[a_col]
        return local_result(
            pairs, data,
            f"{out_col} {id_t}, cluster {id_t}, "
            "cluster_size long, keep boolean",
            ["cluster", out_col], forward=False,
        )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = connected_components(nodes, edges, cfg)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias(out_col),
            F.col("component").alias("cluster"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("keep"),
        )
        .orderBy("cluster", out_col)
    )


def _canonicalize_driver_rows(rows, cfg: PipelineConfig):
    """Pure-python replay of the LSH -> verify -> CC -> representative
    pipeline for a SMALL collected surface table — arithmetic-identical
    to the distributed path (same shingle fold hash, minhash perms, band
    fold, block cap, double-division Jaccard, ranking and md5 ids), so
    the output rows are byte-equal (asserted by
    test_canonicalize_driver_parity and the kg_entities/kg_triples
    oracles). The distributed plan's per-stage jobs (LSH self-join,
    bounded edge collect, CC, window rank, cluster joins) collapse into
    one python pass over a few hundred Zipf-collapsed surfaces — the
    same adaptive-small-graph design as connected_components'
    _cc_driver (guide §1.2: the fastest shuffle is no shuffle).

    rows: collected (label, norm, n_mentions) Rows.
    Returns (surface_map_rows, entities_rows, audit_row) as plain
    tuples + the audit dict for the LSH block-cap guard."""
    import hashlib as _hashlib

    k = cfg.link_shingle_size
    assert k == 3, "char-fold hash is specialized for k=3"
    rows_n, bands = cfg.link_minhash_rows, cfg.link_minhash_bands
    per_band = rows_n // bands
    P = _P31
    perms = []
    for j in range(rows_n):
        a = 2 * ((j * 0x9E3779B1) % (P // 2 - 1)) + 1
        b = (j * 0x85EBCA77) % P
        perms.append((a, b))

    def _cp(s: str, i: int) -> int:
        # F.ascii(F.substring(s, i, 1)): codepoint of char i (1-based),
        # 0 when the substring is empty
        return ord(s[i - 1]) if i <= len(s) else 0

    def _fold(s: str) -> int:
        h = _cp(s, 1)
        for i in (2, 3):
            h = (h * 1000003 + _cp(s, i)) % P
        return h

    surf = []  # (label, norm, n_mentions, shingle_set, [band_sigs])
    for r in rows:
        label, norm, n_m = r[0], r[1], int(r[2])
        pad = f" {norm} "
        n_sh = max(len(pad) - (k - 1), 1)
        shingles = list(dict.fromkeys(pad[i : i + k] for i in range(n_sh)))
        hashes = [_fold(s) for s in shingles]
        mh = [min(((h * a) + b) % P for h in hashes) for a, b in perms]
        sigs = []
        for bb in range(bands):
            sig = 0
            for j in range(bb * per_band, (bb + 1) * per_band):
                sig = (sig * 1000003 + mh[j]) % P
            sigs.append(sig)
        surf.append((label, norm, n_m, set(shingles), sigs))

    # LSH blocks + the audited block cap (capped_filter semantics: every
    # row of an over-cap block is dropped from pair generation)
    blocks: dict = {}
    for idx, (label, _n, _m, _sh, sigs) in enumerate(surf):
        for bb, sig in enumerate(sigs):
            blocks.setdefault((label, bb, sig), []).append(idx)
    cap = int(cfg.link_max_block_size)
    n_dropped = 0
    max_block = 0
    pairs = set()
    for members in blocks.values():
        sz = len(members)
        max_block = max(max_block, sz)
        if sz > cap:
            n_dropped += sz
            continue
        for i in range(sz):
            for j in range(i + 1, sz):
                a, b = members[i], members[j]
                if surf[a][1] == surf[b][1]:
                    continue
                pairs.add((a, b) if surf[a][1] < surf[b][1] else (b, a))

    thr = cfg.link_jaccard_threshold
    parent = list(range(len(surf)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        sa, sb = surf[a][3], surf[b][3]
        inter = len(sa & sb)
        # same IEEE double division as F.size/F.size in the JVM
        if inter / len(sa | sb) >= thr:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    comps: dict = {}
    for idx in range(len(surf)):
        comps.setdefault(find(idx), []).append(idx)

    surface_map = []
    entities: dict = {}
    for members in comps.values():
        # representative: most mentions, then shortest, then lexic. min
        rep = min(members, key=lambda i: (-surf[i][2], len(surf[i][1]), surf[i][1]))
        canon_label, canonical = surf[rep][0], surf[rep][1]
        digest = _hashlib.md5(
            f"{canon_label}\x00{canonical}".encode("utf-8")
        ).hexdigest()[:16]
        entity_id = f"{canon_label}:{digest}"
        total = 0
        for i in members:
            surface_map.append(
                (surf[i][0], surf[i][1], entity_id, canonical, surf[i][2])
            )
            total += surf[i][2]
        entities[(entity_id, canonical)] = (canon_label, total)

    entities_rows = [
        (eid, canonical, label, n)
        for (eid, canonical), (label, n) in entities.items()
    ]
    audit = {
        "guard": "linking_lsh_block_cap",
        "n_dropped_rows": n_dropped,
        "max_group_size": max_block,
        "cap": cap,
    }
    return surface_map, entities_rows, audit


def canonicalize(mentions: DataFrame, cfg: PipelineConfig):
    """mentions -> (entities DF, surface->entity map DF).

    entities(entity_id, canonical, label, n_mentions)
    surface_map(label, norm, entity_id, canonical, n_mentions)

    surface_map carries the per-surface mention count and the component's
    canonical form so a later DELTA finalize (canonicalize_incremental)
    can rebuild only touched components; consumers that need just the
    rewrite mapping use (label, norm, entity_id).
    """
    # r7: the surface table is a pure groupBy-count over (label, norm) —
    # below gate.RAW_COLLECT_CAP raw mention rows, pull the two columns
    # through ONE Arrow collect and aggregate vectorized on the driver
    # (the gate's grouped count), skipping the cluster-side aggregate
    # exchange AND the separate count job the old gate paid on every
    # chain invocation. The gate condition (distinct surfaces <=
    # BOUNDS["surfaces"]) is unchanged; oversized corpora degrade
    # to the old persist+count tier below.
    surfaces = None
    srows = None
    tbl = gate.collect_raw(mentions.select("label", "norm"))
    if tbl is not None:
        # grouped under the collect cap, not the surface bound: the
        # count also sizes the distributed plan past the check
        agg = gate.group_table(
            tbl, ["label", "norm"], [([], "count_all")], gate.RAW_COLLECT_CAP
        )
        n_surfaces = agg.num_rows
        if n_surfaces <= gate.bound("surfaces"):
            srows = gate.rows(agg)  # sorted by (label, norm)
    else:
        # surfaces is the root of every downstream branch (edges, CC
        # nodes, cluster join) — persist the tiny post-agg table, not
        # the mentions
        surfaces = surface_table(mentions).persist()
        # adaptive parallelism: the distinct-surface table is usually
        # orders of magnitude smaller than mentions (vocabulary
        # saturates). When it fits one task comfortably, collapse the
        # LSH/CC subplan to a single partition — every per-round shuffle
        # becomes a single-task exchange (the count is already paid: it
        # materializes the persist).
        n_surfaces = surfaces.count()
        if n_surfaces <= gate.bound("surfaces"):
            srows = surfaces.collect()
    if srows is not None:
        # r7 adaptive small-vocabulary path (guide §1.2 / §2.4): below the
        # bound the whole LSH -> verify -> CC -> representative pipeline
        # runs on the driver over ONE bounded collect of the persisted
        # surface table (_canonicalize_driver_rows is arithmetic-identical
        # to the distributed plan; parity test + oracles gate it). This
        # replaces ~6 sequential driver-visible jobs (LSH self-join,
        # bounded edge collect, CC, window rank, two cluster joins) with
        # collect + createDataFrame — the same gated design as
        # connected_components' _cc_driver. Above the bound the
        # distributed plan below is unchanged (the 100 TB path).
        smap_rows, ent_rows, audit = _canonicalize_driver_rows(
            srows, cfg
        )
        entities = local_result(
            mentions, ent_rows,
            "entity_id string, canonical string, label string, "
            "n_mentions long",
            audits=[audit], forward=False,
        )
        smap_out = local_result(
            mentions, smap_rows,
            "label string, norm string, entity_id string, "
            "canonical string, n_mentions long",
            forward=False,
        )
        if surfaces is not None:
            entities = attach_caches(entities, surfaces)
            smap_out = attach_caches(smap_out, surfaces)
        return entities, smap_out
    if surfaces is None:
        # arrow tier counted the surfaces but the vocabulary is over the
        # driver bound: build the distributed surface table (no count
        # job needed — n_surfaces is already known)
        surfaces = surface_table(mentions).persist()
    surfaces = surfaces.coalesce(1) if n_surfaces <= 100_000 else surfaces
    edges_s = similarity_edges(surfaces, cfg)

    keyed = surfaces.withColumn("id", F.xxhash64("label", "norm"))
    edge_ids = (
        edges_s.withColumn("src", F.xxhash64("label", "norm_a"))
        .withColumn("dst", F.xxhash64("label", "norm_b"))
        .select("src", "dst")
    )
    comp = connected_components(
        keyed.select("id"), edge_ids, cfg, n_nodes=n_surfaces
    )
    clustered = keyed.join(comp, "id").persist()

    # canonical representative: most mentions, then shortest, then lexic. min
    wn = Window.partitionBy("component").orderBy(
        F.desc("n_mentions"), F.length("norm").asc(), F.col("norm").asc()
    )
    ranked = clustered.withColumn("rk", F.row_number().over(wn))
    canon = ranked.filter(F.col("rk") == 1).select(
        F.col("component"),
        F.col("norm").alias("canonical"),
        F.col("label").alias("canon_label"),
    )
    joined = clustered.join(canon, "component")
    surface_map = joined.select(
        "label",
        "norm",
        F.concat_ws(
            ":", F.col("canon_label"),
            F.substring(F.md5(F.concat_ws("\x00", "canon_label", "canonical")), 1, 16),
        ).alias("entity_id"),
        F.col("canonical"),
        F.col("n_mentions"),
    )
    entities = surface_map.groupBy("entity_id", "canonical").agg(
        F.first("label").alias("label"), F.sum("n_mentions").alias("n_mentions")
    ).select("entity_id", "canonical", "label", "n_mentions")
    # propagate the LSH-block-cap audit so the pipeline sink can
    # append skew metrics after its write action
    entities = attach_audits(entities, edges_s)
    # the two branch-point persists ride BOTH outputs so a caller's
    # release_caches frees them whichever frame it consumed (the handles
    # are shared — a second release is a no-op)
    entities = attach_caches(entities, surfaces, clustered)
    smap_out = attach_caches(
        surface_map.select(
            "label", "norm", "entity_id", "canonical", "n_mentions"
        ),
        surfaces,
        clustered,
    )
    return entities, smap_out


def canonicalize_incremental(
    new_mentions: DataFrame, old_surface_map: DataFrame, cfg: PipelineConfig
):
    """DELTA canonicalization (VERDICT r3 ask #3): incorporate newly
    arrived mentions (e.g. a streamed micro-batch staged since the last
    finalize) WITHOUT re-running LSH + connected components over the full
    surface vocabulary.

    new_mentions: the mentions NOT yet reflected in old_surface_map.
    old_surface_map: the rich map a previous canonicalize/finalize wrote
        (label, norm, entity_id, canonical, n_mentions).

    Returns (entities_out, surface_map_out, remap) where remap is
    (old_entity_id, new_entity_id) for every entity whose id changed — the
    MERGE-style upsert key for the existing triples table
    (apply_entity_remap / Iceberg `MERGE INTO triples USING remap ON
    subj = old_entity_id ...` on a cluster).

    Algorithm — linking/CC run only on the delta + its touched components:
    1. delta surfaces = new surfaces anti-joined against the existing map;
       count INCREMENTS for existing surfaces hit by new mentions.
    2. candidate links: delta↔delta via the normal similarity_edges, and
       delta↔existing via a broadcast join of the delta's LSH band keys
       against the existing surfaces' band keys (same banding — the
       deterministic blocking guarantees the same pairs the full run would
       find; existing↔existing pairs need no re-discovery, their verdicts
       are already encoded in the old components).
    3. touched components = entities linked to by a verified delta edge,
       plus entities holding a count-incremented surface (the increment
       can flip the canonical-representative ranking).
    4. rebuild ONLY delta + touched-component members: CC over delta
       edges + one spanning STAR per old component (member -> min-id
       anchor — reproducing the old partition without its edges), then
       the standard representative ranking with UPDATED counts.
    5. untouched components pass through byte-identical.

    Equality with a full recompute holds exactly (test_incremental_
    finalize) with one deliberate divergence class: a full recompute's
    LSH bucket cap sees delta+existing bucket sizes together and may DROP
    previously-verified existing↔existing pairs when the delta pushes a
    bucket over the cap; the incremental path PRESERVES previously-found
    links (strictly better), so equality is exact whenever no bucket
    crosses the cap mid-stream.
    """
    new_surf = surface_table(new_mentions)
    old = old_surface_map
    # count increments for surfaces the map already knows
    hits = new_surf.join(
        old.select("label", "norm", "entity_id"), ["label", "norm"]
    ).select("label", "norm", "entity_id", F.col("n_mentions").alias("n_inc"))
    delta = new_surf.join(
        old.select("label", "norm"), ["label", "norm"], "left_anti"
    ).persist()

    # --- candidate links
    dd_edges = similarity_edges(delta, cfg)  # delta↔delta, verified
    bd = banded_surfaces(delta.select("label", "norm"), cfg)
    bo_raw = banded_surfaces(old.select("label", "norm"), cfg)
    w = Window.partitionBy("label", "band", "sig")
    bo, _audit = capped_filter(
        bo_raw.withColumn("block_n", F.count(F.lit(1)).over(w)),
        "block_n", cfg.link_max_block_size, "incremental_lsh_block_cap",
    )
    # divergence audit (VERDICT r4 ask #6): a FULL recompute's bucket cap
    # sees delta+existing together and may drop previously-verified
    # existing↔existing pairs when this delta pushes a bucket over the
    # cap; the incremental path preserves them. That divergence condition
    # is now observable — buckets with old_size <= cap < old+delta — so an
    # operator can trigger a full recompute when n_crossed_buckets > 0.
    _cap = int(cfg.link_max_block_size)
    _old_sz = bo_raw.groupBy("label", "band", "sig").agg(
        F.count(F.lit(1)).alias("n_old")
    )
    _del_sz = bd.groupBy("label", "band", "sig").agg(
        F.count(F.lit(1)).alias("n_del")
    )
    _cross_audit = (
        _old_sz.join(_del_sz, ["label", "band", "sig"])
        .filter(
            (F.col("n_old") <= _cap)
            & (F.col("n_old") + F.col("n_del") > _cap)
        )
        .agg(
            F.lit("incremental_cap_crossing").alias("guard"),
            F.count(F.lit(1)).cast("long").alias("n_crossed_buckets"),
            F.coalesce(
                F.max(F.col("n_old") + F.col("n_del")), F.lit(0)
            ).cast("long").alias("max_combined_size"),
            F.lit(_cap).cast("long").alias("cap"),
        )
    )
    cand = (
        F.broadcast(
            bd.select(
                "label", "band", "sig",
                F.col("norm").alias("norm_d"),
                F.col("shingles").alias("sh_d"),
            )
        )
        .join(
            bo.select(
                "label", "band", "sig",
                F.col("norm").alias("norm_o"),
                F.col("shingles").alias("sh_o"),
            ),
            ["label", "band", "sig"],
        )
        .dropDuplicates(["label", "norm_d", "norm_o"])
    )
    jac = F.size(F.array_intersect("sh_d", "sh_o")) / F.size(
        F.array_union("sh_d", "sh_o")
    )
    do_edges = (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= cfg.link_jaccard_threshold)
        .select("label", "norm_d", "norm_o")
    )

    # --- touched components (delta-linked or count-incremented)
    linked = do_edges.join(
        old.select("label", F.col("norm").alias("norm_o"), "entity_id"),
        ["label", "norm_o"],
    ).select("entity_id")
    touched_ids = linked.union(hits.select("entity_id")).distinct()
    touched = old.join(F.broadcast(touched_ids), "entity_id", "left_semi")
    untouched = old.join(F.broadcast(touched_ids), "entity_id", "left_anti")

    # --- rebuild subgraph: delta + touched members, updated counts
    t_counts = (
        touched.join(
            hits.select("label", "norm", "n_inc"), ["label", "norm"], "left"
        )
        .select(
            "label", "norm", "entity_id",
            (F.col("n_mentions") + F.coalesce("n_inc", F.lit(0))).alias("n"),
        )
    )
    keyed_t = t_counts.withColumn("id", F.xxhash64("label", "norm"))
    keyed_d = delta.select(
        "label", "norm", F.col("n_mentions").alias("n")
    ).withColumn("id", F.xxhash64("label", "norm"))
    nodes = keyed_t.select("id").union(keyed_d.select("id")).distinct()
    # one spanning star per old component reproduces its partition
    anchors = keyed_t.groupBy("entity_id").agg(F.min("id").alias("anchor"))
    star = (
        keyed_t.join(anchors, "entity_id")
        .filter(F.col("id") != F.col("anchor"))
        .select(F.col("id").alias("src"), F.col("anchor").alias("dst"))
    )
    e_dd = (
        dd_edges.withColumn("src", F.xxhash64("label", "norm_a"))
        .withColumn("dst", F.xxhash64("label", "norm_b"))
        .select("src", "dst")
    )
    e_do = (
        do_edges.withColumn("src", F.xxhash64("label", "norm_d"))
        .withColumn("dst", F.xxhash64("label", "norm_o"))
        .select("src", "dst")
    )
    comp = connected_components(
        nodes, star.union(e_dd).union(e_do), cfg
    )
    members = (
        keyed_t.select("label", "norm", "n", "id")
        .union(keyed_d.select("label", "norm", "n", "id"))
        .join(comp, "id")
    )
    wn = Window.partitionBy("component").orderBy(
        F.desc("n"), F.length("norm").asc(), F.col("norm").asc()
    )
    ranked = members.withColumn("rk", F.row_number().over(wn))
    canon = ranked.filter(F.col("rk") == 1).select(
        "component",
        F.col("norm").alias("canonical"),
        F.col("label").alias("canon_label"),
    )
    rebuilt = members.join(canon, "component").select(
        "label",
        "norm",
        F.concat_ws(
            ":", F.col("canon_label"),
            F.substring(
                F.md5(F.concat_ws("\x00", "canon_label", "canonical")), 1, 16
            ),
        ).alias("entity_id"),
        "canonical",
        F.col("n").alias("n_mentions"),
    )

    surface_out = untouched.select(
        "label", "norm", "entity_id", "canonical", "n_mentions"
    ).unionByName(rebuilt)
    entities_out = (
        surface_out.groupBy("entity_id", "canonical")
        .agg(
            F.first("label").alias("label"),
            F.sum("n_mentions").alias("n_mentions"),
        )
        .select("entity_id", "canonical", "label", "n_mentions")
    )
    remap = (
        touched.select("label", "norm", F.col("entity_id").alias("old_entity_id"))
        .join(rebuilt.select("label", "norm", "entity_id"), ["label", "norm"])
        .filter(F.col("old_entity_id") != F.col("entity_id"))
        .select(
            "old_entity_id", F.col("entity_id").alias("new_entity_id")
        )
        .distinct()
    )
    # forward all three skew audits (delta↔delta block cap via dd_edges,
    # the delta↔existing bucket cap, and the cap-CROSSING divergence
    # condition) so the delta finalize can record them
    entities_out = attach_audits(entities_out, dd_edges, _audit, _cross_audit)
    return attach_caches(entities_out, delta), surface_out, remap


def apply_entity_remap(triples: DataFrame, remap: DataFrame) -> DataFrame:
    """MERGE-style upsert of changed entity ids onto an existing CANONICAL
    triples table: subj/obj values found in remap.old_entity_id are
    rewritten to new_entity_id; all other rows pass through unchanged.
    remap is post-Zipf tiny — broadcast both joins (under Iceberg this is
    literally `MERGE INTO triples t USING remap r ON t.subj =
    r.old_entity_id WHEN MATCHED THEN UPDATE ...` — SCALE.md)."""
    rs = F.broadcast(
        remap.select(
            F.col("old_entity_id").alias("subj"),
            F.col("new_entity_id").alias("_new_subj"),
        )
    )
    ro = F.broadcast(
        remap.select(
            F.col("old_entity_id").alias("obj"),
            F.col("new_entity_id").alias("_new_obj"),
        )
    )
    return (
        triples.join(rs, "subj", "left")
        .join(ro, "obj", "left")
        .select(
            "doc_id",
            F.coalesce("_new_subj", "subj").alias("subj"),
            "pred",
            F.coalesce("_new_obj", "obj").alias("obj"),
            "subj_type",
            "obj_type",
            "score",
        )
    )


def rewrite_triples(
    triples_raw: DataFrame, surface_map: DataFrame, broadcast_map: bool = True
) -> DataFrame:
    """Rewrite raw surface triples onto canonical entity ids.

    The surface map is tiny relative to triples (post-dedup surfaces), so it
    is broadcast by default — the skewed join (hot surfaces appearing in
    millions of triples) never shuffles the big side. For gigantic maps,
    pass broadcast_map=False and AQE skew-join handles the residual.
    Media objects (obj_type='media') keep their media_ref as node id.
    """
    smap = F.broadcast(surface_map) if broadcast_map else surface_map
    s = smap.select(
        F.col("label").alias("subj_type"),
        F.col("norm").alias("subj"),
        F.col("entity_id").alias("subj_id"),
    )
    o = smap.select(
        F.col("label").alias("obj_type"),
        F.col("norm").alias("obj"),
        F.col("entity_id").alias("obj_id_m"),
    )
    out = (
        triples_raw.join(s, ["subj_type", "subj"], "left")
        .join(o, ["obj_type", "obj"], "left")
        .withColumn(
            "obj_id",
            F.when(F.col("obj_type") == "media", F.col("obj")).otherwise(
                F.col("obj_id_m")
            ),
        )
    )
    return out.select(
        "doc_id",
        F.coalesce("subj_id", "subj").alias("subj"),
        "pred",
        F.coalesce("obj_id", "obj").alias("obj"),
        "subj_type",
        "obj_type",
        "score",
    )
