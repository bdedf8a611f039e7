"""KG completion / training-data operators over the constructed graph.

Two classic ops a KG-construction pipeline runs right after emitting
triples:

- negative_samples: type-consistent corruption sampling under the
  FILTERED protocol (Bordes et al. 2013 TransE, Wang et al. 2014) — the
  training-pair generator for any KG-embedding model.
- cooc_candidates: document co-occurrence lift for NON-adjacent entity
  pairs — the distant-supervision candidate generator (Mintz et al.
  2009): pairs the corpus keeps putting together that the extractor
  never linked.

Reference scope note: urchade/GLiNER emits entities/relations
(model.py predict_entities / GLiNERRelationExtractor); what a consumer
does next — corrupt triples for training, mine unlinked co-occurring
pairs — is the beyond-reference pipeline mandate (SURVEY.md §2.11).

Determinism contract (shared with every oracle-gated operator): all
randomness is the codepoint-fold hash, all selection is integer
arithmetic over sorted arrays, so DuckDB replays bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import attach_caches, forward_caches
from gliner_spark.functions.text import fold_hash
from gliner_spark.gate import edge_rows, local_result
from gliner_spark.metrics import attach_audits, capped_filter
from gliner_spark.operators.graph_analytics import (
    _adj_from_und,
    _fold_hash_many,
    _fold_hash_py,
    symmetric_edges,
    undirected_edges,
)

# Bounded deterministic candidate pool per entity type. At web scale the
# per-type entity set is unbounded (millions of persons), so the sampler
# never broadcasts it: it keeps the pool_cap entities with the smallest
# (fold_hash(entity), entity) rank — a deterministic pseudo-random
# sample — and corrupts against that. Sampling negatives from a capped
# candidate pool is the standard trade (word2vec/TransE implementations
# all sample from a table, not the full set); the pool is rebuilt per
# run so it tracks the corpus.
NEG_POOL_CAP = 256

COOC_DOC_CAP = 64       # per-doc entity-count cap for the pair self-join
COOC_MIN_SUPPORT = 2    # min co-occurring docs to emit a candidate pair


def _fold_keys_composed(subs, preds, objs):
    """fold_hash(f"{s}|{p}|{o}") for every row, composed from per-UNIQUE
    -part folds: each char step is h -> (h*M + c) % P, so
    fold(A+B) = (fold(A) * M^len(B) + fold(B)) % P. Hash only the unique
    strings (_fold_hash_many), then compose per row with int64 modmuls
    (h < P < 2^31, M^len % P < 2^31 -> products < 2^62, overflow-free).
    Identical values to folding each concatenated key char by char —
    the per-char fold over every 40-char row key was the dominant cost
    of the negatives replay."""
    import numpy as np

    P, M = 2147483647, 1000003

    def per_row(strs):
        uniq = sorted(set(strs))
        folds = _fold_hash_many(uniq)
        lens = np.fromiter((len(s) for s in uniq), np.int64, count=len(uniq))
        idx = {s: i for i, s in enumerate(uniq)}
        ii = np.fromiter((idx[s] for s in strs), np.int64, count=len(strs))
        return folds[ii], lens[ii]

    fs, _ls = per_row(subs)
    fp, lp = per_row(preds)
    fo, lo = per_row(objs)
    maxlen = int(max(lp.max(), lo.max())) + 1
    pow_m = np.empty(maxlen + 1, np.int64)
    pow_m[0] = 1
    for i in range(1, maxlen + 1):
        pow_m[i] = (pow_m[i - 1] * M) % P
    bar = ord("|")  # fold("|") = (0*M + 124) % P
    h = (fs * M + bar) % P
    h = (h * pow_m[lp] + fp) % P
    h = (h * M + bar) % P
    h = (h * pow_m[lo] + fo) % P
    return h


def _negatives_driver(cols, pool_cap: int):
    """Python replay of the corruption protocol over collected distinct
    positives (subs, preds, objs, typs column lists): hash-ranked <=cap
    pool per type (sorted), fold-hash pick with the true-object skip,
    filtered against the true triple set. Exact: fold_hash replayed
    (selection keys composed from per-unique-part folds — identical
    values), pmod == % for the nonneg hash; the picks/skips are
    vectorized per-type gathers."""
    import heapq

    import numpy as np

    subs, preds, objs, typs = cols
    if not subs:
        return []
    trues = set(zip(subs, preds, objs))
    ents: dict = {}
    for o, t in zip(objs, typs):
        ents.setdefault(t, set()).add(o)
    pools: dict = {}
    for t, es in ents.items():
        es_l = sorted(es)
        hs = _fold_hash_many(es_l)
        pools[t] = sorted(
            e
            for _h, e in heapq.nsmallest(pool_cap, zip(hs.tolist(), es_l))
        )
    keys = _fold_keys_composed(subs, preds, objs)
    sub_arr = np.asarray(subs, dtype=object)
    pred_arr = np.asarray(preds, dtype=object)
    obj_arr = np.asarray(objs, dtype=object)
    typ_arr = np.asarray(typs, dtype=object)
    out = []
    for t, pool in pools.items():
        pool_np = np.asarray(pool, dtype=object)
        n = len(pool)
        mask = np.nonzero(typ_arr == t)[0]
        idx = keys[mask] % n
        c0 = pool_np[idx]
        c1 = pool_np[(idx + 1) % n]
        o_m = obj_arr[mask]
        neg = np.where(c0 == o_m, c1, c0)
        keep = np.nonzero(neg != o_m)[0]
        s_m, p_m = sub_arr[mask], pred_arr[mask]
        for i in keep:
            s, p, ng = s_m[i], p_m[i], neg[i]
            if (s, p, ng) not in trues:
                out.append((s, p, o_m[i], ng, t))
    out.sort()
    return out


def _positive_cols(triples: DataFrame):
    """Tiered bounded collect of the distinct positives
    (subj, pred, obj, min(obj_type)) — the shared driver-gate entry of
    negative_samples / transe_margin_eval / ranking_metrics (one copy so
    the gate condition can never diverge between the sampler and the
    evals that consume it). The groupBy-min replays with pyarrow
    (hash_min over UTF-8 binary order == Spark's string min == python's
    codepoint min) on gate.group's raw tier. Returns COLUMN lists
    (subs, preds, objs, typs), sorted by (subj, pred, obj) in C++
    rather than as python row tuples (every consumer is column-
    oriented), if the distinct-positive count fits the bound; else None
    (caller keeps the distributed plan)."""
    tbl = gate.group(
        triples, ["subj", "pred", "obj"], [("obj_type", "min")]
    )
    return None if tbl is None else tuple(c.to_pylist() for c in tbl.columns)


def negative_samples(
    triples: DataFrame, pool_cap: int = NEG_POOL_CAP,
) -> DataFrame:
    """One type-consistent corrupted tail per distinct positive triple,
    filtered against the true triple set.

    Protocol (Bordes et al. 2013, "filtered" setting of Wang et al.
    2014): for positive (s, p, o) pick a replacement o' of the SAME
    object type — type-consistent corruption yields the hard negatives
    that actually train a scorer — and drop corruptions that happen to
    be true triples elsewhere in the KG. Selection is
    fold_hash(s|p|o) mod pool_size over the type's sorted candidate
    pool; if the pick equals the true object, take the next slot
    (wraps), and a 1-entity pool yields no negative.

    Shape at scale: the pool is ≤ pool_cap rows per type (window
    row_number over the per-type hash rank), broadcast to the
    corruption join; the corruption itself is a narrow projection; the
    filtered check is one left-anti shuffle join on (s, p, o'). No
    all-pairs work anywhere.
    """
    cols = _positive_cols(triples)
    if cols is not None:
        # driver path (BOUNDS["edges"] gate, here on distinct
        # positives): _negatives_driver replays the protocol exactly;
        # downstream scorers (transe_margin_eval family) then run over a
        # local relation — one narrow stage instead of pool/broadcast/
        # anti-join shuffles
        return local_result(
            triples, _negatives_driver(cols, pool_cap),
            "subj string, pred string, pos_obj string, neg_obj string, "
            "obj_type string",
            ["subj", "pred", "pos_obj", "neg_obj"],
        )
    # one positive per distinct FACT: min(obj_type) makes the pool
    # choice deterministic if a foreign table carries the same (s,p,o)
    # under two obj_types (our chain's obj determines its type, but the
    # protocol must not double-count on inputs where it doesn't).
    # Persisted: trues/ents/cand all branch from it — without the
    # persist each branch would re-run the whole upstream chain.
    pos = triples.groupBy("subj", "pred", "obj").agg(
        F.min("obj_type").alias("obj_type")
    ).persist()
    trues = pos.select("subj", "pred", F.col("obj").alias("neg_obj"))

    ents = pos.select(
        F.col("obj_type").alias("etype"), F.col("obj").alias("entity")
    ).distinct()
    pool = (
        _hash_ranked_pool(ents, pool_cap)
        .groupBy("etype")
        .agg(F.sort_array(F.collect_list("entity")).alias("ents"))
        .withColumn("n", F.size("ents").cast("long"))
    )

    cand = (
        pos.join(F.broadcast(pool), pos["obj_type"] == pool["etype"])
        .withColumn(
            "idx",
            F.pmod(fold_hash(F.concat_ws("|", "subj", "pred", "obj")), F.col("n")),
        )
        .withColumn("c0", F.expr("element_at(ents, CAST(idx + 1 AS INT))"))
        .withColumn(
            "c1",
            F.expr("element_at(ents, CAST((idx + 1) % n + 1 AS INT))"),
        )
        .select(
            "subj",
            "pred",
            F.col("obj").alias("pos_obj"),
            F.when(F.col("c0") == F.col("obj"), F.col("c1"))
            .otherwise(F.col("c0"))
            .alias("neg_obj"),
            "obj_type",
        )
        .filter(F.col("neg_obj") != F.col("pos_obj"))
    )
    out = (
        cand.join(trues, ["subj", "pred", "neg_obj"], "left_anti")
        .select("subj", "pred", "pos_obj", "neg_obj", "obj_type")
        .orderBy("subj", "pred", "pos_obj", "neg_obj")
    )
    return attach_caches(forward_caches(out, triples), pos)


def _hash_ranked_pool(ents: DataFrame, cap: int) -> DataFrame:
    """Deterministic pseudo-random <= cap sample per type — the shared
    hash-rank window protocol of negative_samples and ranking_metrics
    (one copy so the sampling can never silently diverge between the
    corruption pool and the ranking pool). ents: (etype, entity)."""
    w = Window.partitionBy("etype").orderBy("hrank", "entity")
    return (
        ents.withColumn("hrank", fold_hash(F.col("entity")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("etype", "entity")
    )


def _l1_expr(dim: int):
    """TransE L1 energy ||h + r - t||_1 as an ordered in-row fold —
    UNCLAMPED (kg_scoring's 'transe' interaction clamps at 10.0 for
    scoring-head parity; the eval protocols here need the raw energy).
    Shared by transe_margin_eval and ranking_metrics."""
    idx = F.sequence(F.lit(1), F.lit(dim))

    def l1(h, r, t):
        return F.aggregate(
            F.transform(
                idx,
                lambda i: F.abs(
                    F.element_at(h, i)
                    + F.element_at(r, i)
                    - F.element_at(t, i)
                ),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    return l1


def cooc_candidates(
    triples: DataFrame,
    doc_cap: int = COOC_DOC_CAP,
    min_support: int = COOC_MIN_SUPPORT,
) -> DataFrame:
    """Document co-occurrence lift for entity pairs the extractor did
    NOT link — the distant-supervision / missing-relation candidate list
    (Mintz et al. 2009), complementary to the topological Resource
    Allocation index (graph_analytics.link_prediction): this one scores
    the corpus signal, that one the graph signal.

    lift = N * c(a,b) / (c(a) * c(b)) over document frequencies — the
    exponent-free monotone core of PMI (log is avoided deliberately:
    integer cross-products and one final rounded division keep the
    oracle bit-exact). Every count — pair, marginals, N — is over the
    SAME capped doc population, so excluding an over-cap doc never
    biases a pair's lift downward.

    Shape at scale: per-doc entity lists are capped (audited, whole
    over-cap docs excluded — same contract as the 2-hop hub cap) so the
    in-doc pair self-join is bounded by |docs| * cap^2; support
    filtering collapses the pair set before the two doc-frequency joins;
    the non-adjacency check is one left-anti join against the distinct
    edge set. Media objects are excluded (refs, not entities).
    """
    ed_raw = triples.select("doc_id", F.col("subj").alias("entity")).union(
        triples.filter(F.col("obj_type") != "media").select(
            "doc_id", F.col("obj").alias("entity")
        )
    )
    # r7: ONE raw Arrow collect of the fact rows feeds BOTH driver-side
    # dedups ((doc, entity) incidences and the adjacency set) — the two
    # separate collects (one over a union that scanned the table twice)
    # were the dominant cost of the driver path. Gate conditions
    # unchanged: each distinct set must fit the row bound; raw tables
    # past RAW_COLLECT_CAP degrade to two gate.group calls of their own.
    ed_t = adj_t = tbl = None
    if gate.bound() > 0:
        tbl = gate.collect_raw(
            triples.select("doc_id", "subj", "obj", "obj_type")
        )
    if tbl is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        ed_t = pa.concat_tables([
            tbl.select(["doc_id", "subj"]).rename_columns(
                ["doc_id", "entity"]
            ),
            tbl.filter(pc.not_equal(tbl.column("obj_type"), "media"))
            .select(["doc_id", "obj"])
            .rename_columns(["doc_id", "entity"]),
        ])
        adj_t = tbl.filter(
            pc.not_equal(tbl.column("subj"), tbl.column("obj"))
        ).select(["subj", "obj"])
    ed = gate.group(ed_raw, ["doc_id", "entity"], (), ed_t)
    adj = None
    if ed is not None:
        adj = gate.group(
            triples.filter(F.col("subj") != F.col("obj")),
            ["subj", "obj"], (), adj_t,
        )
    if adj is not None:
        # driver path (BOUNDS["edges"] gate, here on distinct
        # (doc, entity) incidences): capped pair counting, marginals and
        # the non-adjacency filter — vectorized (r7 pass 3: the python
        # pair loop was 0.8 s of the 1.2 s wall at sf0.1). Incidences
        # arrive SORTED by (doc, entity), so per-doc entity lists are
        # ascending slices; entities get ids in string sort order (int
        # order == codepoint order == pair canonical order), pairs are
        # cached triu_indices gathers counted by np.unique, marginals
        # one bincount, adjacency one searchsorted. The lift double is
        # computed raw (exact int->double products, both < 2^53) and
        # rounded back IN Spark with the same F.round.
        import numpy as np

        docs_l = ed.column("doc_id").to_pylist()
        ents_l = ed.column("entity").to_pylist()
        uniq_ents = sorted(set(ents_l))
        n_ents = len(uniq_ents)
        eid = {e: i for i, e in enumerate(uniq_ents)}
        ids = np.fromiter(
            (eid[e] for e in ents_l), np.int64, count=len(ents_l)
        )
        if docs_l:
            d_arr = np.asarray(docs_l, dtype=object)
            starts = np.concatenate((
                [0], np.nonzero(d_arr[1:] != d_arr[:-1])[0] + 1,
                [len(docs_l)],
            ))
            sizes = np.diff(starts)
        else:
            starts = np.zeros(1, np.int64)
            sizes = np.zeros(0, np.int64)
        kept = sizes <= doc_cap
        n_dropped = int(sizes[~kept].sum())
        max_doc = int(sizes.max()) if len(sizes) else 0
        kept_docs = int(kept.sum())
        doc_idx = np.repeat(np.arange(len(sizes)), sizes)
        marg_a = (
            np.bincount(ids[kept[doc_idx]], minlength=n_ents)
            if len(sizes)
            else np.zeros(n_ents, np.int64)
        )
        tri_cache: dict = {}
        key_chunks = []
        for k in np.nonzero(kept & (sizes >= 2))[0]:
            s = int(sizes[k])
            seg = ids[starts[k]:starts[k] + s]
            if s not in tri_cache:
                tri_cache[s] = np.triu_indices(s, 1)
            ii, jj = tri_cache[s]
            key_chunks.append(seg[ii] * n_ents + seg[jj])
        if key_chunks:
            uk, cnt = np.unique(
                np.concatenate(key_chunks), return_counts=True
            )
        else:
            uk = np.zeros(0, np.int64)
            cnt = uk
        adj_list = []
        for r in gate.rows(adj):
            x, y = (r[0], r[1]) if r[0] < r[1] else (r[1], r[0])
            ia, ib = eid.get(x), eid.get(y)
            if ia is not None and ib is not None:
                adj_list.append(ia * n_ents + ib)
        mask = cnt >= min_support
        if len(uk) and adj_list:
            adj_keys = np.unique(np.asarray(adj_list, np.int64))
            ins = np.searchsorted(adj_keys, uk)
            ins[ins == len(adj_keys)] = 0
            mask &= adj_keys[ins] != uk
        data = []
        for t in np.nonzero(mask)[0]:
            key = int(uk[t])
            n = int(cnt[t])
            ia, ib = key // n_ents, key % n_ents
            ma, mb = int(marg_a[ia]), int(marg_a[ib])
            data.append((
                uniq_ents[ia], uniq_ents[ib], n, ma, mb,
                float(kept_docs * n) / float(ma * mb),
            ))
        audit = {
            "guard": "cooc_doc_cap",
            "n_dropped_rows": n_dropped,
            "max_group_size": max_doc,
            "cap": int(doc_cap),
        }
        return local_result(
            triples, data,
            "entity_a string, entity_b string, n_docs_pair long, "
            "n_docs_a long, n_docs_b long, _raw double",
            ["entity_a", "entity_b"],
            select=[
                "entity_a", "entity_b", "n_docs_pair", "n_docs_a",
                "n_docs_b", F.round("_raw", 6).alias("lift"),
            ],
            audits=[audit],
        )

    w = Window.partitionBy("doc_id")
    capped, audit = capped_filter(
        ed_raw.distinct().withColumn("sz", F.count(F.lit(1)).over(w)),
        "sz", doc_cap, "cooc_doc_cap",
    )
    # ONE population for every count in the lift: pair counts, marginals
    # and N must all see the same (capped) doc set, or entities living
    # in over-cap docs get systematically deflated lifts (pair count
    # capped, marginals not). Persisted: four branches read it.
    capped = capped.persist()
    n_docs = capped.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    a = capped.select("doc_id", F.col("entity").alias("entity_a"))
    b = capped.select("doc_id", F.col("entity").alias("entity_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_pair"))
        .filter(F.col("n_docs_pair") >= min_support)
    )

    ce = capped.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    adj = (
        triples.filter(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("entity_a"),
            F.greatest("subj", "obj").alias("entity_b"),
        )
        .distinct()
    )
    out = (
        pairs.join(adj, ["entity_a", "entity_b"], "left_anti")
        .join(ce.withColumnRenamed("n", "n_docs_a"),
              F.col("entity_a") == F.col("entity"))
        .drop("entity")
        .join(ce.withColumnRenamed("n", "n_docs_b"),
              F.col("entity_b") == F.col("entity"))
        .drop("entity")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "entity_a",
            "entity_b",
            "n_docs_pair",
            "n_docs_a",
            "n_docs_b",
            F.round(
                (F.col("n_docs") * F.col("n_docs_pair")).cast("double")
                / (F.col("n_docs_a") * F.col("n_docs_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("entity_a", "entity_b")
    )
    return attach_caches(
        forward_caches(attach_audits(out, audit), triples), capped
    )


WALKS_PER_NODE = 2   # walks started from each node
WALK_LEN = 4         # nodes per walk (WALK_LEN - 1 hops)
WALK_NBR_CAP = 64    # bounded per-node neighbor pool (GraphSAGE sampling)


def walk_corpus(
    triples: DataFrame,
    walks_per_node: int = WALKS_PER_NODE,
    length: int = WALK_LEN,
    nbr_cap: int = WALK_NBR_CAP,
) -> DataFrame:
    """Deterministic random-walk corpus over the undirected entity graph
    — the DeepWalk / node2vec(p=q=1) training-data generator (Perozzi et
    al. 2014): `walks_per_node` walks of `length` nodes from every
    non-isolated entity, emitted as '->'-joined walk strings (the
    "sentences" a skip-gram embedder consumes).

    All randomness is the fold hash: step s of walk (start, wid) picks
    neighbor index fold_hash(start|wid|s|cur) mod pool-size from the
    node's SORTED neighbor pool, so the corpus is a pure function of the
    graph — re-runs, retries and the DuckDB oracle all reproduce it
    bit-for-bit.

    Scale shape: per-node neighbor pools are bounded at `nbr_cap`
    (keep the cap smallest (fold_hash(nbr), nbr) — the same
    deterministic pseudo-random sample as negative_samples' pool, and
    exactly GraphSAGE's bounded neighbor sampling, so a hub's row stays
    O(cap) wide); the walk itself is length-1 equi-joins of the frontier
    against the pooled adjacency table with narrow in-row index math.
    No neighbor pool is ever collected or broadcast: frontier and
    adjacency co-shuffle on the node key each hop. An undirected edge
    guarantees every reached node has a non-empty pool, so walks never
    dead-end."""
    und = undirected_edges(triples)
    rows = edge_rows(triples, "undirected")
    if rows is not None:
        # driver path (BOUNDS["edges"] gate): the bounded pools
        # and fold-hash walk steps replayed exactly (pmod == % for the
        # nonneg hash; pools are hash-rank-capped then sorted, the same
        # _hash_ranked_pool protocol)
        import heapq

        adj = _adj_from_und(rows)
        # fold_hash composes: fold(A+B) = (fold(A) * M^len(B) + fold(B))
        # mod P (each char step is h -> h*M + c). Hash every node ONCE
        # and compose walk keys f"{entity}|{wid}|{step}|{cur}" from the
        # cached node folds — the per-char loop over every step key was
        # the driver path's hot spot.
        P = 2147483647
        M = 1000003
        nodes_l = list(adj)
        fold_c = dict(
            zip(nodes_l, _fold_hash_many(nodes_l).tolist())
        )
        node_len = {n: len(n) for n in adj}
        powM = [1]
        for _ in range(max(node_len.values(), default=1) + 8):
            powM.append((powM[-1] * M) % P)
        mids = {
            (wid, step): (_fold_hash_py(m := f"|{wid}|{step}|"), len(m))
            for wid in range(walks_per_node)
            for step in range(1, length)
        }
        pools = {
            node: sorted(
                nb
                for _h, nb in heapq.nsmallest(
                    nbr_cap, ((fold_c[nb], nb) for nb in nbrs)
                )
            )
            for node, nbrs in adj.items()
        }
        # r7 pass 3: the per-walk python loop is replaced by a
        # step-synchronous numpy walk over CSR pools in id space —
        # identical fold arithmetic (int64 modmuls, products < 2^62),
        # identical picks, ~16k walk-steps per vector op instead of per
        # python iteration
        import numpy as np

        nid = {n: i for i, n in enumerate(nodes_l)}
        n_nodes = len(nodes_l)
        folds_a = np.fromiter(
            (fold_c[n] for n in nodes_l), np.int64, count=n_nodes
        )
        lens_a = np.fromiter(
            (node_len[n] for n in nodes_l), np.int64, count=n_nodes
        )
        pool_off = np.zeros(n_nodes + 1, np.int64)
        pool_dat: list = []
        for i, n in enumerate(nodes_l):
            ids = [nid[x] for x in pools[n]]
            pool_dat.extend(ids)
            pool_off[i + 1] = pool_off[i] + len(ids)
        pool_dat = np.asarray(pool_dat, dtype=np.int64)
        pool_deg = np.diff(pool_off)
        pow_a = np.asarray(powM, dtype=np.int64)
        ent = np.repeat(
            np.arange(n_nodes, dtype=np.int64), walks_per_node
        )
        wid_a = np.tile(
            np.arange(walks_per_node, dtype=np.int64), n_nodes
        )
        cur = ent.copy()
        path_ids = [ent]
        for step in range(1, length):
            mf = np.fromiter(
                (mids[(w, step)][0] for w in range(walks_per_node)),
                np.int64, count=walks_per_node,
            )[wid_a]
            ml = np.fromiter(
                (mids[(w, step)][1] for w in range(walks_per_node)),
                np.int64, count=walks_per_node,
            )[wid_a]
            h = (folds_a[ent] * pow_a[ml] + mf) % P
            h = (h * pow_a[lens_a[cur]] + folds_a[cur]) % P
            cur = pool_dat[pool_off[cur] + h % pool_deg[cur]]
            path_ids.append(cur)
        cols_l = [a.tolist() for a in path_ids]
        wids_l = wid_a.tolist()
        data = [
            (
                nodes_l[cols_l[0][i]],
                wids_l[i],
                "->".join(nodes_l[c[i]] for c in cols_l),
            )
            for i in range(len(wids_l))
        ]
        return local_result(
            triples, data, "entity string, walk_id long, walk string",
            ["entity", "walk_id"],
        )
    sym = symmetric_edges(und)
    w = Window.partitionBy("node").orderBy("hrank", "nbr")
    pool = (
        sym.withColumn("hrank", fold_hash(F.col("nbr")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nbr_cap)
        .groupBy("node")
        .agg(F.sort_array(F.collect_list("nbr")).alias("nbrs"))
        .withColumn("n", F.size("nbrs").cast("long"))
        .persist()
    )

    frontier = pool.select(
        F.col("node").alias("entity"),
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("wid"),
        F.col("node").alias("cur"),
        F.col("node").alias("walk"),
    ).select(
        "entity",
        F.col("wid").cast("long").alias("walk_id"),
        "cur",
        "walk",
    )
    for step in range(1, length):
        key = F.concat_ws(
            "|",
            F.col("entity"),
            F.col("walk_id").cast("string"),
            F.lit(str(step)),
            F.col("cur"),
        )
        frontier = (
            frontier.join(pool, frontier["cur"] == pool["node"])
            .withColumn("idx", F.pmod(fold_hash(key), F.col("n")))
            .withColumn(
                "nxt", F.expr("element_at(nbrs, CAST(idx + 1 AS INT))")
            )
            .select(
                "entity",
                "walk_id",
                F.col("nxt").alias("cur"),
                F.concat_ws("->", "walk", "nxt").alias("walk"),
            )
        )
    out = frontier.select("entity", "walk_id", "walk").orderBy(
        "entity", "walk_id"
    )
    return attach_caches(forward_caches(out, triples), pool)


RULE_MIN_SUPPORT = 2          # min # shared (x, y) pairs to emit a rule
RULE_MIN_CONF_PERMILLE = 500  # inference threshold: conf >= 50.0%


def _rule_edge_rows(triples: DataFrame):
    """The distinct non-loop edges (subj, pred, obj), bounded — the
    shared driver-gate entry of mine_rules / apply_rules."""
    return edge_rows(triples, "spo_nonloop")


def mine_rules(
    triples: DataFrame, min_support: int = RULE_MIN_SUPPORT,
) -> DataFrame:
    """AMIE-style mining of 2-atom horn rules over the constructed KG
    (Galarraga et al. 2013): `body(x, y) => head(x, y)` (direct) and
    `body(y, x) => head(x, y)` (inverse — body == head detects symmetric
    predicates). Per rule: support = #distinct (x, y) pairs satisfying
    body AND head, n_body / n_head = the predicates' distinct pair
    counts, standard confidence = support / n_body and head coverage =
    support / n_head — both emitted as exact permille integers
    (1000 * support DIV n, nonneg so Spark `DIV` == DuckDB `//`).

    This is THE schema-discovery / completion-candidate step a pipeline
    runs on freshly constructed triples: high-confidence rules feed
    apply_rules (materialize implied-but-missing triples) and double as
    redundancy/ontology findings (subproperty, inverse-of, symmetry).

    Shape at scale: one self-equi-join of the distinct edge set on the
    COMPOSITE (x, y) pair key — multiplicity per key is the number of
    predicates linking that pair (tiny; no hub blowup possible because
    the key is the full pair), aggregate output is <= |P|^2 rows, and
    the per-predicate count table joins back broadcast. No UDFs, no
    windows, two shuffles."""
    # r7: below the distinct-edge bound the pair-grouped rule counting
    # replays on the driver from one bounded collect (all-integer
    # output); the self-join plan (unchanged) is the scale path above it
    rows = _rule_edge_rows(triples)
    if rows is not None:
        return local_result(
            triples, _mine_rules_driver(rows, min_support),
            "body_pred string, head_pred string, inverse long, "
            "support long, n_body long, n_head long, "
            "conf_permille long, hc_permille long",
            ["body_pred", "head_pred", "inverse"],
        )
    d = (
        triples.filter(F.col("subj") != F.col("obj"))
        .select("subj", "pred", "obj")
        .distinct()
    )
    n_pred = d.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )

    def rules_for(body, inverse: int):
        joined = body.join(
            d.select(
                F.col("subj").alias("bs"),
                F.col("pred").alias("head_pred"),
                F.col("obj").alias("bo"),
            ),
            ["bs", "bo"],
        )
        if not inverse:
            joined = joined.filter(F.col("body_pred") != F.col("head_pred"))
        return (
            joined.groupBy("body_pred", "head_pred")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .withColumn("inverse", F.lit(inverse).cast("long"))
        )

    direct = rules_for(
        d.select(
            F.col("subj").alias("bs"),
            F.col("pred").alias("body_pred"),
            F.col("obj").alias("bo"),
        ),
        0,
    )
    inv = rules_for(
        d.select(
            F.col("obj").alias("bs"),
            F.col("pred").alias("body_pred"),
            F.col("subj").alias("bo"),
        ),
        1,
    )
    out = (
        direct.unionByName(inv)
        .filter(F.col("support") >= min_support)
        .join(
            F.broadcast(
                n_pred.select(
                    F.col("pred").alias("body_pred"),
                    F.col("n").alias("n_body"),
                )
            ),
            "body_pred",
        )
        .join(
            F.broadcast(
                n_pred.select(
                    F.col("pred").alias("head_pred"),
                    F.col("n").alias("n_head"),
                )
            ),
            "head_pred",
        )
        .withColumn(
            "conf_permille", F.expr("1000 * support DIV n_body")
        )
        .withColumn(
            "hc_permille", F.expr("1000 * support DIV n_head")
        )
        .select(
            "body_pred", "head_pred", "inverse", "support",
            "n_body", "n_head", "conf_permille", "hc_permille",
        )
        .orderBy("body_pred", "head_pred", "inverse")
    )
    return forward_caches(out, triples)


def _mine_rules_driver(rows, min_support: int):
    """Driver replay of mine_rules over the collected distinct
    (subj, pred, obj) edges (subj != obj): group edges by (x, y) pair,
    count co-predicate products per pair for direct rules and
    reversed-pair products for inverse rules, then the same nonneg
    integer permilles. All-integer output sorted by
    (body_pred, head_pred, inverse)."""
    from collections import Counter

    n_pred = Counter(p for _s, p, _o in rows)
    by_pair: dict = {}
    for s, p, o in rows:
        by_pair.setdefault((s, o), []).append(p)
    support: Counter = Counter()
    for (s, o), preds in by_pair.items():
        for h in preds:
            # direct: body(x,p,y) and head(x,h,y), p != h
            for p in preds:
                if p != h:
                    support[(p, h, 0)] += 1
            # inverse: body(y,p,x) => head(x,h,y) — body edges on the
            # REVERSED pair (body == head detects symmetric predicates)
            inv_preds = by_pair.get((o, s))
            if inv_preds:
                for p in inv_preds:
                    support[(p, h, 1)] += 1
    out = []
    for (bp, hp, inv), sup in support.items():
        if sup >= min_support:
            out.append((
                bp, hp, inv, sup, n_pred[bp], n_pred[hp],
                (1000 * sup) // n_pred[bp], (1000 * sup) // n_pred[hp],
            ))
    out.sort()
    return out


def _apply_rules_driver(rows, min_conf_permille: int, min_support: int):
    """Driver replay of apply_rules: mine the rules locally, keep those
    at/above the confidence floor, and emit each body edge's implied
    head triple when it is absent from the distinct edge set — one row
    per (implied triple, rule), exactly the broadcast-join + anti-join
    plan's output. Sorted by (subj, pred, obj, rule_body, inverse)."""
    rules = [
        r
        for r in _mine_rules_driver(rows, min_support)
        if r[6] >= min_conf_permille
    ]
    dset = {(s, p, o) for s, p, o in rows}
    by_body: dict = {}
    for bp, hp, inv, _sup, _nb, _nh, conf, _hc in rules:
        by_body.setdefault(bp, []).append((hp, inv, conf))
    out = []
    for s, p, o in rows:
        for hp, inv, conf in by_body.get(p, ()):
            si, oi = (o, s) if inv == 1 else (s, o)
            if (si, hp, oi) not in dset:
                out.append((si, hp, oi, p, inv, conf))
    out.sort()
    return out


def apply_rules(
    triples: DataFrame,
    min_conf_permille: int = RULE_MIN_CONF_PERMILLE,
    min_support: int = RULE_MIN_SUPPORT,
) -> DataFrame:
    """Rule-based KG completion: materialize the triples IMPLIED by the
    high-confidence mined rules but absent from the graph — the
    inference step that turns mine_rules' output into new edges
    (AMIE's prediction protocol, Galarraga et al. 2013 §7).

    For every rule body(x, y) => head(x, y) with confidence >=
    `min_conf_permille`, each body edge whose head counterpart is
    missing yields one inferred row (subj, pred, obj) carrying its
    provenance: the rule's body predicate, direction, and confidence.
    A triple implied by several rules appears once per rule — the
    consumer picks max-confidence or aggregates support, and keeping
    the provenance is what makes the inference auditable.

    Shape at scale: the rule table is <= |P|^2 rows -> broadcast to the
    body-edge join (narrow); the "already known" check is one left-anti
    shuffle join against the distinct triple set. Nothing widens beyond
    |body edges| * |rules per body predicate|."""
    # r7: same driver gate as mine_rules (shared edge collect; the rules
    # are re-mined locally — cheaper than a second cluster pass)
    rows = _rule_edge_rows(triples)
    if rows is not None:
        return local_result(
            triples, _apply_rules_driver(rows, min_conf_permille, min_support),
            "subj string, pred string, obj string, rule_body string, "
            "inverse long, conf_permille long",
            ["subj", "pred", "obj", "rule_body", "inverse"],
        )
    rules = mine_rules(triples, min_support=min_support).filter(F.col("conf_permille") >= min_conf_permille)
    d = (
        triples.filter(F.col("subj") != F.col("obj"))
        .select("subj", "pred", "obj")
        .distinct()
    )
    cand = d.join(
        F.broadcast(
            rules.select(
                F.col("body_pred").alias("pred"),
                F.col("head_pred"),
                "inverse",
                "conf_permille",
            )
        ),
        "pred",
    ).select(
        F.when(F.col("inverse") == 1, F.col("obj"))
        .otherwise(F.col("subj"))
        .alias("subj_i"),
        F.col("head_pred").alias("pred_i"),
        F.when(F.col("inverse") == 1, F.col("subj"))
        .otherwise(F.col("obj"))
        .alias("obj_i"),
        F.col("pred").alias("rule_body"),
        "inverse",
        "conf_permille",
    )
    out = (
        cand.join(
            d.select(
                F.col("subj").alias("subj_i"),
                F.col("pred").alias("pred_i"),
                F.col("obj").alias("obj_i"),
            ),
            ["subj_i", "pred_i", "obj_i"],
            "left_anti",
        )
        .select(
            F.col("subj_i").alias("subj"),
            F.col("pred_i").alias("pred"),
            F.col("obj_i").alias("obj"),
            "rule_body", "inverse", "conf_permille",
        )
        .orderBy("subj", "pred", "obj", "rule_body", "inverse")
    )
    return forward_caches(out, triples)


TRANSE_DIM = 8  # matches kg_scoring's default hash-embedding width


def _hash_embed_np(strs, dim: int):
    """kg_scoring.hash_embedding replayed over numpy: component j =
    ((fold(name)*(2j+5)+j) % P31 % 256 * 2 - 255) / 256. Every step is
    exact int64 arithmetic (base < 2^31, factor <= 2*dim+3 keeps the
    product < 2^36) followed by one exact dyadic division, so the
    matrix is bit-identical to the JVM expression by construction."""
    import numpy as np

    from gliner_spark.functions.text import P31
    base = _fold_hash_many(list(strs))
    j = np.arange(dim, dtype=np.int64)
    k = (base[:, None] * (2 * j + 5) + j) % P31 % 256
    return (k * 2 - 255).astype(np.float64) / 256.0


def _energies_np(scorer: str, h, r, t, dim: int):
    """Per-row energy e = -score(h, r, t) for the four eval scorers,
    replayed in numpy with the JVM's EXACT operation order: every in-row
    sum is the same ordered left fold (a column loop is sequential in
    array order — vectorized across rows, not across the fold), every
    term uses the same left-associated multiply/add tree, and
    abs/sqrt/divide are the identical IEEE-754 primitives. transe /
    distmult / complex are dyadic (fold order is belt-and-braces there);
    rotate's sqrt+divide terms are NOT dyadic, so the order match is
    what makes the bits identical."""
    import numpy as np

    n = h.shape[0]
    d2 = dim // 2
    acc = np.zeros(n)
    if scorer == "transe":
        for d in range(dim):
            acc = acc + np.abs(h[:, d] + r[:, d] - t[:, d])
        return acc  # score = -l1; e = -score = +l1
    if scorer == "distmult":
        for d in range(dim):
            acc = acc + h[:, d] * r[:, d] * t[:, d]
        return -acc
    if scorer == "complex":
        for i in range(d2):
            acc = acc + (
                h[:, i] * r[:, i] * t[:, i]
                + h[:, i] * r[:, i + d2] * t[:, i + d2]
                + h[:, i + d2] * r[:, i] * t[:, i + d2]
                - h[:, i + d2] * r[:, i + d2] * t[:, i]
            )
        return -acc
    if scorer == "rotate":
        for i in range(d2):
            r_re, r_im = r[:, i], r[:, i + d2]
            h_re, h_im = h[:, i], h[:, i + d2]
            mod = np.sqrt(r_re * r_re + r_im * r_im)
            hr_re = (h_re * r_re - h_im * r_im) / mod
            hr_im = (h_re * r_im + h_im * r_re) / mod
            dre = hr_re - t[:, i]
            dimm = hr_im - t[:, i + d2]
            acc = acc + np.sqrt(dre * dre + dimm * dimm)
        return acc  # score = -fold; e = -score = +fold
    raise ValueError(f"unknown scorer {scorer!r}")


def _round_micro_np(e):
    """F.round(col * 1e6).cast('long') replayed: the multiply is the
    same IEEE op, then HALF_UP on the value's SHORTEST-DECIMAL
    representation (Spark's Round on DoubleType goes through
    BigDecimal.valueOf = Double.toString; python's repr is the same
    shortest round-trip decimal). Vectorized binary fast path; rows
    within 1e-6 of a .5 boundary take the exact Decimal path — ulp(y)
    at these magnitudes (y < ~2e7) is < 4e-9, so the band always
    contains every case where the shortest decimal can sit on the
    boundary the binary comparison would miscall."""
    import numpy as np

    y = e * 1e6
    f = np.floor(y)
    frac = y - f
    q = f + (frac > 0.5)
    near = np.abs(frac - 0.5) < 1e-6
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        for i in np.nonzero(near)[0]:
            q[i] = float(
                Decimal(repr(float(y[i]))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return q.astype(np.int64)


def _margin_eval_driver(pairs_rows, dim: int, scorer: str):
    """Driver replay of transe_margin_eval's scoring + per-pred
    aggregate over the collected negative pairs. Energies via
    _energies_np (bit-exact); rotate quantizes per-row micro-units with
    _round_micro_np BEFORE grouping, exactly like the JVM plan. Sums
    are order-exact (dyadic rationals for transe/distmult/complex,
    int64 for rotate), the mean is the same double-division chain, and
    the final round-6 is applied back IN Spark by the caller. Returns
    (pred, n_pairs, n_ranked_correct, accuracy_permille, raw_mean)
    rows sorted by pred."""
    import numpy as np

    if not pairs_rows:
        return []
    subs = [r[0] for r in pairs_rows]
    preds = [r[1] for r in pairs_rows]
    pobjs = [r[2] for r in pairs_rows]
    nobjs = [r[3] for r in pairs_rows]

    def emb_of(strs):
        uniq = sorted(set(strs))
        idx = {s: i for i, s in enumerate(uniq)}
        mat = _hash_embed_np(uniq, dim)
        return mat[
            np.fromiter(
                (idx[s] for s in strs), dtype=np.int64, count=len(strs)
            )
        ]

    h = emb_of(subs)
    r = emb_of(preds)
    e_pos = _energies_np(scorer, h, r, emb_of(pobjs), dim)
    e_neg = _energies_np(scorer, h, r, emb_of(nobjs), dim)
    if scorer == "rotate":
        e_pos = _round_micro_np(e_pos)
        e_neg = _round_micro_np(e_neg)
    by: dict = {}
    for i, p in enumerate(preds):
        by.setdefault(p, []).append(i)
    out = []
    for p in sorted(by):
        ii = np.asarray(by[p])
        ep, en = e_pos[ii], e_neg[ii]
        n = len(ii)
        n_corr = int((ep < en).sum())
        if scorer == "rotate":
            # long sum -> cast double -> / count -> / 1e6 (same chain)
            raw = float(int((en - ep).sum())) / float(n) / 1_000_000.0
        else:
            raw = float((en - ep).sum()) / float(n)
        out.append((p, n, n_corr, (1000 * n_corr) // n, raw))
    return out


def transe_margin_eval(
    triples: DataFrame, dim: int = TRANSE_DIM, scorer: str = "transe",
) -> DataFrame:
    """Pairwise ranking evaluation of a KG-embedding scorer over the
    (positive, corrupted-negative) pairs from negative_samples — the
    standard link-prediction eval loop (Bordes et al. 2013): per
    predicate, how often the true tail outranks the corrupted one, plus
    the mean ranking margin.

    scorer="transe" (default): UNCLAMPED L1 energy ||h + r - t||, lower
    is better. scorer="distmult": the diagonal bilinear score
    sum_i h_i * r_i * t_i (Yang et al. 2015), higher is better — the
    multiplicative counterpart that ranks symmetric relations
    differently from the translational model. scorer="complex":
    Re(<h, r, conj(t)>) over the first/second embedding halves as
    real/imaginary parts (Trouillon et al. 2016, via
    kg_scoring.interaction_expr — the same fold the 18-scorer set
    uses), higher is better — the asymmetric bilinear model that can
    rank anti-symmetric relations DistMult cannot. scorer="rotate":
    full RotatE (Sun et al. 2019) — h rotated by the unit-normalized
    complex relation phase, negated L2 modulus distance to t (lower
    energy is better); per-row energies are quantized to bigint
    micro-units before aggregation (see inline note). All run over the
    deterministic dyadic hash embeddings (kg_scoring.hash_embedding) —
    dyadic rationals with fixed fold order make every score and margin
    IEEE-exact, so the comparison and the mean replay bit-for-bit in
    the oracle. A real trained embedding table joins in by name through
    the same seam. `mean_margin` is always the positive-minus-negative
    advantage in the scorer's "better" direction.

    Shape at scale: negative_samples' bounded-pool join, then one
    narrow whole-stage-codegen projection (8-dim arrays built and
    folded in-row) and one map-side-combined aggregate per predicate.
    """
    from gliner_spark.operators.kg_scoring import hash_embedding

    if scorer not in ("transe", "distmult", "complex", "rotate"):
        raise ValueError(f"unknown scorer {scorer!r}")

    # r7: below the shared distinct-positive bound the sampler AND the
    # scoring/aggregate stage replay on the driver — the JVM stage's
    # cost over the local negatives relation was planning/codegen of the
    # per-dim hash-embedding expression trees (the sim_pq finding), not
    # data. _energies_np reproduces the ordered folds bit-for-bit; the
    # final round-6 is applied back in Spark below. Above the bound the
    # distributed plan (unchanged) is the scale path.
    cols = _positive_cols(triples)
    if cols is not None:
        data = _margin_eval_driver(
            _negatives_driver(cols, NEG_POOL_CAP), dim, scorer
        )
        return local_result(
            triples, data,
            "pred string, n_pairs long, n_ranked_correct long, "
            "accuracy_permille long, _m double",
            ["pred"],
            select=[
                "pred", "n_pairs", "n_ranked_correct",
                "accuracy_permille",
                F.round("_m", 6).alias("mean_margin"),
            ],
        )

    l1 = _l1_expr(dim)

    if scorer == "transe":
        # energies: lower is better -> "goodness" is the negated energy
        def score(h, r, t):
            return -l1(h, r, t)
    elif scorer == "distmult":
        # exactly kg_scoring's diagonal-bilinear fold — route through the
        # shared interaction library rather than keeping a local copy
        from gliner_spark.operators.kg_scoring import interaction_expr

        def score(h, r, t):
            return interaction_expr("distmult", h, r, t, dim)
    elif scorer == "complex":
        from gliner_spark.operators.kg_scoring import interaction_expr

        def score(h, r, t):
            return interaction_expr("complex", h, r, t, dim)
    elif scorer == "rotate":
        # Full RotatE (Sun et al. 2019): h rotated by the unit-normalized
        # complex relation phase, L2 modulus distance to t per complex
        # component (kg_scoring.interaction_expr's pipeline-native form).
        # Unlike transe/distmult/complex the per-row energy is NOT dyadic
        # (sqrt + division) — it is still bit-identical across engines
        # because both fold in array order, but a row-order-dependent
        # float SUM over rows would not be.  The aggregation below
        # therefore quantizes each energy to integer micro-units first.
        from gliner_spark.operators.kg_scoring import interaction_expr

        def score(h, r, t):
            return interaction_expr("rotate", h, r, t, dim)
    else:
        raise ValueError(f"unknown scorer {scorer!r}")

    pairs = negative_samples(triples)
    emb = pairs.select(
        "pred",
        hash_embedding("subj", dim).alias("h"),
        hash_embedding("pred", dim).alias("r"),
        hash_embedding("pos_obj", dim).alias("tp"),
        hash_embedding("neg_obj", dim).alias("tn"),
    )
    sc = emb.select(
        "pred",
        (-score(F.col("h"), F.col("r"), F.col("tp"))).alias("e_pos"),
        (-score(F.col("h"), F.col("r"), F.col("tn"))).alias("e_neg"),
    )
    if scorer == "rotate":
        # micro-unit quantization: per-row energies are engine-exact
        # (ordered folds), so rounding to bigint micro-units here makes
        # every downstream SUM an order-independent integer aggregate
        sc = sc.select(
            "pred",
            F.round(F.col("e_pos") * 1_000_000).cast("long").alias("e_pos"),
            F.round(F.col("e_neg") * 1_000_000).cast("long").alias("e_neg"),
        )
        margin = F.round(
            F.sum(F.col("e_neg") - F.col("e_pos")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1_000_000.0),
            6,
        ).alias("mean_margin")
    else:
        margin = F.round(F.avg(F.col("e_neg") - F.col("e_pos")), 6).alias(
            "mean_margin"
        )
    out = (
        sc.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("e_pos") < F.col("e_neg"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_ranked_correct"),
            margin,
        )
        .withColumn(
            "accuracy_permille",
            F.expr("1000 * n_ranked_correct DIV n_pairs"),
        )
        .select(
            "pred", "n_pairs", "n_ranked_correct",
            "accuracy_permille", "mean_margin",
        )
        .orderBy("pred")
    )
    return forward_caches(out, triples)


RANK_POOL_CAP = 64  # sampled-ranking candidate pool per object type


def _ranking_driver(cols, dim: int, pool_cap: int):
    """Driver replay of ranking_metrics over the collected distinct
    positives: hash-ranked per-type pools, the filtered strict-rank
    count as a blocked broadcast compare (block x pool energies via the
    same ordered fold — pool_cap bounds the inner axis, 64k-positive
    blocks bound the working set), and the all-integer per-pred
    aggregates. Every energy is dyadic, every comparison and DIV exact,
    so the rows are bit-identical to the distributed plan. Returns
    (pred, n_facts, mrr_micro, hits1/3/10_permille) sorted by pred."""
    import heapq

    import numpy as np

    subs, preds, objs, typs = cols
    if not subs:
        return []
    n_pos = len(subs)

    uniq_ents = sorted(set(objs))
    eid = {e: i for i, e in enumerate(uniq_ents)}
    t_all = _hash_embed_np(uniq_ents, dim)
    obj_id = np.fromiter((eid[o] for o in objs), np.int64, count=n_pos)

    def emb_of(strs):
        uniq = sorted(set(strs))
        idx = {s: i for i, s in enumerate(uniq)}
        mat = _hash_embed_np(uniq, dim)
        return mat[
            np.fromiter(
                (idx[s] for s in strs), dtype=np.int64, count=len(strs)
            )
        ]

    h = emb_of(subs)
    r = emb_of(preds)
    t = t_all[obj_id]
    e_pos = np.zeros(n_pos)
    for d in range(dim):
        e_pos = e_pos + np.abs(h[:, d] + r[:, d] - t[:, d])

    # filtered-setting exclusion keys: (s, p, cand) is dropped when it
    # is a true triple — trues IS the positive set itself
    sp: dict = {}
    sp_idx = np.empty(n_pos, np.int64)
    for i, key in enumerate(zip(subs, preds)):
        sp_idx[i] = sp.setdefault(key, len(sp))
    n_ents = len(uniq_ents)
    true_keys = np.unique(sp_idx * n_ents + obj_id)

    pools: dict = {}
    ents_by_type: dict = {}
    for o, tt in zip(objs, typs):
        ents_by_type.setdefault(tt, set()).add(o)
    for tt, es in ents_by_type.items():
        es_l = sorted(es)
        hs = _fold_hash_many(es_l)
        picked = [
            e
            for _h, e in heapq.nsmallest(pool_cap, zip(hs.tolist(), es_l))
        ]
        pools[tt] = np.fromiter(
            (eid[e] for e in picked), np.int64, count=len(picked)
        )

    idx_by_type: dict = {}
    for i, tt in enumerate(typs):
        idx_by_type.setdefault(tt, []).append(i)
    ranks = np.empty(n_pos, np.int64)
    # h + r is the same exact sum for every candidate — hoist it once
    # per positive; 8k-row blocks keep each (block x pool) temp ~4 MB
    # (cache-resident — the 64k blocks measured 3-5x slower under the
    # bench's interleaved memory pressure, the near-dup einsum finding)
    hr = h + r
    block = 8192
    for tt, idxs in idx_by_type.items():
        pool_ids = pools[tt]
        t_pool = t_all[pool_ids]  # (m, dim)
        idxs = np.asarray(idxs)
        for s0 in range(0, len(idxs), block):
            blk = idxs[s0:s0 + block]
            hrb = hr[blk]
            acc = np.zeros((len(blk), len(pool_ids)))
            for d in range(dim):
                acc = acc + np.abs(
                    hrb[:, d][:, None] - t_pool[None, :, d]
                )
            valid = pool_ids[None, :] != obj_id[blk][:, None]
            keys = sp_idx[blk][:, None] * n_ents + pool_ids[None, :]
            # membership via searchsorted against the sorted unique key
            # array (np.isin would re-sort the big matrix every block)
            ins = np.searchsorted(true_keys, keys)
            ins[ins == len(true_keys)] = 0
            valid &= true_keys[ins] != keys
            ranks[blk] = 1 + ((acc < e_pos[blk][:, None]) & valid).sum(
                axis=1
            )

    by: dict = {}
    for i, p in enumerate(preds):
        by.setdefault(p, []).append(i)
    out = []
    for p in sorted(by):
        rr = ranks[np.asarray(by[p])]
        n = len(rr)
        out.append((
            p,
            n,
            int((1_000_000 // rr).sum()) // n,
            (1000 * int((rr <= 1).sum())) // n,
            (1000 * int((rr <= 3).sum())) // n,
            (1000 * int((rr <= 10).sum())) // n,
        ))
    return out


def ranking_metrics(
    triples: DataFrame,
    dim: int = TRANSE_DIM,
    pool_cap: int = RANK_POOL_CAP,
) -> DataFrame:
    """Filtered link-prediction RANKING evaluation — the standard KGE
    protocol (Bordes et al. 2013; "filtered" setting of Wang et al.
    2014; sampled-pool variant standard for large KGs): for each
    distinct positive (s, p, o), rank the true tail among the
    type-consistent hash-ranked candidate pool (<= pool_cap entities)
    under the TransE L1 energy, EXCLUDING candidates that are true
    triples elsewhere. Per predicate: MRR in integer micro-units and
    Hits@1/3/10 permilles. rank = 1 + #candidates with STRICTLY lower
    energy (ties rank optimistically — deterministic, since dyadic
    energies compare exactly). The pairwise transe_margin_eval answers
    "does the true tail beat ONE corruption"; this answers the
    rank-position question leaderboards actually report.

    Shape at scale: the distinct positives are persisted once (the only
    pass over the extraction chain — released by the caller via the
    cache handle); the pool is <= pool_cap rows per type (broadcast);
    h/r embeddings and e_pos are materialized as COLUMNS on the
    positives and carried THROUGH the candidate join, so the candidate
    side is |positives| x pool_cap rows with one in-row 8-term fold
    each and there is no join-back — bounded, whole-stage-codegen, no
    all-pairs anything; the rank is one grouped count + a left join."""
    from gliner_spark.operators.kg_scoring import hash_embedding

    # r7: same shared distinct-positive gate as negative_samples /
    # transe_margin_eval — the |positives| x pool candidate scoring is
    # an all-integer-output blocked numpy compare on the driver below
    # the bound; the distributed broadcast-pool plan (unchanged) is the
    # scale path above it.
    cols = _positive_cols(triples)
    if cols is not None:
        return local_result(
            triples, _ranking_driver(cols, dim, pool_cap),
            "pred string, n_facts long, mrr_micro long, "
            "hits1_permille long, hits3_permille long, "
            "hits10_permille long",
            ["pred"],
        )

    l1 = _l1_expr(dim)

    # one positive per distinct FACT (min(obj_type) — see
    # negative_samples for why a 4-tuple distinct would double-count
    # under obj_type dupes and mix candidate pools cross-type)
    pos = (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.min("obj_type").alias("obj_type"))
        .persist()
    )
    trues = pos.select("subj", "pred", F.col("obj").alias("cand"))
    ents = pos.select(
        F.col("obj_type").alias("etype"), F.col("obj").alias("entity")
    ).distinct()
    pool = _hash_ranked_pool(ents, pool_cap)
    pe = pos.select(
        "subj", "pred", "obj", "obj_type",
        hash_embedding("subj", dim).alias("h"),
        hash_embedding("pred", dim).alias("r"),
        hash_embedding("obj", dim).alias("t"),
    ).select(
        "subj", "pred", "obj", "obj_type", "h", "r",
        l1(F.col("h"), F.col("r"), F.col("t")).alias("e_pos"),
    )
    cand = (
        pe.join(F.broadcast(pool), pe["obj_type"] == pool["etype"])
        .filter(F.col("entity") != F.col("obj"))
        .select("subj", "pred", "obj", "h", "r", "e_pos",
                F.col("entity").alias("cand"))
        .join(trues, ["subj", "pred", "cand"], "left_anti")
    )
    better = (
        cand.withColumn("tc", hash_embedding("cand", dim))
        .withColumn("e_cand", l1(F.col("h"), F.col("r"), F.col("tc")))
        .groupBy("subj", "pred", "obj")
        .agg(
            F.sum(
                F.when(F.col("e_cand") < F.col("e_pos"), 1).otherwise(0)
            ).alias("n_better")
        )
    )
    ranks = pos.join(better, ["subj", "pred", "obj"], "left").select(
        "pred",
        (1 + F.coalesce("n_better", F.lit(0))).cast("long").alias("rank"),
    )
    out = (
        ranks.groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.expr("sum(1000000 DIV rank) DIV count(1)")
            .cast("long")
            .alias("mrr_micro"),
            F.expr("1000 * sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END)"
                   " DIV count(1)").cast("long").alias("hits1_permille"),
            F.expr("1000 * sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END)"
                   " DIV count(1)").cast("long").alias("hits3_permille"),
            F.expr("1000 * sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)"
                   " DIV count(1)").cast("long").alias("hits10_permille"),
        )
        .orderBy("pred")
    )
    return attach_caches(forward_caches(out, triples), pos)
