"""Similarity search over an embedding column (array<float>).

Exact cross-engine determinism: embeddings are quantized to integers
(round(x * 10^4)) so dot products and squared norms are EXACT bigint
arithmetic in both Spark and the SQL oracle; only the final
sim = dot / sqrt(na * nb) touches floating point (single IEEE op chain,
bit-identical across engines).

- cosine_topk: brute-force top-k (the correctness baseline). The query set
  is broadcast; the scan side streams — at scale this is one pass over the
  corpus per query batch with a partial top-k per partition (Spark's window
  + AQE handle it; for >>1e9 rows use the IVF variant).
- ivf_topk: bucketed (IVF-style) variant with the pre-assigned `label` as
  the coarse centroid id — kept ONLY as the recall baseline for the learned
  variant (few cells, skewed sizes; not a scale path).
- kmeans_ivf_topk: the 100 TB ANN path — a LEARNED coarse quantizer trained
  on a deterministic modulo sample (fixed cost at any corpus size), corpus
  bucketed by nearest centroid, nprobe probing.
- embedding_neardup: hyperplane (SRP) LSH banding + exact-cosine verify —
  the vector analog of dedup.py's minhash-band family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import forward_caches
from gliner_spark.gate import local_result
from gliner_spark.metrics import attach_audits, capped_filter

QUANT = 10000


def _quantized(emb: DataFrame) -> DataFrame:
    q = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * QUANT).cast("long")
    )
    return emb.select(
        "vec_id",
        "label",
        q.alias("q"),
    ).withColumn(
        "norm2",
        F.aggregate(
            F.zip_with("q", "q", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _pair_sim(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cross-scored pairs with exact integer dot products."""
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("query_id") != F.col("vec_id"))
        .withColumn("dot", dot)
        .withColumn(
            "sim",
            F.col("dot").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
    )


def cosine_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k of each query (vec_id < n_queries) vs all."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        ids, vecs, norms = _np_qz(qrows)
        rows = _np_exact_topk_rows(ids, vecs, norms, n_queries, k)
        return _sim_out_df(emb, rows)
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("norm2").alias("na"),
    )
    corpus = qz.select("vec_id", F.col("q").alias("qb"), F.col("norm2").alias("nb"))
    scored = _pair_sim(F.broadcast(queries), corpus)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


def ivf_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """IVF-bucketed ANN: candidates restricted to the query's cell (label)."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors, with_label=True)
    if qrows is not None:
        import numpy as np

        ids, vecs, norms = _np_qz(qrows)
        labels = np.array([r[1] for r in qrows])

        def cand(qi):
            return labels == labels[qi]

        rows = _np_exact_topk_rows(
            ids, vecs, norms, n_queries, k, cand_mask=cand
        )
        return _sim_out_df(emb, rows)
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        F.col("q").alias("qa"),
        F.col("norm2").alias("na"),
    )
    corpus = qz.select(
        "vec_id", F.col("label").alias("cell"),
        F.col("q").alias("qb"), F.col("norm2").alias("nb"),
    )
    joined = F.broadcast(queries).join(corpus, "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = joined.withColumn("dot", dot).withColumn(
        "sim",
        F.col("dot").cast("double")
        / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------- k-means IVF ----
K_CELLS = 8
KM_ITERS = 2
NPROBE = 2
KM_SAMPLE_TARGET = 128  # quantizer training-sample size (~16 vecs/cell)
_P31 = 2147483647       # 2^31 - 1 (Mersenne prime), sample-hash domain
_SAMPLE_MULT = 2654435761  # Knuth multiplicative-hash constant (2^32 * phi)


def _assign_struct(q_col, cents, nprobe: int = 1, q_name: str = "q"):
    """Array of the `nprobe` nearest (d2, cell) structs to broadcast-literal
    centroids — a pure narrow expression, no join, no shuffle.

    Built as ONE F.expr SQL string: the python-DSL form issues a py4j call
    per literal (k cells x D dims = thousands), which measured ~8s of pure
    DRIVER time per construction at D=64 — the actual round-2 wall of
    sim_ivf_kmeans. String construction + one parse is milliseconds."""
    structs = []
    for cell, vec in cents:
        arr = ", ".join(f"{int(v)}L" for v in vec)
        d2 = (
            f"aggregate(zip_with({q_name}, array({arr}), "
            "(a, b) -> (a-b)*(a-b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        structs.append(f"named_struct('d2', {d2}, 'cell', {int(cell)})")
    return F.expr(
        f"slice(array_sort(array({', '.join(structs)})), 1, {int(nprobe)})"
    )


def training_sample(qz: DataFrame, s: int) -> DataFrame:
    """Deterministic 1-in-s sample for quantizer training, keyed on a
    multiplicative HASH of vec_id rather than the raw id: a raw
    `vec_id % s` assumes dense ids from 0 — with sparse or offset id
    spaces (every id sharing a residue class) it can select far fewer
    rows than targeted, or none at all. The affine scramble
    `((vec_id % P31) * 2654435761) % P31` spreads any arithmetic-
    progression id space uniformly over the modulus (all operands stay
    < 2^63 — ANSI-overflow-safe), and the SQL oracle replays the same
    integer expression exactly. A pure narrow filter+projection — the
    pmod predicate is evaluated map-side in PARALLEL across the corpus
    partitions, with NO exchange anywhere (never a coalesce(1), which
    would collapse the upstream scan into one task — the
    full-corpus-in-one-task shape this exists to avoid)."""
    samp = qz.select("vec_id", "q")
    if s > 1:
        h = F.pmod(
            F.pmod(F.col("vec_id"), F.lit(_P31)) * F.lit(_SAMPLE_MULT),
            F.lit(_P31),
        )
        samp = samp.filter(F.pmod(h, F.lit(s)) == 0)
    return samp


def _collect_training_sample(qz: DataFrame, sample_target: int) -> list:
    """Count + bounded collect of the shared hash-scrambled training
    sample, sorted by vec_id — the ONE pair of Spark jobs every quantizer
    trainer (coarse cells, PQ codebooks) derives from. Callers building a
    composed index collect once and pass the rows to both trainers."""
    n = qz.count()
    s = max(1, (n + sample_target - 1) // sample_target)
    rows = training_sample(qz, s).collect()
    rows.sort(key=lambda r: r.vec_id)  # collect order is partition-dependent
    return rows


def _imean_round(s: int, n: int) -> int:
    """Round-half-away-from-zero integer mean in pure bigint arithmetic —
    exact and engine-identical to the oracle's DuckDB form
    (CASE WHEN s >= 0 THEN (2s+n)//(2n) ELSE -((2(-s)+n)//(2n)) END)."""
    return (2 * s + n) // (2 * n) if s >= 0 else -((2 * (-s) + n) // (2 * n))


def train_kmeans_cells(
    qz: DataFrame,
    k: int = K_CELLS,
    iters: int = KM_ITERS,
    sample_target: int = KM_SAMPLE_TARGET,
    _rows: list | None = None,
) -> list:
    """Deterministic Lloyd k-means over a deterministic SAMPLE of the
    quantized vectors: sample = hash(vec_id) % s == 0 with
    s = ceil(n / target) (training_sample — id-space-agnostic), init = the
    k sample vectors with the smallest vec_ids (raises if the sample has
    fewer than k — an empty/near-empty sample would otherwise yield
    missing centroids and silently empty IVF cells), fixed iteration
    count, integer-rounded means, ties broken by cell id.
    Returns [(cell, centroid_ints)].

    Scale shape: training cost is FIXED (~sample_target rows) regardless of
    corpus size — the count() is a column-pruned metadata-cheap job and the
    modulo filter is narrow and parallel. Because the sample is
    quantizer-sized BY CONSTRUCTION, the Lloyd iterations run driver-side
    in exact int64 numpy (identical round-half-away-from-zero arithmetic):
    TWO Spark jobs total (count + bounded collect) instead of two
    jobs per iteration. The learned centroids then ship inside closures as
    literals; assignment of the full corpus is a narrow projection. The
    SQL oracle takes the identical sample and replays the identical
    integer updates relationally, so the gate stays bit-exact."""
    import numpy as np

    rows = _rows if _rows is not None else _collect_training_sample(
        qz, sample_target
    )
    if len(rows) < k:
        raise ValueError(
            f"train_kmeans_cells: sample yielded {len(rows)} vectors for "
            f"k={k} cells; lower k or raise sample_target"
        )
    vids = np.array([r.vec_id for r in rows], dtype=np.int64)
    X = np.array([r.q for r in rows], dtype=np.int64)  # (m, D)
    cents = [(int(v), [int(x) for x in q]) for v, q in zip(vids[:k], X[:k])]
    for _ in range(iters):
        C = np.array([c for _, c in cents], dtype=np.int64)  # (k, D)
        # exact integer distances; argmin tie-breaks to the FIRST minimum,
        # and cents is sorted by cell id — same (d2, cell) ordering as the
        # relational form. max d2 = D * (2*QUANT)^2 ~ 2.6e10, safe in int64.
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (m, k)
        a = d2.argmin(axis=1)
        new = {}
        for ci in range(len(cents)):
            mask = a == ci
            m = int(mask.sum())
            if m:
                sums = X[mask].sum(axis=0)
                new[cents[ci][0]] = [
                    _imean_round(int(sv), m) for sv in sums
                ]
        # empty cells keep their previous centroid
        cents = [(cell, new.get(cell, vec)) for cell, vec in cents]
    return cents


def save_cells(cents: list, path: str) -> None:
    """Persist a trained coarse quantizer (k x D ints — a few KB of JSON).
    The IVF index lifecycle at scale is build-once / probe-many: training
    reads the corpus once, every later query job loads the centroids from
    the index file and goes straight to assignment+probe (zero training
    jobs)."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump({"cells": [[int(c), [int(x) for x in v]] for c, v in cents]}, f)


def load_cells(path: str) -> list:
    import json

    with open(path) as f:
        return [(int(c), [int(x) for x in v]) for c, v in json.load(f)["cells"]]


def kmeans_ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = K_CELLS,
    nprobe: int = NPROBE,
    cells: list | None = None,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """IVF with a LEARNED coarse quantizer: deterministic k-means centroids,
    corpus bucketed by nearest cell, queries probe their `nprobe` nearest
    cells. The 100 TB ANN path: candidate set pruned ~(n_cells/nprobe)x,
    assignment narrow, the only shuffles are the per-cell equi-join and the
    top-k window.

    cells: a prebuilt quantizer (save_cells/load_cells) — skips training
    entirely (the build-once / probe-many index shape)."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        import numpy as np

        ids, vecs, norms = _np_qz(qrows)
        cents = (
            cells
            if cells is not None
            else train_kmeans_cells(
                qz, k=n_cells,
                _rows=_driver_training_rows(qrows, KM_SAMPLE_TARGET),
            )
        )
        corpus_cells, d2_all = _np_assign_cells(vecs, cents)
        cell_ids = np.array([int(c) for c, _v in cents], dtype=np.int64)
        qsel = np.flatnonzero(ids < n_queries)
        rows = []
        for qi in qsel[np.argsort(ids[qsel])]:
            qid = int(ids[qi])
            probes = set(_np_probe_cells(d2_all[qi], cell_ids, nprobe))
            mask = np.isin(corpus_cells, list(probes))
            mask[ids == qid] = False
            cidx = np.flatnonzero(mask)
            if cidx.size == 0:
                continue
            dots = vecs[cidx] @ vecs[qi]
            sims = _np_sims(dots, norms[qi], norms[cidx])
            take = _np_topk_by_sim(ids[cidx], sims, k)
            for rank, t in enumerate(take, start=1):
                rows.append(
                    (qid, int(ids[cidx][t]), rank, float(sims[t]))
                )
        return _sim_out_df(emb, rows)
    cents = cells if cells is not None else train_kmeans_cells(qz, k=n_cells)

    corpus = qz.select(
        "vec_id",
        _assign_struct(F.col("q"), cents)[0]["cell"].alias("cell"),
        F.col("q").alias("qb"),
        F.col("norm2").alias("nb"),
    )
    queries = (
        qz.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.transform(
                    _assign_struct(F.col("q"), cents, nprobe=nprobe),
                    lambda s: s["cell"],
                )
            ).alias("cell"),
            F.col("q").alias("qa"),
            F.col("norm2").alias("na"),
        )
    )
    joined = F.broadcast(queries).join(corpus, "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = joined.withColumn("dot", dot).withColumn(
        "sim",
        F.col("dot").cast("double")
        / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------- product quantization --
PQ_M = 16         # subspaces (4 dims each at D=64)
PQ_K = 16         # centroids per subspace (4-bit codes -> 8 B/vector)
PQ_ITERS = 2


def train_pq_codebooks(
    qz: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    sample_target: int = KM_SAMPLE_TARGET,
    _rows: list | None = None,
) -> list:
    """Deterministic PQ codebooks: the vector is split into `m` contiguous
    subspaces and each gets its own integer Lloyd k-means over the SAME
    hash-scrambled sample as the coarse quantizer (training_sample) —
    init = the k smallest-vec_id sample slices, round-half-away-from-zero
    integer means, argmin ties to the lowest cell index. Returns
    [m][k] integer centroid lists.

    This is the 10^9-vector memory story: a 64-dim int vector (512 B as
    longs) compresses to m nibble codes (8 B at m=16); the codebooks are m*k*subdim
    ints (a few KB) shipped as expression literals. Training cost is fixed
    (sample-sized) regardless of corpus size — identical shape to
    train_kmeans_cells, replayed exactly by the SQL oracle."""
    import numpy as np

    rows = _rows if _rows is not None else _collect_training_sample(
        qz, sample_target
    )
    if len(rows) < k:
        raise ValueError(
            f"train_pq_codebooks: sample yielded {len(rows)} vectors for "
            f"k={k}; lower k or raise sample_target"
        )
    X = np.array([r.q for r in rows], dtype=np.int64)  # (n_s, D)
    D = X.shape[1]
    if D % m != 0:
        raise ValueError(
            f"train_pq_codebooks: dim {D} is not divisible into m={m} "
            "subspaces — the trailing dims would silently never be encoded"
        )
    sub = D // m
    books = []
    for mi in range(m):
        S = X[:, mi * sub:(mi + 1) * sub]
        cents = [[int(v) for v in S[i]] for i in range(k)]
        for _ in range(iters):
            C = np.array(cents, dtype=np.int64)
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)  # ties -> first (lowest cell index)
            new = list(cents)
            for ci in range(k):
                mask = a == ci
                cnt = int(mask.sum())
                if cnt:
                    sums = S[mask].sum(axis=0)
                    new[ci] = [_imean_round(int(sv), cnt) for sv in sums]
            cents = new
        books.append(cents)
    return books


def _sub_d2_expr(books: list, mi: int, cell: int, q_name: str = "q") -> str:
    """SQL string: exact integer squared distance from q's subspace-mi
    slice to sub-centroid `cell` — THE single source of the PQ distance
    expression (encoder, both distance-table builders, and — structurally
    — the oracles must stay bit-identical to it)."""
    sub = len(books[mi][0])
    lo = mi * sub
    arr = ", ".join(f"{int(v)}L" for v in books[mi][cell])
    return (
        f"aggregate(zip_with(slice({q_name}, {lo + 1}, {sub}), "
        f"array({arr}), (a, b) -> (a-b)*(a-b)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )


def _pq_dtab_expr(books: list, mi: int, q_name: str = "q") -> str:
    """SQL string: the query's full distance table for subspace mi (one
    d2 per sub-centroid, as an array)."""
    cells = [
        _sub_d2_expr(books, mi, cell, q_name)
        for cell in range(len(books[mi]))
    ]
    return f"array({', '.join(cells)})"


def _pq_code_expr(books: list, mi: int, q_name: str = "q") -> str:
    """SQL expr: the nearest sub-centroid index for subspace mi — built as
    ONE string (the _assign_struct py4j-literal lesson). Tie-break: the
    sort on (d2, cell) makes the lowest cell index win, matching numpy
    argmin and the oracle."""
    structs = [
        f"named_struct('d2', {_sub_d2_expr(books, mi, cell, q_name)}, "
        f"'cell', {cell})"
        for cell in range(len(books[mi]))
    ]
    return (
        f"array_sort(array({', '.join(structs)}))[0]"
    )


def pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    books: list | None = None,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search (the IVF-PQ scoring half): the corpus
    is stored ONLY as m nibble codes; each query precomputes its exact
    integer distance to every sub-centroid (an m x PQ_K table, built into
    the plan as literals via its own assignment exprs) and a candidate's
    approximate distance is the SUM of m table lookups —
    dist(q, x) ~= sum_m ||q_m - c_{m, code_m(x)}||^2, ALL bigint, so the
    ranking is bit-deterministic and the SQL oracle replays it exactly.

    Plan shape: codes are a narrow projection over the corpus scan; the
    query side is a broadcast; scoring is zip_with over the (m)-length
    code array with the per-query distance-table array — no joins wider
    than broadcast, one top-k window. At 10^9 vectors the scan reads
    4-byte codes instead of 512-byte vectors."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        import numpy as np

        ids, vecs, _norms = _np_qz(qrows)
        if books is None:
            books = train_pq_codebooks(
                qz, _rows=_driver_training_rows(qrows, KM_SAMPLE_TARGET)
            )
        codes = _np_pq_codes(vecs, books)
        qsel = np.flatnonzero(ids < n_queries)
        rows = []
        m_ = len(books)
        for qi in qsel[np.argsort(ids[qsel])]:
            qid = int(ids[qi])
            dtab = _np_pq_dtab(vecs[qi], books)  # (m, k)
            d2 = dtab[np.arange(m_)[None, :], codes].sum(axis=1)
            mask = ids != qid
            cidx = np.flatnonzero(mask)
            take = _np_topk_by_d2(ids[cidx], d2[cidx], k)
            for rank, t in enumerate(take, start=1):
                rows.append(
                    (qid, int(ids[cidx][t]), rank, int(d2[cidx][t]))
                )
        return _d2_out_df(emb, rows)
    if books is None:
        books = train_pq_codebooks(qz)
    m = len(books)

    code_cols = [
        F.expr(_pq_code_expr(books, mi))["cell"].alias(f"c_{mi}")
        for mi in range(m)
    ]
    corpus = qz.select(
        "vec_id", F.array(*[c for c in code_cols]).alias("codes")
    )

    # per-query distance tables: d2 from the query's subvector to EVERY
    # sub-centroid, as an m x k nested array column (_pq_dtab_expr)
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.array(
            *[F.expr(_pq_dtab_expr(books, mi)) for mi in range(m)]
        ).alias("dtab"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with(
                    "dtab", "codes", lambda t, c: F.element_at(t, c + 1)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "d2")
        .orderBy("query_id", "rank")
    )


def pq_refine_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 50,
    books: list | None = None,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the standard production refinement
    (FAISS IndexRefineFlat shape): ADC over 8-byte codes shortlists
    `shortlist` candidates per query (the cheap scan over 10^9 codes),
    then ONLY those shortlist rows fetch their full vectors for an exact
    integer-cosine re-rank to the final top-k. Recall lost to the 4-bit
    codes is recovered almost entirely while the exact-distance work drops
    from |corpus| to n_queries x shortlist rows.

    Plan shape: pq_topk's broadcast-NLJ code scan -> tiny (query_id,
    vec_id) shortlist -> ONE semi-join-shaped equi-join back to the
    vectors (at 10^9 scale this is the point: the 512-byte vectors are
    touched for 500 rows, not a billion) -> exact sim + top-k window.
    Deterministic end-to-end, replayed by the sim_pq_refine oracle."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        import numpy as np

        ids, vecs, norms = _np_qz(qrows)
        if books is None:
            books = train_pq_codebooks(
                qz, _rows=_driver_training_rows(qrows, KM_SAMPLE_TARGET)
            )
        codes = _np_pq_codes(vecs, books)
        m_ = len(books)
        pos = {int(v): i for i, v in enumerate(ids)}
        qsel = np.flatnonzero(ids < n_queries)
        rows = []
        for qi in qsel[np.argsort(ids[qsel])]:
            qid = int(ids[qi])
            dtab = _np_pq_dtab(vecs[qi], books)
            d2 = dtab[np.arange(m_)[None, :], codes].sum(axis=1)
            cidx = np.flatnonzero(ids != qid)
            short = cidx[_np_topk_by_d2(ids[cidx], d2[cidx], shortlist)]
            dots = vecs[short] @ vecs[qi]
            sims = _np_sims(dots, norms[qi], norms[short])
            take = _np_topk_by_sim(ids[short], sims, k)
            for rank, t in enumerate(take, start=1):
                rows.append(
                    (qid, int(ids[short][t]), rank, float(sims[t]))
                )
        return _sim_out_df(emb, rows)
    if books is None:
        books = train_pq_codebooks(qz)
    cand = pq_topk(
        emb, n_queries=n_queries, k=shortlist, books=books,
        driver_max_vectors=0,
    )
    return _exact_rerank(cand, qz, n_queries, k)


def _exact_rerank(
    cand: DataFrame, qz: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """Exact integer-cosine re-rank of a (query_id, vec_id) shortlist:
    one equi-join fetches full vectors for shortlist rows only, then the
    standard sim-desc/vec_id-asc top-k window. Shared by pq_refine_topk
    and ivfpq_refine_topk."""
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("norm2").alias("na"),
    )
    corpus = qz.select(
        "vec_id", F.col("q").alias("qb"), F.col("norm2").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    exact = (
        cand.select("query_id", "vec_id")
        .join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("dot", dot)
        .withColumn(
            "sim",
            F.col("dot").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


def ivfpq_refine_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    shortlist: int = 50,
    n_cells: int = K_CELLS,
    nprobe: int = NPROBE,
    cells: list | None = None,
    books: list | None = None,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """IVF-PQ + refine — the complete FAISS production default
    (IndexIVFPQ wrapped in IndexRefineFlat): coarse nprobe pruning, ADC
    shortlist over 8-byte codes, exact re-rank of shortlist rows only.
    Same exactness story as pq_refine_topk; oracle sim_ivfpq_refine."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        import numpy as np

        ids, vecs, norms = _np_qz(qrows)
        if cells is None or books is None:
            trows = _driver_training_rows(qrows, KM_SAMPLE_TARGET)
            if cells is None:
                cells = train_kmeans_cells(qz, k=n_cells, _rows=trows)
            if books is None:
                books = train_pq_codebooks(qz, _rows=trows)
        corpus_cells, d2_all = _np_assign_cells(vecs, cells)
        cell_ids = np.array([int(c) for c, _v in cells], dtype=np.int64)
        codes = _np_pq_codes(vecs, books)
        m_ = len(books)
        qsel = np.flatnonzero(ids < n_queries)
        rows = []
        for qi in qsel[np.argsort(ids[qsel])]:
            qid = int(ids[qi])
            probes = set(_np_probe_cells(d2_all[qi], cell_ids, nprobe))
            mask = np.isin(corpus_cells, list(probes))
            mask[ids == qid] = False
            cidx = np.flatnonzero(mask)
            if cidx.size == 0:
                continue
            dtab = _np_pq_dtab(vecs[qi], books)
            d2 = dtab[np.arange(m_)[None, :], codes[cidx]].sum(axis=1)
            short = cidx[_np_topk_by_d2(ids[cidx], d2, shortlist)]
            dots = vecs[short] @ vecs[qi]
            sims = _np_sims(dots, norms[qi], norms[short])
            take = _np_topk_by_sim(ids[short], sims, k)
            for rank, t in enumerate(take, start=1):
                rows.append(
                    (qid, int(ids[short][t]), rank, float(sims[t]))
                )
        return _sim_out_df(emb, rows)
    if cells is None or books is None:
        rows = _collect_training_sample(qz, KM_SAMPLE_TARGET)
        if cells is None:
            cells = train_kmeans_cells(qz, k=n_cells, _rows=rows)
        if books is None:
            books = train_pq_codebooks(qz, _rows=rows)
    cand = ivfpq_topk(
        emb, n_queries=n_queries, k=shortlist, n_cells=n_cells,
        nprobe=nprobe, cells=cells, books=books,
        driver_max_vectors=0,
    )
    return _exact_rerank(cand, qz, n_queries, k)


def save_pq(books: list, path: str) -> None:
    """Persist PQ codebooks (m x k x subdim ints — a few KB of JSON).
    Same build-once / probe-many lifecycle as save_cells: train on one
    corpus pass, every later query job loads the codebooks and goes
    straight to encoding/probing with zero training jobs."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {"books": [[[int(x) for x in c] for c in bk] for bk in books]}, f
        )


def load_pq(path: str) -> list:
    import json

    with open(path) as f:
        return [
            [[int(x) for x in c] for c in bk]
            for bk in json.load(f)["books"]
        ]


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = K_CELLS,
    nprobe: int = NPROBE,
    cells: list | None = None,
    books: list | None = None,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """IVF-PQ — the composed production ANN index (FAISS's default shape
    for 10^9+ vectors): the learned coarse quantizer prunes the candidate
    set to the query's `nprobe` nearest cells (~n_cells/nprobe x fewer
    candidates), and within those cells candidates are scored by PQ
    asymmetric distance over their 8-byte nibble codes instead of exact
    dots over 512-byte vectors. Both halves reuse the oracle-gated
    machinery verbatim (train_kmeans_cells / train_pq_codebooks over the
    same fixed-cost hash sample; build-once indexes via
    save_cells/load_cells-style persistence), every distance is exact
    bigint, and the ranking is bit-deterministic — replayed end-to-end by
    the sim_ivfpq DuckDB oracle.

    Plan shape: corpus -> narrow (cell, codes) projection; queries
    broadcast with their probe cells exploded and per-subspace distance
    tables as literals-built expressions; ONE equi-join on cell; top-k
    window. No shuffle wider than the broadcast."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        import numpy as np

        ids, vecs, _norms = _np_qz(qrows)
        if cells is None or books is None:
            trows = _driver_training_rows(qrows, KM_SAMPLE_TARGET)
            if cells is None:
                cells = train_kmeans_cells(qz, k=n_cells, _rows=trows)
            if books is None:
                books = train_pq_codebooks(qz, _rows=trows)
        corpus_cells, d2_all = _np_assign_cells(vecs, cells)
        cell_ids = np.array([int(c) for c, _v in cells], dtype=np.int64)
        codes = _np_pq_codes(vecs, books)
        m_ = len(books)
        qsel = np.flatnonzero(ids < n_queries)
        rows = []
        for qi in qsel[np.argsort(ids[qsel])]:
            qid = int(ids[qi])
            probes = set(_np_probe_cells(d2_all[qi], cell_ids, nprobe))
            mask = np.isin(corpus_cells, list(probes))
            mask[ids == qid] = False
            cidx = np.flatnonzero(mask)
            if cidx.size == 0:
                continue
            dtab = _np_pq_dtab(vecs[qi], books)
            d2 = dtab[np.arange(m_)[None, :], codes[cidx]].sum(axis=1)
            take = _np_topk_by_d2(ids[cidx], d2, k)
            for rank, t in enumerate(take, start=1):
                rows.append(
                    (qid, int(ids[cidx][t]), rank, int(d2[t]))
                )
        return _d2_out_df(emb, rows)
    if cells is None or books is None:
        # ONE count + ONE bounded sample collect feed BOTH trainers
        rows = _collect_training_sample(qz, KM_SAMPLE_TARGET)
        if cells is None:
            cells = train_kmeans_cells(qz, k=n_cells, _rows=rows)
        if books is None:
            books = train_pq_codebooks(qz, _rows=rows)
    cents = cells
    m = len(books)

    corpus = qz.select(
        "vec_id",
        _assign_struct(F.col("q"), cents)[0]["cell"].alias("cell"),
        F.array(
            *[
                F.expr(_pq_code_expr(books, mi))["cell"].alias(f"c_{mi}")
                for mi in range(m)
            ]
        ).alias("codes"),
    )

    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.transform(
                _assign_struct(F.col("q"), cents, nprobe=nprobe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
        F.array(
            *[F.expr(_pq_dtab_expr(books, mi)) for mi in range(m)]
        ).alias("dtab"),
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with(
                    "dtab", "codes", lambda t, c: F.element_at(t, c + 1)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "d2")
        .orderBy("query_id", "rank")
    )


# ------------------------------------------- hyperplane (SRP) LSH blocking --
HP_PLANES = 24       # random-hyperplane sign bits per vector
HP_BANDS = 6         # banded exactly like dedup.py's minhash bands
HP_ROWS = 4          # bits per band (HP_BANDS * HP_ROWS == HP_PLANES)
HP_MOD = 2001        # component range [-1000, 1000]
HP_MAX_BUCKET = 400  # band-bucket cap (boilerplate/cluster skew guard)


def hyperplane_component(p: int, d: int, dim: int) -> int:
    """Deterministic signed integer component d of hyperplane p — pure
    affine arithmetic over the flattened (p, d) index, so Spark, the SQL
    oracle, and any retry regenerate identical planes with no stored
    state. Integer dots keep sign() exact: |q| <= 1e4 (QUANT), |h| <= 1e3,
    so a 64-dim dot is <= 6.4e8 — far inside bigint."""
    return (40503 * (p * dim + d) + 1019) % HP_MOD - HP_MOD // 2


def _hp_band_keys(q_col, dim: int, planes: int = HP_PLANES,
                  bands: int = HP_BANDS, q_name: str = "q") -> list:
    """hk_0..hk_{B-1} band keys: sign bit of q . hyperplane_p, packed
    HP_ROWS bits per band. A pure narrow projection — the corpus goes from
    scan to signatures with zero shuffle (the minhash-signature shape).

    Built as ONE F.expr SQL string per band: the python-DSL form issues a
    py4j call per literal (planes x dims = 1536 here), which is seconds of
    pure driver time (see _assign_struct)."""
    rows = planes // bands
    keys = []
    for b in range(bands):
        terms = []
        for j in range(rows):
            p = b * rows + j
            arr = ", ".join(
                f"{hyperplane_component(p, d, dim)}L" for d in range(dim)
            )
            dot = (
                f"aggregate(zip_with({q_name}, array({arr}), (a, b) -> a*b), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j}L ELSE 0L END)")
        keys.append(F.expr(" + ".join(terms)))
    return keys


# --------------------------------------------------------------------------
# r7 driver fast paths for the ANN family (guide §1.2: the data is
# corpus-sized but the local harness corpora are small — the measured cost
# of these queries was almost entirely plan/codegen of the literal
# centroid/codebook expression trees, ~3.5-4.5 s per query over 2000
# vectors). Below gate.SIM_DRIVER_MAX_VECTORS the scoring runs in numpy from
# ONE bounded collect of the SPARK-computed quantized vectors:
# - every distance (cell assignment, PQ code, ADC, SQ8 recon, dots) is
#   exact int64, identical to the JVM bigint folds;
# - the only doubles are sim = double(dot) / sqrt(double(na*nb)) — the
#   same IEEE convert/sqrt/divide sequence as the JVM (the
#   _neardup_driver_pairs precedent), with the final F.round applied back
#   IN Spark;
# - ranking replays (d2 asc|sim desc, vec_id asc) with numpy lexsort.
# Distributed plans are unchanged above the bound (the 10^9-vector path).
# Parity: tests/test_r7_sim_family_driver.py (row identity per op, both
# orders forced).


def _sim_qz_rows(qz, bound, with_label: bool = False):
    cols = (
        ("vec_id", "label", "q", "norm2")
        if with_label
        else ("vec_id", "q", "norm2")
    )
    return gate.collect_rows(qz, cols, bound, "vectors")


def _np_qz(qrows):
    """(ids, vecs, norms) int64 arrays from collected qz rows (label
    column, when present, sits at index 1 — q/norm2 are always the last
    two)."""
    import numpy as np

    n = len(qrows)
    ids = np.fromiter((r[0] for r in qrows), dtype=np.int64, count=n)
    vecs = np.array([r[-2] for r in qrows], dtype=np.int64)
    norms = np.fromiter(
        (int(r[-1]) for r in qrows), dtype=np.int64, count=n
    )
    return ids, vecs, norms


def _driver_training_rows(qrows, sample_target: int):
    """_collect_training_sample replayed over already-collected qz rows:
    same hash-scramble selection, same vec_id sort, namedtuple rows with
    the .vec_id/.q fields the trainers read."""
    from collections import namedtuple

    QzRow = namedtuple("QzRow", ["vec_id", "q"])
    n = len(qrows)
    s = max(1, (n + sample_target - 1) // sample_target)
    out = []
    for r in qrows:
        vid = int(r[0])
        if s == 1 or ((vid % _P31) * _SAMPLE_MULT) % _P31 % s == 0:
            out.append(QzRow(vid, list(r[-2])))
    out.sort(key=lambda r: r.vec_id)
    return out


def _np_sims(dots, na, nbs):
    """sim doubles: double(dot) / sqrt(double(na * nb)) — int64 products
    (ANSI-safe by the same bound as the JVM plan), round-to-nearest
    int64->double conversion and IEEE sqrt/divide exactly as the JVM."""
    import numpy as np

    return dots.astype(np.float64) / np.sqrt(
        (na * nbs).astype(np.float64)
    )


def _np_topk_by_sim(ids, sims, k):
    """Indices of the top-k by (sim desc, vec_id asc) — row_number over
    the (desc sim, asc vec_id) window replayed (negation preserves the
    total order of finite doubles)."""
    import numpy as np

    order = np.lexsort((ids, -sims))
    return order[: int(k)]


def _np_topk_by_d2(ids, d2, k):
    import numpy as np

    order = np.lexsort((ids, d2))
    return order[: int(k)]


def _np_assign_cells(vecs, cents):
    """Nearest-cell id per row under (d2 asc, cell asc) — the
    _assign_struct(...)[0]['cell'] tie-break. Lexicographic argmin via
    the combined key d2 * (max_cell + 1) + cell (exact in int64: d2 <=
    dim * (2 * QUANT)^2 and cells are single digits)."""
    import numpy as np

    C = np.array([c for _cell, c in cents], dtype=np.int64)
    cell_ids = np.array([int(cell) for cell, _c in cents], dtype=np.int64)
    d2 = (
        (vecs[:, None, :] - C[None, :, :]) ** 2
    ).sum(axis=2)
    span = int(cell_ids.max()) + 1
    key = d2 * span + cell_ids[None, :]
    best = key.argmin(axis=1)
    return cell_ids[best], d2


def _np_probe_cells(d2_row, cell_ids, nprobe):
    """The query's nprobe nearest cells under (d2, cell) — the
    slice(array_sort(...), 1, nprobe) replay."""
    import numpy as np

    order = np.lexsort((cell_ids, d2_row))
    return [int(cell_ids[i]) for i in order[: int(nprobe)]]


def _np_pq_codes(vecs, books):
    """(n, m) nearest-sub-centroid codes — _pq_code_expr's
    (d2, cell)-sorted pick per subspace (argmin first-occurrence == min
    cell, since cells are enumerated in order)."""
    import numpy as np

    n = vecs.shape[0]
    m = len(books)
    codes = np.empty((n, m), dtype=np.int64)
    lo = 0
    for mi in range(m):
        B = np.array(books[mi], dtype=np.int64)  # (k, sub)
        sub = B.shape[1]
        sl = vecs[:, lo:lo + sub]
        d2 = ((sl[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
        codes[:, mi] = d2.argmin(axis=1)
        lo += sub
    return codes


def _np_pq_dtab(vec, books):
    """The query's m x k distance table (exact ints)."""
    import numpy as np

    tabs = []
    lo = 0
    for mi in range(len(books)):
        B = np.array(books[mi], dtype=np.int64)
        sub = B.shape[1]
        sl = vec[lo:lo + sub]
        tabs.append(((B - sl[None, :]) ** 2).sum(axis=1))
        lo += sub
    return np.stack(tabs)  # (m, k)


def _sim_out_df(emb, rows):
    """(query_id, vec_id, rank, sim) local frame with the F.round(sim, 6)
    applied in Spark (engine-exact bits, the neardup precedent)."""
    return local_result(
        emb, rows, "query_id long, vec_id long, rank int, sim double",
        ["query_id", "rank"],
        select=["query_id", "vec_id", "rank", F.round("sim", 6).alias("sim")],
        forward=False,
    )


def _d2_out_df(emb, rows):
    return local_result(
        emb, rows, "query_id long, vec_id long, rank int, d2 long",
        ["query_id", "rank"], forward=False,
    )


def _np_exact_topk_rows(ids, vecs, norms, n_queries, k, cand_mask=None):
    """Exact integer-cosine top-k rows per query; cand_mask(qi) -> bool
    array restricts candidates (IVF cells / shortlists)."""
    import numpy as np

    rows = []
    qsel = np.flatnonzero(ids < n_queries)
    for qi in qsel[np.argsort(ids[qsel])]:
        qid = int(ids[qi])
        mask = np.ones(len(ids), dtype=bool)
        if cand_mask is not None:
            mask &= cand_mask(qi)
        mask[ids == qid] = False
        cidx = np.flatnonzero(mask)
        if cidx.size == 0:
            continue
        dots = vecs[cidx] @ vecs[qi]
        sims = _np_sims(dots, norms[qi], norms[cidx])
        take = _np_topk_by_sim(ids[cidx], sims, k)
        for rank, t in enumerate(take, start=1):
            rows.append(
                (qid, int(ids[cidx][t]), rank, float(sims[t]))
            )
    return rows


def _neardup_driver_pairs(qrows, dim: int, threshold: float):
    """(pairs, audit) — python/numpy replay of the SRP banding + bucket
    cap + exact integer-cosine verify. Integer dots are exact; the sim
    double is float(dot)/sqrt(float(na*nb)), the same IEEE ops as the
    JVM's cast-to-double + sqrt + divide."""
    import math

    import numpy as np

    n = len(qrows)
    vec_ids = [r[0] for r in qrows]
    Q = np.array([r[1] for r in qrows], dtype=np.int64).reshape(n, dim)
    norm2 = [int(r[2]) for r in qrows]
    rows_per_band = HP_PLANES // HP_BANDS
    H = np.array(
        [
            [hyperplane_component(p, d, dim) for d in range(dim)]
            for p in range(HP_PLANES)
        ],
        dtype=np.int64,
    )
    S = Q @ H.T  # (n, planes) exact integer dots
    bits = S >= 0
    buckets: dict = {}
    for b in range(HP_BANDS):
        key_vec = np.zeros(n, dtype=np.int64)
        for j in range(rows_per_band):
            key_vec += bits[:, b * rows_per_band + j] << j
        for i in range(n):
            buckets.setdefault((b, int(key_vec[i])), []).append(i)
    cap = HP_MAX_BUCKET
    n_dropped = 0
    max_bucket = 0
    # vectorized candidate generation + exact verify (r7): per-bucket
    # triu index pairs over the vec_id-sorted members, np.unique dedup
    # across bands, ONE einsum of integer dots — the per-pair python
    # set/dot loops were ~1 s at 2000 vectors. Same pair set, same
    # int64/IEEE arithmetic as the scalar form.
    cand_a, cand_b = [], []
    for members in buckets.values():
        sz = len(members)
        max_bucket = max(max_bucket, sz)
        if sz > cap:
            n_dropped += sz
            continue
        if sz < 2:
            continue
        ms = np.array(
            sorted(members, key=lambda i: vec_ids[i]), dtype=np.int64
        )
        ii, jj = np.triu_indices(sz, 1)
        cand_a.append(ms[ii])
        cand_b.append(ms[jj])
    pairs = []
    if cand_a:
        ia = np.concatenate(cand_a)
        ib = np.concatenate(cand_b)
        _, first = np.unique(ia * n + ib, return_index=True)
        ia, ib = ia[first], ib[first]
        vid_arr = np.asarray(vec_ids, dtype=np.int64)
        keep_ids = vid_arr[ia] != vid_arr[ib]
        ia, ib = ia[keep_ids], ib[keep_ids]
        if ia.size:
            # chunked verify: a single einsum over all candidates
            # gathers two (|pairs|, dim) int64 operands (~340 MB each at
            # 667k pairs) — allocation-bound and 3-10x slower under the
            # bench's memory pressure; 64k-pair blocks keep the working
            # set cache-sized with identical arithmetic
            n2 = np.asarray(norm2, dtype=np.int64)
            for lo in range(0, ia.size, 65536):
                sl = slice(lo, lo + 65536)
                ja, jb = ia[sl], ib[sl]
                dots = np.einsum("ij,ij->i", Q[ja], Q[jb])
                sims = dots.astype(np.float64) / np.sqrt(
                    (n2[ja] * n2[jb]).astype(np.float64)
                )
                for i in np.flatnonzero(sims >= threshold):
                    pairs.append(
                        (
                            vec_ids[int(ja[i])],
                            vec_ids[int(jb[i])],
                            float(sims[i]),
                        )
                    )
    audit = {
        "guard": "neardup_srp_bucket_cap",
        "n_dropped_rows": n_dropped,
        "max_group_size": max_bucket,
        "cap": cap,
    }
    return pairs, audit


def embedding_neardup(
    emb: DataFrame, threshold: float = 0.95, sort: bool = True,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, blocked by hyperplane
    LSH (sign-random-projection): sign-bit signatures against fixed
    deterministic hyperplanes -> banded equi-join (bucket-capped) -> exact
    integer-cosine verify. The vector analog of dedup.py's minhash-band
    family: candidates come ONLY from band-bucket equi-joins, so per-label
    density no longer yields an all-pairs-in-disguise (the previous
    label-cell blocking was O(n^2 / #labels) with a handful of labels).

    SRP collision probability per plane is 1 - theta/pi, so recall rises
    steeply with similarity (~0.99 at cosine 0.95 with 6 bands x 4 bits).
    Recall vs the unblocked baseline is reported in BENCH.md."""
    qrows = gate.collect_rows(
        _quantized(emb), ("vec_id", "q", "norm2"), driver_max_vectors,
        "vectors",
    )
    if qrows is not None:
        ddl = "vec_a long, vec_b long, sim double"
        order = ["vec_a", "vec_b"] if sort else ()
        if not qrows:
            return local_result(emb, [], ddl, order, forward=False)
        pairs, audit = _neardup_driver_pairs(
            qrows, len(qrows[0][1]), threshold
        )
        return local_result(
            emb, pairs, ddl, order,
            select=["vec_a", "vec_b", F.round("sim", 6).alias("sim")],
            audits=[audit], forward=False,
        )
    qz = _quantized(emb)
    dim = len(emb.select("embedding").first()[0])
    keys = _hp_band_keys(F.col("q"), dim)
    buckets = qz.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), key.alias("bkey"))
                    for b, key in enumerate(keys)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bkey")
    w = Window.partitionBy("band", "bkey")
    buckets, _cap_audit = capped_filter(
        buckets.withColumn("n", F.count(F.lit(1)).over(w)),
        "n", HP_MAX_BUCKET, "neardup_srp_bucket_cap",
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    va = qz.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"), F.col("norm2").alias("na"),
    )
    vb = qz.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"), F.col("norm2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("dot", dot)
        .withColumn(
            "sim",
            F.col("dot").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))
    )
    # sort=False skips the user-facing ORDER BY for internal consumers
    # that immediately shuffle the pairs again (semantic_clusters' CC)
    if sort:
        out = out.orderBy("vec_a", "vec_b")
    return attach_audits(out, _cap_audit)


def semantic_clusters(
    emb: DataFrame, threshold: float = 0.95, cfg=None
) -> DataFrame:
    """Semantic duplicate CLUSTERS over embeddings — the SemDeDup shape
    (Abbas et al. 2023: embedding-space near-duplicates grouped, one
    representative kept): the verified SRP near-dup pair set
    (embedding_neardup — banded hyperplane LSH + exact integer-cosine
    verify) closed into connected components, keep = the min-vec_id
    representative. The vector-side sibling of dedup.duplicate_clusters;
    cosine-pairwise similarity is not transitive, so consumers need the
    closure, not the pair list.

    Scale shape: the only corpus-width work is the capped+audited SRP
    band join; CC runs over the verified pair set (adaptive driver/
    distributed, reused from entity linking). Returns (vec_id, cluster,
    cluster_size, keep) for clustered vectors only — singletons are
    implicitly their own cluster."""
    from gliner_spark.operators.linking import closure_clusters

    pairs = embedding_neardup(emb, threshold=threshold, sort=False)
    out = closure_clusters(pairs, "vec_a", "vec_b", "vec_id", cfg)
    return attach_audits(forward_caches(out, pairs), pairs)


def train_sq8_ranges(qz: DataFrame) -> list:
    """Per-dimension integer (min, max) over the FULL corpus — the SQ8
    'train' step (FAISS IndexScalarQuantizer QT_8bit trains the same
    per-dim ranges, on a sample and with clamping; a full-corpus min/max
    is ONE narrow pass here and keeps the codes exact, no clamp branch).

    Scale shape: posexplode -> map-side-combined min/max aggregate — the
    shuffle carries dim x partitions rows, never the corpus — then a
    dim-sized bounded collect (the same plan-construction training-collect
    contract as train_pq_codebooks)."""
    rows = (
        qz.select(F.posexplode("q").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    return [(int(r.mn), int(r.mx)) for r in rows]


def sq8_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    ranges: list | None = None,
    driver_max_vectors: int | None = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) similarity search — the third member of the
    FAISS compression family next to PQ and IVF-PQ: each dimension is
    uniformly quantized to an 8-bit code against trained per-dim ranges,

        code_j  = ((q_j - mn_j) * 255) div span_j      (span = max(mx-mn, 1))
        recon_j = mn_j + (code_j * span_j) div 255

    and scoring is ASYMMETRIC (exact integer query vector against the
    reconstructed corpus vector) — 1 byte/dim, ~4x smaller than the raw
    int vectors and better recall than PQ at the same budget for low dim.
    All quantize/reconstruct arithmetic is nonnegative bigint div, so the
    ranking is bit-deterministic and the sim_sq8 oracle replays it
    exactly; only the final sim = dot / sqrt(na * nr2) touches IEEE.

    Plan shape: ranges ship as expression literals (dim-sized); codes and
    reconstructions are narrow per-row transforms over the corpus scan;
    the query side is a broadcast; one top-k window — no join wider than
    broadcast, same shape as pq_topk."""
    qz = _quantized(emb)
    qrows = _sim_qz_rows(qz, driver_max_vectors)
    if qrows is not None:
        import numpy as np

        ids, vecs, norms = _np_qz(qrows)
        if ranges is None:
            # train_sq8_ranges is a full-corpus per-dim min/max — exact
            # over the same collected vectors
            mn_v = vecs.min(axis=0)
            mx_v = vecs.max(axis=0)
            ranges = [
                (int(lo), int(hi)) for lo, hi in zip(mn_v, mx_v)
            ]
        mn_a = np.array([lo for lo, _ in ranges], dtype=np.int64)
        sp_a = np.array(
            [max(hi - lo, 1) for lo, hi in ranges], dtype=np.int64
        )
        # recon_j = mn + ((x - mn) * 255 div span) * span div 255 —
        # nonneg operands, so numpy floor-div == Spark's truncating div
        recon = mn_a + ((vecs - mn_a) * 255 // sp_a) * sp_a // 255
        nr2 = (recon * recon).sum(axis=1)
        qsel = np.flatnonzero(ids < n_queries)
        rows = []
        for qi in qsel[np.argsort(ids[qsel])]:
            qid = int(ids[qi])
            cidx = np.flatnonzero(ids != qid)
            dots = recon[cidx] @ vecs[qi]
            sims = _np_sims(dots, norms[qi], nr2[cidx])
            take = _np_topk_by_sim(ids[cidx], sims, k)
            for rank, t in enumerate(take, start=1):
                rows.append(
                    (qid, int(ids[cidx][t]), rank, float(sims[t]))
                )
        return _sim_out_df(emb, rows)
    if ranges is None:
        ranges = train_sq8_ranges(qz)
    mn = ", ".join(f"CAST({lo} AS BIGINT)" for lo, _ in ranges)
    sp = ", ".join(
        f"CAST({max(hi - lo, 1)} AS BIGINT)" for lo, hi in ranges
    )
    recon = (
        f"transform(q, (x, i) -> element_at(array({mn}), i+1) + "
        f"(((x - element_at(array({mn}), i+1)) * 255) "
        f"div element_at(array({sp}), i+1)) "
        f"* element_at(array({sp}), i+1) div 255)"
    )
    corpus = qz.select(
        "vec_id", F.expr(recon).alias("r")
    ).withColumn(
        "nr2",
        F.aggregate(
            F.zip_with("r", "r", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    queries = qz.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("norm2").alias("na"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("r"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("dot", dot)
        .withColumn(
            "sim",
            F.col("dot").cast("double")
            / F.sqrt((F.col("na") * F.col("nr2")).cast("double")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


MRR_UNIT = 1_000_000


def retrieval_mrr(
    emb: DataFrame, n_queries: int = 10, k: int = 10
) -> DataFrame:
    """Retrieval-quality evaluation IN-ENGINE: for each query, the
    reciprocal rank of its TRUE nearest neighbor (brute-force
    integer-cosine rank 1) within the SQ8 index's top-k list — the
    standard MRR@k harness an ANN deployment runs continuously to catch
    index drift, expressed as two already-oracle-proven rankings + one
    equi-join (no new scoring math). rr is held in exact integer
    micro-units (MRR_UNIT DIV rank; 0 when the index misses the true
    neighbor inside k), so the per-query rows are bit-deterministic;
    MRR = avg(rr_micro) / MRR_UNIT is one downstream division.

    Scale shape: both rankings are broadcast-query scans (cosine over
    full vectors for the n_queries gt rows only; SQ8 over 1-byte/dim
    reconstructions); the join is n_queries-sized."""
    gt = cosine_topk(emb, n_queries=n_queries, k=1).select(
        "query_id", F.col("vec_id").alias("gt_vec_id")
    )
    idx = sq8_topk(emb, n_queries=n_queries, k=k).select(
        "query_id", F.col("vec_id").alias("gt_vec_id"), "rank"
    )
    return (
        gt.join(idx, ["query_id", "gt_vec_id"], "left")
        .select(
            "query_id",
            "gt_vec_id",
            F.coalesce("rank", F.lit(0)).cast("long").alias("found_rank"),
            F.when(
                F.col("rank").isNotNull(),
                F.expr(f"{MRR_UNIT} DIV rank"),
            ).otherwise(F.lit(0)).cast("long").alias("rr_micro"),
        )
        .orderBy("query_id")
    )
