"""Deduplication family over documents(doc_id, text):

- exact (hash groupBy)
- MinHash + LSH banding (shingle -> minhash -> band -> bucket join)
- SimHash (bit-plane majority)
- n-gram Jaccard verification
- embedding-cosine near-dup (see operators/similarity.py)

All arithmetic hashing over codepoint-fold token ids -> exact ANSI-SQL
oracles AND zero vocab state (no dictionary to build or broadcast).

Scale notes (100 TB):
- exact dedup is a single hash aggregate (map-side partial) on md5(text) —
  never ships full text twice; at petabyte scale substitute length+md5 to
  cheapen the shuffle key.
- minhash signatures and simhash are NARROW per-doc array expressions
  (split → fold-hash → aggregate inside the row): the scan→signature stage
  has no shuffle at all; the only shuffles in the whole family are the LSH
  band-bucket equi-join and the Jaccard-verify intersection join.
- candidate pairs come only from LSH band-bucket equi-joins (never a cross
  join); oversized buckets are the Zipf/boilerplate skew case -> capped with
  a window count, same defense as operators/linking.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.cache import attach_caches, forward_caches
from gliner_spark.functions.text import (
    MINHASH_BANDS,
    MINHASH_ROWS,
    P31,
    affine_hash,
    token_id_array,
)
from gliner_spark.gate import local_result
from gliner_spark.metrics import attach_audits, audits_of, capped_filter

MAX_BUCKET = 200  # LSH band-bucket cap (candidate-pair skew guard)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text)."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("text_hash")
    )


def staged_token_ids(docs: DataFrame) -> DataFrame:
    """(doc_id, _ids) in-row token-id arrays — the ONE tokenize of the
    corpus that every dedup branch (signatures, LSH bands, Jaccard items)
    derives from. Callers that fan out into multiple branches persist this
    frame so the text scan+tokenize runs once in the physical plan."""
    return docs.select("doc_id", token_id_array("text").alias("_ids"))


def _signatures_from_ids(staged: DataFrame, keep: tuple = ()) -> DataFrame:
    """(doc_id, [keep...], mh_0..mh_{R-1}) minhash over distinct token ids.

    Narrow: per-doc distinct ids are an array_distinct over the in-row
    token array; each permutation minimum is an array_min — the whole
    signature stage is a projection (no explode, no groupBy). `keep`
    passes extra columns through (the streaming verified near-dup carries
    the id sets alongside, streaming/pipeline.stream_neardup_pairs)."""
    with_ids = staged.select(
        "doc_id", *keep, F.array_distinct("_ids").alias("_ids")
    )

    # NB: closures must be built via a factory — PySpark binds EVERY lambda
    # parameter (including defaults) as a higher-order-function variable.
    def _perm(j):
        return lambda x: affine_hash(x, j)

    aggs = [
        F.array_min(F.transform(F.col("_ids"), _perm(j))).alias(f"mh_{j}")
        for j in range(MINHASH_ROWS)
    ]
    return with_ids.select("doc_id", *keep, *aggs)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    return _signatures_from_ids(staged_token_ids(docs))


def _band_buckets(sigs: DataFrame, keep: tuple = ()) -> DataFrame:
    per = MINHASH_ROWS // MINHASH_BANDS
    bands = []
    for b in range(MINHASH_BANDS):
        key = F.lit(0).cast("long")
        for j in range(b * per, (b + 1) * per):
            key = (key * 1000003 + F.col(f"mh_{j}")) % F.lit(P31)
        bands.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return sigs.select(
        "doc_id", *keep, F.explode(F.array(*bands)).alias("bb")
    ).select("doc_id", *keep, "bb.band", "bb.bkey")


def candidate_pairs(docs: DataFrame) -> DataFrame:
    return _candidate_pairs_from_ids(staged_token_ids(docs))


def _candidate_pairs_from_ids(staged: DataFrame) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b), dedup'd across bands.

    The bucket cap is AUDITED, not silent: a 1-row audit aggregate of
    dropped over-cap rows rides the returned frame (metrics.capped_filter;
    read with metrics.skew_metrics — one cached-scan agg job)."""
    buckets = _band_buckets(_signatures_from_ids(staged))
    w = Window.partitionBy("band", "bkey")
    buckets, audit = capped_filter(
        buckets.withColumn("n", F.count(F.lit(1)).over(w)),
        "n", MAX_BUCKET, "dedup_lsh_bucket_cap",
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return attach_audits(out, audit)


def _jaccard_verify(
    pairs: DataFrame, items: DataFrame, threshold: float, sort: bool = True
) -> DataFrame:
    """Exact Jaccard over per-doc item sets; items = (doc_id, item) distinct.

    One intersection join + two broadcast-size count joins; the only
    full-width shuffle is keyed by (doc, item). sort=False skips the
    user-facing ORDER BY for internal consumers that immediately shuffle
    the pairs again (duplicate_clusters' CC — r5 review: the range
    exchange + sort was pure waste there)."""
    cnt = items.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_it"))
    ia = items.select(F.col("doc_id").alias("doc_a"), "item")
    ib = items.select(F.col("doc_id").alias("doc_b"), "item")
    inter = (
        pairs.join(ia, "doc_a")
        .join(ib, ["doc_b", "item"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_it", "n_a"), "doc_a")
        .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_it", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out.orderBy("doc_a", "doc_b") if sort else out


def _minhash_driver_pairs(rows, threshold: float):
    """(pairs, audit) — python replay of signature banding + bucket cap +
    exact token-set Jaccard. rows: collected (doc_id, _ids)."""
    P = P31
    per = MINHASH_ROWS // MINHASH_BANDS
    perms = [(2 * j + 3, j + 1) for j in range(MINHASH_ROWS)]
    doc_ids = []
    id_sets = []
    sigs = []
    for r in rows:
        doc_ids.append(r[0])
        ids = list(dict.fromkeys(r[1]))  # array_distinct order-preserving
        id_sets.append(set(ids))
        mh = [min((x * a + b) % P for x in ids) for a, b in perms]
        bks = []
        for bb in range(MINHASH_BANDS):
            key = 0
            for j in range(bb * per, (bb + 1) * per):
                key = (key * 1000003 + mh[j]) % P
            bks.append(key)
        sigs.append(bks)
    buckets: dict = {}
    for i in range(len(doc_ids)):
        for bb, key in enumerate(sigs[i]):
            buckets.setdefault((bb, key), []).append(i)
    n_dropped = 0
    max_bucket = 0
    pair_set = set()
    for members in buckets.values():
        sz = len(members)
        max_bucket = max(max_bucket, sz)
        if sz > MAX_BUCKET:
            n_dropped += sz
            continue
        ms = sorted(members, key=lambda i: doc_ids[i])
        for x in range(sz):
            for y in range(x + 1, sz):
                if doc_ids[ms[x]] != doc_ids[ms[y]]:
                    pair_set.add((ms[x], ms[y]))
    pairs = []
    for a, b in pair_set:
        inter = len(id_sets[a] & id_sets[b])
        if inter == 0:
            continue  # the verify join is INNER on shared items
        jac = inter / (len(id_sets[a]) + len(id_sets[b]) - inter)
        if jac >= threshold:
            pairs.append((doc_ids[a], doc_ids[b], jac))
    audit = {
        "guard": "dedup_lsh_bucket_cap",
        "n_dropped_rows": n_dropped,
        "max_group_size": max_bucket,
        "cap": int(MAX_BUCKET),
    }
    return pairs, audit


def minhash_dedup(
    docs: DataFrame, threshold: float = 0.5, sort: bool = True
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact token-set Jaccard.

    ONE tokenize pass: the staged in-row token-id arrays are persisted and
    feed BOTH the signature/band stage (narrow array exprs) and the verify
    stage's exploded item sets (explode of array_distinct — already unique
    per doc, so no distinct shuffle either). The corpus text is scanned
    exactly once in the physical plan."""
    # r7 adaptive small-corpus gate (BOUNDS["docs"]): the minhash
    # banding / bucket cap / exact-Jaccard verify runs on the driver from
    # one bounded collect of the SPARK-computed token-id arrays (token
    # hashing stays engine-exact by construction); the Jaccard double is
    # the same int/int IEEE division in python
    rows = gate.collect_rows(
        staged_token_ids(docs), ("doc_id", "_ids"), gate.bound("docs")
    )
    if rows is not None:
        data, audit = _minhash_driver_pairs(rows, threshold)
        # doc id type follows the input table (bigint in the fixture
        # corpora; string in kg chains)
        id_t = dict(docs.dtypes)["doc_id"]
        return local_result(
            docs, data, f"doc_a {id_t}, doc_b {id_t}, jaccard double",
            ["doc_a", "doc_b"] if sort else (), audits=[audit],
            forward=False,
        )
    staged = staged_token_ids(docs).persist()
    ids = staged.select(
        "doc_id", F.explode(F.array_distinct("_ids")).alias("item")
    )
    pairs = _candidate_pairs_from_ids(staged)
    out = attach_caches(
        _jaccard_verify(pairs, ids, threshold, sort=sort), staged
    )
    return attach_audits(out, pairs)  # forward the bucket-cap audit


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Per-doc SimHash: bit b of h(token_id) votes +1/-1; sign -> bit.

    simhash = sum_b [sum_tokens (2*bit_b(h(id)) - 1) > 0] * 2^b

    Narrow: the per-token hashes live in an in-row array; each bit's vote
    total is an F.aggregate over it — scan→simhash with zero shuffle."""
    hs = docs.select(
        "doc_id",
        F.transform(
            token_id_array("text"), lambda x: affine_hash(x, 7)
        ).alias("_hs"),
    )
    def _vote(b):
        return lambda acc, h: acc + (
            F.floor(h / F.lit(1 << b)) % 2 * 2 - 1
        ).cast("long")

    sim = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(F.col("_hs"), F.lit(0).cast("long"), _vote(b))
        sim = sim + F.when(vote > 0, F.lit(1 << b)).otherwise(0)
    return hs.select("doc_id", sim.alias("simhash")).orderBy("doc_id")


def ngram_jaccard_dedup(
    docs: DataFrame, n: int = 3, threshold: float = 0.2
) -> DataFrame:
    """LSH candidates verified by word n-gram (shingle) Jaccard.

    Trigram hashes are built inside the row (zip over the token-id array at
    offsets 0/1/2) — the pos+1 self-joins of the naive relational form are
    gone; only the verify-stage intersection join shuffles. ONE tokenize
    pass: the staged id arrays feed both the gram explode and the LSH
    candidate stage (persisted at the branch point)."""
    if n != 3:  # a bare assert would be stripped under python -O
        raise ValueError("gram fold below is specialized for n=3")
    staged = staged_token_ids(docs).persist()
    ids_arr = F.col("_ids")
    sz = F.size(ids_arr)
    grams_arr = F.array_distinct(
        F.zip_with(
            F.zip_with(
                F.slice(ids_arr, 1, F.greatest(sz - 2, F.lit(0))),
                F.slice(ids_arr, 2, F.greatest(sz - 2, F.lit(0))),
                lambda a, b: (a * F.lit(1009) + b) % F.lit(P31),
            ),
            F.slice(ids_arr, 3, F.greatest(sz - 2, F.lit(0))),
            lambda ab, c: (ab * F.lit(1013) + c) % F.lit(P31),
        )
    )
    grams = staged.select("doc_id", F.explode(grams_arr).alias("item"))
    pairs = _candidate_pairs_from_ids(staged)
    out = attach_caches(_jaccard_verify(pairs, grams, threshold), staged)
    return attach_audits(out, pairs)


def duplicate_clusters(
    docs: DataFrame, threshold: float = 0.5, cfg=None
) -> DataFrame:
    """Near-duplicate CLUSTERS: the verified minhash pair set closed into
    connected components, with a deterministic representative per cluster
    — what a dedup pass actually consumes ("keep one doc per duplicate
    group"), one step past the pair list minhash_dedup emits. Pairwise
    near-dup is not transitive, so production pipelines (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better", §4 — the
    NearDup cluster step; same shape as SlimPajama's dedup grouping) take
    the transitive closure and keep one member per component.

    cluster = MIN doc_id reachable through verified pairs (keep-first
    semantics, matching exact_dedup/clean_corpus); keep = this doc IS the
    representative. Docs with no verified near-dup never appear (their
    "cluster" is themselves — joining the full corpus back in would only
    pad the output).

    Scale shape: pairs come from the capped+audited LSH band join (the
    only corpus-width work); the component step reuses the adaptive CC
    machinery from entity linking (driver union-find below the bound,
    min-label propagation + pointer jumping above — O(log diameter)
    rounds). The pair set is Zipf-collapsed and tiny next to the corpus.
    cfg threads the CC knobs (cc_max_iterations, cc_reliable_checkpoint
    for executor-loss survival on a real cluster); None = defaults."""
    from gliner_spark.operators.linking import closure_clusters

    # sort=False: the pair list feeds straight into CC's shuffle — the
    # user-facing ORDER BY would be a wasted range exchange (r5 review)
    pairs = minhash_dedup(docs, threshold, sort=False)
    out = closure_clusters(pairs, "doc_a", "doc_b", "doc_id", cfg)
    return attach_audits(forward_caches(out, pairs), pairs)


WINNOW_MIN_SHARED = 2
WINNOW_BUCKET_CAP = 16


def _winnow_pairs_driver(grows, min_shared: int, bucket_cap: int):
    """(pair_rows, audit) — winnow fingerprint pairing replay: distinct
    per-doc fp sets -> inverted index -> audited bucket cap (postings of
    over-cap fingerprints dropped AND counted, like capped_filter) ->
    shared-fp counts per doc pair, >= min_shared."""
    from gliner_spark.operators.text_analysis import (
        WINNOW_W,
        _winnow_fps_driver,
    )

    fps = _winnow_fps_driver(grows, WINNOW_W)
    doc_fps = {d: {f for _p, f in v} for d, v in fps.items()}
    inv: dict = {}
    for d, fset in doc_fps.items():
        for f in fset:
            inv.setdefault(f, []).append(d)
    n_dropped = 0
    max_docs = 0
    pair_n: dict = {}
    for f, ds in inv.items():
        sz = len(ds)
        max_docs = max(max_docs, sz)
        if sz > bucket_cap:
            n_dropped += sz
            continue
        dss = sorted(ds)
        for i in range(len(dss)):
            for j in range(i + 1, len(dss)):
                key = (dss[i], dss[j])
                pair_n[key] = pair_n.get(key, 0) + 1
    pair_rows = sorted(
        (a, b, c) for (a, b), c in pair_n.items() if c >= min_shared
    )
    audit = {
        "guard": "winnow_bucket_cap",
        "n_dropped_rows": n_dropped,
        "max_group_size": max_docs,
        "cap": int(bucket_cap),
    }
    return pair_rows, audit


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    bucket_cap: int = WINNOW_BUCKET_CAP,
) -> DataFrame:
    """Near-dup / overlap candidate pairs from WINNOWING fingerprints
    (the MOSS pipeline's second half): doc pairs sharing at least
    `min_shared` selected fingerprint hashes, with the shared count —
    winnowing's guarantee (every common run of >= w+k-1 tokens leaves a
    common fingerprint) makes this the local-overlap detector that
    catches partial plagiarism/quotation which whole-doc minhash
    dilutes away. Complements minhash (global Jaccard), simhash
    (Hamming) and n-gram Jaccard in the dedup family.

    Plan shape: the same inverted-index discipline as every LSH stage
    here — distinct (fp, doc) postings, fingerprints shared by more
    than `bucket_cap` docs dropped AND audited (boilerplate shingles
    are the Zipf head; a winnowed fingerprint kept by >cap docs carries
    no pair information worth C(cap,2) join rows), then one equi-join
    on fp and a grouped count. Never an all-pairs product; output is
    bounded by C(bucket_cap, 2) rows per fingerprint."""
    from gliner_spark.operators.text_analysis import (
        _winnow_fps_driver,
        _winnow_gram_rows,
        winnow_fingerprints,
    )

    # r7 driver gate (BOUNDS["docs"]): fingerprint selection,
    # inverted index, bucket cap and shared-count pairing replayed from
    # one bounded collect of the Spark-computed gram arrays; the
    # distributed plan below is unchanged above the bound
    from gliner_spark.operators.text_analysis import WINNOW_K

    grows = _winnow_gram_rows(docs, WINNOW_K)
    if grows is not None:
        pair_rows, audit = _winnow_pairs_driver(
            grows, min_shared, bucket_cap
        )
        id_t = dict(docs.dtypes)["doc_id"]
        return local_result(
            docs, pair_rows, f"doc_a {id_t}, doc_b {id_t}, n_shared long",
            ["doc_a", "doc_b"], audits=[audit], forward=False,
        )
    inv = (
        winnow_fingerprints(docs, sort=False)
        .select("doc_id", "fp")
        .distinct()
    )
    w = Window.partitionBy("fp")
    capped, audit = capped_filter(
        inv.withColumn("n_docs", F.count(F.lit(1)).over(w)),
        "n_docs", bucket_cap, "winnow_bucket_cap",
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )
    return attach_audits(pairs, audit)


CONTAIN_MIN_PERMILLE = 500  # emit pairs where either direction >= 50.0%


def containment_pairs(
    docs: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    bucket_cap: int = WINNOW_BUCKET_CAP,
    min_permille: int = CONTAIN_MIN_PERMILLE,
) -> DataFrame:
    """Asymmetric CONTAINMENT detection — quotation / near-superset
    pairs (Broder 1997's containment c(A,B) = |S(A) ∩ S(B)| / |S(A)|
    over k-gram shingle sets): a short doc quoted whole inside a long
    one has low Jaccard (minhash misses it) but containment ≈ 1. The
    training-data use is inclusion dedup: drop documents that are
    near-subsets of another document.

    Two-stage MOSS-style plan: candidates come from the winnowing
    inverted index (winnow_overlap_pairs — capped + audited, so the
    candidate set is Zipf-collapsed and never all-pairs), then the
    verifier computes EXACT distinct-k-gram intersection counts for
    candidate pairs only and emits both directions as integer
    permilles, keeping pairs where either direction >= `min_permille`.
    Verification cost is bounded by |pairs| x grams(doc), never
    corpus x corpus. The dd_containment oracle replays candidates and
    verifier bit-for-bit."""
    from gliner_spark.operators.text_analysis import (
        WINNOW_K,
        _winnow_gram_rows,
        gram_postings,
    )

    # r7 driver gate (BOUNDS["docs"]): candidates + exact
    # distinct-gram containment verify replayed from the same one
    # bounded gram collect; distributed plan unchanged above the bound
    grows = _winnow_gram_rows(docs, WINNOW_K)
    if grows is not None:
        cand_rows, audit = _winnow_pairs_driver(
            grows, min_shared, bucket_cap
        )
        gh_sets = {d: set(ghs) for d, ghs in grows}
        data = []
        for a, b, _n in cand_rows:
            sa, sb = gh_sets[a], gh_sets[b]
            inter = len(sa & sb)
            if inter == 0:
                continue  # the verify join is INNER on shared grams
            ca = 1000 * inter // len(sa) if sa else 0
            cb = 1000 * inter // len(sb) if sb else 0
            if max(ca, cb) >= min_permille:
                data.append((a, b, inter, len(sa), len(sb), ca, cb))
        data.sort()
        id_t = dict(docs.dtypes)["doc_id"]
        return local_result(
            docs, data,
            f"doc_a {id_t}, doc_b {id_t}, n_shared_grams long, "
            "n_grams_a long, n_grams_b long, "
            "contain_a_permille long, contain_b_permille long",
            ["doc_a", "doc_b"], audits=[audit], forward=False,
        )
    cand = winnow_overlap_pairs(docs, min_shared, bucket_cap)
    pairs = cand.select("doc_a", "doc_b")
    post = gram_postings(docs).select("doc_id", "gh").distinct().persist()
    sizes = post.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    shared = (
        pairs.join(
            post.select(F.col("doc_id").alias("doc_a"), "gh"), "doc_a"
        )
        .join(
            post.select(F.col("doc_id").alias("doc_b"), "gh"),
            ["doc_b", "gh"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
    out = (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("n").alias("n_grams_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("n").alias("n_grams_b")),
            "doc_b",
        )
        .withColumn(
            "contain_a_permille",
            F.expr("1000 * n_shared_grams DIV n_grams_a"),
        )
        .withColumn(
            "contain_b_permille",
            F.expr("1000 * n_shared_grams DIV n_grams_b"),
        )
        .filter(
            F.greatest("contain_a_permille", "contain_b_permille")
            >= min_permille
        )
        .select(
            "doc_a", "doc_b", "n_shared_grams", "n_grams_a", "n_grams_b",
            "contain_a_permille", "contain_b_permille",
        )
        .orderBy("doc_a", "doc_b")
    )
    return attach_caches(attach_audits(out, *audits_of(cand)), post)


SUBSTR_GRAM_LEN = 8   # token window for exact duplicated-substring scan
SUBSTR_MIN_DOCS = 2   # "duplicated" = the gram appears in >= 2 docs


def duplicated_substring_spans(
    docs: DataFrame,
    gram_len: int = SUBSTR_GRAM_LEN,
    min_docs: int = SUBSTR_MIN_DOCS,
) -> DataFrame:
    """EXACT duplicated-substring spans — the substring-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", the ExactSubstr tool), re-expressed relationally: instead
    of a corpus suffix array, slide a `gram_len`-token window over
    every document, find windows whose exact text occurs in >=
    `min_docs` DISTINCT documents, and merge overlapping duplicated
    windows per document into maximal spans (gaps-and-islands over
    window positions). Output: one row per maximal duplicated span
    (doc_id, span_start, span_end, n_grams) in token coordinates —
    the spans a pipeline cuts out of the training text.

    Shape at scale: the window table is one in-row transform + explode
    (n_tokens rows per doc, the same economics as the winnowing
    postings); "duplicated" is a distinct + map-side-combined count
    aggregate per gram (an AGGREGATE, so a boilerplate gram in a
    million docs is one group, never a join blowup); marking is a
    left-semi equi-join on the gram text (exact — no hash collisions
    to audit); the merge is a per-doc window bounded by doc length.
    No all-pairs anything.

    Determinism: positions and counts are exact integers; the islands
    flag uses lag() with a NULL-start (both engines send the first
    position to a new island)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("_t"))
    n = F.size("_t")
    pg = (
        toks.filter(n >= gram_len)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - gram_len),
                    lambda p: F.struct(
                        p.cast("long").alias("pos"),
                        F.array_join(
                            F.slice("_t", p + 1, gram_len), " "
                        ).alias("gram"),
                    ),
                )
            ).alias("pg"),
        )
        .select("doc_id", "pg.pos", "pg.gram")
    )
    dup = (
        pg.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    marked = pg.join(dup, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = marked.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= gram_len - 1, 0
        )
        .otherwise(1)
        .alias("flag"),
    ).select(
        "doc_id",
        "pos",
        F.sum("flag")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    out = (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + gram_len - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
        .orderBy("doc_id", "span_start")
    )
    return forward_caches(out, docs)



BLOCK_SAMPLE_N = 500                     # bounded sample (sorted doc_id)
BLOCK_THRESHOLDS = (500, 700, 800, 900)  # Jaccard permille cuts (s-curve)


def staged_shingle_ids(docs: DataFrame, k: int = None) -> DataFrame:
    """(doc_id, _ids) in-row k-token-shingle rolling-hash arrays — the
    Broder item space for minhash (signature/band pipeline consumes it
    exactly like staged_token_ids' unigram arrays). Defaults to the
    winnowing gram size so the SQL oracle reuses the shared gram CTE."""
    from gliner_spark.operators.text_analysis import (
        WINNOW_K,
        gram_hash_array,
        token_id_array,
    )

    k = WINNOW_K if k is None else k
    return docs.select(
        "doc_id", token_id_array("text").alias("_tok")
    ).select("doc_id", gram_hash_array(F.col("_tok"), k).alias("_ids"))


def blocking_quality(
    docs: DataFrame,
    sample_n: int = BLOCK_SAMPLE_N,
    thresholds: tuple = BLOCK_THRESHOLDS,
    item_space: str = "token",
) -> DataFrame:
    """Blocking-quality evaluation of the MinHash-LSH candidate
    generator — the record-linkage indexing metrics of Christen 2012:
    on a deterministic bounded sample (first `sample_n` docs by sorted
    doc_id), compute EXACT token-set Jaccard for every intersecting
    pair and report, per similarity threshold,

        pairs_completeness_permille = 1000 * |cand ∩ true(t)| / |true(t)|

    alongside the global reduction ratio
    1000 * (1 - |cand| / |all pairs|). One row per threshold — the
    MEASURED LSH s-curve. This is the certification run for a blocking
    config (bands x rows, caps) before trusting it at 100 TB — and on
    the synthetic corpus it earns its keep by FAILING the config: the
    shared filler vocabulary makes unigram token SETS corpus-wide
    homogeneous, band keys collapse into a few mega-buckets (4 buckets
    hold ~78% of postings at sf0.01), and the audited 200-doc bucket
    cap then drops exactly the near-duplicate cliques, inverting the
    s-curve (completeness ~0 at j >= 0.9). The standard remedy the
    number points to is a shingle item space (k-gram sets a la Broder /
    Lee et al. decorrelate merely-similar-vocab docs) — the families
    this repo already ships as ngram_jaccard_dedup and the winnowing
    operators; the unigram config stays as the measured baseline.
    `item_space="shingle"` runs the SAME eval (ground truth and
    candidates both) in the k-token-shingle space — the
    dd_blocking_shingled gate publishes the corrected curve next to
    the baseline's.

    Ground truth is quadratic by nature, so it is measured on the
    bounded sample only — cost is sample_n^2 per shared token
    worst-case, eval-only, never corpus-width. The candidate generator
    runs exactly the production path (_candidate_pairs_from_ids on the
    same sample, bucket caps and all).

    Determinism: counts are exact integers; Jaccard doubles are formed
    identically in both engines; permilles are integer floor
    divisions."""
    if item_space not in ("token", "shingle"):
        raise ValueError(f"unknown item_space {item_space!r}")
    sample = docs.orderBy("doc_id").limit(sample_n).select("doc_id", "text")
    stage_fn = (
        staged_token_ids if item_space == "token" else staged_shingle_ids
    )
    staged = stage_fn(sample).persist()
    dtok = staged.select(
        "doc_id", F.explode(F.array_distinct("_ids")).alias("item")
    )
    cnt = dtok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_it")
    )
    inter = (
        dtok.select(F.col("doc_id").alias("doc_a"), "item")
        .join(dtok.select(F.col("doc_id").alias("doc_b"), "item"), "item")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    cand = _candidate_pairs_from_ids(staged)
    flagged = (
        inter.join(
            cnt.select(F.col("doc_id").alias("doc_a"),
                       F.col("n_it").alias("n_a")),
            "doc_a",
        )
        .join(
            cnt.select(F.col("doc_id").alias("doc_b"),
                       F.col("n_it").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "j",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .join(
            cand.withColumn("is_cand", F.lit(1)),
            ["doc_a", "doc_b"],
            "left",
        )
        .withColumn("is_cand", F.coalesce("is_cand", F.lit(0)))
    )
    per = (
        flagged.select(
            "j",
            "is_cand",
            F.explode(
                F.array(*[F.lit(t) for t in thresholds])
            ).alias("threshold_permille"),
        )
        .filter(F.col("j") >= F.col("threshold_permille") / F.lit(1000.0))
        .groupBy("threshold_permille")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum("is_cand").cast("long").alias("n_hit"),
        )
    )

    def _n(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    out = (
        per.crossJoin(_n(sample, "n_docs"))
        .crossJoin(_n(cand, "n_cand"))
        .withColumn(
            "threshold_permille", F.col("threshold_permille").cast("long")
        )
        .withColumn("n_pairs_total", F.expr("n_docs * (n_docs - 1) DIV 2"))
        .withColumn(
            "reduction_ratio_permille",
            F.expr("1000 - 1000 * n_cand DIV n_pairs_total"),
        )
        .withColumn(
            "pairs_completeness_permille",
            F.expr(
                "CASE WHEN n_true > 0 THEN 1000 * n_hit DIV n_true "
                "ELSE 1000 END"
            ),
        )
        .select(
            "threshold_permille", "n_docs", "n_pairs_total", "n_cand",
            "reduction_ratio_permille", "n_true", "n_hit",
            "pairs_completeness_permille",
        )
        .orderBy("threshold_permille")
    )
    return attach_caches(attach_audits(out, *audits_of(cand)), staged)
