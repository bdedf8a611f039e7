"""Text-analysis operators over a documents(doc_id, text, ...) table:
token stats, quality scoring, language ID, document fingerprinting.

All pure DataFrame ops (JVM-side, whole-stage codegen) — no Python UDFs.
Each has an exact ANSI-SQL oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gliner_spark import gate
from gliner_spark.functions.text import (
    LANG_MARKERS,
    LANG_ORDER,
    P31,
    STOPWORDS,
    affine_hash,
    token_id_array,
)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counting: whitespace tokens + distinct + char stats."""
    arr = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(arr).alias("n_tokens"),
        F.size(F.array_distinct(arr)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / stopword / distinct-ratio quality heuristic.

    All ratios are exact integer divisions in double — bit-identical across
    engines.
    """
    arr = F.split("text", " ")
    n = F.size(arr)
    sw = F.size(F.filter(arr, lambda t: t.isin(STOPWORDS)))
    nd = F.size(F.array_distinct(arr))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        sw.alias("n_stopwords"),
        (sw.cast("double") / n).alias("stopword_ratio"),
        (nd.cast("double") / n).alias("distinct_ratio"),
        (F.length("text").cast("double") / n).alias("avg_token_span"),
    ).orderBy("doc_id")


def _lang_exprs(arr):
    """(scores dict, pred_lang column) — the ORACLE-BEARING lang-id
    expression block, shared by lang_id and clean_corpus so the two gates
    can never disagree on tie-break/und semantics: argmax of per-language
    marker counts, ties broken by LANG_ORDER, 'und' when all zero."""
    scores = {
        lang: F.size(F.filter(arr, lambda t: t.isin(LANG_MARKERS[lang])))
        for lang in LANG_ORDER
    }
    best = F.greatest(*[scores[l] for l in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties -> apply last
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scores, pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Keyword-marker language ID (see _lang_exprs)."""
    arr = F.split("text", " ")
    scores, pred = _lang_exprs(arr)
    out = docs.select(
        "doc_id",
        *[scores[l].alias(f"score_{l}") for l in LANG_ORDER],
        pred.alias("pred_lang"),
        F.col("lang").alias("true_lang"),
    )
    return out.orderBy("doc_id")


# GPT2-style pre-tokenization shape: letter runs | digit runs | single
# punctuation. The sandbox corpus is lowercase ASCII; the pattern is
# RE2/Java-regex-identical so the SQL oracle reproduces it exactly.
BPE_PRE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_stats(docs: DataFrame) -> DataFrame:
    """BPE-ish regex token counting (the subword-side counterpart of
    token_stats' whitespace counts): pre-tokenize with a byte-pair-style
    regex, report piece counts / distinct pieces / char coverage. Pure
    JVM (regexp_extract_all), zero shuffle before the final sort."""
    pieces = F.regexp_extract_all("text", F.lit(BPE_PRE_RE), 0)
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
        F.aggregate(
            pieces, F.lit(0), lambda acc, p: acc + F.length(p)
        ).alias("n_piece_chars"),
    ).orderBy("doc_id")


def mixture_sample(
    docs: DataFrame, rates: dict, default=(1, 1), key: str = "doc_id"
) -> DataFrame:
    """Deterministic per-source mixture sampling — the pretraining
    data-mix operator (upsample/downsample sources to a target mixture):
    keep a doc iff fold_hash(key) % den < num for its source's (num, den)
    rate. A pure narrow filter: no RNG state, reproducible on any engine
    and any retry, and the SAME doc is kept or dropped regardless of
    partitioning — the property DataFrame.sample() lacks under task
    retries. Rates are exact rationals, so expected mixture proportions
    are auditable from the config alone."""
    from gliner_spark.functions.text import fold_hash

    h = fold_hash(F.col(key).cast("string"))
    num, den = default
    keep = F.pmod(h, F.lit(int(den))) < int(num)
    for src, (n_, d_) in sorted(rates.items()):
        keep = F.when(
            F.col("source") == src, F.pmod(h, F.lit(int(d_))) < int(n_)
        ).otherwise(keep)
    return (
        docs.filter(keep)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def token_budget_select(
    docs: DataFrame,
    budget_tokens: int,
    bucket_width: int = 65536,
    bucket=None,
) -> DataFrame:
    """Per-source token-budget selection — cap each source's contribution
    at `budget_tokens` whitespace tokens, taking docs in deterministic
    doc_id order until the running total would exceed the budget
    (cumulative count INCLUDING the current doc must fit).

    Scale shape — a TWO-PHASE distributed prefix sum (a naive
    Window.partitionBy("source") cumsum would pull every row of a source
    through ONE task, since `source` has a handful of distinct values):

    1. bucket docs by doc_id range (`doc_id DIV bucket_width` — order-
       preserving for non-negative ids; corpora with string ids pass an
       order-preserving `bucket` Column instead, e.g. a fixed-length
       prefix) and aggregate per-(source, bucket) token totals — a
       map-side-combined aggregate whose result is tiny (1 row per bucket).
       The static default width assumes DENSE-ish ids: hash-derived ids
       spread over 2^63 would land ~one doc per bucket and blow the
       offsets broadcast up to corpus row count. For sparse numeric id
       spaces pass bucket_width="auto" — ONE min/max aggregate (eager, at
       plan build) sizes the width so ~65k buckets cover the observed id
       range — or supply an explicit coarse `bucket` Column;
    2. per-source running OFFSETS over that tiny table (the only
       source-partitioned window, applied to 1-row-per-bucket input);
    3. broadcast the offsets back and compute a LOCAL cumsum inside each
       (source, bucket) window partition + its bucket offset — every
       window-sort task now holds at most `bucket_width` docs.

    Because buckets are contiguous doc_id ranges, offset + local cumsum
    equals the global per-source running sum exactly — the output is
    bit-identical to the single-window form (tests/test_features.py).
    The deterministic order makes re-runs reproduce the identical
    selection — budget sampling with .sample() or zipWithIndex would not
    survive a retry."""
    from pyspark.sql import Window

    n = F.size(F.split("text", " "))
    if bucket is None and bucket_width == "auto":
        lo, hi = docs.agg(
            F.min(F.col("doc_id").cast("long")),
            F.max(F.col("doc_id").cast("long")),
        ).first()
        span = max(1, int(hi) - int(lo) + 1) if lo is not None else 1
        bucket_width = max(1, span // 65536)
    b = (
        bucket
        if bucket is not None
        else F.expr(f"CAST(doc_id AS BIGINT) DIV {int(bucket_width)}")
    )
    sized = docs.select(
        "doc_id",
        "source",
        n.cast("long").alias("n_tokens"),
        b.alias("_tb_bucket"),
    )
    totals = sized.groupBy("source", "_tb_bucket").agg(
        F.sum("n_tokens").alias("_tot")
    )
    wb = (
        Window.partitionBy("source")
        .orderBy("_tb_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "_tb_bucket",
        F.coalesce(F.sum("_tot").over(wb), F.lit(0)).alias("_off"),
    )
    wl = (
        Window.partitionBy("source", "_tb_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.join(F.broadcast(offsets), ["source", "_tb_bucket"])
        .withColumn(
            "cum_tokens",
            (F.sum("n_tokens").over(wl) + F.col("_off")).cast("long"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    )


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    min_distinct_ratio: float = 0.3,
    lang: str = "en",
    neardup_threshold: float = 0.5,
) -> DataFrame:
    """The standard pre-training corpus filter chain (C4/RefinedWeb shape)
    composed as ONE declarative plan: exact-dedup keep-first (md5 groups)
    -> language filter (marker lang-id) -> quality floor (token count +
    distinct ratio) -> near-dup keep-first over the SURVIVORS (verified
    minhash pairs drop the lexicographically larger doc). Returns the
    surviving docs with their features.

    The near-dup stage runs on the docs that survived the earlier stages,
    not the raw corpus (ADVICE r3): with raw-corpus pairs a doc could be
    dropped as doc_b of a pair whose keep-side doc_a was itself removed by
    exact-dedup/lang/quality — every copy of that content would vanish.
    Keep-first now means the kept representative of each surviving pair is
    actually in the output.

    Scale shape: features are narrow per-row expressions; the only
    shuffles are the md5 keep-first window, the LSH band join inside
    minhash_dedup, the survivor semi-join, and the final anti-join. The
    corpus text is scanned twice (feature pass + survivor tokenize) —
    cheaper than carrying full text through the md5 window shuffle, and
    the second scan tokenizes only survivors. The survivor filter is
    persisted at the branch point; release with cache.release_caches()
    after the consuming action."""
    from pyspark.sql import Window

    from gliner_spark.cache import attach_caches
    from gliner_spark.operators.dedup import minhash_dedup

    arr = F.split("text", " ")
    n = F.size(arr)
    nd = F.size(F.array_distinct(arr))
    _, pred = _lang_exprs(arr)

    w_md5 = Window.partitionBy(F.md5("text"))
    staged = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        (nd.cast("double") / n).alias("distinct_ratio"),
        pred.alias("pred_lang"),
        F.min("doc_id").over(w_md5).alias("keep_id"),
    )
    kept = staged.filter(
        (F.col("doc_id") == F.col("keep_id"))
        & (F.col("pred_lang") == lang)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("distinct_ratio") >= min_distinct_ratio)
    ).persist()
    survivors = docs.join(kept.select("doc_id"), "doc_id", "left_semi")
    dd = minhash_dedup(survivors, threshold=neardup_threshold)
    dups = dd.select(F.col("doc_b").alias("doc_id")).distinct()
    out = (
        kept.join(dups, "doc_id", "left_anti")
        .select(
            "doc_id",
            "pred_lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("distinct_ratio", 6).alias("distinct_ratio"),
        )
        .orderBy("doc_id")
    )
    from gliner_spark.metrics import attach_audits

    return attach_audits(attach_caches(out, kept, dd), dd)


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc repetition profile — the Gopher/MassiveText within-document
    repetition rule family (fraction of duplicate n-grams; docs above a
    threshold are low-quality boilerplate/spam): for word 3-grams over
    fold-hash token ids,

        dup_gram_ratio  = (n_grams - n_distinct_grams) / n_grams
        dup_token_ratio = (n_tokens - n_distinct_tokens) / n_tokens

    Narrow: gram hashes are built inside the row (zip_with over the token
    id array at offsets 0/1/2 — same fold as doc_fingerprint's bigram),
    so the whole profile is scan -> project with zero shuffle before the
    output sort. Exact integer counts + one exact double division =
    engine-bit-identical."""
    assert n == 3, "gram fold below is specialized for n=3"
    staged = docs.select("doc_id", token_id_array("text").alias("_ids"))
    ids = F.col("_ids")
    sz = F.size(ids)
    grams = F.zip_with(
        F.zip_with(
            F.slice(ids, 1, F.greatest(sz - 2, F.lit(0))),
            F.slice(ids, 2, F.greatest(sz - 2, F.lit(0))),
            lambda a, b: (a * F.lit(1009) + b) % F.lit(P31),
        ),
        F.slice(ids, 3, F.greatest(sz - 2, F.lit(0))),
        lambda ab, c: (ab * F.lit(1013) + c) % F.lit(P31),
    )
    n_g = F.size(grams)
    n_gd = F.size(F.array_distinct(grams))
    n_t = sz
    n_td = F.size(F.array_distinct(ids))
    return staged.select(
        "doc_id",
        n_g.cast("long").alias("n_grams"),
        (n_g - n_gd).cast("long").alias("n_dup_grams"),
        F.when(n_g > 0, (n_g - n_gd).cast("double") / n_g)
        .otherwise(F.lit(0.0))
        .alias("dup_gram_ratio"),
        F.when(n_t > 0, (n_t - n_td).cast("double") / n_t)
        .otherwise(F.lit(0.0))
        .alias("dup_token_ratio"),
    ).orderBy("doc_id")


def decontaminate(
    docs: DataFrame, eval_mod: int = 7, n: int = 8
) -> DataFrame:
    """Benchmark decontamination — the standard pretraining hygiene step
    (drop training docs sharing a long exact n-gram with the eval
    benchmark, GPT-3 appendix-C / PaLM style): the held-out "benchmark"
    here is the deterministic doc_id % eval_mod == 0 slice; a training doc
    is CONTAMINATED if any of its 8-gram hashes appears in the benchmark's
    gram set. Returns the contaminated docs with their overlap counts
    (non-empty on the sandbox corpus: its near-duplicate docs share long
    verbatim runs, exactly the leak class this step exists to catch).

    Scale shape: benchmark grams are a tiny distinct set (1/eval_mod of
    the corpus) — BROADCAST to the training-side gram stream (built as
    narrow in-row zip folds, exploded once); the only shuffle is the final
    per-doc overlap aggregate. At a real 100 TB run the eval suite is a
    handful of MB of grams — the broadcast is free and the corpus is
    scanned exactly once."""
    staged = docs.select("doc_id", token_id_array("text").alias("_ids"))
    ids = F.col("_ids")
    sz = F.size(ids)
    g = F.slice(ids, 1, F.greatest(sz - (n - 1), F.lit(0)))
    for k in range(1, n):
        g = F.zip_with(
            g,
            F.slice(ids, k + 1, F.greatest(sz - (n - 1), F.lit(0))),
            lambda acc, x: (acc * F.lit(1009) + x) % F.lit(P31),
        )
    grams = staged.select(
        "doc_id", F.explode(F.array_distinct(g)).alias("gram")
    )
    bench = (
        grams.filter(F.col("doc_id") % eval_mod == 0)
        .select("gram")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") % eval_mod != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def rarity_stats(docs: DataFrame, rare_df: int = 2,
                 broadcast_df: bool = True) -> DataFrame:
    """Corpus-relative token rarity — the two-pass frequency profile
    quality filters build on (a doc of mostly rare tokens is OCR noise or
    gibberish; a doc of only head tokens is boilerplate): pass 1 computes
    document frequencies over distinct (doc, token) pairs (map-side
    combined aggregate, vocabulary-sized result); pass 2 joins them back
    and reports per-doc

        n_distinct_tokens, mean_df = sum(df)/n (exact rational in double),
        n_rare = distinct tokens with df <= rare_df.

    The df table is vocabulary-sized (Zipf-saturated — tiny relative to
    the corpus) and broadcast by default; for an open-vocabulary 100 TB
    corpus pass broadcast_df=False and the join shuffles with AQE handling
    the head-token skew."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    df_tbl = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if broadcast_df:
        df_tbl = F.broadcast(df_tbl)
    return (
        toks.join(df_tbl, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            F.sum("df").cast("long").alias("sum_df"),
            (F.sum("df").cast("double") / F.count(F.lit(1))).alias("mean_df"),
            F.sum(F.when(F.col("df") <= rare_df, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
        .orderBy("doc_id")
    )


def length_quantiles(docs: DataFrame, qs=(50, 90, 99)) -> DataFrame:
    """EXACT per-source token-length quantiles at any corpus size — the
    corpus-profiling primitive (Arrow batch calibration, skew detection,
    truncation budgeting) done deterministically: because the DOMAIN is
    bounded (a token count is a small integer), the full distribution fits
    in a tiny histogram — groupBy(source, n) with map-side combine — and
    quantile q is the smallest n whose running count reaches
    ceil(q/100 * N). No sampling, no t-digest approximation, no engine-
    specific sketch: the same integers on every engine, any partitioning,
    any scale (the histogram is |distinct lengths| rows per source; the
    windows run over THAT, never the corpus).

    qs are integer percentiles (exact rational rank arithmetic —
    ceil(q*N/100) = (q*N + 99) DIV 100). Output (source, q, value)."""
    from pyspark.sql import Window

    hist = (
        docs.select(
            "source", F.size(F.split("text", " ")).alias("n")
        )
        .groupBy("source", "n")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "n",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    parts = []
    for q in qs:
        rank = F.expr(f"({int(q)} * total + 99) DIV 100")
        parts.append(
            cum.filter(F.col("cum") >= rank)
            .groupBy("source")
            .agg(F.min("n").cast("long").alias("value"))
            .select("source", F.lit(int(q)).alias("q"), "value")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("source", "q")


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive document fingerprint from fold-hash token ids:

    unigram part: sum(h1(token_id)) mod P31
    bigram part:  sum((id_i * 131 + id_{i+1}) mod P31) mod P31
    fingerprint = (unigram + bigram) mod P31 — arithmetic only, so the SQL
    oracle reproduces it exactly (a rolling-hash family; reference has no
    analog, this is pipeline-native).

    Narrow: token ids live in an in-row array; unigram and bigram sums are
    F.aggregate / F.zip_with over it — scan→fingerprint with zero shuffle
    (the old form exploded + self-joined on pos+1).
    """
    staged = docs.select("doc_id", token_id_array("text").alias("_ids"))
    ids = F.col("_ids")
    sz = F.size(ids)
    uni = F.aggregate(
        F.transform(ids, lambda x: affine_hash(x, 1)),
        F.lit(0).cast("long"),
        lambda acc, h: (acc + h) % F.lit(P31),
    )
    bi = F.aggregate(
        F.zip_with(
            F.slice(ids, 1, F.greatest(sz - 1, F.lit(0))),
            F.slice(ids, 2, F.greatest(sz - 1, F.lit(0))),
            lambda a, b: (a * F.lit(131) + b) % F.lit(P31),
        ),
        F.lit(0).cast("long"),
        lambda acc, h: (acc + h) % F.lit(P31),
    )
    return staged.select(
        "doc_id", ((uni + bi) % F.lit(P31)).alias("fingerprint")
    ).orderBy("doc_id")


def bigram_support(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """Per-doc fluency/quality from CORPUS bigram statistics (r5): how
    well-supported is each document's word-pair sequence by the rest of
    the corpus? The n-gram-LM surrogate quality filters use (CCNet /
    Gopher lineage: a doc whose adjacent-word pairs barely occur elsewhere
    is boilerplate, OCR noise, or gibberish) without the IEEE log-prob
    whose cross-engine summation order would break the oracle:

      avg_support = (sum of corpus counts of the doc's bigrams) / n_bigrams
      rare_ratio  = (bigrams with corpus count == 1) / n_bigrams

    Both are a SINGLE division of two exact bigint sums — deterministic
    under any partitioning, replayed bit-for-bit by the ta_bigram_support
    oracle. Docs with fewer than 2 tokens have no bigrams and are
    excluded (documented; a consumer left-joins them back as unscored).

    Scale shape (100 TB): bigrams are built IN-ROW (two shifted slices
    zipped — no pos+1 self-join), then the exploded bigram table is
    PERSISTED at the branch point so the corpus-count aggregate and the
    per-doc join share one text scan + explode (same pattern as
    minhash_dedup's staged token ids; without the persist the two
    subplans differ below their exchanges and ReuseExchange cannot
    deduplicate them — r5 review finding). The join is keyed by the
    bigram string (AQE handles the Zipf head).

    `min_count` (VERDICT r5 ask #7): the count table is PRUNED to
    corpus count >= min_count BEFORE the join — on a Zipf corpus the
    hapax tail is most of the distinct bigrams, so this shrinks the
    join's build side by 2-10x at web scale. A doc bigram absent from
    the pruned table is coalesced to count 1. min_count=2 (the default)
    is LOSSLESS: the bigram exists in the corpus (the doc itself holds
    it), so absent-from-pruned means corpus count exactly 1 — support
    and rare_ratio are bit-identical to the unpruned computation.
    min_count=1 disables pruning; min_count>2 trades exactness for a
    smaller table (absent counts in [1, min_count-1] are floored to 1
    and classified rare — a documented lower bound on avg_support).
    The persist handle rides the output — release with
    cache.release_caches after the action."""
    from gliner_spark.cache import attach_caches

    arr = F.split("text", " ")
    n = F.size(arr)
    bigrams = F.zip_with(
        F.slice(arr, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = docs.select("doc_id", F.explode(bigrams).alias("bg")).persist()
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    if min_count > 1:
        bgc = bgc.filter(F.col("c") >= min_count)
    return attach_caches(
        bg.join(bgc, "bg", "left")
        .withColumn("c", F.coalesce("c", F.lit(1)))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("support_sum"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long").alias("n_rare"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("support_sum").cast("long").alias("support_sum"),
            "n_rare",
            (F.col("support_sum").cast("double") / F.col("n_bigrams"))
            .alias("avg_support"),
            (F.col("n_rare").cast("double") / F.col("n_bigrams"))
            .alias("rare_ratio"),
        )
        .orderBy("doc_id"),
        bg,
    )


WINNOW_K = 3   # tokens per k-gram
WINNOW_W = 4   # k-gram hashes per winnowing window
WINNOW_POS_BITS = 20  # position packing for the rightmost-tie min key


def gram_hash_array(ids, k: int = WINNOW_K):
    """In-row array of k-token-gram rolling hashes over a token-id
    array column: gh = left fold (acc*131 + token_id) % P31 per window.
    Shared by gram_postings and the shingle-space LSH staging
    (dedup.staged_shingle_ids)."""
    n = F.size(ids)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.aggregate(
                F.slice(ids, i + 1, k),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * F.lit(131) + x) % F.lit(P31),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))


def gram_postings(docs: DataFrame, k: int = WINNOW_K) -> DataFrame:
    """(doc_id, pos, gh) k-token-gram rolling-hash postings — the shared
    in-row (zero-shuffle) gram stage behind winnow_fingerprints and the
    containment verifier (dedup.containment_pairs)."""
    grams = gram_hash_array(F.col("_ids"), k)
    return docs.select(
        "doc_id", token_id_array("text").alias("_ids")
    ).select("doc_id", F.posexplode(grams).alias("pos", "gh"))


def _winnow_gram_rows(docs: DataFrame, k: int, bound: int | None):
    """Bounded collect of the SPARK-computed per-doc gram-hash arrays
    (one row per doc) — the shared input of the r7 winnow-family driver
    replays. Engine-exact by construction: tokenization and gram
    hashing stay in Spark expressions."""
    # two-stage select like gram_postings: _ids must be a materialized
    # projection, NOT an inlined expression — inlining re-tokenizes the
    # document once per gram slice (O(n_tokens^2) per doc)
    staged = docs.select(
        "doc_id", token_id_array("text").alias("_ids")
    ).select("doc_id", gram_hash_array(F.col("_ids"), k).alias("_ghs"))
    return gate.collect_rows(staged, ("doc_id", "_ghs"), bound, "docs")


def _winnow_fps_driver(rows, w: int):
    """{doc_id: sorted [(fp_pos, fp), ...]} — the winnowing window-min
    selection replayed (packed rightmost-tie key, full windows only,
    whole-doc window when grams < w), value-identical to the
    distributed window plan."""
    import numpy as np

    pos_cap = 1 << WINNOW_POS_BITS
    out = {}
    for doc_id, ghs in rows:
        m = len(ghs)
        if m == 0:
            continue
        g = np.asarray(ghs, dtype=np.int64)
        keys = g * pos_cap + (pos_cap - 1 - np.arange(m, dtype=np.int64))
        if m < w:
            wmins = keys.min(keepdims=True)
        else:
            wmins = np.lib.stride_tricks.sliding_window_view(
                keys, w
            ).min(axis=1)
        fps = {
            (int(pos_cap - 1 - wk % pos_cap), int(wk // pos_cap))
            for wk in wmins.tolist()
        }
        out[doc_id] = sorted(fps)
    return out



def winnow_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W,
    sort: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
    window of w consecutive gram hashes over the document, and record
    the MINIMUM hash of each window (rightmost position on ties), keeping
    one row per distinct (doc_id, position). Guarantees every shared
    substring of length >= w+k-1 tokens contributes at least one common
    fingerprint, while storing only ~2/(w+1) of the grams — the
    robust local fingerprint selection for plagiarism / near-dup overlap
    detection that pairs with the global rolling hash of
    doc_fingerprint.

    Determinism trick: the rightmost-argmin of a window is a SINGLE
    integer min over packed keys gh * 2^POS_BITS + (2^POS_BITS-1 - pos)
    (gram hash < 2^31, so the key fits a long; positions must be <
    2^POS_BITS = ~1M tokens/doc). The ta_winnowing oracle replays the
    identical window min. Only full windows select (plus the whole doc
    as one window when it has fewer than w grams), matching the paper.

    Scale shape: token ids, gram hashes and pack keys are all in-row
    array expressions (zero shuffle); the only exchange is the
    partition-by-doc window — the same single-shuffle shape as
    sessionization. Fingerprints per doc are ~n/w·2/(w+1), so output is
    a constant fraction of the corpus regardless of scale."""
    # NOTE r7: deliberately NOT driver-gated — the fingerprint table is
    # corpus-row-sized (~n_grams/w rows per doc), so a local-relation
    # emission costs as much as the single window shuffle it would
    # replace (measured a wash at sf0.1); the winnow-family gates live
    # in the PAIR consumers (winnow_overlap_pairs / containment_pairs),
    # whose outputs are pair-sized.
    staged = gram_postings(docs, k)
    from pyspark.sql import Window

    pos_cap = 1 << WINNOW_POS_BITS
    key = F.col("gh") * F.lit(pos_cap) + (F.lit(pos_cap - 1) - F.col("pos"))
    wn = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    keyed = staged.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("total"),
        F.min(key).over(wn).alias("wkey"),
    )
    out = (
        keyed.filter(
            (F.col("pos") <= F.col("total") - w)
            | ((F.col("total") < w) & (F.col("pos") == 0))
        )
        .select(
            "doc_id",
            (F.lit(pos_cap - 1) - F.col("wkey") % F.lit(pos_cap))
            .cast("long")
            .alias("fp_pos"),
            F.expr(f"wkey DIV {pos_cap}").cast("long").alias("fp"),
        )
        .distinct()
    )
    # sort=False for composing consumers (winnow_overlap_pairs): no
    # global sort below their joins
    return out.orderBy("doc_id", "fp_pos") if sort else out
