"""Structured Streaming ingest for the scoring stage.

The reference is request/batch oriented (SURVEY §2.9) — its closest analog
is Ray Serve dynamic batching (serve/server.py:619-622). Our scoring stage
is STATELESS per document, so it lifts onto a stream unchanged: the same
mapInPandas extraction runs on a streaming DataFrame; micro-batches play
the role of dynamic batches; no watermark or stateful operator is needed.

Pattern for the stateful follow-on stages (linking/canonicalization):
foreachBatch — each micro-batch appends mentions/triples_raw via the same
bucketed writer as the batch pipeline, and finalize_graph() runs on demand;
exactly the lambda-architecture split the lineage design already supports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gliner_spark.core.model import GlinerSparkModel
from gliner_spark.operators.extraction import extract_graph
from gliner_spark.sources.synth import DOCS_DDL


def streaming_docs(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of interleaved docs (parquet drops into `path`).

    maxFilesPerTrigger bounds micro-batch size — the backpressure analog of
    the reference's memory-aware batch sizing (serve/memory.py)."""
    return (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def stream_extract(docs_stream: DataFrame, model: GlinerSparkModel) -> DataFrame:
    """Streaming mention+triple extraction — identical UDF as batch."""
    return extract_graph(docs_stream, model)


def run_stream_pipeline(
    spark: SparkSession,
    src_path: str,
    base: str,
    model: GlinerSparkModel,
    checkpoint: str,
):
    """Incremental KG construction: each micro-batch appends extracted
    mentions/triples into a STAGING layout (base/stream/*) separate from the
    batch pipeline's bucket-partitioned tables; finalize_graph() unions both
    (dropping streamed docs a batch run later re-extracted). The separation
    is load-bearing: the batch writer uses dynamic partition OVERWRITE, so
    appending streamed rows into the same partitions would get them deleted
    by any subsequent batch run over those buckets.

    Exactly-once: the streaming checkpoint guarantees each micro-batch is
    handed to foreachBatch once per successful run; a retried batch re-runs
    whole, so production sinks this through an idempotent committer (Iceberg
    MERGE keyed by batch_id — here plain parquet append, with the batch_id
    recorded in lineage for audit/replay).
    """
    import os
    import time as _time

    from pyspark.sql import functions as F

    from gliner_spark.operators.extraction import mentions_table, triples_raw_table
    from gliner_spark.sinks.materialize import bucket_stats, lineage_frame, with_bucket

    cfg = model.config
    staging = os.path.join(base, "stream")

    def process_batch(batch_df, batch_id: int):
        t0 = _time.time()
        graph = with_bucket(extract_graph(batch_df, model), cfg.lineage_buckets).persist()
        # _batch_id stamps every staged row; the lineage row appended
        # BELOW (after BOTH table writes) is the batch's commit marker —
        # finalize_stream_delta only folds rows of committed batches, so
        # a half-written batch (mentions landed, triples not yet) is
        # never folded with its triples missing
        m = with_bucket(mentions_table(graph), cfg.lineage_buckets).withColumn(
            "_batch_id", F.lit(int(batch_id))
        )
        t = with_bucket(triples_raw_table(graph), cfg.lineage_buckets).withColumn(
            "_batch_id", F.lit(int(batch_id))
        )
        m.write.mode("append").partitionBy("bucket").parquet(
            os.path.join(staging, "mentions")
        )
        t.write.mode("append").partitionBy("bucket").parquet(
            os.path.join(staging, "triples_raw")
        )
        # real per-bucket counts from the same aggregate the batch commit
        # uses (staged rows per (bucket, _batch_id) == these counts)
        stats = bucket_stats(graph)
        lin = lineage_frame(
            spark, sorted(stats), stats, f"stream-{batch_id}", "streamed",
            int((_time.time() - t0) * 1000),
        )
        lin.write.mode("append").parquet(os.path.join(base, "lineage"))
        graph.unpersist()

    stream = streaming_docs(spark, src_path)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_user_stats(events_stream: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator: per-user running
    (n_events, total_value, last_ts) via applyInPandasWithState — arbitrary
    state the built-in aggregations can't express incrementally (the
    pattern for streaming dedup-state, session carts, per-entity counters).
    State = one small tuple per user; emits the updated row per user per
    micro-batch (output mode 'update')."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_ddl = (
        "user_id long, n_events long, total_value double, last_ts timestamp"
    )
    state_ddl = "n long, total double, last timestamp"

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            n, total, last = state.get
        else:
            n, total, last = 0, 0.0, None
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((n, total, last))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total_value": total,
              "last_ts": last}]
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn, out_ddl, state_ddl, "update", GroupStateTimeout.NoTimeout
    )


def stream_exact_dedup(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: emit each distinct text's FIRST document,
    suppress every later duplicate — dedup state carried across
    micro-batches via applyInPandasWithState keyed on md5(text). The
    streaming counterpart of operators/dedup.exact_dedup; at scale the key
    space is bounded by distinct content (state = one marker per hash).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_ddl = "text_hash string, doc_id string, text string"
    state_ddl = "seen boolean, keep_id string"

    def fn(key, pdfs, state: GroupState):
        rows = []
        seen = state.exists
        for pdf in pdfs:
            # deterministic winner inside the batch: min doc_id
            pdf = pdf.sort_values("doc_id")
            if not seen and len(pdf):
                r = pdf.iloc[0]
                rows.append(
                    {"text_hash": key[0], "doc_id": r["doc_id"], "text": r["text"]}
                )
                state.update((True, r["doc_id"]))
                seen = True
        if rows:
            yield pd.DataFrame(rows, columns=["text_hash", "doc_id", "text"])

    with_hash = docs_stream.withColumn("text_hash", F.md5("text"))
    return with_hash.groupBy("text_hash").applyInPandasWithState(
        fn, out_ddl, state_ddl, "append", GroupStateTimeout.NoTimeout
    )


def stream_neardup_candidates(docs_stream: DataFrame) -> DataFrame:
    """Streaming minhash-LSH near-dup candidate pairs: the signature/band
    computation is the SAME narrow column expression as batch (dedup.py —
    it lifts onto a streaming DataFrame unchanged), and the band-bucket
    state is carried across micro-batches via applyInPandasWithState keyed
    on (band, bkey): each arriving doc pairs against every doc previously
    seen in its bucket, then joins the bucket's member list.

    Bucket cap semantics vs batch: batch drops an oversized bucket
    RETROACTIVELY (window count > MAX_BUCKET excludes the whole bucket);
    a stream cannot un-emit, so the cap here is prefix-freeze — once a
    bucket reaches MAX_BUCKET members it stops emitting and stops growing
    (state stays bounded per key). Equal outputs whenever no bucket
    overflows; the overflow case is the documented skew guard either way.
    Downstream, pairs dedup across bands in the (stateless) verify join,
    exactly like batch candidate_pairs' distinct."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from gliner_spark.operators.dedup import (
        MAX_BUCKET,
        _band_buckets,
        minhash_signatures,
    )

    # state schema is fixed (array<string>) — canonicalize the id type;
    # null/empty text would put rows in a null-bkey state group and crash
    # the query permanently (checkpoint replays the poison micro-batch)
    docs_stream = docs_stream.withColumn(
        "doc_id", F.col("doc_id").cast("string")
    ).filter(F.col("text").isNotNull() & (F.length("text") > 0))
    buckets = _band_buckets(minhash_signatures(docs_stream))

    out_ddl = "doc_a string, doc_b string, band int, bkey long"
    state_ddl = "docs array<string>"

    def fn(key, pdfs, state: GroupState):
        members = list(state.get[0]) if state.exists else []
        seen = set(members)
        rows = []
        for pdf in pdfs:
            for doc_id in sorted(pdf["doc_id"]):
                if doc_id in seen:
                    # duplicate row / redelivery: batch candidate_pairs
                    # never self-pairs (strict a < b join) — skip, and
                    # don't let re-sends inflate state toward the cap
                    continue
                if len(members) >= MAX_BUCKET:
                    break
                for prev in members:
                    a, b = (prev, doc_id) if prev < doc_id else (doc_id, prev)
                    rows.append(
                        {"doc_a": a, "doc_b": b,
                         "band": int(key[0]), "bkey": int(key[1])}
                    )
                members.append(doc_id)
                seen.add(doc_id)
        state.update((members,))
        if rows:
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "band", "bkey"])

    return buckets.groupBy("band", "bkey").applyInPandasWithState(
        fn, out_ddl, state_ddl, "append", GroupStateTimeout.NoTimeout
    )


def stream_neardup_pairs(
    docs_stream: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    emit_skip_metrics: bool = False,
) -> DataFrame:
    """Streaming VERIFIED near-dup pairs: the full minhash_dedup semantics
    (LSH banding -> exact token-set Jaccard >= threshold) incrementally.
    Band-bucket state stores each member's distinct token-id set alongside
    its doc_id (bounded: max_bucket sets per key, default dedup.MAX_BUCKET),
    so each arriving doc is exact-verified against its bucket's members
    in-place — no second join stage. Same prefix-freeze cap semantics as
    stream_neardup_candidates; pairs may re-verify in multiple bands
    (downstream dedup or set consumption, mirroring batch
    candidate_pairs' distinct).

    No silent caps: the per-bucket skip count is tracked in state, and with
    emit_skip_metrics=True every micro-batch in which a frozen bucket
    skipped docs emits one audit row (doc_a='__frozen_bucket__',
    doc_b='band:bkey', jaccard=cumulative docs skipped) — the streaming
    analog of metrics.skew_metrics; consumers filter on the sentinel."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from gliner_spark.operators.dedup import (
        MAX_BUCKET,
        _band_buckets,
        _signatures_from_ids,
        staged_token_ids,
    )

    # same null/poison guard as stream_neardup_candidates
    docs_stream = docs_stream.withColumn(
        "doc_id", F.col("doc_id").cast("string")
    ).filter(F.col("text").isNotNull() & (F.length("text") > 0))
    # the SAME batch helpers build signatures and band keys (keep=idset
    # threads the distinct id sets through for the in-state verify) — any
    # change to batch banding automatically applies here, preserving the
    # documented '== batch minhash_dedup' contract
    staged = staged_token_ids(docs_stream).select(
        "doc_id", "_ids", F.array_distinct("_ids").alias("idset")
    )
    sigs = _signatures_from_ids(staged, keep=("idset",))
    buckets = _band_buckets(sigs, keep=("idset",))

    cap = MAX_BUCKET if max_bucket is None else max_bucket
    out_ddl = "doc_a string, doc_b string, jaccard double, band int, bkey long"
    # the n_skipped state field exists ONLY when skip metrics are opted
    # into: widening the state schema unconditionally would fail
    # StateSchemaCompatibility on restart of an existing query's
    # checkpoint. Turning emit_skip_metrics on for an ESTABLISHED stream
    # therefore requires a fresh checkpoint (new feature -> new query).
    state_ddl = "docs array<string>, idsets array<array<bigint>>"
    if emit_skip_metrics:
        state_ddl += ", n_skipped long"

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            st = state.get
            docs, idsets = list(st[0]), [set(s) for s in st[1]]
            n_skipped = int(st[2] or 0) if emit_skip_metrics else 0
        else:
            docs, idsets, n_skipped = [], [], 0
        seen = set(docs)
        rows = []
        new_skips = 0
        for pdf in pdfs:
            for doc_id, ids in sorted(
                zip(pdf["doc_id"], pdf["idset"]), key=lambda t: t[0]
            ):
                if doc_id in seen:
                    continue
                if len(docs) >= cap:
                    new_skips += 1  # frozen bucket — count, don't silently drop
                    continue
                s = set(int(x) for x in ids)
                for prev, prev_s in zip(docs, idsets):
                    inter = len(s & prev_s)
                    if inter == 0:
                        continue
                    jac = inter / (len(s) + len(prev_s) - inter)
                    if jac >= threshold:
                        a, b = (prev, doc_id) if prev < doc_id else (doc_id, prev)
                        rows.append(
                            {"doc_a": a, "doc_b": b, "jaccard": jac,
                             "band": int(key[0]), "bkey": int(key[1])}
                        )
                docs.append(doc_id)
                idsets.append(s)
                seen.add(doc_id)
        n_skipped += new_skips
        if emit_skip_metrics:
            state.update((docs, [sorted(s) for s in idsets], n_skipped))
        else:
            state.update((docs, [sorted(s) for s in idsets]))
        if emit_skip_metrics and new_skips:
            rows.append(
                {"doc_a": "__frozen_bucket__",
                 "doc_b": f"{int(key[0])}:{int(key[1])}",
                 "jaccard": float(n_skipped),
                 "band": int(key[0]), "bkey": int(key[1])}
            )
        if rows:
            yield pd.DataFrame(
                rows, columns=["doc_a", "doc_b", "jaccard", "band", "bkey"]
            )

    return buckets.groupBy("band", "bkey").applyInPandasWithState(
        fn, out_ddl, state_ddl, "append", GroupStateTimeout.NoTimeout
    )


def finalize_duplicate_clusters(pairs: DataFrame, cfg=None) -> DataFrame:
    """Finalize-time duplicate CLUSTERS over a streamed verified-pair
    accumulation (VERDICT r5 ask #6): batch got dd_clusters (pairs ->
    transitive closure -> keep-first representative); the streaming path
    stopped at stream_neardup_pairs' verified pair rows. This closes the
    gap the same way streamed extraction merges at finalize — the stream
    appends pairs to a sink table as they verify, and on demand the
    accumulated BATCH view of that sink is closed into components:

        pairs = spark.read.parquet(neardup_sink)   # or .table(ident)
        clusters = finalize_duplicate_clusters(pairs)

    Semantics == batch dedup.duplicate_clusters on non-overflowing
    buckets, by construction: stream_neardup_pairs emits the same
    verified (doc_a, doc_b) set batch minhash_dedup emits (pytest-pinned),
    and the closure runs through the SAME linking.closure_clusters helper
    (cluster = MIN reachable doc_id, keep = is-representative,
    cluster_size), so keep/size/ordering semantics can never drift.

    Input hygiene: __frozen_bucket__ audit sentinels (emit_skip_metrics)
    are filtered out, and the pair set is dedup'd across bands/batches
    (a pair re-verifies in multiple bands and re-appears if the sink
    accumulated overlapping runs) — CC is idempotent on edge multiplicity
    but the distinct keeps the closure's input Zipf-collapsed. cfg
    threads the CC knobs (cc_max_iterations etc.); None = defaults."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.linking import closure_clusters

    clean = (
        pairs.filter(F.col("doc_a") != "__frozen_bucket__")
        .select("doc_a", "doc_b")
        .distinct()
    )
    return closure_clusters(clean, "doc_a", "doc_b", "doc_id", cfg)


def stream_windowed_counts(
    events_stream: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark: rows
    older than (max event time - watermark) are DROPPED, bounding state.
    The batch view of the same aggregation is entry rel_events_windowed."""
    from pyspark.sql import functions as F

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n"
        )
    )


def run_stream_to_table(
    df_stream: DataFrame,
    ident: str,
    checkpoint: str,
    available_now: bool = True,
    fmt: str | None = None,
):
    """Stream into a CATALOG TABLE (writeStream.toTable) — the streaming
    counterpart of sinks/materialize.TableIO: with an Iceberg catalog
    configured (session.cluster_conf iceberg_catalog), pass
    fmt='iceberg' and a catalog.namespace.table identifier for
    exactly-once snapshot-committed streaming ingestion; in-sandbox the
    default (parquet) provider exercises the identical code path."""
    w = df_stream.writeStream.option("checkpointLocation", checkpoint)
    if fmt:
        w = w.format(fmt)
    w = w.outputMode("append")
    if available_now:
        w = w.trigger(availableNow=True)
    return w.toTable(ident)


def run_stream_to_parquet(
    graph_stream: DataFrame, out_path: str, checkpoint: str, available_now: bool = True
):
    """Materialize the stream; availableNow drains all pending input then
    stops (used by tests and backfill runs)."""
    w = (
        graph_stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_hll_registers(triples_stream: DataFrame) -> DataFrame:
    """Streaming per-predicate HyperLogLog registers: the batch
    operator's stateless (pred, bucket, rho) projection feeds a BUILT-IN
    incremental max aggregate — Structured Streaming's native stateful
    max IS the HLL merge rule (registers combine by cell-wise max), so
    no custom applyInPandasWithState state is needed; state is bounded
    at 64 rows per distinct predicate forever, regardless of stream
    length. Emit in update mode; the register table at any drain point
    equals batch sketches.hll_build over everything ingested so far
    (exactly-once by idempotent max). The estimator stays a batch-side
    view over the registers (sketches.hll_distinct's estimate CTE)."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.sketches import hll_projection

    return (
        hll_projection(triples_stream)
        .groupBy("pred", "bucket")
        .agg(F.max("rho").cast("long").alias("m"))
    )
