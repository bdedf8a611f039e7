"""Graph materialization with per-partition lineage and resume.

Checkpoint/resume design (SURVEY §4 item 4; north rule "resumable from
checkpoint with per-partition lineage + metrics"):

- every document maps to a bucket = pmod(xxhash64(doc_id), B). Buckets are
  the unit of work, commit, and resume.
- the expensive stage (model extraction) writes mentions/triples_raw
  partitioned by bucket using DYNAMIC partition overwrite: re-running a
  bucket after a mid-write crash overwrites its partial files instead of
  duplicating them -> idempotent per-bucket exactly-once.
- a lineage row (bucket, run_id, counts, wall_ms) is appended ONLY after the
  bucket's data write succeeded; resume anti-joins pending buckets against
  lineage (left_anti — SURVEY §2.3 joins row).
- canonicalization/triple-rewrite is global and cheap relative to
  extraction, so finalize_graph() recomputes it over the full mentions
  table each run (same contract as an Iceberg snapshot rebuild of derived
  tables).

On a real cluster the same layout maps 1:1 onto Iceberg via the ``fmt``
flag (TableIO below): partitioned table writes become snapshot commits
(``writeTo(ident).overwritePartitions()``), the parquet pre-delete step
disappears (Iceberg's dynamic overwrite is transactional and removes
vanished partitions), and every lineage row carries the commit's
``snapshot_id`` read from the table's ``.snapshots`` metadata. The sandbox
has no Iceberg runtime jar, so ``fmt="parquet"`` (default) is the
self-contained path; ``fmt="iceberg"`` is exercised on a cluster by
setting the catalog configs in session.cluster_conf and passing the
catalog.namespace prefix as ``base`` (exact calls in SCALE.md).
"""

from __future__ import annotations

import os
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gliner_spark.config import PipelineConfig
from gliner_spark.core.model import GlinerSparkModel
from gliner_spark.operators.extraction import (
    extract_graph,
    mentions_table,
    triples_raw_table,
)
from gliner_spark.operators.linking import canonicalize, rewrite_triples

LINEAGE_SCHEMA = (
    "bucket int, run_id string, status string, doc_id_min string, "
    "doc_id_max string, n_docs long, n_mentions long, "
    "n_triples long, wall_ms long, ts double, snapshot_id string"
)


class TableIO:
    """Format seam between the sandbox (parquet directories under `base`)
    and a cluster (Iceberg tables under a `catalog.namespace` prefix).

    fmt="parquet": read/write paths; dynamic partition overwrite +
      explicit pre-delete of re-run partitions; snapshot_id is null.
    fmt="iceberg": identifiers are f"{base}.{table}"; overwrite-partitions
      is ``df.writeTo(ident).overwritePartitions()``; append is
      ``df.writeTo(ident).append()``; snapshot_id() reads the latest
      commit from ``{ident}.snapshots`` for the lineage row.

    Re-run hygiene: overwritePartitions (like parquet dynamic overwrite)
    replaces only partitions PRESENT in the new data — a re-run bucket
    that now legitimately produces zero rows would leave the crashed
    attempt's rows visible. delete_partitions() is therefore called for
    the pending buckets in BOTH modes before writing: an fs delete under
    parquet, a transactional ``DELETE FROM ident WHERE col IN (...)``
    (Iceberg overwrite-by-filter) under iceberg.
    """

    def __init__(self, spark: SparkSession, base: str, fmt: str = "parquet"):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported format: {fmt!r}")
        self.spark, self.base, self.fmt = spark, base, fmt

    def _ident(self, table: str) -> str:
        # nested staging layouts ("stream/mentions") flatten to legal
        # identifiers ("stream_mentions") under a catalog namespace
        return f"{self.base}.{table.replace('/', '_')}"

    def read(
        self, table: str, schema: Optional[str] = None, required: bool = False
    ) -> Optional[DataFrame]:
        """required=False (default) returns None for a missing OPTIONAL
        table (lineage on first run, stream staging). Post-write read-backs
        pass required=True so a real read error (permissions, corrupt
        footer, wrong base) surfaces as the underlying Spark exception
        instead of a downstream NoneType AttributeError."""
        try:
            if self.fmt == "parquet":
                r = self.spark.read
                if schema:
                    r = r.schema(schema)
                return r.parquet(os.path.join(self.base, table))
            return self.spark.read.table(self._ident(table))
        except Exception:
            if required:
                raise
            return None

    def exists(self, table: str) -> bool:
        """Existence check WITHOUT swallowing read errors: distinguishes
        'table is absent' (False) from 'table is present but unreadable'
        (True — let a required read surface the real exception). r5
        code-review: required=False turning a permissions error or corrupt
        footer into None converted infra faults into silent fallbacks."""
        if self.fmt == "parquet":
            return os.path.isdir(os.path.join(self.base, table))
        return self.spark.catalog.tableExists(self._ident(table))

    def overwrite_partitions(self, df: DataFrame, table: str, part_col: str) -> None:
        if self.fmt == "parquet":
            df.write.mode("overwrite").partitionBy(part_col).parquet(
                os.path.join(self.base, table)
            )
            return
        ident = self._ident(table)
        if not self.spark.catalog.tableExists(ident):
            df.writeTo(ident).using("iceberg").partitionedBy(part_col).create()
        else:
            df.writeTo(ident).overwritePartitions()

    def overwrite(self, df: DataFrame, table: str) -> None:
        if self.fmt == "parquet":
            df.write.mode("overwrite").parquet(os.path.join(self.base, table))
        else:
            df.writeTo(self._ident(table)).using("iceberg").createOrReplace()

    def append(self, df: DataFrame, table: str) -> None:
        if self.fmt == "parquet":
            df.write.mode("append").parquet(os.path.join(self.base, table))
            return
        ident = self._ident(table)
        if not self.spark.catalog.tableExists(ident):
            df.writeTo(ident).using("iceberg").create()
        else:
            df.writeTo(ident).append()

    def delete_partitions(self, table: str, col: str, values) -> None:
        """Remove the given partitions before a re-run write (see class
        doc): fs delete for parquet, transactional DELETE for iceberg."""
        values = [int(v) for v in values]
        if not values:
            return  # 'IN ()' would be a parse error under iceberg
        if self.fmt == "parquet":
            import shutil

            for v in values:
                p = os.path.join(self.base, table, f"{col}={v}")
                if os.path.exists(p):
                    shutil.rmtree(p, ignore_errors=True)
            return
        ident = self._ident(table)
        if self.spark.catalog.tableExists(ident):
            self.spark.sql(
                f"DELETE FROM {ident} WHERE {col} IN "
                f"({', '.join(str(v) for v in values)})"
            )

    def snapshot_id(self, table: str) -> Optional[str]:
        """Latest Iceberg commit id of `table` (None for parquet) — keys
        the lineage row to the exact snapshot the bucket committed in, so
        resume-from-checkpoint can pin reads with VERSION AS OF."""
        if self.fmt == "parquet":
            return None
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._ident(table)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return str(row.snapshot_id) if row else None


def with_bucket(docs: DataFrame, buckets: int) -> DataFrame:
    return docs.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int"))


def read_lineage(
    spark: SparkSession, base: str, fmt: str = "parquet"
) -> Optional[DataFrame]:
    return TableIO(spark, base, fmt).read("lineage", schema=LINEAGE_SCHEMA)


def done_buckets(spark: SparkSession, base: str, fmt: str = "parquet") -> List[int]:
    lin = read_lineage(spark, base, fmt)
    if lin is None:
        return []
    return [
        r.bucket
        for r in lin.filter(F.col("status") == "done").select("bucket").distinct().collect()
    ]


def bucket_stats(graph: DataFrame) -> dict:
    """Per-bucket lineage counts of a bucketed graph frame (GRAPH_DDL +
    bucket), in one aggregate: {bucket: Row(bucket, doc_id_min,
    doc_id_max, n_docs, n_mentions, n_triples)}, the counts in
    LINEAGE_SCHEMA order. Buckets without docs are absent. The mention /
    triple counts are array sizes, i.e. the rows mentions_table /
    triples_raw_table explode them into."""

    def n_items(col: str):
        # size(null) is -1 under Spark's default sizeOfNull setting
        return F.sum(F.when(F.col(col).isNull(), 0).otherwise(F.size(col)))

    rows = graph.groupBy("bucket").agg(
        F.min("doc_id").alias("doc_id_min"),
        F.max("doc_id").alias("doc_id_max"),
        F.count(F.lit(1)).alias("n_docs"),
        n_items("mentions").alias("n_mentions"),
        n_items("triples").alias("n_triples"),
    ).collect()
    return {r.bucket: r for r in rows}


def lineage_frame(
    spark: SparkSession,
    buckets,
    stats: dict,
    run_id: str,
    status: str,
    wall_ms: int,
    snapshot_id: Optional[str] = None,
) -> DataFrame:
    """LINEAGE_SCHEMA rows for `buckets`, counts from bucket_stats; a
    bucket with no docs gets zero counts and null doc_id bounds."""
    ts, no_docs = time.time(), (None, None, 0, 0, 0)
    rows = [
        (int(b), run_id, status, *(stats[b][1:] if b in stats else no_docs),
         int(wall_ms), ts, snapshot_id)
        for b in buckets
    ]
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    model: GlinerSparkModel,
    base: str,
    run_id: Optional[str] = None,
    bucket_limit: Optional[int] = None,
    labels=None,
    fmt: str = "parquet",
) -> dict:
    """Resumable extraction: process only buckets with no 'done' lineage row.

    bucket_limit processes at most N pending buckets (used by the kill/rerun
    test to simulate a mid-run crash between bucket commits).
    labels restricts extraction to a label subset (zero-shot selection).
    fmt selects the sink format (TableIO): "parquet" (sandbox default) or
    "iceberg" (cluster profile — `base` becomes a catalog.namespace).
    """
    io = TableIO(spark, base, fmt)
    cfg = model.config
    run_id = run_id or uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if cfg.arrow_target_mb:
        from gliner_spark.core.batching import calibrate_arrow_batch

        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            calibrate_arrow_batch(docs, cfg.arrow_target_mb),
        )

    done = set(done_buckets(spark, base, fmt))
    docs_b = with_bucket(docs, cfg.lineage_buckets)
    pending = sorted(set(range(cfg.lineage_buckets)) - done)
    if bucket_limit is not None:
        pending = pending[:bucket_limit]
    if not pending:
        return {"run_id": run_id, "buckets": 0, "n_docs": 0}

    # left_anti equivalent over a tiny list -> isin (broadcast predicate
    # pushed into the scan; at Iceberg scale this prunes partitions)
    todo = docs_b.filter(F.col("bucket").isin(pending))

    t0 = time.time()
    graph = extract_graph(
        todo.select("doc_id", "spans", "bucket"), model, labels=labels
    )
    # bucket is recomputed from doc_id (cheaper than carrying it through
    # the UDF and keeps GRAPH_DDL independent of lineage config).
    # Hash-repartition on bucket BEFORE the persist: a partitionBy("bucket")
    # writer emits one file per (task, bucket-value) pair, so without
    # co-location each table write fans out into input partitions x
    # buckets tiny files (BENCH.md, round 4). With every bucket in exactly
    # one task, each table gets one file per bucket. The task count is
    # min(buckets, cores): more tasks than cores only adds per-task cost
    # on few-KB partitions, and on >= B cores the plan is one bucket per
    # task. The extraction UDF still runs at input parallelism on the map
    # side of this exchange; the sort hands the writers bucket-ordered
    # rows, and the persist is the branch point the three writes and the
    # lineage aggregate share.
    n_tasks = min(cfg.lineage_buckets, spark.sparkContext.defaultParallelism)
    graph = (
        with_bucket(graph, cfg.lineage_buckets)
        .repartition(n_tasks, "bucket")
        .sortWithinPartitions("bucket")
        .persist()
    )

    mentions = mentions_table(graph.select("doc_id", "mentions"))
    triples = triples_raw_table(graph.select("doc_id", "triples"))
    m_b = with_bucket(mentions, cfg.lineage_buckets)
    t_b = with_bucket(triples, cfg.lineage_buckets)
    fp = graph.select("doc_id", "span_fp", "bucket")

    # pre-delete pending partitions in BOTH modes: dynamic overwrite
    # (parquet and Iceberg alike) cannot remove a partition absent from
    # the new data — the zero-row re-run bucket case
    for tbl in ("mentions", "triples_raw", "span_fp"):
        io.delete_partitions(tbl, "bucket", pending)

    io.overwrite_partitions(m_b, "mentions", "bucket")
    io.overwrite_partitions(t_b, "triples_raw", "bucket")
    io.overwrite_partitions(fp, "span_fp", "bucket")
    wall_ms = int((time.time() - t0) * 1000)

    # lineage appended only after data committed — one row per ATTEMPTED
    # bucket (empty buckets included, else they would be re-attempted
    # forever). Counts come from the persisted graph the writes consumed:
    # one row per doc in span_fp, one mentions / triples_raw row per
    # array element, so they equal the written tables' per-bucket counts.
    stats = bucket_stats(graph)
    lineage = lineage_frame(
        spark, pending, stats, run_id, "done", wall_ms,
        # Iceberg: the mentions table's commit for this bucket batch, so
        # resume/audit can pin reads with VERSION AS OF; null under plain
        # parquet (no snapshot concept)
        snapshot_id=io.snapshot_id("mentions"),
    )
    io.append(lineage, "lineage")
    graph.unpersist()
    n_docs = sum(s.n_docs for s in stats.values())
    return {"run_id": run_id, "buckets": len(pending), "n_docs": n_docs, "wall_ms": wall_ms}


def finalize_graph(
    spark: SparkSession,
    base: str,
    cfg: PipelineConfig,
    run_id: str = "",
    fmt: str = "parquet",
) -> dict:
    """Canonicalize entities over the full mentions table and rewrite triples
    onto canonical ids; write entities/triples/metrics.

    Inputs = batch layout (base/mentions, base/triples_raw) UNIONED with the
    streaming staging layout (base/stream/*, written by
    streaming/pipeline.run_stream_pipeline). Streamed rows whose doc_id was
    later re-extracted by a batch run (present in base/span_fp) are dropped
    — batch supersedes stream, so mixed streaming+batch ingestion never
    double-counts and a batch overwrite can never delete streamed data
    (separate staging layout; the round-1 mixed-mode loss bug)."""
    io = TableIO(spark, base, fmt)
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    mentions = io.read("mentions")
    triples_raw = io.read("triples_raw")
    sm = io.read("stream/mentions")
    st = io.read("stream/triples_raw")
    if sm is not None:
        fp = io.read("span_fp")
        if fp is not None:
            batch_docs = fp.select("doc_id")
            sm = sm.join(batch_docs, "doc_id", "left_anti")
            if st is not None:
                st = st.join(batch_docs, "doc_id", "left_anti")
        mentions = (
            mentions.unionByName(sm.select(*mentions.columns))
            if mentions is not None else sm
        )
        # st can be absent if a micro-batch crashed between the two staging
        # writes (mentions committed, triples not) — merge what exists
        if st is not None:
            triples_raw = (
                triples_raw.unionByName(st.select(*triples_raw.columns))
                if triples_raw is not None else st
            )
    if mentions is None:
        raise FileNotFoundError(
            f"no extracted data under {base} (neither batch nor stream layout)"
        )
    if triples_raw is None:  # mentions-only state (partial stream crash)
        triples_raw = spark.createDataFrame(
            [],
            "doc_id string, subj string, pred string, obj string, "
            "subj_type string, obj_type string, score double",
        )
    entities, surface_map = canonicalize(mentions, cfg)
    triples = rewrite_triples(triples_raw, surface_map)
    io.overwrite(entities, "entities")
    io.overwrite(triples, "triples")
    # the rich surface map (label, norm, entity_id, canonical, n_mentions)
    # is the state a later DELTA finalize rebuilds from
    # (finalize_graph_incremental / linking.canonicalize_incremental)
    io.overwrite(surface_map, "surface_map")
    wall_ms = int((time.time() - t0) * 1000)
    n_e = io.read("entities", required=True).count()
    n_t = io.read("triples", required=True).count()
    snap = io.snapshot_id("triples")
    rows = [
        (run_id, "finalize", "entities", float(n_e), time.time(), snap),
        (run_id, "finalize", "triples", float(n_t), time.time(), snap),
        (run_id, "finalize", "wall_ms", float(wall_ms), time.time(), snap),
    ]
    # skew-guard audit rows — "no silent caps": the LSH block cap inside
    # canonicalize audits its dropped rows (one tiny agg over the
    # persisted surface table)
    from gliner_spark.metrics import skew_metrics

    for obs_name, vals in skew_metrics(entities).items():
        for metric, value in vals.items():
            rows.append(
                (run_id, "finalize", f"skew.{obs_name}.{metric}",
                 float(value), time.time(), snap)
            )
    metrics = spark.createDataFrame(
        rows,
        "run_id string, stage string, metric string, value double, "
        "ts double, snapshot_id string",
    )
    io.append(metrics, "metrics")
    from gliner_spark.cache import release_caches

    release_caches(entities)  # canonicalize's branch-point persists
    return {"entities": n_e, "triples": n_t, "wall_ms": wall_ms}


def finalize_graph_incremental(
    spark: SparkSession,
    base: str,
    cfg: PipelineConfig,
    new_mentions: DataFrame,
    new_triples_raw: Optional[DataFrame] = None,
    run_id: str = "",
    fmt: str = "parquet",
) -> dict:
    """DELTA finalize (VERDICT r3 ask #3): fold newly arrived mentions/
    triples into the already-finalized graph WITHOUT re-running linking/CC
    over the full surface vocabulary.

    new_mentions / new_triples_raw: the rows staged since the previous
    finalize (e.g. the streaming staging layout's fresh micro-batches) —
    the CALLER owns that delta contract; docs already reflected in the
    graph must not be passed again.

    Linking/CC run only on the delta surfaces + their touched components
    (linking.canonicalize_incremental); the existing triples table is
    MERGE-style updated via the (old_entity_id -> new_entity_id) remap
    (apply_entity_remap — under Iceberg a literal MERGE INTO), and the
    delta triples are rewritten against the fresh map and appended. Output
    tables are byte-equal to a full finalize over old+new mentions
    (tests/test_incremental_finalize.py), modulo the documented
    cap-crossing edge in canonicalize_incremental.

    Migration (ADVICE r4, hardened by the r5 review): graphs finalized
    before the rich 5-column surface_map existed (pre-r4: none, or the
    legacy 3-column map) cannot seed a delta rebuild. When the stored map
    is missing or legacy and the base holds ONLY the batch mentions
    layout, this falls back ONCE: a full finalize_graph rebuilds the rich
    map from the stored tables, then the caller's delta folds through the
    NORMAL incremental path against the fresh map (the delta is never
    silently discarded). When stream STAGING exists the fallback would
    bypass finalize_stream_delta's committed-batch filter (folding
    half-staged micro-batches triples-less and double-counting them
    later), so that case raises with the explicit migration instruction
    instead. Absence is checked with io.exists — a permissions error or
    corrupt footer on a PRESENT map surfaces as the real exception, never
    as a silent destructive re-finalize."""
    from gliner_spark.operators.linking import (
        apply_entity_remap,
        canonicalize_incremental,
    )

    io = TableIO(spark, base, fmt)
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    old_map = io.read("surface_map", required=True) if io.exists("surface_map") else None
    _rich_cols = {"label", "norm", "entity_id", "canonical", "n_mentions"}
    if old_map is None or not _rich_cols.issubset(set(old_map.columns)):
        have = [] if old_map is None else sorted(old_map.columns)
        if io.exists("stream/mentions"):
            raise ValueError(
                f"surface_map under {base!r} is missing or legacy (columns "
                f"{have}) and stream staging exists: an automatic full "
                "finalize would fold uncommitted micro-batches. Migrate "
                "explicitly: run finalize_graph once (accepting its "
                "fold-all-staging semantics), then re-run the delta"
            )
        if io.exists("mentions"):
            # one-time migration: rebuild the rich map from the stored
            # batch layout, then fold the caller's delta normally
            full = finalize_graph(spark, base, cfg, run_id=run_id, fmt=fmt)
            out = finalize_graph_incremental(
                spark, base, cfg, new_mentions, new_triples_raw,
                run_id=run_id, fmt=fmt,
            )
            return {
                **out,
                "migrated_full_finalize": True,
                "migration_entities": full["entities"],
            }
        raise ValueError(
            f"surface_map under {base!r} is missing or legacy (columns "
            f"{have}; delta finalize needs {sorted(_rich_cols)}) and no "
            "mentions layout exists to migrate from - run finalize_graph "
            "once over the full mentions table to rebuild the rich map"
        )
    old_triples = io.read("triples", required=True)
    entities, surface_map, remap = canonicalize_incremental(
        new_mentions, old_map, cfg
    )
    kept_triples = apply_entity_remap(old_triples, remap)
    if new_triples_raw is not None:
        triples = kept_triples.unionByName(
            rewrite_triples(new_triples_raw, surface_map)
        )
    else:
        triples = kept_triples
    # the new triples/surface_map tables derive from the OLD ones — stage
    # them before overwriting the tables their plans read (self-overwrite
    # would corrupt under parquet; Iceberg's snapshot isolation would not
    # need this)
    staged_t = triples.localCheckpoint()
    staged_sm = surface_map.localCheckpoint()
    # collect the skew audits BEFORE any overwrite: their plans scan the
    # OLD surface_map files — reading them after the overwrite would
    # either describe the wrong table version or fail on vanished files
    # (code-review r4 finding, empirically reproduced both ways)
    from gliner_spark.metrics import skew_metrics

    skew = skew_metrics(entities)
    io.overwrite(entities, "entities")
    io.overwrite(staged_t, "triples")
    io.overwrite(staged_sm, "surface_map")
    wall_ms = int((time.time() - t0) * 1000)
    n_e = io.read("entities", required=True).count()
    n_t = io.read("triples", required=True).count()
    snap = io.snapshot_id("triples")
    rows = [
        (run_id, "finalize_delta", "entities", float(n_e), time.time(), snap),
        (run_id, "finalize_delta", "triples", float(n_t), time.time(), snap),
        (run_id, "finalize_delta", "wall_ms", float(wall_ms), time.time(), snap),
    ]
    for obs_name, vals in skew.items():
        for metric, value in vals.items():
            rows.append(
                (run_id, "finalize_delta", f"skew.{obs_name}.{metric}",
                 float(value), time.time(), snap)
            )
    metrics = spark.createDataFrame(
        rows,
        "run_id string, stage string, metric string, value double, "
        "ts double, snapshot_id string",
    )
    io.append(metrics, "metrics")
    from gliner_spark.cache import release_caches

    release_caches(entities)
    return {"entities": n_e, "triples": n_t, "wall_ms": wall_ms}


def finalize_stream_delta(
    spark: SparkSession,
    base: str,
    cfg: PipelineConfig,
    run_id: str = "",
    fmt: str = "parquet",
) -> dict:
    """Fold the NOT-YET-FOLDED streamed docs into the graph — the
    auto-discovery front end of finalize_graph_incremental, so callers do
    not have to track the delta themselves. Discovery contract:

      delta = stream staging rows OF COMMITTED micro-batches
              MINUS docs a batch run extracted (span_fp — batch
                    supersedes stream, the mixed-mode rule)
              MINUS docs a previous delta finalize already folded
                    (the `stream_finalized` watermark table this
                    function appends after a successful fold)

    Committed = the micro-batch's lineage row exists: run_stream_pipeline
    appends it AFTER both staging writes, so a batch whose mentions
    landed but whose triples_raw write is still in flight is never folded
    with its triples silently missing (the rows carry `_batch_id`; legacy
    staging layouts without the column fall back to folding everything).

    Repeated SUCCESSFUL calls are incremental and idempotent: a call with
    nothing new returns {'folded_docs': 0} without touching the graph
    tables. The fold and the watermark append are two separate parquet
    writes, NOT one transaction: a crash between them re-folds the same
    docs on the next call (double-counting their mentions). Under Iceberg
    the pair maps to one transaction (MERGE the graph tables + append the
    watermark in a single commit / WAP) and the window disappears; under
    plain parquet, recover by restoring the previous entities/triples/
    surface_map (the previous finalize's outputs) before re-running.
    `stream_finalized` is one doc_id column (same scale class as
    span_fp); under Iceberg it appends as snapshot commits like lineage.
    """
    io = TableIO(spark, base, fmt)
    run_id = run_id or uuid.uuid4().hex[:12]
    sm = io.read("stream/mentions")
    if sm is None:
        return {"folded_docs": 0, "skipped": "no stream staging"}
    st = io.read("stream/triples_raw")
    if "_batch_id" in sm.columns:
        lin = read_lineage(spark, base, fmt)
        # tolerant parse (ADVICE r4): only `stream-<n>` run_ids carry a
        # committed batch id; legacy or foreign-format lineage rows (e.g.
        # a batch finalize sharing the table) are skipped, not fatal
        committed = []
        if lin is not None:
            for r in (
                lin.filter(F.col("status") == "streamed")
                .select("run_id").distinct().collect()
            ):
                head, sep, tail = str(r.run_id).partition("-")
                if head == "stream" and sep and tail.isdigit():
                    committed.append(int(tail))
        sm = sm.filter(F.col("_batch_id").isin(committed))
        if st is not None and "_batch_id" in st.columns:
            st = st.filter(F.col("_batch_id").isin(committed))
    fp = io.read("span_fp")
    if fp is not None:
        batch_docs = fp.select("doc_id")
        sm = sm.join(batch_docs, "doc_id", "left_anti")
        if st is not None:
            st = st.join(batch_docs, "doc_id", "left_anti")
    done = io.read("stream_finalized")
    if done is not None:
        folded = done.select("doc_id")
        sm = sm.join(folded, "doc_id", "left_anti")
        if st is not None:
            st = st.join(folded, "doc_id", "left_anti")
    # one tiny distinct projection decides both the no-op fast path and
    # the watermark rows appended after the fold succeeds
    new_docs = sm.select("doc_id").distinct().persist()
    n_new = new_docs.count()
    if n_new == 0:
        new_docs.unpersist()
        return {"folded_docs": 0}
    out = finalize_graph_incremental(
        spark, base, cfg, sm, st, run_id=run_id, fmt=fmt
    )
    io.append(
        new_docs.select(
            "doc_id",
            F.lit(run_id).alias("run_id"),
            F.lit(time.time()).alias("ts"),
        ),
        "stream_finalized",
    )
    new_docs.unpersist()
    return {**out, "folded_docs": n_new}


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    model: GlinerSparkModel,
    base: str,
    bucket_limit: Optional[int] = None,
    labels=None,
    fmt: str = "parquet",
) -> dict:
    """End-to-end: resumable extraction + global finalize."""
    ext = run_extraction(
        spark, docs, model, base,
        bucket_limit=bucket_limit, labels=labels, fmt=fmt,
    )
    fin = finalize_graph(spark, base, model.config, run_id=ext["run_id"], fmt=fmt)
    return {**ext, **fin}
