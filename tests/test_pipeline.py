"""End-to-end Spark pipeline tests (the north-rule gates).

- Spark extraction == single-process reference pipeline, exactly
  (triple/mention P/R gate, which therefore holds at >= 0.95).
- per-row invariant: span-sequence (kind, text, media_ref, order) equality.
- determinism under different partitionings (reference packing test
  generalized, tests/test_infer_packing.py:181).
- resumability: mid-run crash simulation (subset of buckets committed) then
  rerun — no lost and no duplicated work vs a single clean run.
"""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from gliner_spark.core.reference_impl import run_reference
from gliner_spark.operators.extraction import (
    extract_graph,
    mentions_table,
    span_fingerprint,
    triples_raw_table,
)
from gliner_spark.operators.linking import canonicalize, rewrite_triples
from gliner_spark.presets import default_model
from gliner_spark.sinks.materialize import finalize_graph, run_extraction, run_pipeline
from gliner_spark.sources.synth import gen_doc, synth_docs

N_DOCS = 400


@pytest.fixture(scope="module")
def model():
    return default_model()


@pytest.fixture(scope="module")
def docs_df(spark):
    return synth_docs(spark, N_DOCS, partitions=8).cache()


@pytest.fixture(scope="module")
def graph_df(spark, docs_df, model):
    return extract_graph(docs_df, model).cache()


def _ref_outputs(model):
    docs = [gen_doc(i) for i in range(N_DOCS)]
    return docs, *run_reference(docs, model)


def test_spark_matches_reference_exactly(spark, graph_df, model):
    docs, ref_mentions, ref_triples = _ref_outputs(model)
    got_m = {
        (r.doc_id, r.start, r.end, r.label, round(r.score, 9))
        for r in mentions_table(graph_df).collect()
    }
    want_m = {
        (m["doc_id"], m["start"], m["end"], m["label"], round(m["score"], 9))
        for m in ref_mentions
    }
    assert got_m == want_m  # P = R = 1.0 >= 0.95 gate

    got_t = {
        (r.doc_id, r.subj, r.pred, r.obj, r.subj_type, r.obj_type)
        for r in triples_raw_table(graph_df).collect()
    }
    want_t = {
        (t["doc_id"], t["subj"], t["pred"], t["obj"], t["subj_type"], t["obj_type"])
        for t in ref_triples
    }
    assert got_t == want_t


def test_triple_pr_vs_planted_gold(spark, graph_df):
    docs = [gen_doc(i) for i in range(N_DOCS)]
    gold = {
        (d["doc_id"], g["subj"], g["pred"], g["obj"])
        for d in docs
        for g in d["gold_triples"]
    }
    pred = {
        (r.doc_id, r.subj, r.pred, r.obj)
        for r in triples_raw_table(graph_df).collect()
    }
    tp = len(gold & pred)
    p = tp / max(len(pred), 1)
    r = tp / max(len(gold), 1)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_span_sequence_invariant(spark, graph_df):
    """The UDF echoes a fingerprint of the exact (kind,text,media_ref,order)
    sequence it consumed; must equal the fingerprint of the input row."""
    fp_out = {r.doc_id: r.span_fp for r in graph_df.select("doc_id", "span_fp").collect()}
    for i in range(0, N_DOCS, 7):
        d = gen_doc(i)
        assert fp_out[d["doc_id"]] == span_fingerprint(d["spans"])


def test_determinism_across_partitionings(spark, model):
    a = extract_graph(synth_docs(spark, 120, partitions=3), model)
    b = extract_graph(synth_docs(spark, 120, partitions=17), model)
    rows_a = sorted(
        (r.doc_id, r.span_fp, str(r.mentions), str(r.triples)) for r in a.collect()
    )
    rows_b = sorted(
        (r.doc_id, r.span_fp, str(r.mentions), str(r.triples)) for r in b.collect()
    )
    assert rows_a == rows_b


def test_canonicalization_links_and_rewrites(spark, graph_df, model):
    cfg = model.config
    mentions = mentions_table(graph_df)
    entities, surface_map = canonicalize(mentions, cfg)
    ents = entities.collect()
    assert len(ents) > 0
    # every entity id is (label, canonical)-keyed and unique
    ids = [e.entity_id for e in ents]
    assert len(ids) == len(set(ids))
    # all mention surfaces resolve to an entity
    n_unresolved = (
        surface_table_count := mentions.select("label", "norm").distinct()
    ).join(surface_map, ["label", "norm"], "left_anti").count()
    assert n_unresolved == 0
    # rewritten triples: every non-media subj/obj is a known entity id
    triples = rewrite_triples(triples_raw_table(graph_df), surface_map)
    known = {e.entity_id for e in ents}
    for r in triples.limit(500).collect():
        assert r.subj in known
        assert r.obj in known or r.obj_type == "media"


def test_resume_no_loss_no_duplicates(spark, model):
    docs = synth_docs(spark, 150, partitions=4)
    base_crash = tempfile.mkdtemp(prefix="gs_crash_")
    base_clean = tempfile.mkdtemp(prefix="gs_clean_")
    try:
        # simulated crash: only 5 buckets committed, then "killed"
        st1 = run_extraction(spark, docs, model, base_crash, bucket_limit=5)
        assert st1["buckets"] == 5
        # resume: picks up ONLY the remaining buckets
        st2 = run_extraction(spark, docs, model, base_crash)
        assert st2["buckets"] == model.config.lineage_buckets - 5
        # third run: nothing pending
        st3 = run_extraction(spark, docs, model, base_crash)
        assert st3["buckets"] == 0 and st3["n_docs"] == 0
        finalize_graph(spark, base_crash, model.config)

        run_pipeline(spark, docs, model, base_clean)

        for tbl in ["mentions", "triples", "entities"]:
            a = spark.read.parquet(f"{base_crash}/{tbl}")
            b = spark.read.parquet(f"{base_clean}/{tbl}")
            cols = [c for c in a.columns if c != "bucket"]
            assert a.count() == b.count(), tbl
            assert (
                a.select(cols).exceptAll(b.select(cols)).count() == 0
                and b.select(cols).exceptAll(a.select(cols)).count() == 0
            ), tbl
        # lineage covers every bucket exactly once
        lin = spark.read.parquet(f"{base_crash}/lineage")
        per_bucket = lin.groupBy("bucket").count().filter(F.col("count") > 1).count()
        assert per_bucket == 0
        assert lin.count() == model.config.lineage_buckets
    finally:
        shutil.rmtree(base_crash, ignore_errors=True)
        shutil.rmtree(base_clean, ignore_errors=True)


def _bucket_counts(df, key="bucket"):
    return {r[0]: r[1] for r in df.groupBy(key).count().collect()}


def test_lineage_counts_match_written_tables(spark, model):
    """Lineage counts are taken from the persisted graph, not from the
    written tables: after a simulated crash and a resume they must still
    equal a groupBy over span_fp / mentions / triples_raw, and buckets
    without docs (40 docs over 64 buckets) get zero counts, null bounds."""
    docs = synth_docs(spark, 40, partitions=4)
    base = tempfile.mkdtemp(prefix="gs_lin_")
    try:
        run_extraction(spark, docs, model, base, bucket_limit=7)
        st = run_extraction(spark, docs, model, base)
        fp = spark.read.parquet(f"{base}/span_fp")
        docs_per_bucket = {
            r.bucket: r
            for r in fp.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
            ).collect()
        }
        n_m = _bucket_counts(spark.read.parquet(f"{base}/mentions"))
        n_t = _bucket_counts(spark.read.parquet(f"{base}/triples_raw"))
        lin = spark.read.parquet(f"{base}/lineage").collect()
        assert sorted(r.bucket for r in lin) == list(
            range(model.config.lineage_buckets)
        )
        assert 0 < len(docs_per_bucket) < model.config.lineage_buckets
        for r in lin:
            d = docs_per_bucket.get(r.bucket)
            assert r.n_docs == (d.n if d else 0), r
            assert r.doc_id_min == (d.lo if d else None), r
            assert r.doc_id_max == (d.hi if d else None), r
            assert r.n_mentions == n_m.get(r.bucket, 0), r
            assert r.n_triples == n_t.get(r.bucket, 0), r
        assert st["n_docs"] == sum(
            r.n_docs for r in lin if r.run_id == st["run_id"]
        )
        assert sum(r.n_docs for r in lin) == 40
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bucket_partitions_hold_one_file(spark, model, docs_df):
    """Co-location contract (SCALE.md): each bucket's rows are written by
    one task, so every bucket=k directory of the three bucketed tables
    holds exactly one parquet file, not one per input partition."""
    base = tempfile.mkdtemp(prefix="gs_layout_")
    try:
        run_extraction(spark, docs_df, model, base)
        for tbl in ("mentions", "triples_raw", "span_fp"):
            dirs = glob.glob(os.path.join(base, tbl, "bucket=*"))
            assert dirs, tbl
            for d in dirs:
                files = glob.glob(os.path.join(d, "*.parquet"))
                assert len(files) == 1, (d, files)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_lineage_counts_match_staged_rows(spark, model):
    """Streamed micro-batches commit lineage rows in the full lineage
    schema whose counts equal the staged rows per (bucket, _batch_id)."""
    from gliner_spark.sinks.materialize import LINEAGE_SCHEMA
    from gliner_spark.streaming.pipeline import run_stream_pipeline

    src = tempfile.mkdtemp(prefix="gs_slin_src_")
    base = tempfile.mkdtemp(prefix="gs_slin_base_")
    ckpt = tempfile.mkdtemp(prefix="gs_slin_ckpt_")
    try:
        # 12 files at 8 files per trigger -> two micro-batches
        synth_docs(spark, 120, partitions=4).repartition(12).write.mode(
            "overwrite"
        ).parquet(src)
        q = run_stream_pipeline(spark, src, base, model, ckpt)
        q.awaitTermination(180)

        lin = spark.read.parquet(f"{base}/lineage")
        assert lin.columns == [c.split()[0] for c in LINEAGE_SCHEMA.split(", ")]
        rows = lin.collect()
        assert {r.status for r in rows} == {"streamed"}
        batch_ids = {int(r.run_id.split("-")[1]) for r in rows}
        assert len(batch_ids) == 2
        assert sum(r.n_docs for r in rows) == 120

        def staged(tbl):
            df = spark.read.parquet(f"{base}/stream/{tbl}")
            k = F.concat_ws(":", "_batch_id", "bucket").alias("k")
            return _bucket_counts(df.select(k), "k")

        n_m, n_t = staged("mentions"), staged("triples_raw")
        assert sum(n_m.values()) > 0 and sum(n_t.values()) > 0
        for r in rows:
            k = f"{r.run_id.split('-')[1]}:{r.bucket}"
            assert r.n_mentions == n_m.get(k, 0), r
            assert r.n_triples == n_t.get(k, 0), r
            assert r.n_docs > 0 and r.doc_id_min <= r.doc_id_max, r
    finally:
        for d in (src, base, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_format_seam_parquet_flag_and_lineage_snapshot_column(spark, model):
    """The TableIO format seam (sinks/materialize): fmt='parquet' is the
    sandbox path and must behave identically to the default; the lineage
    and metrics tables carry the snapshot_id column (null under parquet,
    the Iceberg commit id on a cluster). fmt='iceberg' only flips writer
    calls (documented in SCALE.md) and rejects unknown formats."""
    import pytest

    from gliner_spark.sinks.materialize import TableIO, read_lineage

    docs = synth_docs(spark, 80, partitions=4)
    base = tempfile.mkdtemp(prefix="gs_fmt_")
    try:
        out = run_pipeline(spark, docs, model, base, fmt="parquet")
        assert out["triples"] > 0
        lin = read_lineage(spark, base, fmt="parquet")
        assert "snapshot_id" in lin.columns
        assert lin.filter(F.col("snapshot_id").isNotNull()).count() == 0
        met = spark.read.parquet(f"{base}/metrics")
        assert "snapshot_id" in met.columns
        # "no silent caps": finalize appends skew-guard audit rows from the
        # linking LSH block-cap observation (zero dropped on this corpus,
        # but the rows must exist so coverage is auditable)
        skew = {
            r.metric: r.value
            for r in met.filter(F.col("metric").startswith("skew.")).collect()
        }
        assert "skew.linking_lsh_block_cap.n_dropped_rows" in skew
        assert skew["skew.linking_lsh_block_cap.n_dropped_rows"] == 0.0
        with pytest.raises(ValueError):
            TableIO(spark, base, "csv")
        # iceberg identifiers flatten staging paths to legal table names
        io = TableIO(spark, "cat.kg", "iceberg")
        assert io._ident("stream/mentions") == "cat.kg.stream_mentions"
    finally:
        shutil.rmtree(base, ignore_errors=True)
