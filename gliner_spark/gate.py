"""The driver gate: how every driver-gated operator decides its tier,
collects its input, and builds its local result.

About 35 operators have two tiers. Below a row bound the input is
collected once to the driver and the operator's replay kernel recomputes
the result there (numpy / pyarrow / python, arithmetic-identical to the
distributed plan). Above the bound the distributed Spark plan runs
unchanged: that is the 100 TB path. This module is the only place that
knows how the gate works; an operator supplies its collect spec, its
replay kernel and its distributed plan.

Bounds. Every tier bound is one entry of BOUNDS, read at call time; a
bound <= 0 disables that driver tier:

  kind        default  gates
  edges        500000  distinct rows of the collected view:
                       graph_analytics, kg_completion, kg_fusion,
                       kg_query, ontology, rpq, linking.closure_clusters
  docs          20000  documents: dedup.minhash_dedup,
                       winnow_overlap_pairs, containment_pairs
  vectors       20000  vectors: the similarity near-dup and ANN driver
                       family
  cc_nodes     100000  nodes: linking.connected_components (its edge
                       collect is bounded at 8x this)
  surfaces      20000  distinct surfaces: linking.canonicalize
  rpq_states  2000000  the product-BFS state budget of rpq.rpq_match

Two constants bound the raw collect itself, whatever the tier:
RAW_COLLECT_CAP (1000000 rows of the pre-aggregate frame) and
STATS_SKIP_BYTES (1 GiB: the leaf-stats size past which the collect is
skipped without a job).

Forcing a tier. No operator takes a bound of its own, so a test or a
harness forces a tier by patching BOUNDS in-process for a block (all
zeros: the distributed plan everywhere; one kind: that kind only), and
every gated call under it, nested ones included, reads the patched
value. The default table is the production policy; nothing else sets
it.

One capped collect. The module collects; operators never call
toArrow(), limit() or a collect primitive themselves. Every collect is
_arrow_collect_bounded: it reads the Arrow stream of pyspark's toArrow
batch by batch and stops past its cap, so at most cap + one batch of
rows reach the driver, whatever the frame computes (then it closes the
stream and cancels the job).
- Raw mode (`collect_raw`, `group`, `edge_rows`): a RAW, pre-aggregate
  frame, capped at RAW_COLLECT_CAP, and first sized by the leaf-stats
  probe, which skips a known-huge input without a job.
- Computed frames (`collect_rows`, the degraded tier of `group`):
  token-id arrays, quantized vectors, a cluster-side aggregate, capped
  at their bound. The stats probe sees only the leaves, so these take
  no probe: the cap alone bounds them.

Grouped rows (`group`): "group by keys, aggregate, bound, sort by keys"
has one implementation for both tiers. The raw tier (`group_table`) is
a pyarrow group_by over the raw-mode table, on int32 codes of its
keys: the driver then holds codes, not a hash table of strings, and an
over-bound view is dropped before anything is sorted or decoded.
Past RAW_COLLECT_CAP the degraded tier runs the same aggregates as a
Spark groupBy, then a collect capped at the bound.
Supported aggregates: count_all, count_distinct, min, max, sum (column
names follow pyarrow: `count_all`, `<col>_<fn>`). `dedup` is the
no-aggregate case.

Sorted output on every tier: `group`, `dedup` and `edge_rows` return
rows sorted by their keys whichever tier served them, and
`local_result` sorts the driver tier's output like the distributed plan.

Cache forwarding: `local_result` forwards the cache handles riding on
its source frame (cache.forward_caches), exactly as the operator's
distributed plan does; pass forward=False where that plan forwards
nothing. Skew-guard audits of a replay ride the output as 1-row local
frames with the capped_filter schema.

Driver edge snapshot. The gated graph operators over one triples frame
share ONE raw-mode collect of (subj, pred, obj), kept on that DataFrame
object; every later call derives its view from it in pyarrow, with no
Spark job. The views (VIEWS) are the raw spo rows, the directed
non-loop (src, dst) edges, the undirected (a, b) edges with a < b, spo
filtered to a predicate set, the non-loop spo rows, and (subj, pred).
- Lifetime is the DataFrame object. A frame is a fixed read, as with
  persist(): rows added to the table later are not seen through the same
  frame object; re-read the table to see them.
- It is not a cache handle. release_caches on an operator's output does
  not drop it, and forward_caches does not copy it. It holds Arrow
  tables only; each view is deduped, sorted and bounded per call.
- Tier decisions are those of a per-operator collect. A frame over
  RAW_COLLECT_CAP is never collected a second time: only its row counts
  are kept (total, non-loop, per predicate; folded batch by batch as
  the stream is read, each batch dropped), and a view whose counted
  raw rows exceed the cap goes straight to the degraded tier. A view
  that fits (a predicate filter, say) makes its own collect.
- A predicate-filtered view never creates the snapshot: it uses one if
  it exists, and otherwise makes its own, smaller collect.
- A frame the snapshot could not collect (no subj/pred/obj columns, a
  leaf-stats skip, a failed collect) falls back to one collect per view.
"""

from __future__ import annotations

import uuid
from collections import Counter
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.serializers import ArrowCollectSerializer
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import _load_from_socket

from gliner_spark.cache import forward_caches
from gliner_spark.metrics import attach_audits

BOUNDS = {
    "edges": 500_000,
    "docs": 20_000,
    "vectors": 20_000,
    "cc_nodes": 100_000,
    "surfaces": 20_000,
    "rpq_states": 2_000_000,
}
RAW_COLLECT_CAP = 1_000_000
STATS_SKIP_BYTES = 1 << 30


def bound(kind: str = "edges") -> int:
    """The tier bound of `kind` (a BOUNDS key), read at call time."""
    return BOUNDS[kind]


# ----------------------------------------------------------------- collects

def _stats_skip(df: DataFrame) -> bool:
    """True when the plan's KNOWN leaf sizes exceed STATS_SKIP_BYTES: a
    raw collect is then skipped without running any job (file scans
    report real bytes, so the petabyte path never collects). The LEAF
    sizes are summed, not the top-level estimate: join plans multiply
    row guesses into garbage (a ~30 MB chain join reported 1.2e15
    bytes) while leaves are trustworthy. Unknown sources report the
    Long.MaxValue-band sentinel, which is ignored: unknown is not huge."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            sz = int(str(leaves.apply(i).stats().sizeInBytes()))
            if sz < (1 << 60):
                total += sz
        return total > STATS_SKIP_BYTES
    except Exception:
        return False  # stats unavailable: the row cap still bounds memory


def _arrow_collect_bounded(df: DataFrame, cap: int, over=None):
    """The gate's one collect: pyarrow table of `df` if it has <= cap
    rows, else None.

    The Arrow stream of pyspark's own toArrow is read batch by batch and
    stops past cap rows, so at most cap + one batch of rows reach
    Python; the stream is then closed and the job cancelled. The kept
    batches become the table zero-copy, in partition order. `over`, if
    given, is called with every batch of an over-cap frame instead, and
    each batch is dropped once folded: the edge snapshot keeps its row
    counts, so the frame is never collected again. A failed collect
    (spark.driver.maxResultSize, say) is None too."""
    import pyarrow as pa

    spark = df.sparkSession
    sc = spark.sparkContext
    tag = f"gliner-spark-gate-{uuid.uuid4().hex}"
    try:
        schema = to_arrow_schema(
            df.schema,
            error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
        )
        sc.addJobTag(tag)
        try:
            with SCCallSiteSync(sc):
                port, secret, server = df._jdf.collectAsArrowToPython()
        finally:
            sc.removeJobTag(tag)
    except Exception:
        return None
    stream = _load_from_socket((port, secret), ArrowCollectSerializer())
    kept, n, order = [], 0, None
    try:
        for item in stream:
            if not isinstance(item, pa.RecordBatch):
                order = item  # the stream ends with the partition order
                break
            kept.append(item)
            n += item.num_rows
            if n > cap:
                if over is None:
                    break
                for batch in kept:
                    over(batch)
                kept = []
    except Exception:
        pass  # the job failed: order stays None
    finally:
        if order is None:
            # stopped early or failed: close the stream and end the job;
            # the serving thread then fails, its error absorbed below
            stream.close()
            sc.cancelJobsWithTag(tag)
    try:
        server.getResult()
    except Exception:
        return None
    if order is None or n > cap:
        return None
    if not kept:
        return schema.empty_table()
    return pa.Table.from_batches([kept[i] for i in order]).cast(schema)


def collect_raw(df: DataFrame, over=None):
    """Raw-mode collect of a pre-aggregate frame: pyarrow table, or None
    past RAW_COLLECT_CAP rows or STATS_SKIP_BYTES of known leaf bytes
    (the caller degrades or goes distributed)."""
    if _stats_skip(df):
        return None
    return _arrow_collect_bounded(df, RAW_COLLECT_CAP, over)


def rows(tbl) -> list:
    """Row tuples of a pyarrow table."""
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def collect_rows(df: DataFrame, cols, cap: int):
    """Collect of a computed per-row frame: row tuples of `cols` if at
    most `cap` rows (a bound(kind), or a cap computed from one), else
    None; cap <= 0 is None with no job."""
    if cap <= 0:
        return None
    tbl = _arrow_collect_bounded(df.select(*cols), cap)
    return None if tbl is None else rows(tbl)


_SPARK_AGGS = {
    "count_all": lambda _c: F.count(F.lit(1)),
    "count_distinct": F.countDistinct,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
}


def _agg_name(col, fn: str) -> str:
    return f"{col}_{fn}" if col else fn


def group_table(table, keys, aggs, b: int):
    """`table` grouped by `keys` with `aggs`, sorted by `keys`, if there
    are at most `b` groups; else None. The raw tier of `group`.

    Every key is grouped on int32 codes into its distinct values (one
    dictionary_encode pass; NULL takes the last code). Hashing codes
    holds a fraction of the memory of hashing strings; the over-bound
    case is known before anything is sorted or decoded; and the grouper
    sees keys of one type (pyarrow 16's multi-key grouper misgroups
    NULLs when the key types differ). The groups are then sorted on the
    rank of each code's value (Arrow's order, NULL last) and decoded
    with take: the rows and schema of a group_by + sort_by on the raw
    keys. An aggregate always reads the raw column, even when it is
    also a key."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    kcols = [f"k{i}" for i in range(len(keys))]
    cols, values = [], []
    for k in keys:
        enc = pc.dictionary_encode(table.column(k))
        # one dictionary, shared by every chunk of a chunked encode
        vals = (enc.chunk(0).dictionary if enc.num_chunks
                else pa.array([], enc.type.value_type))
        values.append(vals)
        cols.append(pa.chunked_array(
            [pc.fill_null(c.indices, len(vals)) for c in enc.chunks],
            pa.int32(),
        ))
    fields = [pa.field(k, pa.int32()) for k in kcols]
    inputs = {c: f"a{j}"
              for j, c in enumerate(dict.fromkeys(c for c, _fn in aggs if c))}
    for c, name in inputs.items():
        fields.append(table.schema.field(c).with_name(name))
        cols.append(table.column(c))
    out = pa.Table.from_arrays(cols, schema=pa.schema(fields)).group_by(
        kcols
    ).aggregate([(inputs[c] if c else c, fn) for c, fn in aggs])
    if out.num_rows > b:
        return None
    for i, vals in enumerate(values):
        order = pc.sort_indices(vals).to_numpy()
        rank = np.empty(len(vals) + 1, np.int32)
        rank[order] = np.arange(len(vals), dtype=np.int32)
        rank[len(vals)] = len(vals)
        out = out.set_column(
            out.schema.get_field_index(kcols[i]), kcols[i],
            pc.take(pa.array(rank), out.column(kcols[i])),
        )
        values[i] = pa.concat_arrays([vals.take(order),
                                      pa.nulls(1, vals.type)])
    out = out.sort_by([(k, "ascending") for k in kcols])
    anames = [_agg_name(inputs[c] if c else c, fn) for c, fn in aggs]
    return pa.Table.from_arrays(
        [pc.take(vals, out.column(k)) for vals, k in zip(values, kcols)]
        + [out.column(a) for a in anames],
        schema=pa.schema(
            [table.schema.field(k) for k in keys]
            + [out.schema.field(a).with_name(_agg_name(c, fn))
               for a, (c, fn) in zip(anames, aggs)]
        ),
    )


def _group_degraded(frame: DataFrame, keys, aggs, b: int):
    if aggs:
        frame = frame.groupBy(*keys).agg(*(
            _SPARK_AGGS[fn](c).alias(_agg_name(c, fn)) for c, fn in aggs
        ))
    else:
        frame = frame.select(*keys).distinct()
    out = _arrow_collect_bounded(frame, b)
    return None if out is None else out.sort_by(
        [(k, "ascending") for k in keys]
    )


def group(frame: DataFrame | None, keys, aggs=(), table=None):
    """Rows of `frame` grouped by `keys` with `aggs` ((col, fn) pairs;
    col [] for count_all), as a pyarrow table sorted by `keys`, if there
    are at most bound() groups; else None.

    The raw tier groups `table` (when the caller collected it already)
    or a raw-mode collect of the frame's columns (group_table). Past
    RAW_COLLECT_CAP the degraded tier runs the same aggregates in Spark
    and collects at most bound() + one batch of their rows; with
    `frame` None there is no degraded tier."""
    b = bound()
    if b <= 0:
        return None
    keys, aggs = list(keys), list(aggs)
    if table is None and frame is not None:
        used = keys + [c for c, _fn in aggs if c and c not in keys]
        table = collect_raw(frame.select(*dict.fromkeys(used)))
    if table is not None:
        return group_table(table, keys, aggs, b)
    return None if frame is None else _group_degraded(frame, keys, aggs, b)


def dedup(frame: DataFrame, cols):
    """Sorted distinct row tuples of `frame`'s `cols` if at most
    bound(), else None: `group` with no aggregate."""
    tbl = group(frame, cols)
    return None if tbl is None else rows(tbl)


# ------------------------------------------------------------ local results


def _local_df(spark, rows, ddl: str):
    """spark.createDataFrame through a typed pyarrow table (the Arrow
    path is ~2x faster than the py4j tuple path even at a few thousand
    rows). Bit-exact for the scalar types the replays emit (string /
    int / long / double / boolean); any parse or conversion surprise
    falls back to the tuple path."""
    try:
        import pyarrow as pa

        pa_types = {
            "string": pa.string(),
            "int": pa.int32(),
            "integer": pa.int32(),
            "bigint": pa.int64(),
            "long": pa.int64(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
        }
        fields = []
        for part in ddl.split(","):
            name, typ = part.strip().split()
            fields.append((name, pa_types[typ.lower()]))
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        tbl = pa.table(
            {name: pa.array(list(col), type=typ)
             for (name, typ), col in zip(fields, cols)}
        )
        return spark.createDataFrame(tbl)
    except Exception:
        return spark.createDataFrame(rows, ddl)


def _audit_frame(spark, audit: dict):
    """1-row audit frame from a replay's guard dict (the capped_filter
    audit schema, so skew_metrics reads both identically)."""
    return _local_df(
        spark,
        [(audit["guard"], audit["n_dropped_rows"], audit["max_group_size"],
          audit["cap"])],
        "guard string, n_dropped_rows long, max_group_size long, cap long",
    )


def local_result(src: DataFrame, rows, ddl: str, order=(), select=None,
                 audits=(), forward: bool = True) -> DataFrame:
    """The driver tier's output: `rows` as a typed local relation in
    `src`'s session, projected by `select`, sorted by `order`, with the
    replay's audit dicts attached and `src`'s cache handles forwarded."""
    spark = src.sparkSession
    out = _local_df(spark, rows, ddl)
    if select is not None:
        out = out.select(*select)
    if order:
        out = out.orderBy(*order)
    if audits:
        out = attach_audits(out, *(_audit_frame(spark, a) for a in audits))
    return forward_caches(out, src) if forward else out


# ------------------------------------------------------ driver edge snapshot

_ATTR = "_gs_edge_snapshot"

# view -> the columns of its rows
VIEWS = {
    "spo": ("subj", "pred", "obj"),
    "directed": ("src", "dst"),
    "undirected": ("a", "b"),
    "preds": ("subj", "pred", "obj"),
    "spo_nonloop": ("subj", "pred", "obj"),
    "sp": ("subj", "pred"),
}


def graph_edges_raw(triples: DataFrame) -> DataFrame:
    """Directed non-loop (src, dst) edges WITHOUT the distinct: the raw
    frame of the directed view (graph_analytics.graph_edges adds the
    distinct for the distributed plans)."""
    return (
        triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def undirected_edges_raw(triples: DataFrame) -> DataFrame:
    """Undirected (a, b) edges, a < b, WITHOUT the distinct: the raw frame
    of the undirected view."""
    return graph_edges_raw(triples).select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    )


@dataclass
class _Snapshot:
    table: object = None       # pyarrow (subj, pred, obj) table, <= cap rows
    n_rows: int | None = None  # over-cap counts, kept instead of the table
    n_nonloop: int = 0
    pred_counts: Counter = field(default_factory=Counter)  # pred -> rows

    def fold(self, batch) -> None:
        """Add an over-cap batch's row counts; the batch is then dropped."""
        import pyarrow.compute as pc

        s, p, o = batch.columns
        self.n_rows = (self.n_rows or 0) + batch.num_rows
        self.n_nonloop += int(pc.sum(pc.not_equal(s, o)).as_py() or 0)
        for vc in pc.value_counts(p).to_pylist():
            self.pred_counts[vc["values"]] += vc["counts"]

    def raw_rows(self, view: str, preds) -> int:
        """Raw (pre-distinct) rows of `view` on the over-cap frame."""
        if view in ("spo", "sp"):
            return self.n_rows
        if view == "preds":
            # Spark's `pred IN (...)` never matches a NULL
            want = set(preds) - {None}
            return sum(n for p, n in self.pred_counts.items() if p in want)
        return self.n_nonloop


def _pred_set(preds, typ):
    """Spark's `pred IN (...)` never matches a NULL, on either side."""
    import pyarrow as pa

    return pa.array(sorted({p for p in preds if p is not None}), typ)


def _view_frame(triples: DataFrame, view: str, preds=None) -> DataFrame:
    """The raw (pre-distinct) Spark frame of `view`: what the driver
    tier collects on its own, and what the degraded tier dedups."""
    if view == "directed":
        return graph_edges_raw(triples)
    if view == "undirected":
        return undirected_edges_raw(triples)
    if view == "preds":
        triples = triples.filter(F.col("pred").isin(list(preds)))
    elif view == "spo_nonloop":
        triples = triples.filter(F.col("subj") != F.col("obj"))
    return triples.select(*VIEWS[view])


def _derive(tbl, view: str, preds=None):
    """`view` of the snapshot table, computed in pyarrow with the same
    NULL semantics as _view_frame (a NULL comparison drops the row)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if view == "spo":
        return tbl
    if view == "sp":
        return tbl.select(["subj", "pred"])
    if view == "preds":
        p = tbl.column("pred")
        return tbl.filter(pc.is_in(p, value_set=_pred_set(preds, p.type)))
    nl = tbl.filter(pc.not_equal(tbl.column("subj"), tbl.column("obj")))
    if view == "spo_nonloop":
        return nl
    s, o = nl.column("subj"), nl.column("obj")
    if view == "directed":
        return pa.table({"src": s, "dst": o})
    lt = pc.less(s, o)
    return pa.table({"a": pc.if_else(lt, s, o), "b": pc.if_else(lt, o, s)})


def _snapshot(triples: DataFrame) -> _Snapshot:
    """The frame's snapshot, collected on first use."""
    snap = getattr(triples, _ATTR, None)
    if snap is None:
        snap = _Snapshot()
        try:
            frame = triples.select("subj", "pred", "obj")
        except AnalysisException:
            frame = None  # not a triples frame: one collect per view
        if frame is not None:
            tbl = collect_raw(frame, over=snap.fold)
            if tbl is not None:
                snap.table = tbl.rename_columns(["subj", "pred", "obj"])
        setattr(triples, _ATTR, snap)
    return snap


def view_table(triples: DataFrame, view: str, preds=None):
    """The raw-tier Arrow table of `view` (pre-distinct, <= RAW_COLLECT_CAP
    rows), or None when the caller must take its degraded tier."""
    snap = getattr(triples, _ATTR, None)
    if snap is None and view != "preds":
        snap = _snapshot(triples)
    if snap is not None:
        if snap.table is not None:
            tbl = _derive(snap.table, view, preds)
            return None if tbl.num_rows > RAW_COLLECT_CAP else tbl
        if (snap.n_rows is not None
                and snap.raw_rows(view, preds) > RAW_COLLECT_CAP):
            return None
    return collect_raw(_view_frame(triples, view, preds))


def edge_rows(triples: DataFrame, view: str, preds=None):
    """Sorted distinct row tuples of `view` if at most bound(), else
    None: `dedup` of the view, its raw tier served from the frame's
    snapshot."""
    b = bound()
    if b <= 0:
        return None
    cols = list(VIEWS[view])
    tbl = view_table(triples, view, preds)
    if tbl is not None:
        out = group_table(tbl, cols, [], b)
    else:
        out = _group_degraded(_view_frame(triples, view, preds), cols, [], b)
    return None if out is None else rows(out)
