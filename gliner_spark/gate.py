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

Collect modes. The module picks the mode; operators never call
toArrow(), limit() or a collect primitive themselves.
- Raw mode (`collect_raw`, `group`, `edge_rows`): a RAW, pre-aggregate
  frame sized by the leaf-stats probe, collected with a plain toArrow()
  (executor-side Arrow batches, 2-4x faster than a CollectLimit) and
  dropped when it has more than RAW_COLLECT_CAP rows.
- Limit mode (`collect_rows`, the degraded tier of `group`): a COMPUTED
  per-row frame (token-id arrays, quantized vectors, a cluster-side
  aggregate) collected as limit(bound+1).toArrow(). This mode stays
  because the leaf-stats probe sees only the leaves: a frame of
  token-id arrays computed from a table under the 1 GiB threshold would
  be collected whole by a plain toArrow(), where the limit pulls at most
  bound+1 rows to the driver.

Grouped rows (`group`): "group by keys, aggregate, bound, sort by keys"
has one implementation for both tiers. The raw tier is a pyarrow
group_by over the raw-mode table; past RAW_COLLECT_CAP the degraded tier
runs the same aggregates as a Spark groupBy, then a limit-mode collect.
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
  are kept (total, non-loop, per predicate), and a view whose counted
  raw rows exceed the cap goes straight to the degraded tier. A view
  that fits (a predicate filter, say) makes its own collect.
- A predicate-filtered view never creates the snapshot: it uses one if
  it exists, and otherwise makes its own, smaller collect.
- A frame the snapshot could not collect (no subj/pred/obj columns, a
  leaf-stats skip, a failed collect) falls back to one collect per view.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _arrow_collect_bounded(df: DataFrame, cap: int, over=None):
    """Raw mode: pyarrow table of `df` if it has <= cap rows, else None.
    `over`, if given, is called with an over-cap table before it is
    dropped (the edge snapshot keeps its row counts, so the frame is
    never collected again).

    Memory safety is layered: (1) a Catalyst plan-stats probe skips
    inputs whose KNOWN size exceeds STATS_SKIP_BYTES without running any
    job (file scans report real bytes, so the petabyte path never
    collects); (2) spark.driver.maxResultSize aborts a runaway collect,
    which is caught; (3) the exact row cap is enforced on the table."""
    try:
        # sum the plan's LEAF sizes, not the top-level estimate: join
        # plans multiply row guesses into garbage (a ~30 MB chain join
        # reported 1.2e15 bytes) while leaves are trustworthy. Unknown
        # sources report the Long.MaxValue-band sentinel, which is
        # ignored: unknown is not huge.
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            sz = int(str(leaves.apply(i).stats().sizeInBytes()))
            if sz < (1 << 60):
                total += sz
        if total > STATS_SKIP_BYTES:
            return None
    except Exception:
        pass  # stats unavailable -> maxResultSize still bounds memory
    try:
        tbl = df.toArrow()
    except Exception:
        return None
    if tbl.num_rows > cap:
        if over is not None:
            over(tbl)
        return None
    return tbl


def _collect_limited(df: DataFrame, limit: int):
    """Limit mode: pyarrow table of `df` if it has <= limit rows, else
    None; at most limit+1 rows reach the driver."""
    tbl = df.limit(limit + 1).toArrow()
    return None if tbl.num_rows > limit else tbl


def collect_raw(df: DataFrame):
    """Raw-mode collect of a pre-aggregate frame: pyarrow table, or None
    past RAW_COLLECT_CAP rows (the caller degrades or goes
    distributed)."""
    return _arrow_collect_bounded(df, RAW_COLLECT_CAP)


def rows(tbl) -> list:
    """Row tuples of a pyarrow table."""
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def collect_rows(df: DataFrame, cols, cap: int):
    """Limit-mode collect of a computed per-row frame: row tuples of
    `cols` if at most `cap` rows (a bound(kind), or a cap computed from
    one), else None; cap <= 0 is None with no job."""
    if cap <= 0:
        return None
    tbl = _collect_limited(df.select(*cols), cap)
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


def _group_raw(table, keys, aggs, b: int):
    out = table.group_by(keys).aggregate(aggs)
    if out.num_rows > b:
        return None
    # pyarrow puts the aggregates first: keys first, as Spark does
    out = out.select(keys + [_agg_name(c, fn) for c, fn in aggs])
    return out.sort_by([(k, "ascending") for k in keys])


def _group_degraded(frame: DataFrame, keys, aggs, b: int):
    if aggs:
        frame = frame.groupBy(*keys).agg(*(
            _SPARK_AGGS[fn](c).alias(_agg_name(c, fn)) for c, fn in aggs
        ))
    else:
        frame = frame.select(*keys).distinct()
    out = _collect_limited(frame, b)
    return None if out is None else out.sort_by(
        [(k, "ascending") for k in keys]
    )


def group(frame: DataFrame | None, keys, aggs=(), table=None):
    """Rows of `frame` grouped by `keys` with `aggs` ((col, fn) pairs;
    col [] for count_all), as a pyarrow table sorted by `keys`, if there
    are at most bound() groups; else None.

    The raw tier groups `table` (when the caller collected it already)
    or a raw-mode collect of the frame's columns. Past RAW_COLLECT_CAP
    the degraded tier runs the same aggregates in Spark and collects in
    limit mode; with `frame` None there is no degraded tier."""
    b = bound()
    if b <= 0:
        return None
    keys, aggs = list(keys), list(aggs)
    if table is None and frame is not None:
        used = keys + [c for c, _fn in aggs if c and c not in keys]
        table = collect_raw(frame.select(*dict.fromkeys(used)))
    if table is not None:
        return _group_raw(table, keys, aggs, b)
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
    pred_counts: object = None  # pyarrow struct array of pred value counts

    def count(self, tbl) -> None:
        """Keep the row counts of an over-cap table before it is dropped."""
        import pyarrow.compute as pc

        s, p, o = tbl.columns
        self.n_rows = tbl.num_rows
        self.n_nonloop = int(pc.sum(pc.not_equal(s, o)).as_py() or 0)
        self.pred_counts = pc.value_counts(p)

    def raw_rows(self, view: str, preds) -> int:
        """Raw (pre-distinct) rows of `view` on the over-cap frame."""
        import pyarrow.compute as pc

        if view in ("spo", "sp"):
            return self.n_rows
        if view == "preds":
            vals = self.pred_counts.field("values")
            hit = pc.is_in(vals, value_set=_pred_set(preds, vals.type))
            return int(
                pc.sum(pc.filter(self.pred_counts.field("counts"), hit))
                .as_py() or 0
            )
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
            tbl = _arrow_collect_bounded(
                frame, RAW_COLLECT_CAP, over=snap.count
            )
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
        out = _group_raw(tbl, cols, [], b)
    else:
        out = _group_degraded(_view_frame(triples, view, preds), cols, [], b)
    return None if out is None else rows(out)
