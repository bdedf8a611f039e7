"""Driver edge snapshot: one bounded collect of a triples frame, shared by
every driver-gated graph operator called on that frame.

The driver tier of a gated graph operator replays its kernel over a
projection or filter of the (subj, pred, obj) triples. Collected one
operator at a time, a mix of such operators over one frame collects the
same rows once per operator. Instead, the first gated call on a frame
makes ONE bounded Arrow collect of (subj, pred, obj) and keeps the table
on that DataFrame object; every later call derives its view from it in
pyarrow, with no Spark job. The views (VIEWS) are the raw spo rows, the
directed non-loop (src, dst) edges, the undirected (a, b) edges with
a < b, spo filtered to a predicate set, the non-loop spo rows, and
(subj, pred).

Contract:
- Lifetime is the DataFrame object. The snapshot is an attribute of the
  frame and goes away with it. A frame is a fixed read, as with
  persist(): rows added to the table later are not seen through the same
  frame object; re-read the table to see them.
- It is not a cache handle. release_caches on an operator's output does
  not drop it, and forward_caches does not copy it.
- It holds Arrow tables only, never Python row lists. Each view is
  deduped, sorted and bounded per call, exactly as _collected_dedup
  does.
- Tier decisions are those of a per-operator collect. The collect goes
  through _arrow_collect_bounded (leaf-stats probe, RAW_COLLECT_CAP).
  A frame over the cap is never collected a second time: only its row
  counts are kept (total, non-loop, per predicate), and a view whose
  counted raw rows exceed the cap goes straight to the degraded tier. A
  view that fits (a predicate filter, say) makes its own collect.
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
    from gliner_spark.operators.graph_analytics import (
        graph_edges_raw,
        undirected_edges_raw,
    )

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
    from gliner_spark.operators import graph_analytics as ga

    snap = getattr(triples, _ATTR, None)
    if snap is None:
        snap = _Snapshot()
        try:
            frame = triples.select("subj", "pred", "obj")
        except AnalysisException:
            frame = None  # not a triples frame: one collect per view
        if frame is not None:
            tbl = ga._arrow_collect_bounded(
                frame, ga.RAW_COLLECT_CAP, over=snap.count
            )
            if tbl is not None:
                snap.table = tbl.rename_columns(["subj", "pred", "obj"])
        setattr(triples, _ATTR, snap)
    return snap


def view_table(triples: DataFrame, view: str, preds=None):
    """The raw-tier Arrow table of `view` (pre-distinct, <= RAW_COLLECT_CAP
    rows), or None when the caller must take its degraded tier."""
    from gliner_spark.operators import graph_analytics as ga

    cap = ga.RAW_COLLECT_CAP
    snap = getattr(triples, _ATTR, None)
    if snap is None and view != "preds":
        snap = _snapshot(triples)
    if snap is not None:
        if snap.table is not None:
            tbl = _derive(snap.table, view, preds)
            return None if tbl.num_rows > cap else tbl
        if snap.n_rows is not None and snap.raw_rows(view, preds) > cap:
            return None
    return ga._arrow_collect_bounded(_view_frame(triples, view, preds), cap)


def edge_rows(triples: DataFrame, view: str, max_edges: int | None = None,
              preds=None):
    """Sorted distinct rows of `view` if at most the bound
    (GRAPH_DRIVER_MAX_EDGES unless `max_edges`), else None: the driver
    gate of _collected_dedup, served from the frame's snapshot."""
    from gliner_spark.operators import graph_analytics as ga

    bound = ga.GRAPH_DRIVER_MAX_EDGES if max_edges is None else max_edges
    if bound <= 0:
        return None
    cols = VIEWS[view]
    tbl = view_table(triples, view, preds)
    if tbl is not None:
        return ga._sorted_distinct(tbl, cols, bound)
    return ga._degraded_dedup(_view_frame(triples, view, preds), cols, max_edges)
