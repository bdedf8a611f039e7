"""r7 optimization-round fast paths: vectorized fold hash, typed Arrow
local relations, and the raw-collect + driver-dedup collect tier. Each
must be value-identical to the slow path it replaced."""

import random

import pytest

from gliner_spark import gate
from gliner_spark.gate import _local_df, dedup
from gliner_spark.operators.graph_analytics import (
    _fold_hash_many,
    _fold_hash_py,
)


def test_fold_hash_many_matches_scalar():
    random.seed(11)
    alphabet = "abcdefghij:|-_09é测 'ABC"
    cases = ["", "a", "org:abc|works_at|person:xyz", "é-ünïcode:测试",
             "x" * 300]
    cases += [
        "".join(
            random.choice(alphabet)
            for _ in range(random.randrange(0, 80))
        )
        for _ in range(2000)
    ]
    hm = _fold_hash_many(cases).tolist()
    assert hm == [_fold_hash_py(s) for s in cases]


def test_fold_hash_many_empty_input():
    assert _fold_hash_many([]).tolist() == []
    assert _fold_hash_many(["", ""]).tolist() == [0, 0]


def test_local_df_matches_tuple_path(spark):
    rows = [("a", 1, 0.1 + 0.2), ("b", None, None), (None, -5, -0.0)]
    ddl = "name string, v long, d double"
    fast = _local_df(spark, rows, ddl)
    slow = spark.createDataFrame(rows, ddl)
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect()), key=str) == sorted(
        map(tuple, slow.collect()), key=str
    )
    # -0.0 sign and 0.30000000000000004 bits must survive the transfer
    vals = {r[0]: r[2] for r in fast.collect()}
    assert vals["a"].hex() == (0.1 + 0.2).hex()


def test_local_df_empty_and_int_type(spark):
    df = _local_df(spark, [], "q1 int, pred string")
    assert df.count() == 0
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "string"
    ]


def test_collected_dedup_matches_distinct_collect(spark, tier):
    raw = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c"), ("a", "c"), ("b", "c")],
        "src string, dst string",
    )
    with tier(edges=100):
        got = dedup(raw, ("src", "dst"))
    want = sorted(map(tuple, raw.distinct().collect()))
    assert sorted(got) == want
    assert got == sorted(set(got))  # returned sorted + unique


def test_collected_dedup_bound_fallback(spark, tier):
    raw = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(50)],
        "src string, dst string",
    )
    # distinct rows (50) exceed bound -> None (caller goes distributed)
    with tier(edges=10):
        assert dedup(raw, ("src", "dst")) is None
    # bound 0 disables the gate entirely
    with tier(edges=0):
        assert dedup(raw, ("src", "dst")) is None
    with tier(edges=50):
        assert dedup(raw, ("src", "dst")) is not None


def test_collected_dedup_raw_cap_degrades_to_distinct_tier(
    spark, monkeypatch, tier
):
    raw = spark.createDataFrame(
        [("a", "b")] * 40 + [("b", "c")] * 40,
        "src string, dst string",
    )
    monkeypatch.setattr(gate, "RAW_COLLECT_CAP", 8)
    with tier(edges=100):
        got = gate.dedup(raw, ("src", "dst"))
    # falls back to the cluster-distinct tier, same result set
    assert sorted(got) == [("a", "b"), ("b", "c")]


def test_default_edge_bound_is_positive():
    assert gate.BOUNDS["edges"] > 0


def test_fold_keys_composed_matches_concat_fold():
    # fold(A+B) composition must equal the per-char fold of the
    # concatenated selection key for arbitrary part shapes
    from gliner_spark.operators.kg_completion import _fold_keys_composed

    subs = ["person:00", "x", "", "αβ:girl", "a|b", "person:very-long-name-here"]
    preds = ["works_at", "", "p", "rel|x", "знает", "r"]
    objs = ["org:01", "o", "org:02", "", "mixed:véry", "org:with|bar"]
    composed = _fold_keys_composed(subs, preds, objs).tolist()
    direct = _fold_hash_many([f"{s}|{p}|{o}" for s, p, o in zip(subs, preds, objs)]).tolist()
    assert composed == direct
