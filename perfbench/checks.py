"""Output checks: quality against the planted gold (ingest layers) and
order-independent row digests against the values kept for the default
seeds (graph operators)."""

from __future__ import annotations

import json
import os

import pyarrow.dataset as ds

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
# the package's quality targets (PAPER.md): triple precision and recall
QUALITY_FLOOR = 0.95


def prf(pred: set, gold: set):
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def quality(base: str, gold_mentions: set, gold_triples: set) -> dict:
    """mention F1 and triple precision/recall of the `mentions` and
    `triples_raw` tables under `base` against the planted gold. Exact
    match on (doc_id, start, end, label) and (doc_id, subj, pred, obj),
    duplicates collapsed."""
    m = ds.dataset(os.path.join(base, "mentions"), format="parquet",
                   partitioning="hive").to_table(columns=["doc_id", "start", "end", "label"])
    t = ds.dataset(os.path.join(base, "triples_raw"), format="parquet",
                   partitioning="hive").to_table(columns=["doc_id", "subj", "pred", "obj"])
    pm = set(zip(*(m.column(c).to_pylist() for c in m.column_names)))
    pt = set(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    _, _, mf1 = prf(pm, gold_mentions)
    tp, tr, _ = prf(pt, gold_triples)
    return {"mention_f1": mf1, "triple_precision": tp, "triple_recall": tr,
            "mentions": m.num_rows, "triples_raw": t.num_rows}


def quality_ok(q: dict) -> bool:
    return min(q["mention_f1"], q["triple_precision"], q["triple_recall"]) >= QUALITY_FLOOR


def digest(df) -> tuple[int, str]:
    """(row count, sum of per-row xxhash64) in one Spark action: the
    consuming action of every timed graph call. Doubles are rounded to 9
    decimals first, as the oracle comparison does, so last-ulp fold-order
    differences between tiers cannot change the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f"`{f.name}`"), 9) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row["n"]), str(row["s"] if row["s"] is not None else 0)


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def save_expected(workload: str, seed: int, digests: dict) -> None:
    exp = load_expected()
    exp.setdefault(workload, {})[str(seed)] = {k: list(v) for k, v in sorted(digests.items())}
    with open(EXPECTED_PATH, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


class DigestCheck:
    """Judges one graph call's (count, digest): against the kept value for
    a default seed, else against the first pass of this run (a seed
    outside the table is still checked for run-to-run determinism)."""

    def __init__(self, expected: dict | None):
        self.expected = expected
        self.first: dict = {}

    def ok(self, op: str, got: tuple[int, str]) -> bool:
        got = (int(got[0]), str(got[1]))
        if self.expected is not None and op in self.expected:
            want = self.expected[op]
            return got == (int(want[0]), str(want[1]))
        return self.first.setdefault(op, got) == got
