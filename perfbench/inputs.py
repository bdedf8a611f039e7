"""Seeded input generators. The program under test only ever sees what these
produce: a docs table (through the package's own synthesizer) or a triples
table (numpy, written through the package's own TableIO)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# graph_large: a triples table above the 500k distinct-edge driver-gate
# bound, generated in numpy so its content never depends on Spark
# partitioning. Fixed counts — the gate constant is not read from the
# package, so a change that moves the bound cannot silently move this input.
LARGE_POOLS = {
    "person": 120_000,
    "organization": 50_000,
    "location": 30_000,
    "date": 2_000,
}
# predicate -> facts drawn. works_at / based_in / visited carry the
# benchmark BGP, and their distinct (subj, pred, obj) edges alone must also
# exceed the bound (conjunctive_match gates on the pattern's predicates).
LARGE_FACTS = {
    "works_at": 181_000,
    "based_in": 170_000,
    "visited": 181_000,
    "born_in": 3_000,
    "founded": 3_000,
    "acquired": 3_000,
    "founded_on": 3_000,
    "met_on": 3_000,
    "depicts": 6_000,
}
LARGE_ZIPF_A = 0.8
# share of facts asserted by a second document: keeps the raw row count
# above the package's 1M raw-collect cap, as a multi-document corpus does
# (the synthetic corpus asserts each distinct edge ~2x)
LARGE_DUP_SHARE = 0.85
LARGE_FILES = 8


def _signatures():
    from gliner_spark.sources import vocab

    sig = {p: (st, ot) for p, (st, ot, _) in vocab.RELATION_PATTERNS.items()}
    return sig


def _zipf_ranks(rng, site: int, n_pool: int, n: int, a: float) -> np.ndarray:
    """n draws of pool indices with P(rank k) ~ k^-a. The rank -> node map
    is a permutation per draw site, so the hubs of one predicate role are
    not the hubs of another (joins across roles stay bounded). It does not
    depend on the seed: every seed samples the same graph shape, so the
    work per seed varies by sampling noise only."""
    cdf = np.cumsum(1.0 / np.power(np.arange(1, n_pool + 1, dtype=np.float64), a))
    cdf /= cdf[-1]
    rank = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), n_pool - 1)
    return np.random.default_rng([site, 0x7368617065]).permutation(n_pool)[rank]


def large_triples(seed: int, scale: float = 1.0) -> pa.Table:
    """The graph_large triples table for `seed`, in the schema of the
    package's finalize_graph output. `scale` shrinks every count for the
    fast tests; the benchmark uses 1.0."""
    rng = np.random.default_rng([seed, 0x6C61726765])
    sig = _signatures()
    pools = {}
    for t, n in LARGE_POOLS.items():
        n = max(8, int(n * scale))
        pools[t] = pa.array(
            [f"{t}:{v:016x}" for v in rng.integers(0, 2**63, n, dtype=np.int64).tolist()])
    ent_types = ("person", "organization", "location")
    ent_pool = pa.concat_arrays([pools[t] for t in ent_types])
    ent_type = pa.array(np.concatenate(
        [np.full(len(pools[t]), t, dtype=object) for t in ent_types]).tolist())
    cols = {"subj": [], "pred": [], "obj": [], "subj_type": [], "obj_type": []}
    for site, (p, m) in enumerate(LARGE_FACTS.items()):
        m = max(4, int(m * scale))
        if p == "depicts":
            # an entity anchors a fresh media reference (a leaf), as in the corpus
            si = _zipf_ranks(rng, 2 * site, len(ent_pool), m, LARGE_ZIPF_A)
            cols["subj"].append(ent_pool.take(si))
            cols["subj_type"].append(ent_type.take(si))
            cols["obj"].append(pa.array(
                ["media://%012x" % v for v in rng.integers(0, 2**48, m, dtype=np.int64).tolist()]))
            cols["obj_type"].append(pa.array(["media"] * m))
        else:
            st, ot = sig[p]
            cols["subj"].append(pools[st].take(_zipf_ranks(rng, 2 * site, len(pools[st]), m, LARGE_ZIPF_A)))
            cols["obj"].append(pools[ot].take(_zipf_ranks(rng, 2 * site + 1, len(pools[ot]), m, LARGE_ZIPF_A)))
            cols["subj_type"].append(pa.array([st] * m))
            cols["obj_type"].append(pa.array([ot] * m))
        cols["pred"].append(pa.array([p] * m))
    facts = pa.table({k: pa.concat_arrays(v) for k, v in cols.items()})
    n = facts.num_rows
    # which facts a second document asserts is fixed too, so every seed's
    # table has the same row count and byte size
    dup = np.random.default_rng([n, 0x647570]).random(n) < LARGE_DUP_SHARE
    idx = np.repeat(np.arange(n), 1 + dup)
    rows = facts.take(idx[rng.permutation(len(idx))])
    doc_pool = pa.array(["doc-%010d" % d for d in range(max(8, n // 2))])
    docs = doc_pool.take(rng.integers(0, len(doc_pool), rows.num_rows))
    score = np.round(0.9 + 0.1 * rng.random(rows.num_rows), 6)
    return pa.table({
        "doc_id": docs,
        **{c: rows.column(c) for c in ("subj", "pred", "obj", "subj_type", "obj_type")},
        "score": pa.array(score, pa.float64()),
    })


def write_staging(tbl: pa.Table, staging: str) -> None:
    """The generated triples table as plain parquet files, the input a
    graph_large pass ingests with TableIO.overwrite (the program's own
    layout)."""
    os.makedirs(staging, exist_ok=True)
    step = -(-tbl.num_rows // LARGE_FILES)
    for i in range(LARGE_FILES):
        pq.write_table(tbl.slice(i * step, step), os.path.join(staging, f"part-{i}.parquet"))


def write_corpus(spark, n_docs: int, seed: int, path: str) -> None:
    """The seeded docs table (with planted gold) as parquet, through the
    package's own distributed synthesizer."""
    from gliner_spark.sources.synth import synth_docs

    synth_docs(spark, n_docs, seed=seed, with_gold=True).write.mode(
        "overwrite"
    ).parquet(path)


def corpus_gold(path: str):
    """Planted gold read back from the docs table: the mention keys
    (doc_id, start, end, label) and triple keys (doc_id, subj, pred, obj)."""
    tbl = pq.read_table(path, columns=["doc_id", "gold_mentions", "gold_triples"])
    mentions, triples = set(), set()
    for doc, gm, gt in zip(
        tbl.column("doc_id").to_pylist(),
        tbl.column("gold_mentions").to_pylist(),
        tbl.column("gold_triples").to_pylist(),
    ):
        for m in gm:
            mentions.add((doc, m["start"], m["end"], m["label"]))
        for t in gt:
            triples.add((doc, t["subj"], t["pred"], t["obj"]))
    return mentions, triples


def doc_sample(seed: int, n: int):
    """Assembled texts of the first n docs of the seed's corpus, for the
    single-thread model probe."""
    from gliner_spark.sources.synth import assembled_text, gen_doc

    return [assembled_text(gen_doc(i, seed)["spans"]) for i in range(n)]
