"""The two workloads. Each is one closed-loop client: a single process
issuing its calls serially, in a fixed order, on one local Spark session.
Every timed pass has the same two phases: an ingest that builds the graph
tables through the program into a fresh base directory, then the graph op
mix over the `triples` table it built.

- ingest_small: ingest is the paper's batch job (docs table -> load_docs ->
  run_extraction -> finalize_graph). The graph it builds is far under the
  500k distinct-edge driver-gate bound, so every gated op collects to the
  driver and replays there.
- graph_large: ingest is TableIO.overwrite of a numpy-generated triples
  table above the bound (five times, each into a fresh dir: it is short),
  so every gated op runs its distributed plan.

Measurements are kept per phase (set-up, timed, probe). The end-to-end
metrics read the timed phase only. The traced run adds probe calls after
the timed passes for the layers a workload's pass does not exercise; the
per-layer metrics take a value from the timed phase where it has one."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from collections import defaultdict

from perfbench import checks, inputs
from perfbench.spec import GRAPH_OPS

N_DOCS = 24_000         # docs per ingest_small pass
N_WARM = 500            # docs of the warm-up and probe corpora
WARM_SCALE = 0.005      # graph_large's warm-up copy, as a share of its input
SETUP_REPS = 3          # input generations per run; setup_s takes the median
LARGE_INGESTS = 5       # graph_large ingests per pass; ingest_cpu_s takes the median
PROBE_DOCS = 500        # docs of the single-thread model probe
EDGE_BOUND = 500_000    # the driver-gate bound the two workloads straddle

# Ops graph_large times: an aggregate (degree), the conjunctive BGP of the
# cyclic-pattern family, and the ungated control (optional), the three
# cheapest on the distributed tier. At 530k edges each of the other twelve
# costs 10-60 s on a 4-core box (triangles ~13 s, clustering and
# node_similarity ~20 s, components ~50 s); they would not fit the run
# budget, so they are timed on ingest_small's driver-tier graph only.
LARGE_MIX = ("degree", "conjunctive", "optional")

BGP = [("?p", "works_at", "?o"), ("?o", "based_in", "?l"), ("?p", "visited", "?l")]

PHASES = ("setup", "timed", "probe")


def graph_op(name: str):
    """The package call behind each op name, given only the triples frame."""
    from gliner_spark.operators import graph_analytics as ga
    from gliner_spark.operators.kg_completion import transe_margin_eval
    from gliner_spark.operators.kg_query import conjunctive_match, optional_match

    return {
        "degree": ga.entity_degrees,
        "two_hop": ga.two_hop_paths,
        "pagerank": ga.pagerank,
        "components": ga.entity_components,
        "triangles": ga.triangle_counts,
        "clustering": ga.clustering_coefficients,
        "node_similarity": ga.node_similarity,
        "kcore": ga.kcore,
        "lpa": ga.lpa_communities,
        "harmonic": ga.harmonic_centrality,
        "stress": ga.stress_centrality,
        "distances": ga.distance_profile,
        "conjunctive": lambda t: conjunctive_match(t, BGP),
        "transe_eval": transe_margin_eval,
        "optional": lambda t: optional_match(
            t, [("?o", "based_in", "?l")],
            [[("?a", "acquired", "?o")], [("?f", "founded", "?o")]],
        ),
    }[name]


def plan_tier(df) -> str:
    """'driver' when every leaf of the result's plan is a local relation
    (the op collected and replayed on the driver), else 'distributed'."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    return "driver" if names <= {"LocalRelation"} else "distributed"


def span_s(sp: dict) -> float:
    return sp["end"] - sp["start"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str):
    files, size = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size / 2**20


class Run:
    """State of one benchmark run: the session, the tracer, the work dir,
    and the samples each phase records, keyed by metric name."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 trace: bool, record: bool):
        from gliner_spark.presets import default_model

        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds, self.trace, self.record = seed, seconds, trace, record
        self.model = default_model()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phase = "setup"
        self.samples = {p: defaultdict(list) for p in PHASES}
        self.setup_cpu: dict[str, float] = {}
        self.setup_wall: dict[str, float] = {}
        self.props: dict = {"seed": seed}
        self.digests: dict = {}
        self.digests_checked = False
        self.peak_rss_mb = 0.0
        self.n_pass = 0
        self.last_base: str | None = None

    # ---- bookkeeping ---------------------------------------------------
    def add(self, key: str, value) -> None:
        self.samples[self.phase][key].append(value)

    def lookup(self, key: str, phases=("timed", "setup", "probe")):
        """(median, phase) of the first phase that recorded `key`, else
        (None, None)."""
        for p in phases:
            xs = self.samples[p].get(key)
            if xs:
                return statistics.median(xs), p
        return None, None

    def last(self, key: str, phase: str = "timed"):
        xs = self.samples[phase].get(key)
        return xs[-1] if xs else None

    def judge(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {why or 'output check failed'}")

    def timed(self, name: str, fn, cpu: bool = False, **attrs):
        """Run fn inside a span; returns (result, span). A call that raises
        is recorded as failed and returns None. In the timed phase the
        driver's peak RSS over the call is kept."""
        timing = self.phase == "timed"
        if timing:
            rss_reset()
        with self.tr.span(name, cpu=cpu, **attrs) as sp:
            try:
                out = fn()
            except Exception as e:  # a failing call is a measured outcome
                sp["error"] = repr(e)[:300]
                self.judge(name, False, sp["error"])
                out = None
        if timing:
            self.peak_rss_mb = max(self.peak_rss_mb, rss_peak_mb())
        return out, sp

    def setup_part(self, name: str, fn) -> None:
        with self.tr.span(f"setup.{name}", cpu=True) as sp:
            fn()
        self.setup_cpu[name] = sp["cpu_s"]
        self.setup_wall[name] = span_s(sp)

    def setup_reps(self, make, key: str) -> None:
        """SETUP_REPS generations of the workload's input, each from
        scratch; the last one is kept. Set-up counts their median."""
        walls, cpus = [], []
        for rep in range(SETUP_REPS):
            with self.tr.span(key, cpu=True, rep=rep) as sp:
                make()
            walls.append(span_s(sp))
            cpus.append(sp["cpu_s"])
            self.add(key, span_s(sp))
        self.setup_cpu["input"] = statistics.median(cpus)
        self.setup_wall["input"] = statistics.median(walls)

    # ---- a pass: ingest, then the graph mix -----------------------------
    def run_pass(self, ingest, ops, check: checks.DigestCheck | None, reps: int = 1) -> str:
        """`ingest(base)` builds the graph tables into a fresh base dir (a
        reused one would resume and skip every bucket), `reps` times, each
        into its own dir; then `ops` run over the last one's triples table.
        Returns that base dir, kept until the next pass."""
        with self.tr.span("pass") as sp:
            for _ in range(reps):
                base = os.path.join(self.work, f"pass-{self.n_pass}")
                self.n_pass += 1
                if self.last_base:
                    shutil.rmtree(self.last_base, ignore_errors=True)
                with self.tr.span("ingest", cpu=True) as sp_in:
                    ingest(base)
                self.last_base = base
                self.add("ingest_cpu_s", sp_in["cpu_s"])
                self.add("wall.ingest_s", span_s(sp_in))
            self.digests = self.graph_pass(base, ops, check)
        self.add("wall.pass_s", span_s(sp))
        self.add("pass.span", sp["id"])
        return base

    def pipeline(self, corpus: str, base: str):
        """load_docs -> run_extraction -> finalize_graph into `base`;
        returns both calls' results (None for a call that raised)."""
        from gliner_spark.sinks.materialize import finalize_graph, run_extraction
        from gliner_spark.sources.readers import load_docs

        docs, sp_load = self.timed("sources.load_docs", lambda: load_docs(self.spark, corpus))
        ext, sp_ext = self.timed(
            "materialize.run_extraction",
            lambda: run_extraction(self.spark, docs, self.model, base))
        fin, sp_fin = self.timed(
            "materialize.finalize_graph",
            lambda: finalize_graph(self.spark, base, self.model.config))
        self.add("sources.load_docs_s", span_s(sp_load))
        self.add("materialize.run_extraction_s", span_s(sp_ext))
        self.add("materialize.finalize_graph_s", span_s(sp_fin))
        return ext, fin

    def check_pipeline(self, base: str, n_docs: int, gold, ext, fin) -> None:
        """Judge a pipeline run's outputs against the planted gold."""
        q = None
        if ext is not None:
            q = checks.quality(base, *gold)
            self.judge("extract", ext.get("n_docs") == n_docs and checks.quality_ok(q),
                       f"n_docs={ext.get('n_docs')} quality={q}")
            for k, v in q.items():
                self.add(f"extraction.{k}", v)
        if fin is not None:
            # rewrite_triples keeps every raw triple: one output row each
            self.judge("finalize", q is not None and fin["triples"] == q["triples_raw"]
                       and fin["entities"] > 0, f"finalize={fin}")

    def graph_pass(self, base: str, ops, check: checks.DigestCheck | None) -> dict:
        """One pass over `ops`, each called with the triples frame,
        consumed by the digest action and followed by release_caches;
        returns {op: (count, digest)}."""
        from gliner_spark.cache import release_caches
        from gliner_spark.sinks.materialize import TableIO

        got, released = {}, 0
        with self.tr.span("mix", cpu=True) as sp_mix:
            t, sp = self.timed("materialize.read_triples",
                               lambda: TableIO(self.spark, base).read("triples", required=True))
            self.add("materialize.read_triples_s", span_s(sp))
            for op in ops:
                def call(op=op):
                    df = graph_op(op)(t)
                    tier = plan_tier(df)
                    res = checks.digest(df)
                    return res, tier, release_caches(df)

                out, sp = self.timed(f"graph.{op}", call, cpu=True, op=op)
                self.add(f"graph.{op}.s", span_s(sp))
                self.add(f"graph.{op}.cpu_s", sp["cpu_s"])
                self.add(f"graph.{op}.span", sp["id"])
                if out is None:
                    continue
                res, tier, n_rel = out
                self.add(f"graph.{op}.tier", tier)
                released += n_rel
                got[op] = res
                if check is not None:
                    self.judge(op, check.ok(op, res), f"digest {res}")
        self.add("cache.released", released)
        self.add("graph_mix_cpu_s", sp_mix["cpu_s"])
        self.add("wall.graph_mix_s", span_s(sp_mix))
        return got

    def timed_loop(self, one_pass) -> None:
        """Passes until --seconds have elapsed (at least one); calls made
        after it are probes."""
        self.phase = "timed"
        t0 = time.perf_counter()
        while True:
            one_pass()
            if time.perf_counter() - t0 >= self.seconds:
                break
        self.phase = "probe"

    # ---- traced-run probes ------------------------------------------------
    def model_probe(self) -> None:
        texts = inputs.doc_sample(self.seed, PROBE_DOCS)
        with self.tr.span("core.predict_doc", cpu=True) as sp:
            for text in texts:
                self.model.predict_doc(text)
        self.add("core.predict_doc_per_s", PROBE_DOCS / span_s(sp))

    def layer_probes(self, corpus: str, base: str) -> None:
        """Calls the pipeline makes internally, timed on their own with
        noop sinks over the same corpus and tables."""
        from gliner_spark.cache import release_caches
        from gliner_spark.operators.extraction import extract_graph
        from gliner_spark.operators.linking import canonicalize, rewrite_triples
        from gliner_spark.sinks.materialize import TableIO
        from gliner_spark.sources.readers import load_docs

        io = TableIO(self.spark, base)
        with self.tr.span("extraction.extract_graph", cpu=True) as sp:
            noop(extract_graph(load_docs(self.spark, corpus), self.model))
        self.add("extraction.extract_graph_s", span_s(sp))
        with self.tr.span("linking.canonicalize", cpu=True) as sp:
            entities, smap = canonicalize(io.read("mentions", required=True), self.model.config)
            noop(smap)
        self.add("linking.canonicalize_s", span_s(sp))
        with self.tr.span("linking.rewrite_triples", cpu=True) as sp:
            noop(rewrite_triples(io.read("triples_raw", required=True), smap))
        self.add("linking.rewrite_triples_s", span_s(sp))
        self.add("linking.surfaces", smap.count())
        self.add("linking.entities", entities.count())
        release_caches(entities)
        release_caches(smap)
        files, mb = dir_stats(base)
        self.add("materialize.files_written", files)
        self.add("materialize.bytes_written_mb", mb)
        v = lambda k: self.lookup(k)[0]  # noqa: E731
        self.add("materialize.write_overhead_s",
                 v("materialize.run_extraction_s") - v("extraction.extract_graph_s"))
        self.add("materialize.finalize_overhead_s",
                 v("materialize.finalize_graph_s") - v("linking.canonicalize_s")
                 - v("linking.rewrite_triples_s"))


# ---- peak RSS of this (driver) process -------------------------------------
def _libc():
    import ctypes
    import ctypes.util

    try:
        lib = ctypes.CDLL(ctypes.util.find_library("c"))
        lib.malloc_trim  # glibc only
        return lib
    except (OSError, AttributeError, TypeError):
        return None


_LIBC = _libc()


def rss_reset() -> None:
    """Reset VmHWM before a timed call. Garbage, Arrow's pooled free memory
    and the C heap's free pages are released first, so a call's peak does
    not depend on what set-up or earlier calls left behind."""
    import gc

    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()
    if _LIBC is not None:
        _LIBC.malloc_trim(0)  # return freed heap, e.g. the set-up's inputs
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def rss_peak_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not in /proc/self/status")


# ---- graph input properties ------------------------------------------------
def triple_props(tbl) -> dict:
    """Distinct (src != dst) edges, nodes, raw rows and BGP-predicate
    edges of a triples table (pyarrow, benchmark side)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = tbl.filter(pc.not_equal(tbl["subj"], tbl["obj"])).group_by(["subj", "obj"]).aggregate([])
    bgp = tbl.filter(pc.is_in(tbl["pred"], value_set=pa.array([p for _, p, _ in BGP])))
    nodes = pc.unique(pa.concat_arrays([tbl["subj"].combine_chunks(), tbl["obj"].combine_chunks()]))
    return {
        "triples": tbl.num_rows,
        "distinct_edges": e.num_rows,
        "nodes": len(nodes),
        "bgp_edges": bgp.group_by(["subj", "pred", "obj"]).aggregate([]).num_rows,
    }


def read_triples_arrow(base: str):
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(base, "triples"), format="parquet").to_table(
        columns=["subj", "pred", "obj"])


# ---- workloads ---------------------------------------------------------------
def digest_check(r: Run, workload: str) -> checks.DigestCheck:
    exp = None if r.record else checks.load_expected().get(workload, {}).get(str(r.seed))
    r.digests_checked = exp is not None
    return checks.DigestCheck(exp)


def ingest_small(r: Run) -> None:
    from gliner_spark.operators.extraction import extract_graph
    from gliner_spark.sources.readers import load_docs

    def warmup():
        # JVM and Python-worker start-up and the model's first load into
        # the workers land in set-up, not in the timed pass
        warm_corpus = os.path.join(r.work, "warm-corpus")
        inputs.write_corpus(r.spark, N_WARM, r.seed, warm_corpus)
        noop(extract_graph(load_docs(r.spark, warm_corpus), r.model))

    r.setup_part("warmup", warmup)
    corpus = os.path.join(r.work, "corpus")
    r.setup_reps(lambda: inputs.write_corpus(r.spark, N_DOCS, r.seed, corpus), "sources.synth_s")
    gold = inputs.corpus_gold(corpus)
    r.props.update(docs=N_DOCS, gold_mentions=len(gold[0]), gold_triples=len(gold[1]))
    check = digest_check(r, "ingest_small")

    def one_pass():
        res = {}
        base = r.run_pass(lambda b: res.update(zip(("ext", "fin"), r.pipeline(corpus, b))),
                          GRAPH_OPS, check)
        r.check_pipeline(base, N_DOCS, gold, res["ext"], res["fin"])

    r.timed_loop(one_pass)
    props = triple_props(read_triples_arrow(r.last_base))
    r.props.update(props)
    if props["distinct_edges"] >= EDGE_BOUND:
        raise InputPropertyError(
            f"ingest_small built {props['distinct_edges']} distinct edges, not under {EDGE_BOUND}")
    if r.trace:
        r.model_probe()
        r.layer_probes(corpus, r.last_base)


def graph_large(r: Run) -> None:
    from gliner_spark.sinks.materialize import TableIO

    def overwrite(staging):
        def ingest(base):
            r.timed("materialize.overwrite",
                    lambda: TableIO(r.spark, base).overwrite(r.spark.read.parquet(staging), "triples"))
        return ingest

    def warmup():
        # JVM start-up and the first run of each call's code (imports,
        # collect path, code generation of the operators its plans share):
        # a pass over a tiny copy, which takes the driver tier
        staging = os.path.join(r.work, "staging-warm")
        inputs.write_staging(inputs.large_triples(r.seed, WARM_SCALE), staging)
        r.run_pass(overwrite(staging), LARGE_MIX, None)

    r.setup_part("warmup", warmup)
    staging = os.path.join(r.work, "staging")
    tbl = None

    def make():
        nonlocal tbl
        tbl = inputs.large_triples(r.seed)
        shutil.rmtree(staging, ignore_errors=True)
        inputs.write_staging(tbl, staging)

    r.setup_reps(make, "setup.generate_s")
    props = triple_props(tbl)
    r.props.update(props)
    if props["distinct_edges"] <= EDGE_BOUND:
        raise InputPropertyError(
            f"graph_large has {props['distinct_edges']} distinct edges, not above {EDGE_BOUND}")
    del tbl
    check = digest_check(r, "graph_large")
    # its ingest is short (a few seconds), so each pass repeats it
    r.timed_loop(lambda: r.run_pass(overwrite(staging), LARGE_MIX, check, LARGE_INGESTS))
    if r.trace:
        # the ingest layers, and the ops outside LARGE_MIX on the
        # driver-tier graph a small corpus builds; reported as probed
        r.model_probe()
        corpus = os.path.join(r.work, "probe-corpus")
        pbase = os.path.join(r.work, "probe")
        with r.tr.span("sources.synth") as sp:
            inputs.write_corpus(r.spark, N_WARM, r.seed, corpus)
        r.add("sources.synth_s", span_s(sp))
        r.check_pipeline(pbase, N_WARM, inputs.corpus_gold(corpus), *r.pipeline(corpus, pbase))
        r.layer_probes(corpus, pbase)
        r.graph_pass(pbase, [op for op in GRAPH_OPS if op not in LARGE_MIX], None)


class InputPropertyError(RuntimeError):
    """The generated input is not on the side of the gate bound its
    workload exists to measure."""


WORKLOADS = {"ingest_small": ingest_small, "graph_large": graph_large}


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
