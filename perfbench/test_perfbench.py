"""Fast tests of the benchmark itself (no Spark session):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from perfbench import checks, inputs, run, spec, workloads
from perfbench.trace import Tracer, read_event_log

BENCH_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def test_large_triples_deterministic_per_seed():
    a = inputs.large_triples(3, scale=0.01)
    assert a.equals(inputs.large_triples(3, scale=0.01))
    assert not a.equals(inputs.large_triples(4, scale=0.01))
    assert set(a.column_names) == {"doc_id", "subj", "pred", "obj", "subj_type", "obj_type", "score"}


def test_large_triples_use_corpus_ids_and_signatures():
    from gliner_spark.sources import vocab

    t = inputs.large_triples(0, scale=0.01).to_pylist()
    for row in t:
        if row["pred"] == "depicts":
            assert row["obj"].startswith("media://") and row["obj_type"] == "media"
            continue
        st, ot, _ = vocab.RELATION_PATTERNS[row["pred"]]
        assert (row["subj_type"], row["obj_type"]) == (st, ot)
        assert row["subj"].startswith(st + ":") and row["obj"].startswith(ot + ":")


def test_doc_sample_deterministic_per_seed():
    assert inputs.doc_sample(5, 20) == inputs.doc_sample(5, 20)
    assert inputs.doc_sample(5, 20) != inputs.doc_sample(6, 20)


def test_metric_names_match_benchmark_json():
    with open(BENCH_JSON) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spec.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def _finished_run():
    """A Run after its timed phase, without a Spark session."""
    r = workloads.Run.__new__(workloads.Run)
    r.attempted, r.failed, r.errors = 0, 0, []
    r.setup_cpu, r.peak_rss_mb = {"warmup": 1.0}, 100.0
    r.samples = {p: defaultdict(list) for p in workloads.PHASES}
    r.samples["timed"].update({"ingest_cpu_s": [3.0, 5.0, 4.0], "graph_mix_cpu_s": [2.0],
                               "graph.degree.cpu_s": [0.5], "graph.pagerank.cpu_s": [2.0]})
    return r


def test_end_to_end_reports_every_metric_from_the_timed_phase():
    r = _finished_run()
    r.samples["probe"]["graph.kcore.cpu_s"].append(9.0)  # a probe is not timed
    e2e = run.end_to_end(r, 1.0)
    assert list(e2e) == list(spec.END_TO_END)
    assert e2e["setup_s"] == 2.0 and e2e["ingest_cpu_s"] == 4.0
    assert e2e["graph_op_cpu_geomean_s"] == 1.0
    assert all(v > 0 for v in e2e.values())


def test_lookup_prefers_the_timed_phase_over_probes():
    r = _finished_run()
    r.samples["probe"]["graph.degree.cpu_s"].append(7.0)
    r.samples["probe"]["graph.kcore.cpu_s"].append(9.0)
    assert r.lookup("graph.degree.cpu_s") == (0.5, "timed")
    assert r.lookup("graph.kcore.cpu_s") == (9.0, "probe")
    assert r.lookup("graph.lpa.cpu_s") == (None, None)


def test_tampered_digest_fails_the_call_and_lowers_ok_ratio():
    expected = {"degree": [10, "123"], "pagerank": [4, "-9"]}
    r = _finished_run()
    check = checks.DigestCheck(expected)
    r.judge("degree", check.ok("degree", (10, "123")))
    assert run.end_to_end(r, 1.0)["ok_ratio"] == 1.0
    r.judge("pagerank", check.ok("pagerank", (4, "-8")))  # tampered
    assert (r.attempted, r.failed) == (2, 1)
    assert run.end_to_end(r, 1.0)["ok_ratio"] == 0.5


def test_unknown_seed_checks_determinism_within_the_run():
    check = checks.DigestCheck(None)
    assert check.ok("degree", (3, "7"))
    assert check.ok("degree", (3, "7"))
    assert not check.ok("degree", (3, "8"))


def test_quality_floor():
    gold = {("d", 0, 3, "person"), ("d", 5, 9, "location")}
    assert checks.prf(gold, gold) == (1.0, 1.0, 1.0)
    p, r_, f1 = checks.prf({("d", 0, 3, "person"), ("d", 1, 2, "date")}, gold)
    assert (p, r_, f1) == (0.5, 0.5, 0.5)
    ok = {"mention_f1": 1.0, "triple_precision": 0.99, "triple_recall": 0.96}
    assert checks.quality_ok(ok)
    assert not checks.quality_ok(dict(ok, triple_recall=0.94))


def test_event_log_attributes_jobs_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Stage Attempt ID": 0, "Task Metrics": {}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stats = read_event_log(str(tmp_path))
    assert stats == {3: {"jobs": 1, "stages": 1, "tasks": 2, "shuffle_read_b": 12,
                         "shuffle_write_b": 11, "executor_cpu_s": 3.0}}


def test_self_time_excludes_children():
    tr = Tracer("t", on=False)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer, inner = (s["end"] - s["start"] for s in tr.spans)
    assert abs(st[0] + st[1] - outer) < 1e-9
    assert st[1] == inner
