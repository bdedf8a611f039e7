"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_small,graph_large} \
        --seed N --seconds S --trace {0,1}

Builds the workload's inputs from the seed, measures for S seconds, checks
every output, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics, with per-call
Spark job groups and the event log on. A line before it ("info") carries the
input properties, per-call walls and the tier each graph op took.

All data, the Spark local dirs and temp files live under .perfbench/ in the
checkout (a run reads and writes only inside its checkout) and are deleted
on exit; a run also deletes what killed earlier runs left there. The
traced run leaves its span file in .perfbench/traces/, which keeps the
newest 20."""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spec import GRAPH_OPS  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
KEEP_TRACES = 20


def spin_probe(n: int = 2_000_000) -> dict:
    """Single-thread pure-CPU rate, iterations per wall second and per CPU
    second: how fast the box runs right now (the CPU rate drops when other
    tenants share the core's caches, the wall rate also with steal)."""
    t, c = time.perf_counter(), time.process_time()
    x = 0
    for i in range(n):
        x += i * i
    return {"wall": n / (time.perf_counter() - t), "cpu": n / (time.process_time() - c)}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every temp, local and warehouse dir of the run into `work`,
    and drop environment knobs that would change the program's choices:
    the program sees only the generated inputs."""
    for k in list(os.environ):
        if k.startswith(("GS_", "SPARK_GRAFT_")):
            del os.environ[k]
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)


def clear_stale_runs() -> None:
    """Delete the work dirs of earlier runs that were killed before they
    could clean up (their pid, the first field of the name, is gone)."""
    if not os.path.isdir(STATE):
        return
    for name in os.listdir(STATE):
        parts = name.split("-")
        if parts[0] != "run" or len(parts) < 2 or not parts[1].isdigit():
            continue
        try:
            os.kill(int(parts[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
        except PermissionError:
            pass


def save_trace(tracer, run_id: str, stats: dict) -> None:
    """Write the span file; keep the newest KEEP_TRACES of them."""
    tdir = os.path.join(STATE, "traces")
    os.makedirs(tdir, exist_ok=True)
    tracer.dump(os.path.join(tdir, f"{run_id}.jsonl"), stats)
    old = sorted((os.path.join(tdir, f) for f in os.listdir(tdir)), key=os.path.getmtime)
    for path in old[:-KEEP_TRACES]:
        os.remove(path)


def start_spark(work: str, trace: bool):
    from gliner_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        from perfbench.trace import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "events")))
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_ops(r) -> list:
    return [op for op in GRAPH_OPS if r.samples["timed"].get(f"graph.{op}.cpu_s")]


def end_to_end(r, session_cpu_s: float) -> dict:
    from perfbench.workloads import geomean

    timed = lambda k: r.lookup(k, ("timed",))[0]  # noqa: E731
    return {
        "setup_s": session_cpu_s + sum(r.setup_cpu.values()),
        "ingest_cpu_s": timed("ingest_cpu_s"),
        "graph_mix_cpu_s": timed("graph_mix_cpu_s"),
        "graph_op_cpu_geomean_s": geomean([timed(f"graph.{op}.cpu_s") for op in timed_ops(r)]),
        "driver_peak_rss_mb": r.peak_rss_mb,
        "ok_ratio": 1.0 - r.failed / max(r.attempted, 1),
    }


def walls(r, session_s: float) -> dict:
    from perfbench.workloads import geomean

    timed = lambda k: r.lookup(k, ("timed",))[0]  # noqa: E731
    return {
        "wall.setup_s": session_s + sum(r.setup_wall.values()),
        "wall.pass_s": timed("wall.pass_s"),
        "wall.ingest_s": timed("wall.ingest_s"),
        "wall.graph_mix_s": timed("wall.graph_mix_s"),
        "wall.graph_op_geomean_s": geomean([timed(f"graph.{op}.s") for op in timed_ops(r)]),
    }


def op_stats(r, op: str, stats: dict) -> dict:
    """Spark stats of the last call of `op` in the phase its metrics come from."""
    phase = r.lookup(f"graph.{op}.s")[1]
    return stats.get(r.last(f"graph.{op}.span", phase), {}) if phase else {}


def per_layer(r, session_s: float, stats: dict):
    """The per-layer metrics, and the names of those whose value comes
    from a probe call rather than the workload's own timed pass."""
    from perfbench.spec import PER_LAYER

    out, probed = {}, []
    for key in PER_LAYER:
        v, phase = r.lookup(key)
        if v is not None:
            out[key] = v
            if phase == "probe":
                probed.append(key)
    out.update(walls(r, session_s))
    out["session.get_spark_s"] = session_s
    for op in GRAPH_OPS:
        s = op_stats(r, op, stats)
        out[f"graph.{op}.jobs"] = s.get("jobs", 0)
        out[f"graph.{op}.shuffle_mb"] = (s.get("shuffle_read_b", 0) + s.get("shuffle_write_b", 0)) / 2**20
    total = inclusive(r.tr.spans, stats, r.last("pass.span"))
    out["spark.pass_jobs"] = total["jobs"]
    out["spark.pass_tasks"] = total["tasks"]
    out["spark.pass_shuffle_mb"] = (total["shuffle_read_b"] + total["shuffle_write_b"]) / 2**20
    out["spark.pass_executor_cpu_s"] = total["executor_cpu_s"]
    out["trace.ingest_cpu_s"] = r.lookup("ingest_cpu_s", ("timed",))[0]
    out["trace.graph_mix_cpu_s"] = r.lookup("graph_mix_cpu_s", ("timed",))[0]
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return out, probed


def inclusive(spans, stats, root_id) -> dict:
    """Spark stats of a span plus all its descendants."""
    keys = ("jobs", "stages", "tasks", "shuffle_read_b", "shuffle_write_b", "executor_cpu_s")
    total = dict.fromkeys(keys, 0)
    inside = {root_id}
    for s in spans:  # parents precede children
        if s["id"] in inside or s["parent"] in inside:
            inside.add(s["id"])
            for k in keys:
                total[k] += stats.get(s["id"], {}).get(k, 0)
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's graph digests as the expected values for --seed")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gliner_spark", "__init__.py")):
        print(f"perfbench: no gliner_spark package beside {os.path.dirname(__file__)}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    clear_stale_runs()
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(STATE, f"run-{os.getpid()}-{run_id}")
    os.makedirs(work)
    try:
        isolate(work)
        from perfbench.spec import END_TO_END, PER_LAYER
        from perfbench.trace import Tracer, read_event_log, tree_cpu_s
        from perfbench.workloads import WORKLOADS, InputPropertyError, Run
        import pyarrow
        import pyspark

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        tracer = Tracer(run_id, on=bool(args.trace))
        spin_before = spin_probe()
        t0, c0 = time.perf_counter(), tree_cpu_s()
        spark = start_spark(work, bool(args.trace))
        session_s, session_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        tracer.sc = spark.sparkContext
        r = Run(spark, tracer, work, args.seed, args.seconds, bool(args.trace), args.record)
        correct = True
        try:
            WORKLOADS[args.workload](r)
        except InputPropertyError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            correct = False
        finally:
            stop_spark(spark)
        spin_after = spin_probe()
        if not correct or not r.samples["timed"]["pass.span"]:
            return 1
        if not r.digests_checked and not args.record:
            print(f"perfbench: expected.json has no digests for {args.workload} seed "
                  f"{args.seed}; graph outputs are only compared between passes of this run",
                  file=sys.stderr)
        stats = read_event_log(os.path.join(work, "events")) if args.trace else {}
        if args.record and r.failed == 0 and r.digests:
            from perfbench.checks import save_expected

            save_expected(args.workload, args.seed, r.digests)
        probed = []
        if args.trace:
            metrics, probed = per_layer(r, session_s, stats)
        else:
            metrics = end_to_end(r, session_cpu_s)
        units = PER_LAYER if args.trace else END_TO_END
        timed = r.samples["timed"]
        info = {
            "info": {
                **r.props,
                "workload": args.workload, "nproc": nproc(),
                "python": platform.python_version(), "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "spin_before": spin_before, "spin_after": spin_after,
                "passes": len(timed["pass.span"]),
                "digests_checked": r.digests_checked,
                **walls(r, session_s),
                "setup_cpu_s": {"session": session_cpu_s, **r.setup_cpu},
                "setup_wall_s": {"session": session_s, **r.setup_wall},
                "call_s": {op: statistics.median(timed[f"graph.{op}.s"]) for op in timed_ops(r)},
                "quality": {k: r.lookup(f"extraction.{k}")[0] for k in (
                    "mention_f1", "triple_precision", "triple_recall", "mentions", "triples_raw")},
                "tiers": {op: {"plan": r.last(f"graph.{op}.tier"),
                               **{k: op_stats(r, op, stats).get(k)
                                  for k in ("jobs", "shuffle_write_b")}}
                          for op in timed_ops(r)},
                "probed": probed,
                "errors": r.errors[:20],
            }
        }
        print(json.dumps(info))
        if args.trace:
            save_trace(tracer, run_id, stats)
        print(json.dumps({
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
