"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload recsys_nightly --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. It starts one ``local[nproc]``
SparkSession through ``albedo_spark.session.get_spark`` with a private
warehouse, local dir and temp dir under ``.perfbench_tmp/`` (removed at the
end), writes the seeded inputs and loads them, then runs timed passes in a
closed loop (one client, next pass after the previous one completes) until
``--seconds`` have been measured, at least one pass. There is no warm-up
pass: the first pass runs in a fresh JVM, as a nightly batch job does.
Outputs are checked once after the timed passes. Human-readable lines come first; the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

The exit code is 0 when every check passed, 1 when a check or an
operation failed, 2 when the checkout holds no program to measure.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import filecmp  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOAD_NAMES = ("recsys_nightly", "corpus_search")

LAYERS = (
    "session", "io", "queries",
    "pipelines.user_profile", "pipelines.repo_profile", "pipelines.ranker",
    "pipelines.word2vec_corpus", "recommenders", "recommenders.als",
    "evaluators.ranking", "operators.dedup", "operators.dedup_store",
    "operators.retrieval", "operators.vector_store", "operators.graph",
)
COUNTERS = ("busy_s", "driver_s", "jobs", "tasks", "task_s", "shuffle_bytes", "gc_s")
UNITS = {"busy_s": "s", "driver_s": "s", "task_s": "s", "gc_s": "s", "jobs": "count",
         "tasks": "count", "shuffle_bytes": "bytes"}
EXTRA = {
    "queries.plan_s": "s", "queries.exec_s": "s",
    "operators.dedup.candidate_pairs": "count", "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.graph.rounds": "count", "operators.graph.s_per_round": "s",
    "spark.stages": "count", "spark.wait_s": "s", "spark.failed_tasks": "count",
    "spark.storage_bytes": "bytes",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}
#: end-to-end metrics: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"), "pass_s": ("s", "lower"), "peak_rss_mb": ("MB", "lower"),
    "op_p50_s": ("s", "lower"), "op_tail_s": ("s", "lower"),
    "ingest_s": ("s", "lower"), "ndcg_at_30": ("-", "higher"),
    "ranker_auc": ("-", "higher"), "failed_ops": ("ratio", "lower"),
}
#: the end-to-end metrics of the result object (BENCHMARK.json); the others
#: are printed in the report only (README.md says why)
RESULT_METRICS = ("setup_s", "pass_s", "peak_rss_mb")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _private_env(tmp: str) -> dict[str, str]:
    """Directories and settings that keep this run's state out of every
    other run's way; applied before the JVM starts."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no hsperfdata file under the system /tmp; temp files in the run dir
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def _stop(spark) -> None:
    """Stop the session and the JVM it started, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:   # the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args: argparse.Namespace, tmp: str, out: dict) -> None:
    """Set up, measure and check; results go into ``out`` (which
    also holds the session, so the caller can stop it on any error)."""
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    conf = _private_env(tmp)
    import bench

    from albedo_spark.session import get_spark

    w = WORKLOADS[args.workload](args.seed)
    out.update(checks=[], errors=[], passes=[])
    session_start = t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    out["spark"] = spark
    sc = spark.sparkContext
    tracer = trace.Tracer(sc if args.trace else None)

    inputs_dir = os.path.join(tmp, "inputs")
    t0 = time.perf_counter()
    w.inputs(inputs_dir)
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    out["calibration_start"] = bench.bench_calibration(spark)
    calibration_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    w.load(spark, inputs_dir, tracer)
    if args.trace:
        trace.wait_for_listeners(sc)
        setup_layers, _ = trace.layer_counters(sc, tracer)
    load_s = time.perf_counter() - t0
    # from process start to the first timed pass, less the calibration
    # probe, which is the benchmark's own work
    out["setup_s"] = time.perf_counter() - T_PROCESS - calibration_s
    out["setup_parts"] = {"start_s": session_start - T_PROCESS, "session_s": session_s,
                          "inputs_s": inputs_s, "load_s": load_s}

    per_pass_layers: list[dict] = []
    measured, index = 0.0, 0
    while measured < args.seconds:
        index += 1
        tracer.reset()
        gc0 = trace.jvm_gc_s(sc)
        t0 = time.perf_counter()
        try:
            res = w.run_pass(spark, tracer, index)
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
            out["errors"].append(f"pass {index}: {type(exc).__name__}: {exc}"[:800])
            traceback.print_exc(file=sys.stderr)
            res = None
        wall = time.perf_counter() - t0
        measured += wall
        info = {"pass_s": wall, "storage_bytes": trace.storage_bytes(sc),
                "gc_s": trace.jvm_gc_s(sc) - gc0}
        if res is not None:
            info.update(ops=res.ops, ingest_ops=res.ingest_ops, ingest_s=res.ingest_s,
                        quality=res.quality)
        if args.trace and res is not None:
            trace.wait_for_listeners(sc)
            layers, totals = trace.layer_counters(sc, tracer)
            per_pass_layers.append({"layers": layers, "totals": totals,
                                    "counts": dict(tracer.counts),
                                    "overhead_s": tracer.overhead_s, "pass_s": wall,
                                    "storage_bytes": info["storage_bytes"]})
        out["passes"].append(info)
        if measured < args.seconds:     # the last pass is kept for the checks
            w.end_pass(spark)

    out["calibration_end"] = bench.bench_calibration(spark)
    t0 = time.perf_counter()
    out["checks"].append(same_inputs(w, inputs_dir, os.path.join(tmp, "inputs-again")))
    try:
        out["checks"] += w.check(spark)
    except Exception as exc:  # noqa: BLE001 - a check that cannot run has failed
        traceback.print_exc(file=sys.stderr)
        out["checks"].append(("checks_ran", False, f"{type(exc).__name__}: {exc}"[:800]))
    out["check_s"] = time.perf_counter() - t0
    w.end_pass(spark)
    out["peak_rss_mb"] = trace.peak_rss_mb([os.getpid(), trace.jvm_pid(sc)])
    if args.trace:
        out["per_layer"] = per_layer_metrics(per_pass_layers, setup_layers, session_s)


def same_inputs(w, first: str, again: str) -> tuple[str, bool, str]:
    """Write the seed's inputs a second time and compare them byte for byte
    with the ones the passes read."""
    w.inputs(again)
    files = sorted(f for f in os.listdir(first) if f.endswith(".parquet"))
    same = files == sorted(f for f in os.listdir(again) if f.endswith(".parquet")) and all(
        filecmp.cmp(os.path.join(first, f), os.path.join(again, f), shallow=False)
        for f in files
    )
    shutil.rmtree(again)
    return "inputs_byte_identical_per_seed", same, f"{len(files)} tables"


def per_layer_metrics(passes: list[dict], setup_layers: dict, session_s: float) -> dict:
    """Median over timed passes of every per-layer counter; the ``session``
    and ``io`` layers come from setup, where their spans run."""
    m: dict[str, float] = {}
    for layer in LAYERS:
        for c in COUNTERS:
            if layer == "session":
                v = session_s if c in ("busy_s", "driver_s") else 0
            elif layer == "io":
                v = setup_layers.get("io", {}).get(c, 0)
            else:
                v = _median([p["layers"].get(layer, {}).get(c, 0) for p in passes])
            m[f"{layer}.{c}"] = v
    med = lambda f: _median([f(p) for p in passes])  # noqa: E731
    m["queries.plan_s"] = med(lambda p: p["counts"].get("queries.plan_s", 0))
    m["queries.exec_s"] = med(lambda p: p["counts"].get("queries.exec_s", 0))
    cand = med(lambda p: p["counts"].get("operators.dedup.candidate_pairs", 0))
    ver = med(lambda p: p["counts"].get("operators.dedup.verified_pairs", 0))
    m["operators.dedup.candidate_pairs"] = cand
    m["operators.dedup.verified_pairs"] = ver
    m["operators.dedup.verify_yield"] = ver / cand if cand else 0.0
    rounds = med(lambda p: p["counts"].get("operators.graph.rounds", 0))
    m["operators.graph.rounds"] = rounds
    m["operators.graph.s_per_round"] = (
        m["operators.graph.busy_s"] / rounds if rounds else 0.0
    )
    m["spark.stages"] = med(lambda p: p["totals"]["stages"])
    m["spark.wait_s"] = med(lambda p: p["totals"]["wait_s"])
    m["spark.failed_tasks"] = med(lambda p: p["totals"]["failed_tasks"])
    m["spark.storage_bytes"] = med(lambda p: p["storage_bytes"])
    m["trace.pass_s"] = med(lambda p: p["pass_s"])
    m["trace.overhead_s"] = med(lambda p: p["overhead_s"])
    return m


def unit(name: str) -> str:
    if name in EXTRA:
        return EXTRA[name]
    return UNITS[name.rsplit(".", 1)[1]]


def summarize(args: argparse.Namespace, out: dict) -> tuple[dict, bool, int, int]:
    """Print the human-readable report and build the result object."""
    from bench import contention_flag

    from perfbench.trace import percentile, tail

    passes = [p for p in out["passes"] if "ops" in p]
    ops = [x for p in passes for _, x in p["ops"]]
    n_ops_attempted = sum(len(p.get("ops", [])) for p in out["passes"]) + len(out["errors"])
    checks = out["checks"]
    failed = len(out["errors"]) + sum(1 for _, ok, _ in checks if not ok)
    attempted = max(1, n_ops_attempted + len(checks))
    pct, tail_v, beyond = tail(ops) if ops else (50.0, 0.0, 0)
    e2e = {
        "setup_s": out["setup_s"],
        "pass_s": _median([p["pass_s"] for p in passes]),
        "peak_rss_mb": out["peak_rss_mb"],
        "op_p50_s": percentile(ops, 50.0) if ops else 0.0,
        "op_tail_s": tail_v,
    }
    if args.workload == "corpus_search":
        e2e["ingest_s"] = _median([p["ingest_s"] for p in passes])
    if args.workload == "recsys_nightly" and passes:
        for q in ("ndcg_at_30", "ranker_auc"):
            e2e[q] = _median([p["quality"][q] for p in passes])
    e2e["failed_ops"] = failed / attempted
    contended, ratios = contention_flag(out["calibration_start"], out["calibration_end"])

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cpus {os.environ.get('SPARK_GRAFT_CPUS')}  timed passes {len(out['passes'])}  "
          f"operations {len(ops)}")
    for k, v in e2e.items():
        u, better = END_TO_END[k]
        note = ""
        if k == "op_tail_s":
            note = f"  (p{pct:g}, {beyond} of {len(ops)} samples beyond)"
        elif k == "failed_ops":
            note = f"  ({failed} of {attempted})"
        print(f"  {k:<12} {v:12.4f} {u:<5} {better} is better{note}")
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for n, x in p["ingest_ops"] + p["ops"]:
            by_name.setdefault(n, []).append(x)
    print("operation medians: " + ", ".join(
        f"{n} {_median(xs):.3f}" for n, xs in by_name.items()))
    print("setup parts: " + ", ".join(f"{k} {v:.3f}" for k, v in out["setup_parts"].items())
          + f"; checks {out['check_s']:.3f}; process so far {time.perf_counter() - T_PROCESS:.3f}")
    print("steadiness per pass (wall s / cached bytes / JVM gc s):")
    for i, p in enumerate(out["passes"], 1):
        print(f"  pass {i}: {p['pass_s']:.3f} / {p['storage_bytes']} / {p['gc_s']:.3f}")
    if len(passes) >= 2:
        print(f"  last/first pass ratio {passes[-1]['pass_s'] / passes[0]['pass_s']:.3f}")
    print(f"contention: contended={contended} ratios={json.dumps(ratios)} "
          f"start={json.dumps(out['calibration_start'])} end={json.dumps(out['calibration_end'])}")
    for name, ok, detail in checks:
        print(f"check {'pass' if ok else 'FAIL'} {name}: {detail}")
    for e in out["errors"]:
        print(f"error {e}")
    if args.trace:
        print("per-layer (median per timed pass; session and io from setup):")
        for k, v in out["per_layer"].items():
            print(f"  {k:<42} {v:16.4f} {unit(k)}")
        print(f"tracing overhead: {out['per_layer']['trace.overhead_s']:.4f} s per pass "
              "inside spans; compare trace.pass_s with pass_s of an untraced run")
    correct = failed == 0
    return e2e, correct, attempted, failed


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "albedo_spark", "session.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no albedo_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    out: dict = {}
    try:
        run(args, tmp, out)
        e2e, correct, attempted, failed = summarize(args, out)
    finally:
        if out.get("spark") is not None:
            _stop(out["spark"])
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in out["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k][0]} for k in RESULT_METRICS}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
