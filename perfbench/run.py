"""Benchmark of the feature_store_ml_spark engine, one workload per run.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 9 --trace 0

Runs from the root of a source tree and measures the engine in that tree.
One process and one client thread drive ``local[N]`` with N = nproc, in a
closed loop. Set-up starts the session, generates the seeded inputs (three
times, median kept) and runs the warm-up passes; the timed phase then runs
the number of whole passes that ``--seconds`` buys at the workload's nominal
pass time, and the correctness gate runs once, untimed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds and reports the per-layer table of the traced
ones, with ``trace.overhead_frac`` comparing the two. The last line of
standard output is the result object; the ``# header`` and ``# detail``
lines before it describe the run (versions, input size, tail percentile,
per-check verdicts). perfbench/layer_map.json defines every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "feature_store_ml_spark"
PREPARE_REPS = 3

UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "space_amp": "x",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument(
        "--workload", required=True, choices=["olap_read", "feature_store", "llm_curation"]
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: str) -> None:
    """Point every scratch path at ``run_dir`` and pin the engine to the
    tree this script sits in, for the Spark driver and its Python workers."""
    if not os.path.isfile(f"{ROOT}/{PKG}/__init__.py"):
        fail(f"no {PKG} package next to {os.path.basename(HERE)}/ — run from a source tree")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{run_dir}/{sub}")
    os.environ["TMPDIR"] = f"{run_dir}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    import feature_store_ml_spark

    if not in_tree(feature_store_ml_spark.__file__):
        fail(f"imported {feature_store_ml_spark.__file__}, not the tree at {ROOT}")


def in_tree(path: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(ROOT) + os.sep)


def worker_pkg_file(_):
    import feature_store_ml_spark

    return feature_store_ml_spark.__file__


def start_session(tracer, trace: bool, run_dir: str, cpus: int):
    from feature_store_ml_spark import session

    conf = {
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.local.dir": f"{run_dir}/spark-local",
        # a fixed heap keeps GC sizing, and so timings, alike across runs
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp"
            f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    with tracer.span("session", "get_spark"):
        return session.get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every descendant (Python workers) to end; kill stragglers."""
    import procfs

    me = os.getpid()
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not procfs.descendants(me):
            return
        time.sleep(0.2)
    for pid in procfs.descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that still has at least ten
    samples beyond it: (value, percentile, samples beyond). With ten or
    fewer samples it is the maximum, with nothing beyond."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    rank = n - 10  # 1-based nearest rank
    return xs[rank - 1], math.floor(100.0 * rank / n), n - rank


def storage_diff(before: dict, after: dict) -> tuple[int, int, int]:
    """(bytes written, files written, metadata bytes written)."""
    new = [(p, s) for p, s in after.items() if before.get(p) != s]
    meta = sum(s for p, s in new if is_metadata(p))
    return sum(s for _, s in new), len(new), meta


def is_metadata(path: str) -> bool:
    parts = path.split(os.sep)
    return (
        "_delta_log" in parts or "metadata" in parts
        or parts[-1].startswith(("_", ".")) or parts[-1].endswith(".json")
    )


def run(args, run_dir: str) -> dict:
    import procfs
    import tracer as tr

    cpus = nproc()
    trace = bool(args.trace)
    tracer = tr.Tracer() if trace else tr.NullTracer()
    if trace:
        tracer.install()
        tracer.active = True  # the session span
    with procfs.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_session(tracer, trace, run_dir, cpus)
        session_s = time.perf_counter() - t0
        tracer.active = False
        try:
            out = measure(args, run_dir, spark, tracer, session_s, cpus)
        finally:
            stop_session(spark)
    if "peak_rss_mb" in out["metrics"]:
        out["metrics"]["peak_rss_mb"] = rss.peak / 2**20
    return out


def measure(args, run_dir, spark, tracer, session_s, cpus) -> dict:
    import procfs
    import workloads

    trace = bool(args.trace)
    sc = spark.sparkContext
    worker_file = sc.parallelize([0], 1).map(worker_pkg_file).collect()[0]
    if not in_tree(worker_file):
        fail(f"Python workers import {worker_file}, not the tree at {ROOT}")
    if trace:
        tracer.attach(sc)
    header = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "nproc": os.cpu_count(), "local_n": cpus,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "engine": os.path.dirname(worker_file), "loop": "closed, 1 client thread",
    }

    w = workloads.WORKLOADS[args.workload](spark, args.seed, args.smoke)
    prep = []
    for r in range(PREPARE_REPS):
        t = time.perf_counter()
        w.prepare(f"{run_dir}/rep{r}")
        prep.append(time.perf_counter() - t)
        if r < PREPARE_REPS - 1:
            shutil.rmtree(f"{run_dir}/rep{r}", ignore_errors=True)
    header.update(input_rows=w.input_rows, input_bytes=w.input_bytes, input_files=w.input_files)
    attempted = failed = 0
    t = time.perf_counter()
    for pass_no in range(-w.warmup_passes, 0):
        for op in w.ops(pass_no):
            attempted += 1
            failed += not run_op(op, tracer)
    setup_s = session_s + statistics.median(prep) + (time.perf_counter() - t)

    samples: list[tuple[str, float, bool]] = []  # (op, seconds, traced)
    storage = {"bytes": 0, "files": 0, "meta": 0}
    rounds: list[tuple[int, float, float]] = []  # untraced: (rows, op s, cpu s)
    kinds = {False: 0, True: 0}
    m = w.pass_multiple
    # a traced run alternates untraced and traced rounds, two of each
    n_rounds = max(w.timed_passes(args.seconds) // m, 4 if trace else 1)
    for r in range(n_rounds):
        traced = trace and r % 2 == 1
        tracer.begin_pass(r, traced)
        rows, op_s, cpu0 = 0, 0.0, procfs.tree_cpu_s()
        for pass_no in range(r * m, (r + 1) * m):
            for op in w.ops(pass_no):
                before = workloads.listing(w.table_roots()) if traced and op.writes else None
                tracer.active = traced
                t = time.perf_counter()
                ok = run_op(op, tracer)
                dt = time.perf_counter() - t
                tracer.active = False
                attempted += 1
                failed += not ok
                samples.append((op.name, dt, traced))
                rows += op.rows
                op_s += dt
                if before is not None:
                    b, f, meta = storage_diff(before, workloads.listing(w.table_roots()))
                    storage["bytes"] += b
                    storage["files"] += f
                    storage["meta"] += meta
            if traced:
                w.after_traced_pass()
        tracer.end_pass()
        if not traced:
            rounds.append((rows, op_s, procfs.tree_cpu_s() - cpu0))
        kinds[traced] += 1

    checks = w.check()
    attempted += len(checks)
    failed += sum(1 for _, err in checks if err)
    plain = [s for _, s, traced in samples if not traced]
    op_tail, pct, beyond = tail(plain)
    detail = {
        "passes": n_rounds * m, "traced_passes": kinds[True] * m, "ops_timed": len(plain),
        "round_op_s": [round(x[1], 4) for x in rounds],
        "round_cpu_s": [round(x[2], 4) for x in rounds],
        "op_tail_percentile": pct,
        "op_tail_samples_beyond": beyond, "error_rate": failed / attempted,
        "setup_parts_s": {"session": round(session_s, 4), "prepare": [round(x, 4) for x in prep]},
        "checks": {name: err or "ok" for name, err in checks},
        "op_p50_by_name_s": {
            name: round(statistics.median(s for n, s, t in samples if n == name and not t), 4)
            for name in dict.fromkeys(n for n, _, t in samples if not t)
        },
    }
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": statistics.median(x[0] / x[1] for x in rounds),
            "op_p50_s": statistics.median(plain),
            "op_tail_s": op_tail,
            "cpu_s": statistics.median(x[2] for x in rounds) / m,
            "peak_rss_mb": 0.0,  # set once the session and its sampler stop
            "space_amp": w.space_amp(),
        }
    else:
        n = max(kinds[True] * m, 1)
        live = w.live_bytes()
        metrics = tracer.layer_table(n)
        metrics.update({
            "storage.bytes_written_mb": storage["bytes"] / 2**20 / n,
            "storage.files_written": storage["files"] / n,
            "storage.write_amp": storage["bytes"] / n / live if live else 0.0,
            "storage.metadata_frac": (
                storage["meta"] / storage["bytes"] if storage["bytes"] else 0.0
            ),
            "io.skipping.files_kept_frac": w.files_kept_frac(),
            "trace.overhead_frac": overhead(samples),
        })
        spans_dir = os.path.join(ROOT, ".perfbench_runs", "spans")
        spans = os.path.join(spans_dir, f"{args.workload}-s{args.seed}.jsonl")
        os.makedirs(spans_dir, exist_ok=True)
        with open(spans, "w") as fh:
            fh.writelines(json.dumps(rec) + "\n" for rec in tracer.records)
        detail["spans_file"] = os.path.relpath(spans, ROOT)
    print("# header " + json.dumps(header), flush=True)
    print("# detail " + json.dumps(detail), flush=True)
    return {"metrics": metrics, "attempted": attempted, "failed": failed}


def run_op(op, tracer) -> bool:
    try:
        with tracer.span(op.layer, op.name):
            op.fn()
        return True
    except Exception:
        print(f"# op {op.name} raised:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        return False


def overhead(samples) -> float:
    """Geometric mean over operations of median traced / median untraced
    latency, minus one."""
    by = {}
    for name, s, traced in samples:
        by.setdefault(name, {False: [], True: []})[traced].append(s)
    ratios = [
        statistics.median(v[True]) / statistics.median(v[False])
        for v in by.values() if v[True] and v[False]
    ]
    return math.exp(statistics.fmean(math.log(r) for r in ratios)) - 1 if ratios else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    isolate(run_dir)
    try:
        out = run(args, run_dir)
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            k: {"value": v, "unit": UNITS.get(k) or layer_unit(k)}
            for k, v in out["metrics"].items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field.endswith(("_frac", "_amp", "_spread")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
