"""Benchmark runner: one workload, one Python process, ``local[nproc]``.

    python3 perfbench/run.py --workload triplets --seed 42 --seconds 1 --trace 0

Run from the repository root. The run

1. sets up five times and reports the median (``setup_s``): start (or
   restart) the SparkSession, generate the seeded inputs, read them and run
   one small warm-up job;
2. times closed-loop iterations of the workload (one client; each
   iteration starts when the previous one has finished) until
   ``--seconds`` have passed, at least one, releasing the scoped caches
   between iterations;
3. checks the outputs of the first iteration against the registered
   DuckDB twins, outside the timed region.

``--trace 1`` instead runs one iteration with every layer traced and
reports the per-layer metrics (see ``tracing.py``); its spans are written
to ``.perfbench_out/``. Every result also goes to ``.perfbench_out/`` with
the environment block. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"  # fits a 15 GB, 4-core host; the package default is 16g
SETUPS = 5


_T0 = time.perf_counter()


def _log(phase: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:7.2f}s {phase}", file=sys.stderr, flush=True)


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_HEAP)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_opts}' pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def _start_session():
    from rust_triplets_spark.session import get_spark

    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    # single-row-group inputs: fan the scans out over the cores, as bench.py does
    spark.conf.set("spark.rust_triplets.scanPartitions", os.environ["SPARK_GRAFT_CPUS"])
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def set_up(workload_cls, seed: int, work: str):
    """SETUPS set-ups; returns (spark, data_dir, setup seconds, input stats).
    The first set-up also launches the JVM; later ones restart the
    SparkSession in it, regenerate the inputs and rerun the warm-up."""
    from pyspark.sql import functions as F

    from workloads import generate_documents

    spark, times, stats, data_dir = None, [], None, None
    for k in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        data_dir = os.path.join(work, f"inputs-{k}")
        stats = generate_documents(seed, workload_cls.n_docs, data_dir)
        spark = _start_session()
        docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
        docs.groupBy("source").agg(F.sum(F.length("text"))).collect()
        times.append(time.perf_counter() - t0)
        _log(f"set-up {k} done in {times[-1]:.2f}s")
    return spark, data_dir, times, stats


def timed_run(wl, seconds: float):
    from rust_triplets_spark.functions import caching
    from tracing import jvm_pid, tree_cpu_s

    pid = jvm_pid(wl.spark.sparkContext._jvm)

    results, failures = [], []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        try:
            results.append(wl.run_iteration(cpu_clock=lambda: tree_cpu_s(pid)))
        except Exception as exc:  # noqa: BLE001 — counted in failed_frac
            failures.append(f"{type(exc).__name__}: {exc}"[:500])
            if len(failures) >= 3:
                break
        finally:
            caching.release_all()
    return results, failures


def run_checks(wl, res):
    try:
        return [c.__dict__ for c in wl.check(res)]
    except Exception as exc:  # noqa: BLE001 — a broken twin is a failed check
        return [{"name": "check", "ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]}]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rust_triplets_spark", "__init__.py")):
        _fail("rust_triplets_spark not found next to perfbench/; run from the repository root")
    if not os.path.isfile(os.path.join(ROOT, "scripts", "gen_scale_data.py")):
        _fail("scripts/gen_scale_data.py not found; run from the repository root")
    sys.path[:0] = [ROOT, HERE]
    from tracing import environment, jvm_gc_seconds, loadavg, peak_rss_mb
    from workloads import WORKLOADS, iteration_figures

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    load_before = loadavg()

    spark = None
    try:
        spark, data_dir, setup_times, input_stats = set_up(cls, args.seed, work)
        wl = cls(spark, data_dir, args.seed)
        if args.trace:
            from traced import traced_run

            record = traced_run(wl, spark, run_id, out_dir)
            results, failures = record.pop("results"), record.pop("failures")
        else:
            results, failures = timed_run(wl, args.seconds)
            record = {}
        _log("iterations done")
        checks = run_checks(wl, results[0]) if results else []
        _log("checks done")
        jvm = spark.sparkContext._jvm
        env = environment(spark, ROOT)
        env["jvm_gc_total_s"] = jvm_gc_seconds(jvm)
        rss = peak_rss_mb(jvm)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        _log("session stopped")
    env["loadavg_before"], env["loadavg_after"] = load_before, loadavg()

    attempted = sum(len(r.step_s) for r in results) + len(failures) + len(checks)
    failed = len(failures) + sum(not c["ok"] for c in checks)
    figures = iteration_figures(wl, results) if results else {}
    figures["failed_frac"] = (failed / attempted if attempted else 1.0, "ratio")
    figures["failed_frac_base"] = (attempted, "operations")
    if not results:
        print(json.dumps({"failures": failures}), file=sys.stderr)
        return 1

    if args.trace:
        metrics = record.pop("metrics")
    else:
        metrics = {
            "cpu_ms_per_doc": {"value": 1000 * figures["iteration_cpu_p50_s"][0] / cls.n_docs,
                               "unit": "ms/doc"},
            "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    full = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "inputs": input_stats, "setup_samples_s": setup_times,
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
        "iteration_walls_s": [r.wall_s for r in results], "checks": checks,
        "failures": failures, "environment": env, "metrics": metrics, **record,
    }
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(full, f, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed}: "
          + ", ".join(f"{k} {v['rows']} rows, mean text {v['mean_text_chars']} chars"
                      for k, v in input_stats.items()))
    for k, (v, u) in figures.items():
        print(f"  {k:<28} {v if v is None else round(v, 4)} {u}")
    for c in checks:
        print(f"  check {c['name']:<22} {'ok' if c['ok'] else 'MISMATCH'} "
              f"spark={c.get('spark')} twin={c.get('twin')}{c.get('error', '')}")
    print(f"  environment {json.dumps(env, default=str)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
