"""The traced run: one iteration with every layer traced, reduced to the
per-layer metrics, plus the tracing overhead against the untraced runs of
the same workload."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from tracing import (
    SPARK_PHASES,
    TRACED,
    Tracer,
    codegen_totals,
    jvm_pid,
    jobs_for_groups,
    jvm_gc_seconds,
    per_layer_metric_names,
    plan_shape,
    stage_metrics,
    tree_cpu_s,
)

_NO_PLAN = {"plan_s": 0.0, "plan_kb": 0.0, "exchange_nodes": 0, "window_nodes": 0,
            "sort_nodes": 0, "python_eval_nodes": 0}


def _untraced_reference(out_dir: str, workload: str) -> list[float]:
    """Iteration walls of earlier untraced runs of this workload."""
    walls = []
    for path in glob.glob(os.path.join(out_dir, f"{workload}-s*-t0-*.json")):
        try:
            with open(path) as f:
                walls += json.load(f)["iteration_walls_s"]
        except (OSError, ValueError, KeyError):
            continue
    return walls


def traced_run(wl, spark, run_id: str, out_dir: str) -> dict:
    from rust_triplets_spark.functions import caching

    sc, jvm = spark.sparkContext, spark.sparkContext._jvm
    tracer = Tracer(spark, run_id)
    steps: dict[str, dict] = {}

    def around_step(step, res):
        gc0, (cg0, _) = jvm_gc_seconds(jvm), codegen_totals(jvm)
        with tracer.span(f"step.{step.name}") as outer:
            with tracer.span(f"step.{step.name}.build") as b:
                t = time.perf_counter()
                df = step.build()
                build_s = time.perf_counter() - t
            shape = plan_shape(df) if df is not None else dict(_NO_PLAN)
            with tracer.span(f"step.{step.name}.exec"):
                t = time.perf_counter()
                out = step.consume(df)
                exec_s = time.perf_counter() - t
        inside = [s for s in tracer.spans if s.start >= outer.start and s.end <= outer.end]
        build_groups = [s.group for s in inside if s.start >= b.start and s.end <= b.end]
        jobs = jobs_for_groups(sc, [s.group for s in inside])
        steps[step.name] = {
            "build_s": build_s, "build_jobs": len(jobs_for_groups(sc, build_groups)),
            "exec_s": exec_s, "jobs": len(jobs), **shape, **stage_metrics(sc, jobs),
            "gc_s": jvm_gc_seconds(jvm) - gc0,
            "codegen_compile_s": codegen_totals(jvm)[0] - cg0,
        }
        return out

    failures, results = [], []
    tracer.install()
    try:
        pid = jvm_pid(jvm)
        results.append(wl.run_iteration(around_step, cpu_clock=lambda: tree_cpu_s(pid)))
    except Exception as exc:  # noqa: BLE001 — counted in failed_frac
        failures.append(f"{type(exc).__name__}: {exc}"[:500])
    finally:
        tracer.uninstall()
        caching.release_all()
        sc.setJobGroup(f"pb-{run_id}-0", "untraced")
    tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    if not results:
        return {"results": [], "failures": failures, "metrics": {}}

    # overhead = this traced iteration minus the untraced iterations of the
    # same workload recorded earlier in this checkout (0 when there are none)
    reference = _untraced_reference(out_dir, wl.name)
    traced_wall = results[0].wall_s

    metrics: dict[str, float] = {name: 0.0 for name, _ in per_layer_metric_names()}
    for phase, _unit in SPARK_PHASES:
        vals = [s.get(phase, 0.0) for s in steps.values()]
        agg = max if phase in ("task_skew", "codegen_max_method_bytes") else sum
        metrics[f"spark.{phase}"] = float(agg(vals)) if vals else 0.0
    metrics["spark.codegen_max_method_bytes"] = float(codegen_totals(jvm)[1])

    self_s = tracer.self_seconds()
    for s in tracer.spans:
        if s.name in TRACED and s.name not in ("plans.batches.batch_iterator",
                                               "functions.caching.cache_scoped"):
            metrics[f"{s.name}.s"] += self_s[s.span_id]
            metrics[f"{s.name}.jobs"] += len(jobs_for_groups(sc, [s.group]))
    metrics["plans.batches.batch_iterator.first_wait_s"] = sum(tracer.first_waits)
    metrics["plans.batches.batch_iterator.batch_wait_s"] = sum(tracer.batch_waits)
    metrics["functions.caching.cache_scoped.calls"] = tracer.cache_calls
    metrics["functions.caching.cache_scoped.hits"] = tracer.cache_hits
    metrics["trace.iteration_s"] = traced_wall
    metrics["trace.overhead_s"] = (
        traced_wall - statistics.median(reference) if reference else 0.0)

    units = dict(per_layer_metric_names())
    return {
        "results": results, "failures": failures,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        "steps": steps,
        "overhead_reference_walls_s": reference,
    }
