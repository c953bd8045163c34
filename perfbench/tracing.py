"""Layer tracing for the traced run: module spans, Spark phases and the
environment block.

Spans are recorded from the benchmark's side of the boundary: each listed
public function is rebound, in every loaded ``rust_triplets_spark.*``
module namespace that holds it, to a wrapper that opens a span. The
package source is not edited. Each span runs under its own Spark job
group, so jobs fired while a DataFrame is being *built* are attributed to
the span that fired them; the status store then supplies their stage
metrics. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import platform
import re
import statistics
import sys
import time
from dataclasses import asdict, dataclass

# ``<module>.<function>`` relative to rust_triplets_spark
TRACED = (
    "operators.chunking.chunk_sections",
    "operators.negatives.negative_pick",
    "operators.triplets.assemble_triplets",
    "operators.triplets.pairs_from_triplets",
    "plans.batches.batch_iterator",
    "functions.caching.cache_scoped",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.neardup_clusters",
    "operators.packing.pack_sequences",
    "sinks.shards.shard_assignment",
    "plans.funnel.training_manifest",
    "streaming.bloom.bloom_filter_model",
    "streaming.decontam.fuzzy_eval_index",
    "streaming.decontam.eval_key_set",
    "streaming.dsir.dsir_model",
    "streaming.funnel.ingest_funnel",
)
PACKAGE = "rust_triplets_spark"
SPARK_PHASES = (
    ("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"), ("plan_kb", "KB"),
    ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("exchange_nodes", "count"), ("window_nodes", "count"), ("sort_nodes", "count"),
    ("python_eval_nodes", "count"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"), ("gc_s", "s"), ("task_skew", "ratio"),
    ("codegen_compile_s", "s"), ("codegen_max_method_bytes", "bytes"),
)
PYTHON_EVAL = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
               "PythonMapInArrow", "FlatMapGroupsInPandas", "AggregateInPandas",
               "WindowInPandas", "FlatMapCoGroupsInPandas"}
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def per_layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    out = [(f"spark.{n}", u) for n, u in SPARK_PHASES]
    for path in TRACED:
        if path == "plans.batches.batch_iterator":
            out += [(f"{path}.first_wait_s", "s"), (f"{path}.batch_wait_s", "s")]
        elif path == "functions.caching.cache_scoped":
            out += [(f"{path}.calls", "count"), (f"{path}.hits", "count")]
        else:
            out += [(f"{path}.s", "s"), (f"{path}.jobs", "count")]
    out += [("trace.iteration_s", "s"), ("trace.overhead_s", "s")]
    return out


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str


class Tracer:
    """Owns the spans of one traced run and the rebinding of the traced
    functions; ``uninstall`` restores every original binding."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.cache_calls = self.cache_hits = 0
        self.batch_waits: list[float] = []
        self.first_waits: list[float] = []
        self._ids = itertools.count(1)
        self._rebound: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> Span:
        sid = next(self._ids)
        group = f"pb-{self.run_id}-{sid}"
        span = Span(sid, name, time.perf_counter(), 0.0,
                    self.stack[-1].span_id if self.stack else None, self.run_id, group)
        self.stack.append(span)
        self.sc.setJobGroup(group, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        self.spans.append(span)
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setJobGroup(f"pb-{self.run_id}-0", "untraced")

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    # -- rebinding ---------------------------------------------------------
    def _wrap(self, path: str, fn):
        name = path
        if path == "plans.batches.batch_iterator":
            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                it = fn(*a, **kw)
                first = True
                while True:
                    with self.span(name):
                        t = time.perf_counter()
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                        (self.first_waits if first else self.batch_waits).append(
                            time.perf_counter() - t)
                    first = False
                    yield item
            return gen_wrapper
        if path == "functions.caching.cache_scoped":
            @functools.wraps(fn)
            def cache_wrapper(df, scope, *a, **kw):
                from rust_triplets_spark.functions import caching

                live = caching._LIVE.get(scope)
                before = live[-1] if live else None
                with self.span(name):
                    out = fn(df, scope, *a, **kw)
                self.cache_calls += 1
                self.cache_hits += out is before
                return out
            return cache_wrapper

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapper

    def install(self) -> None:
        import importlib

        for path in TRACED:
            mod_name, fn_name = f"{PACKAGE}.{path}".rsplit(".", 1)
            fn = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrap(path, fn)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE):
                    for attr, val in list(vars(mod).items()):
                        if val is fn:
                            self._rebound.append((mod, attr, fn))
                            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._rebound):
            setattr(mod, attr, fn)
        self._rebound.clear()

    # -- results -----------------------------------------------------------
    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark status: jobs, stages and plan shape
# ---------------------------------------------------------------------------

def jobs_for_groups(sc, groups) -> list[int]:
    tracker = sc.statusTracker()
    return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})


def stage_metrics(sc, job_ids: list[int]) -> dict:
    """Stage and task totals of ``job_ids`` from the driver's status store
    (available with the UI disabled)."""
    tracker = sc.statusTracker()
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    # py4j does not apply Scala default arguments: pass all five
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = {"stages": 0, "tasks": 0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
           "spill_mb": 0.0, "task_skew": 0.0}
    slowest, slowest_rt = None, -1
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids:
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        out["spill_mb"] += st.diskBytesSpilled() / 2**20
        if st.executorRunTime() > slowest_rt:
            slowest, slowest_rt = st, st.executorRunTime()
    if slowest is not None:
        tasks = store.taskList(slowest.stageId(), slowest.attemptId(), 100_000)
        durs = [tasks.apply(i).duration().get() for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()]
        if durs and statistics.median(durs) > 0:
            out["task_skew"] = max(durs) / statistics.median(durs)
    return out


def plan_shape(df) -> dict:
    """Force the physical plan; its build time, size and node counts."""
    t = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    plan_s = time.perf_counter() - t
    text = plan.toString()
    names = [m.group(1) for m in map(_NODE.match, text.splitlines()) if m]
    return {
        "plan_s": plan_s,
        "plan_kb": len(text.encode()) / 1024,
        "exchange_nodes": sum(n.endswith("Exchange") for n in names),
        "window_nodes": sum(n == "Window" for n in names),
        "sort_nodes": sum(n == "Sort" for n in names),
        "python_eval_nodes": sum(n in PYTHON_EVAL for n in names),
    }


def codegen_totals(jvm) -> tuple[float, int]:
    """(approximate total compile seconds, largest generated method bytes)
    from Spark's process-wide ``CodegenMetrics`` histograms."""
    cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
    comp = cm.METRIC_COMPILATION_TIME()
    snap = comp.getSnapshot()
    total_ms = snap.getMean() * comp.getCount()
    return total_ms / 1000, int(cm.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getSnapshot().getMax())


# ---------------------------------------------------------------------------
# process and environment
# ---------------------------------------------------------------------------

def jvm_gc_seconds(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(jvm) -> int:
    return jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(jvm) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this process."""
    return (_vm_hwm_kb(jvm_pid(jvm)) + _vm_hwm_kb("self")) / 1024


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid``, its live descendants (the
    Python UDF workers under the JVM) and this process."""
    ticks, parent = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = int(fields[11]) + int(fields[12])
    total = 0
    for pid in ticks:
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += ticks[pid]
    me = os.times()
    return total / os.sysconf("SC_CLK_TCK") + me.user + me.system


def _meminfo_total_kb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def loadavg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return []


def _git_head(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def environment(spark, root: str) -> dict:
    jvm = spark.sparkContext._jvm
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _meminfo_total_kb() // 1024,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_head": _git_head(root),
    }
