"""The three benchmark workloads: seeded inputs, one timed iteration, and
the DuckDB-twin correctness gate.

Every workload reads only the parquet files generated from the workload
seed. An iteration is a list of *steps*; each step builds a DataFrame
through the package's public entry points (``build``) and then hands its
rows to the consumer (``consume``), so the tracer can split build, plan
and execution per step. The outputs of the first timed iteration are kept
and checked against the registered DuckDB twins after timing ends.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


def median(xs):
    return statistics.median(xs) if xs else None


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def generate_documents(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` into ``out_dir`` with the schema and
    distributions of ``scripts/gen_scale_data.py`` (its own ``gen``, run
    with ``SEED = seed``). Only the documents table is written; the other
    tables are not read by any workload. Returns the input statistics."""
    sys.path.insert(0, os.path.join(repo_root(), "scripts"))
    try:
        import gen_scale_data as gen_mod
    finally:
        sys.path.pop(0)
    saved_seed, saved_write = gen_mod.SEED, gen_mod._write

    def write_documents_only(out, name, table):
        if name == "documents":
            import pyarrow.parquet as pq

            pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    gen_mod.SEED, gen_mod._write = seed, write_documents_only
    try:
        gen_mod.gen(n_docs / 50_000, out_dir)
    finally:
        gen_mod.SEED, gen_mod._write = saved_seed, saved_write
    import pyarrow.parquet as pq

    text = pq.read_table(os.path.join(out_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    return {"documents": {"rows": len(text),
                          "mean_text_chars": round(float(np.mean([len(t) for t in text])), 2)}}


# ---------------------------------------------------------------------------
# correctness: row count + order-insensitive value hash
# ---------------------------------------------------------------------------

def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return repr(float(v))
    return str(v)


def frame_digest(df: pd.DataFrame) -> tuple[int, str]:
    """``(rows, hash)``: the hash is over the sorted column names and the
    multiset of canonicalised rows, so row order and int/float width do not
    matter but every value does."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(_canon(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return len(rows), h.hexdigest()[:16]


@dataclass
class Check:
    name: str
    ok: bool
    spark: tuple
    twin: tuple


def compare_with_twin(con, name: str, spark_pdf: pd.DataFrame, twin_sql: str) -> Check:
    twin = con.execute(twin_sql).df()
    s, t = frame_digest(spark_pdf), frame_digest(twin)
    return Check(name, s == t, s, t)


def duck_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}')")
    return con


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

@dataclass
class Step:
    name: str
    build: object      # () -> DataFrame
    consume: object    # (DataFrame) -> result kept for the correctness gate


@dataclass
class IterationResult:
    wall_s: float
    cpu_s: float = 0.0
    outputs: dict = field(default_factory=dict)
    step_s: dict = field(default_factory=dict)   # step name -> wall seconds
    samples: dict = field(default_factory=dict)  # name -> list of values


class Workload:
    name = ""
    n_docs = 0

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark, self.data_dir, self.seed = spark, data_dir, seed

    def steps(self, res: IterationResult) -> list[Step]:
        raise NotImplementedError

    def run_iteration(self, around_step=None, cpu_clock=None) -> IterationResult:
        """One closed-loop iteration; ``around_step(step, res)`` lets the
        tracer wrap each step (default: build then consume); ``cpu_clock()``
        returns the CPU seconds used so far by the processes doing the work."""
        res = IterationResult(0.0)
        c0 = cpu_clock() if cpu_clock else 0.0
        t0 = time.perf_counter()
        for step in self.steps(res):
            t = time.perf_counter()
            if around_step is None:
                res.outputs[step.name] = step.consume(step.build())
            else:
                res.outputs[step.name] = around_step(step, res)
            res.step_s[step.name] = time.perf_counter() - t
        res.wall_s = time.perf_counter() - t0
        res.cpu_s = cpu_clock() - c0 if cpu_clock else 0.0
        return res

    def check(self, res: IterationResult) -> list[Check]:
        raise NotImplementedError

    def figures(self, samples: dict[str, list]) -> dict:
        """Workload-specific end-to-end figures ``name -> (value, unit)``
        from the pooled samples (step walls under ``step:<name>``)."""
        return {}


def _to_pandas(df):
    return df.toPandas()


class Triplets(Workload):
    """The train split of ``triplet_assembly`` streamed through
    ``plans.batches.batch_iterator`` (batch 128) into the consumer, then
    ``pairs_from_triplets`` collected (it reuses the scoped caches the
    assembly left behind)."""

    name = "triplets"
    n_docs = 500
    batch_size = 128

    def steps(self, res):
        from pyspark.sql import functions as F

        from rust_triplets_spark.plans import driver_queries as DQ
        from rust_triplets_spark.plans.batches import Checkpoint, batch_iterator

        def build_train():
            trip = DQ.QUERIES["triplet_assembly"](self.spark, self.data_dir)
            return trip.where(F.col("split") == "train").select(
                _triplet_key_col().alias("tid"), F.col("recipe").alias("src"))

        def stream(df):
            ids, waits = [], []
            t = time.perf_counter()
            for _idx, pdf in batch_iterator(df, "tid", "src", Checkpoint(42, 0, 0),
                                            batch_size=self.batch_size):
                waits.append(time.perf_counter() - t)
                ids.extend(pdf["id"].tolist())
                t = time.perf_counter()
            res.samples.setdefault("first_batch_s", []).append(waits[0])
            res.samples.setdefault("batch_wait_s", []).extend(waits[1:])
            res.samples.setdefault("batches", []).append(len(waits))
            return ids

        return [
            Step("batch_stream", build_train, stream),
            Step("pairs_from_triplets",
                 lambda: DQ.QUERIES["pairs_from_triplets"](self.spark, self.data_dir),
                 _to_pandas),
        ]

    def figures(self, samples):
        waits = samples.get("batch_wait_s", [])
        return {
            "first_batch_s": (median(samples.get("first_batch_s", [])), "s"),
            "batches_per_s": (len(waits) / sum(waits) if sum(waits) else None, "batches/s"),
            "batches_per_stream": (median(samples.get("batches", [])), "count"),
        }

    def check(self, res):
        from rust_triplets_spark.plans import driver_queries as DQ

        con = duck_connection(self.data_dir)
        try:
            out = [compare_with_twin(con, "pairs_from_triplets",
                                     res.outputs["pairs_from_triplets"],
                                     DQ.ORACLES["pairs_from_triplets"])]
            twin = con.execute(DQ.ORACLES["triplet_assembly"]).df()
        finally:
            con.close()
        train = twin[twin["split"] == "train"]
        want = pd.DataFrame({"tid": _triplet_keys(train)})
        got = pd.DataFrame({"tid": res.outputs["batch_stream"]})
        s, t = frame_digest(got), frame_digest(want)
        out.append(Check("batch_stream", s == t, s, t))
        return out


# the columns that identify one triplet row in the streamed batches
_TRIPLET_KEY = ("anchor_key", "positive_key", "negative_key", "swapped")


def _triplet_key_col():
    from pyspark.sql import functions as F

    return F.concat_ws("|", *(F.coalesce(F.col(c).cast("string"), F.lit(""))
                              for c in _TRIPLET_KEY))


def _triplet_keys(pdf: pd.DataFrame) -> list[str]:
    def text(v):
        if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
            return ""
        return str(bool(v)).lower() if isinstance(v, (bool, np.bool_)) else str(v)

    return ["|".join(map(text, row))
            for row in pdf[list(_TRIPLET_KEY)].itertuples(index=False, name=None)]


class CurateIngest(Workload):
    """The at-rest corpus curated into a training manifest
    (``training_funnel``, collected), then the streaming side: one refit of
    the ingest models (``fit_ingest_models``) and ``deliveries`` second-hash
    slices of the arrivals, each run through ``ingest_funnel`` and
    collected. The slicing matches the registered ``ingest_funnel_trace``:
    hash bucket <=4 history, 5 eval, 6 target, >=7 arrivals."""

    name = "curate_ingest"
    n_docs = 500
    num_hashes, bands = 8, 2
    deliveries = 2
    delivery_seed = 7

    @staticmethod
    def _bucket(seed: int, mod: int):
        from pyspark.sql import functions as F

        from rust_triplets_spark.functions.hashing import hash31_col

        return F.pmod(hash31_col(F.col("doc_id").cast("long"), seed), F.lit(mod))

    def steps(self, res):
        from rust_triplets_spark.plans import driver_queries as DQ
        from rust_triplets_spark.streaming.funnel import fit_ingest_models, ingest_funnel

        docs = self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
        b = self._bucket(42, 10)
        models = {}

        def refit():
            models["m"] = fit_ingest_models(
                docs.where(b <= 4), docs.where(b == 5), docs.where(b == 6), "text",
                num_hashes=self.num_hashes, bands=self.bands)

        def delivery(k):
            def build():
                arrivals = docs.where(b >= 7).where(
                    self._bucket(self.delivery_seed, self.deliveries) == k)
                return ingest_funnel(arrivals, models["m"], "doc_id", "text")
            return build

        return [
            Step("training_funnel",
                 lambda: DQ.QUERIES["training_funnel"](self.spark, self.data_dir),
                 _to_pandas),
            Step("fit_ingest_models", refit, lambda _none: None),
            *(Step(f"delivery_{k}", delivery(k), _to_pandas)
              for k in range(self.deliveries)),
        ]

    def figures(self, samples):
        deliveries = [v for k, vs in samples.items() if k.startswith("step:delivery_")
                      for v in vs]
        return {
            "refit_s": (median(samples.get("step:fit_ingest_models", [])), "s"),
            "delivery_p50_s": (median(deliveries), "s"),
            "delivery_samples": (len(deliveries), "count"),
        }

    def check(self, res):
        from rust_triplets_spark.functions.hashing import hash31_sql
        from rust_triplets_spark.plans import driver_queries as DQ
        from rust_triplets_spark.streaming.funnel import ingest_funnel_trace_sql

        bucket = f"({hash31_sql('CAST(doc_id AS BIGINT)', 42)} % 10)"
        ingest_twin = ingest_funnel_trace_sql(
            f"SELECT * FROM documents WHERE {bucket} >= 7",
            f"SELECT * FROM documents WHERE {bucket} <= 4",
            f"SELECT * FROM documents WHERE {bucket} = 5",
            f"SELECT * FROM documents WHERE {bucket} = 6",
            "t.doc_id", "t.text", num_hashes=self.num_hashes, bands=self.bands)
        delivered = pd.concat([res.outputs[f"delivery_{k}"] for k in range(self.deliveries)],
                              ignore_index=True)
        con = duck_connection(self.data_dir)
        try:
            return [
                compare_with_twin(con, "training_funnel", res.outputs["training_funnel"],
                                  DQ.ORACLES["training_funnel"]),
                compare_with_twin(con, "ingest_funnel_trace", delivered, ingest_twin),
            ]
        finally:
            con.close()


def iteration_figures(wl: Workload, results: list[IterationResult]) -> dict:
    """End-to-end figures of the timed iterations, ``name -> (value, unit)``,
    printed by name next to the bounded metrics."""
    walls = [r.wall_s for r in results]
    out = {"iterations": (len(walls), "count"),
           "iteration_p50_s": (median(walls), "s"),
           "iteration_cpu_p50_s": (median([r.cpu_s for r in results]), "s"),
           "docs_per_s": (wl.n_docs / median(walls), "docs/s")}
    samples: dict[str, list] = {}
    for r in results:
        for k, v in r.samples.items():
            samples.setdefault(k, []).extend(v)
        for k, v in r.step_s.items():
            samples.setdefault(f"step:{k}", []).append(v)
    out.update(wl.figures(samples))
    for k, v in samples.items():
        if k.startswith("step:"):
            out[f"{k[5:]}_p50_s"] = (median(v), "s")
    return out


WORKLOADS = {w.name: w for w in (Triplets, CurateIngest)}
