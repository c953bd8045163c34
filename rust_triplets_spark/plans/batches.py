"""Resumable epoch/batch iteration + checkpoint state (SURVEY §2.8).

The reference persists ``PersistedSamplerState`` — per-source cursors, RNG
state, round-robin indices (src/splits.rs:102-117) — because its order is
produced by stateful iteration. This engine's design goal (SURVEY §7.0)
makes ALL ordering a pure function of ``(seed, epoch, step)``, so resume
state collapses to exactly those three integers plus config guards.

``Checkpoint.save/load`` mirror ``FileSplitStore`` semantics
(src/splits.rs:563-611): a seed or ratio mismatch on open is an error, not
a silent re-derivation — changing either would silently reshuffle splits.

``batch_iterator`` feeds a training loop: epoch order → contiguous
position windows of ``batch_size`` → Arrow-batched pandas frames via
``toLocalIterator`` (prefetching one partition ahead — the Spark analogue
of the reference's ``BatchPrefetcher`` thread+channel,
src/sampler/mod.rs:159-248)."""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_triplets_spark.operators.epoch import epoch_order


@dataclass
class Checkpoint:
    seed: int
    epoch: int
    step: int
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1)
    version: int = 1

    def save(self, path: str) -> None:
        tmp = path + ".tmp"  # temp-copy publish (src/splits.rs:563-611)
        with open(tmp, "w") as f:
            json.dump(asdict(self), f)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str, expect_seed: int | None = None,
             expect_ratios: tuple | None = None) -> "Checkpoint":
        with open(path) as f:
            raw = json.load(f)
        ck = cls(seed=raw["seed"], epoch=raw["epoch"], step=raw["step"],
                 ratios=tuple(raw["ratios"]), version=raw.get("version", 1))
        if expect_seed is not None and ck.seed != expect_seed:
            raise ValueError(f"seed mismatch: checkpoint {ck.seed} != config {expect_seed}")
        if expect_ratios is not None and tuple(ck.ratios) != tuple(expect_ratios):
            raise ValueError(f"ratio mismatch: {ck.ratios} != {expect_ratios}")
        return ck


def epoch_batches(
    df: DataFrame,
    id_col: str,
    source_col: str,
    epoch: int,
    seed: int,
    batch_size: int,
    start_step: int = 0,
    label: str | None = None,
    id_is_string: bool = True,
) -> DataFrame:
    """Batched epoch order: (batch_idx, position, id, source), batches from
    ``start_step`` on (resume = skip already-consumed positions)."""
    ordered = epoch_order(df, id_col, source_col, epoch, seed, label, id_is_string)
    return (
        ordered.withColumn("batch_idx", F.floor(F.col("position") / batch_size).cast("long"))
        .where(F.col("batch_idx") >= start_step)
    )


def batch_iterator(
    df: DataFrame,
    id_col: str,
    source_col: str,
    checkpoint: Checkpoint,
    batch_size: int = 128,
    label: str | None = None,
    id_is_string: bool = True,
    checkpoint_path: str | None = None,
    stats=None,
):
    """Yield ``(batch_idx, pandas.DataFrame)`` in deterministic epoch order,
    resuming from ``checkpoint.step``; persists progress after each yielded
    batch when ``checkpoint_path`` is set.

    The epoch order reads ``df`` once (see :mod:`operators.epoch`); the
    batches are range-partitioned on ``batch_idx`` with the partition
    count left to AQE, which coalesces neighbouring ranges — partitions
    stay contiguous batch ranges, so ``toLocalIterator`` still yields
    batches in order, with no fixed task ceiling at scale and no near-empty
    partition jobs at small scale.

    Auto-save semantics are AT-LEAST-ONCE: batch k's consumption is
    persisted when the consumer requests batch k+1 (generator resume), so
    a crash after consuming-but-not-requesting replays exactly the last
    in-flight batch and never loses one. A trainer that needs exactly-once
    restart continuation owns the commit point instead: after durably
    writing its step output, save ``Checkpoint(seed, epoch, step=idx+1)``
    itself (tests/restart_worker.py demonstrates; cross-process equality
    is pinned by tests/test_restart_equality.py — reference parity:
    tests/shuffled_persistence.rs:681). ``stats`` (an optional
    ``telemetry.PrefetcherStats``) counts queued rows / produced batches /
    errors like the reference's prefetcher counters
    (src/sampler/mod.rs:165-171)."""
    batched = epoch_batches(
        df, id_col, source_col, checkpoint.epoch, checkpoint.seed,
        batch_size, checkpoint.step, label, id_is_string,
    ).repartitionByRange("batch_idx").sortWithinPartitions("batch_idx", "position")

    current_idx, rows = None, []
    import pandas as pd

    def _produce(idx, rws):
        if stats is not None:
            stats.produced += 1
        yield idx, pd.DataFrame(rws)

    try:
        for row in batched.toLocalIterator(prefetchPartitions=True):
            if stats is not None:
                stats.queued += 1
            if current_idx is not None and row["batch_idx"] != current_idx:
                yield from _produce(current_idx, rows)
                checkpoint.step = int(current_idx) + 1
                if checkpoint_path:
                    checkpoint.save(checkpoint_path)
                rows = []
            current_idx = row["batch_idx"]
            rows.append(row.asDict())
        if rows:
            yield from _produce(current_idx, rows)
            checkpoint.step = int(current_idx) + 1
            if checkpoint_path:
                checkpoint.save(checkpoint_path)
    except Exception:
        if stats is not None:
            stats.errors += 1
        raise


class BatchPrefetcher:
    """Background thread + bounded queue around a batch iterator — the
    reference's ``BatchPrefetcher`` (src/sampler/mod.rs:159-248: producer
    thread, ``sync_channel(capacity)``, queued/produced/errors counters).
    The producer drives the underlying (Spark) iterator AHEAD of the
    training loop so batch materialization overlaps consumption; the
    bounded queue applies backpressure once ``capacity`` batches are
    waiting.

    Iterate it like the wrapped iterator (`for idx, pdf in prefetcher:`).
    Producer exceptions are recorded (``stats.errors``) and re-raised at
    the consumer's next pull — same contract as the reference's
    ``Result`` forwarding. ``close()`` shuts the producer down promptly
    even when it is blocked on a full queue, and is idempotent;
    context-manager use closes automatically."""

    _DONE = object()

    def __init__(self, iterator, capacity: int = 2, stats=None):
        import queue as _queue
        import threading

        from rust_triplets_spark.plans.telemetry import PrefetcherStats

        self.stats = stats if stats is not None else PrefetcherStats()
        self._queue = _queue.Queue(maxsize=max(1, capacity))
        self._stop = threading.Event()
        self._closed = False

        def _run():
            try:
                for item in iterator:
                    while not self._stop.is_set():
                        try:
                            self._queue.put(item, timeout=0.05)
                            break
                        except _queue.Full:
                            continue
                    if self._stop.is_set():
                        return
                    self.stats.queued += 1
                    self.stats.produced += 1
            except BaseException as exc:  # noqa: BLE001 — forwarded to consumer
                self.stats.errors += 1
                self._put_best_effort(exc)
                return
            self._put_best_effort(self._DONE)

        self._thread = threading.Thread(target=_run, name="batch-prefetcher", daemon=True)
        self._thread.start()

    def _put_best_effort(self, item) -> None:
        import queue as _queue

        while not self._stop.is_set():
            try:
                self._queue.put(item, timeout=0.05)
                return
            except _queue.Full:
                continue

    def __iter__(self):
        return self

    def __next__(self):
        if self._closed:
            raise StopIteration
        item = self._queue.get()
        if item is self._DONE:
            # latch the terminal state: _DONE (and a forwarded producer
            # exception) arrives exactly once — without the latch a
            # post-termination next() would park forever on a queue no
            # dead producer will refill, instead of the repeated
            # StopIteration the iterator protocol requires
            self._closed = True
            raise StopIteration
        if isinstance(item, BaseException):
            self._closed = True
            raise item
        self.stats.queued = max(0, self.stats.queued - 1)
        return item

    def queue_len(self) -> int:
        return self.stats.queued

    def produced_count(self) -> int:
        return self.stats.produced

    def error_count(self) -> int:
        return self.stats.errors

    def close(self) -> None:
        """Stop the producer and join its thread (Drop impl parity)."""
        if self._closed:
            return
        self._closed = True
        self._stop.set()
        # unblock a producer stuck on put() by draining whatever is queued
        import queue as _queue

        while True:
            try:
                self._queue.get_nowait()
            except _queue.Empty:
                break
        self._thread.join(timeout=5)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


def prefetched_batch_iterator(
    df: DataFrame,
    id_col: str,
    source_col: str,
    checkpoint: Checkpoint,
    batch_size: int = 128,
    capacity: int = 2,
    label: str | None = None,
    id_is_string: bool = True,
    checkpoint_path: str | None = None,
    stats=None,
) -> "BatchPrefetcher":
    """:func:`batch_iterator` wrapped in a :class:`BatchPrefetcher` — the
    assembled-batch pipeline with background prefetch, ready for a
    training loop."""
    it = batch_iterator(
        df, id_col, source_col, checkpoint, batch_size, label,
        id_is_string, checkpoint_path, stats=None,
    )
    return BatchPrefetcher(it, capacity=capacity, stats=stats)


# ---------------------------------------------------------------------------
# pad_with_reuse — the reference's fixed-size batch contract
# (src/sampler/mod.rs:3091-3100): a short-but-non-empty batch is cycled
# until it reaches batch_size. Appended item j is seed[j % n] placed at
# slot n + j, and (n + j) % n == j % n, so the whole contract collapses to
# a closed form: slot s ∈ [0, batch_size) holds the item at position
# s % n, reused ⇔ s ≥ n. No loop, no driver state — one lateral sequence
# explode whose fan-out is exactly ceil(batch_size / n) per row.
# ---------------------------------------------------------------------------


def pad_with_reuse(
    ordered: DataFrame, batch_size: int, pos_col: str = "position"
) -> DataFrame:
    """Cycle an ordered sample frame up to ``batch_size`` rows.

    Input must carry a dense 0-based ``pos_col``. Returns every input
    column plus ``(slot, reused)``; empty input stays empty and an input
    already ≥ ``batch_size`` passes through with one slot per row — both
    exactly the reference's guards (items.is_empty() / len >= target).

    Scale shape: one single-row count aggregate broadcast onto the frame
    (the only "global" the closed form needs), then a row-local sequence
    explode. Padding is a small-batch contract — the fan-out ceil(B/n) is
    large only when n is small, so the work is bounded by batch_size."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    n1 = ordered.select(F.count("*").cast("long").alias("__n"))
    w = ordered.crossJoin(F.broadcast(n1))
    p = F.col(pos_col).cast("long")
    copies = F.when(F.col("__n") >= batch_size, F.lit(1)).otherwise(
        F.expr(f"({batch_size - 1} - {pos_col}) div __n + 1")
    )
    slot = (p + F.col("__k") * F.col("__n")).cast("long")
    return (
        w.select(
            "*",
            F.explode(
                F.sequence(F.lit(0).cast("long"), (copies - 1).cast("long"))
            ).alias("__k"),
        )
        .select(
            slot.alias("slot"),
            (slot >= F.col("__n")).alias("reused"),
            *ordered.columns,
        )
    )


def pad_with_reuse_sql(
    inner_sql: str, batch_size: int, pos_sql: str = "position"
) -> str:
    """DuckDB twin of :func:`pad_with_reuse` (lateral ``range`` form).
    ``inner_sql`` is a full SELECT producing the ordered frame."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    return f"""
WITH pr_in AS MATERIALIZED (
  SELECT i.*, count(*) OVER () AS __n FROM ({inner_sql}) i
)
SELECT CAST({pos_sql} + t.k * __n AS BIGINT) AS slot,
       ({pos_sql} + t.k * __n) >= __n AS reused,
       pr_in.* EXCLUDE (__n)
FROM pr_in, UNNEST(range(0, CASE WHEN __n >= {batch_size} THEN 1
                              ELSE (({batch_size - 1} - {pos_sql}) // __n) + 1
                         END)) AS t(k)
"""


# ---------------------------------------------------------------------------
# Exhaustion retry — the reference's pull loop retries a batch request up
# to EXHAUSTION_RETRY_LIMIT (= 2) times, forcing a source refresh between
# attempts (src/sampler/mod.rs:2853-2864, src/constants.rs:81). Only the
# IO loop is stateful in this engine, so the retry lives here as a
# driver-side combinator over any fetch/refresh pair (e.g. an
# IngestionManager.refresh + a batch build over its records).
# ---------------------------------------------------------------------------

EXHAUSTION_RETRY_LIMIT = 2  # src/constants.rs:81


class Exhausted(RuntimeError):
    """A fetch produced no rows / raised exhaustion (SamplerError::Exhausted)."""


def fetch_with_exhaustion_retry(
    fetch, refresh, limit: int = EXHAUSTION_RETRY_LIMIT, stats=None
):
    """Call ``fetch()``; on :class:`Exhausted`, call ``refresh()`` and
    retry, up to ``limit`` extra attempts — then re-raise the LAST
    exhaustion. ``refresh`` runs between attempts only (never after the
    final failure), exactly the reference's loop shape. ``stats`` (an
    optional ``telemetry.PrefetcherStats``) counts errors on final
    exhaustion."""
    last: Exhausted | None = None
    for attempt in range(limit + 1):
        try:
            return fetch()
        except Exhausted as exc:
            last = exc
            if attempt < limit:
                refresh()
    if stats is not None:
        stats.errors += 1
    assert last is not None
    raise last
