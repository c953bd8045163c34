"""Scalable global ordering: dense 0-based positions over a total order
WITHOUT a single-partition sort.

``row_number() OVER (ORDER BY key)`` — or partitioned by a low-cardinality
column like ``split`` — funnels the whole frame through one task. At 100 TB
that is the difference between a plan that finishes and one that doesn't.

``bucketed_position`` computes the identical result with bounded
parallelism: range-bucket the integer order key (``bucket = key div B`` —
range, not hash, so bucket order aligns with key order), rank within
(partition, bucket), then add per-bucket start offsets obtained from a tiny
(partitions × n_buckets) counts frame via a prefix-sum window and a
broadcast join back. Total order realized: (key, *tiebreak) — exactly what
the single window would produce, so DuckDB oracle twins can keep the plain
``row_number`` form.

Input-read note: the plan reads its input TWICE. The bucket-counts frame
is written as an aggregate over the ranked frame, but ColumnPruning drops
the rank Window from the counts branch (the count needs none of its
columns), so that branch scans and shuffles the input on its own, and the
two branches prune different columns, so ReuseExchange never matches
them. A caller whose input is expensive (a multi-shuffle upstream plan)
must pass a materialized frame — e.g. ``functions.caching.cache_scoped``,
as ``operators.epoch.epoch_order`` does.

Skew note: hash-valued keys (hash31 outputs are uniform on [0, M31)) fill
buckets evenly by construction; arbitrary keys may skew buckets, which
still caps any task at the largest bucket rather than the whole frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rust_triplets_spark.functions.hashing import M31

DEFAULT_BUCKETS = 1024


def _rank_and_offset(
    with_b: DataFrame,
    key_col: str,
    tiebreak: Sequence[str],
    parts: list[str],
    out_col: str,
    count_col: str | None,
    value_col: str | None = None,
    prefix_col: str | None = None,
) -> DataFrame:
    """Shared tail of the bucketed-ranking plans: rank within
    (parts, __bkt), derive per-bucket counts, prefix-sum them into start
    offsets, and broadcast-join the offsets back.

    The counts are written over the ranked frame, but ColumnPruning drops
    the Window from that branch, so ``with_b`` is scanned and shuffled
    twice — once for the rank, once for the counts (see module doc).
    Callers with an expensive input must pass a materialized one.

    ``count_col``: also attach the TOTAL partition row count (the
    ``count(*) OVER (PARTITION BY part)`` twin) — derived from the same
    tiny bucket-counts frame and shipped on the same broadcast join, so
    rank + count together cost one aggregate and one join, not two of each.

    ``value_col``/``prefix_col``: additionally emit the exclusive running
    sum of ``value_col`` over the same order — the in-bucket cumsum rides
    the SAME window pass as the rank, the per-bucket value totals ride the
    same aggregate, and the value start offsets ride the same broadcast
    join, so rank + cumsum together cost no more than rank alone.
    ``value_col`` must be integral (exact BIGINT arithmetic)."""
    w_in = Window.partitionBy(*parts, "__bkt").orderBy(
        F.col(key_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    ranked = with_b.withColumn("__r", F.row_number().over(w_in) - 1)
    aggs = [F.count("*").alias("__c")]
    if value_col is not None:
        val = F.col(value_col).cast("long")
        ranked = ranked.withColumn(
            "__ps",
            F.coalesce(
                F.sum(val).over(w_in.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        )
        aggs.append(F.sum(val).alias("__v"))
    counts = ranked.groupBy(*parts, "__bkt").agg(*aggs)
    w_cum = Window.partitionBy(*parts).orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    extra = []
    if count_col is not None:
        extra.append(F.sum("__c").over(Window.partitionBy(*parts)).alias(count_col))
    if value_col is not None:
        extra.append(F.coalesce(F.sum("__v").over(w_cum), F.lit(0)).alias("__vstart"))
    starts = counts.select(
        *parts, "__bkt",
        F.coalesce(F.sum("__c").over(w_cum), F.lit(0)).alias("__start"),
        *extra,
    )
    out = (
        ranked.join(F.broadcast(starts), [*parts, "__bkt"], "inner")
        .withColumn(out_col, (F.col("__start") + F.col("__r")).cast("long"))
    )
    drop = ["__bkt", "__r", "__start"]
    if value_col is not None:
        out = out.withColumn(
            prefix_col or "prefix", (F.col("__vstart") + F.col("__ps")).cast("long")
        )
        drop += ["__ps", "__vstart"]
    return out.drop(*drop)


def bucketed_position(
    df: DataFrame,
    key_col: str,
    tiebreak: Sequence[str] = (),
    part_cols: Sequence[str] = (),
    key_space: int = M31,
    n_buckets: int = DEFAULT_BUCKETS,
    out_col: str = "position",
    count_col: str | None = None,
    salt_col: str | None = None,
    salt_prefix: Sequence[str] = (),
    n_salt: int = 64,
    salt_space: int = M31,
) -> DataFrame:
    """0-based dense rank of each row by ``(key, *tiebreak)`` within
    ``part_cols`` (global when empty), equal to
    ``row_number() OVER (PARTITION BY part ORDER BY key, *tiebreak) - 1``
    but executed with (partitions × n_buckets)-way parallelism.

    ``key_col`` must be a non-negative integer column < ``key_space``.

    **Skew salting** (``salt_col``): range-bucketing the key spreads ROWS
    evenly only while key VALUES do — a key that is constant per group
    (e.g. ``hash31(source)``) puts a dominant group's entire row mass into
    one bucket = one window task. Passing ``salt_col`` (a uniform integer
    column < ``salt_space`` appearing in ``tiebreak`` AFTER
    ``salt_prefix``) switches the bucket id to the struct
    ``(key, *salt_prefix, salt div s)`` — the EXACT key plus the exact
    order-prefix columns plus a range bucket of the next order component.
    Lexicographic struct order still aligns with the total order (the
    correctness requirement for the offset trick), so the result is
    IDENTICAL row-for-row, but a dominant group now fans out over up to
    ``n_salt`` window tasks. Cost: the counts frame grows to (partitions ×
    distinct(key, *salt_prefix) × n_salt) rows — keep ``salt_prefix``
    low-cardinality (it already must be: each distinct prefix is a pool
    whose stats the caller broadcasts anyway). Threshold guidance: salt
    when one group's row count can exceed a comfortable single-task size
    (~a few million rows); below that the extra struct shuffle key buys
    nothing.
    """
    parts = list(part_cols)
    if salt_col is not None:
        ssize = max(1, (salt_space + n_salt - 1) // n_salt)
        bkt = F.struct(
            F.col(key_col).alias("__k"),
            *[F.col(c).alias(f"__p{i}") for i, c in enumerate(salt_prefix)],
            (F.col(salt_col) / F.lit(ssize)).cast("long").alias("__s"),
        )
    else:
        bsize = max(1, (key_space + n_buckets - 1) // n_buckets)
        bkt = (F.col(key_col) / F.lit(bsize)).cast("long")
    with_b = df.withColumn("__bkt", bkt)
    return _rank_and_offset(with_b, key_col, tiebreak, parts, out_col, count_col)


def bucketed_position_numeric(
    df: DataFrame,
    key_col: str,
    tiebreak: Sequence[str] = (),
    part_cols: Sequence[str] = (),
    n_buckets: int = DEFAULT_BUCKETS,
    out_col: str = "position",
    count_col: str | None = None,
) -> DataFrame:
    """:func:`bucketed_position` for keys with UNKNOWN range (doubles,
    unbounded ints): per-partition-group min/max are aggregated first (a
    tiny frame, broadcast back), and the bucket is the key's position in
    ``n_buckets`` equal slices of [min, max]. The mapping is monotone in
    the key, so bucket order aligns with key order and the per-bucket
    offset trick applies unchanged. Equal keys always land in the same
    bucket (same arithmetic), so ties are still resolved by the in-bucket
    sort on (key, *tiebreak).

    Costs one extra tiny aggregate + broadcast join over the integer
    version (the bounds prepass re-reads the input lineage; any shuffle in
    that lineage is ReuseExchange-shared with the main pass); use the
    integer version when the key is already a bounded hash."""
    parts = list(part_cols)
    key = F.col(key_col).cast("double")
    bounds = df.groupBy(*parts).agg(
        F.min(key).alias("__kmin"), F.max(key).alias("__kmax")
    )
    if parts:
        with_bounds = df.join(F.broadcast(bounds), parts, "inner")
    else:
        with_bounds = df.crossJoin(F.broadcast(bounds))
    span = F.col("__kmax") - F.col("__kmin")
    bkt = F.when(
        span > 0,
        F.least(
            F.floor((key - F.col("__kmin")) / span * F.lit(n_buckets)).cast("long"),
            F.lit(n_buckets - 1),
        ),
    ).otherwise(F.lit(0))
    with_b = with_bounds.withColumn("__bkt", bkt).drop("__kmin", "__kmax")
    return _rank_and_offset(with_b, key_col, tiebreak, parts, out_col, count_col)


def bucketed_rank_prefix_sum(
    df: DataFrame,
    key_col: str,
    value_col: str,
    tiebreak: Sequence[str] = (),
    part_cols: Sequence[str] = (),
    key_space: int = M31,
    n_buckets: int = DEFAULT_BUCKETS,
    pos_col: str = "position",
    prefix_col: str = "prefix",
) -> DataFrame:
    """0-based dense rank AND exclusive running sum of ``value_col`` over
    the ``(key, *tiebreak)`` order within ``part_cols`` — the scalable twin
    of the window pair::

        row_number() OVER (PARTITION BY part ORDER BY key, tb) - 1
        COALESCE(SUM(value) OVER (PARTITION BY part ORDER BY key, tb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)

    executed with (partitions × n_buckets)-way parallelism via the shared
    :func:`_rank_and_offset` tail (the cumsum rides the rank's window
    pass, aggregate, and broadcast join — see its doc). ``key_col`` must
    be a non-negative integer column < ``key_space``; ``value_col`` must
    be integral (exact BIGINT arithmetic, same contract as the oracle)."""
    bsize = max(1, (key_space + n_buckets - 1) // n_buckets)
    parts = list(part_cols)
    with_b = df.withColumn("__bkt", (F.col(key_col) / F.lit(bsize)).cast("long"))
    return _rank_and_offset(
        with_b, key_col, tiebreak, parts, pos_col, None,
        value_col=value_col, prefix_col=prefix_col,
    )
