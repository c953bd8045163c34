"""Per-epoch deterministic ordering + round-robin interleave with
oversampling (SURVEY §2.5, reference ``src/epoch.rs:34-83``).

Reference semantics (``EpochTracker::ensure_order``):

1. group record ids by source;
2. order sources by ``shuffle_key(source, epoch, label, seed)``;
3. within each source, order ids by ``shuffle_key(id, epoch, label, seed)``;
4. interleave round-robin with oversampling: for ``i in 0..max_len``, each
   source (in order) contributes its ``(i % len)``-th record — small sources
   repeat until the largest is exhausted, every source appears once per
   cycle position.

"Epoch" is a *parameter*, not mutable state: the whole order is a pure
function of ``(seed, epoch, label, corpus)``, which is what makes resume
trivial (checkpoint = ``(epoch, step)``) and the order oracle-checkable.

Scale: an input whose plan shuffles is read ONCE — the narrow keyed frame
``(id, source, key)`` is persisted (lazily, no build-time job) and its
four consumers (the rank and bucket-count branches of the per-source
ranking, the per-source stats, the interleave join) all scan the cached
rows. Without it every consumer prunes different columns, no exchange is
reused, and an expensive upstream plan (e.g. triplet assembly) runs four
times. A plain scan is re-read instead: caching one made the registered
``batch_pad_with_reuse`` query ~18% slower at sf0.1 (4-core VM, median of
5 paired min-of-3 runs). Then one shuffle for the per-source ordering,
a broadcast join against the (tiny) per-source stats, and a 1:1
equi-join on ``(source, i % len)`` to realize the interleave — no cross
product, no driver-side loop. Output size = ``n_sources * max_len``
(oversampling is bounded by the largest source, same as the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rust_triplets_spark.functions.caching import cache_scoped
from rust_triplets_spark.functions.hashing import (
    hash31_str_sql,
    mix31_col,
    mix31_sql,
    strfold_col,
    strfold_sql,
)

_LABEL_DISCRIMINANT = {"train": 0, "validation": 1, "test": 2}


def _shuffle_key_col(value_fold, epoch: int, label: str | None, seed: int):
    parts = [value_fold, F.lit(int(epoch))]
    if label is not None:
        parts.append(F.lit(_LABEL_DISCRIMINANT[label]))
    return mix31_col(parts, seed)


def epoch_order(
    df: DataFrame,
    id_col: str,
    source_col: str,
    epoch: int,
    seed: int = 42,
    label: str | None = None,
    id_is_string: bool = True,
) -> DataFrame:
    """Emit ``(position, id, source)`` — the full interleaved epoch order.

    ``position`` is 0-based; ties inside a source break on the raw id (the
    reference's stable sort over a pool already ordered by id,
    src/epoch.rs:55-60 + src/sampler/mod.rs:1814-1836).
    """
    id_fold = strfold_col(id_col) if id_is_string else F.col(id_col).cast("long")
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        _shuffle_key_col(id_fold, epoch, label, seed).alias("__id_key"),
    )
    # the four consumers below would each re-run a shuffling input (see
    # module doc); a plain scan is cheaper to re-read than to cache
    if "Exchange" in keyed._jdf.queryExecution().executedPlan().toString():
        keyed = cache_scoped(keyed, "epoch.keyed")
    from rust_triplets_spark.functions.ordering import bucketed_position

    # per-source rank via range-bucketed ranking (__id_key is a uniform
    # 31-bit hash): a single giant source never pins one sort task
    ranked = bucketed_position(
        keyed, "__id_key", ["id"], part_cols=["source"], out_col="__rn"
    ).drop("__id_key")

    stats = (
        ranked.groupBy("source")
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__src_key", _shuffle_key_col(strfold_col("source"), epoch, label, seed))
    )
    # stats is one row per SOURCE — broadcast scale; a plain global window
    # over it is the right plan
    w_all = Window.orderBy("__src_key", "source")
    stats = (
        stats.withColumn("__src_rank", F.row_number().over(w_all) - 1)
        .withColumn("__n_src", F.count("*").over(Window.partitionBy()))
        .withColumn("__max_len", F.max("__cnt").over(Window.partitionBy()))
    )
    slots = stats.select(
        F.col("source").alias("__s_source"),
        "__cnt",
        "__src_rank",
        "__n_src",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("__max_len") - 1)).alias("__i"),
    )
    out = (
        slots.join(
            ranked,
            (F.col("__s_source") == F.col("source"))
            & (F.pmod(F.col("__i"), F.col("__cnt")) == F.col("__rn")),
            "inner",
        )
        .select(
            (F.col("__i") * F.col("__n_src") + F.col("__src_rank")).alias("position"),
            F.col("id"),
            F.col("source"),
        )
    )
    return out


def epoch_order_sql(
    table: str,
    id_sql: str,
    source_sql: str,
    epoch: int,
    seed: int = 42,
    label: str | None = None,
    id_is_string: bool = True,
    where: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`epoch_order`."""
    id_fold = strfold_sql(id_sql) if id_is_string else f"CAST({id_sql} AS BIGINT)"
    parts = [id_fold, str(int(epoch))]
    src_parts = [strfold_sql("source"), str(int(epoch))]  # over the grouped alias
    if label is not None:
        parts.append(str(_LABEL_DISCRIMINANT[label]))
        src_parts.append(str(_LABEL_DISCRIMINANT[label]))
    id_key = mix31_sql(parts, seed)
    src_key = mix31_sql(src_parts, seed)
    return f"""
WITH ranked AS (
  SELECT {id_sql} AS id, {source_sql} AS source,
         row_number() OVER (PARTITION BY {source_sql} ORDER BY {id_key}, {id_sql}) - 1 AS rn
  FROM {table} WHERE {where}
), stats AS (
  SELECT source, count(*) AS cnt,
         row_number() OVER (ORDER BY {src_key}, source) - 1 AS src_rank,
         count(*) OVER () AS n_src,
         max(count(*)) OVER () AS max_len
  FROM ranked GROUP BY source
), slots AS (
  SELECT s.source, s.cnt, s.src_rank, s.n_src, t.i
  FROM stats s, UNNEST(range(0, s.max_len)) AS t(i)
)
SELECT CAST(sl.i * sl.n_src + sl.src_rank AS BIGINT) AS position, r.id, r.source
FROM slots sl JOIN ranked r ON r.source = sl.source AND (sl.i % sl.cnt) = r.rn
"""
