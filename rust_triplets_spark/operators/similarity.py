"""Embedding similarity search (driver north star).

Brute-force cosine top-k as the exact baseline, with the scale path being
the same kernel over LSH/IVF buckets (the bucket assignment below doubles
as a random-hyperplane LSH).

Cross-engine exactness trick: float32 embeddings are quantized to integers
(``round(x * 2^20)``) so dot products and norms are EXACT int64 sums —
order-free, shuffle-safe, identical in DuckDB. The final cosine is then one
correctly-rounded IEEE expression over those integers, so even the DOUBLE
column is bit-identical across engines. (A float sum would differ in final
ulps between engines/summation orders and break hash comparison — and at
cluster scale it wouldn't even be deterministic run-to-run.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 1 << 20  # ~6 decimal digits of the unit-normalized embedding


def _quantize(col) -> F.Column:
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _cosine_batch_udf(qv, nv) -> F.Column:
    """Arrow-vectorized float64 cosine over candidate batches: one numpy
    ``einsum`` per ~10k-row Arrow batch instead of an interpreted
    higher-order expression per candidate (``F.aggregate``/``zip_with``
    never enter whole-stage codegen — measured ~µs/candidate interpreted
    vs ~ns/candidate here). This is the deploy kernel for the ANN family;
    the quantized-integer expression kernels stay as the oracle-checkable
    twins (module docstring). The UDF is built lazily (a typed, not
    DDL-string, return type would also work) so importing this module
    never requires an active SparkSession."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(q, n):
        import numpy as np
        import pandas as pd

        if len(q) == 0:
            return pd.Series([], dtype="float64")

        def _stack(s, side):
            # loud malformed-input guard (parity with the expr kernel is
            # only defined over non-null fixed-dim vectors — the expr twin
            # yields null cos_sim for a null vector, but np.stack would
            # either throw an opaque shape error or silently build an
            # object array and corrupt the einsum)
            if s.isnull().values.any():
                raise ValueError(
                    f"float cosine kernel: null {side} embedding in batch — "
                    "this kernel requires non-null fixed-dimension vectors; "
                    "filter nulls (or use the expression kernel, which "
                    "yields null cos_sim for them) before scoring"
                )
            try:
                arr = np.stack(s.to_numpy())
            except ValueError as exc:
                lens = {len(v) for v in s}
                raise ValueError(
                    f"float cosine kernel: ragged {side} embedding lengths "
                    f"{sorted(lens)} in batch — all vectors must share one "
                    "dimension"
                ) from exc
            if arr.dtype == object:
                raise ValueError(
                    f"float cosine kernel: {side} embeddings contain null "
                    "elements — vectors must be fully numeric"
                )
            return arr

        a = _stack(q, "query")
        b = _stack(n, "candidate")
        num = np.einsum("ij,ij->i", a, b)
        den = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
            np.einsum("ij,ij->i", b, b)
        )
        return pd.Series(num / den)

    return _cos(qv, nv)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is REQUIRED and must be small relative to the corpus:
    the query side is broadcast (queries ≪ corpus), the corpus side
    streams — one pass, partial top-k per partition via the row_number
    window on (query, cos). Self-matches are excluded.

    Passing the whole corpus as ``queries`` would broadcast the full
    corpus to every executor and score all pairs — a scale trap. For
    corpus-wide neighbor search use :func:`ann_bucketed_topk` (LSH) or
    :func:`ann_ivf_topk` (IVF), which bound the join to Σ bucket²."""
    if queries is None:
        raise ValueError(
            "cosine_topk requires an explicit small `queries` frame; for "
            "corpus-wide all-pairs search use ann_bucketed_topk or "
            "ann_ivf_topk (broadcasting the whole corpus is a scale trap)"
        )
    base = df.select(
        F.col(id_col).cast("long").alias("nid"), _quantize(F.col(vec_col)).alias("__nv")
    ).withColumn("__nn", _dot(F.col("__nv"), F.col("__nv")))
    qdf = queries.select(
        F.col(id_col).cast("long").alias("qid"), _quantize(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", _dot(F.col("__qv"), F.col("__qv")))

    joined = F.broadcast(qdf).crossJoin(base).where(F.col("qid") != F.col("nid"))
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__qn").cast("double")) * F.sqrt(F.col("__nn").cast("double"))
    )
    scored = joined.withColumn("__dot", _dot(F.col("__qv"), F.col("__nv"))).withColumn(
        "cos_sim", cos
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "nid", "cos_sim")
    )


def cosine_topk_sql(
    table: str,
    id_sql: str,
    vec_sql: str,
    query_where: str,
    k: int = 5,
) -> str:
    """DuckDB twin: same quantized-integer kernel."""
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    return f"""
WITH base AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS nid, {q} AS nv
  FROM {table}
), base2 AS MATERIALIZED (
  SELECT nid, nv,
         CAST(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])) AS BIGINT) AS nn
  FROM base
), qs AS MATERIALIZED (
  SELECT nid AS qid, nv AS qv, nn AS qn FROM base2
  WHERE qid IN (SELECT CAST({id_sql} AS BIGINT) FROM {table} WHERE {query_where})
), scored AS (
  SELECT q.qid, b.nid,
         CAST(CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * b.nv[i])) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(b.nn AS DOUBLE))) AS cos_sim
  FROM qs q, base2 b WHERE q.qid <> b.nid
)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM scored)
WHERE rank <= {k}
"""


def hyperplane_lsh_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int = 8, seed: int = 7000
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector: bit i = sign of the dot
    product with a deterministic pseudo-random ±1 hyperplane (derived from
    the portable hash, so the bucketing itself is oracle-checkable). The
    scale path for similarity search: join queries to their bucket (and
    neighbors by Hamming distance ≤ 1) instead of the full corpus."""
    from rust_triplets_spark.functions.hashing import hash31_py

    qv = _quantize(F.col(vec_col))
    base = df.select(F.col(id_col).cast("long").alias("id"), qv.alias("__v"))
    sig = None
    for p in range(n_planes):
        # deterministic ±1 plane: sign from hash31(dim_index, seed+p)
        proj = F.aggregate(
            F.zip_with(
                F.col("__v"),
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col("__v")) - 1),
                    lambda i: F.when(
                        F.pmod(
                            # inline hash31 of the dimension index
                            _hash31_dim(i, seed + p), F.lit(2)
                        ) == 0,
                        F.lit(1),
                    ).otherwise(F.lit(-1)),
                ),
                lambda x, s: x * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        term = F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return base.select("id", sig.alias("bucket"))


def _hash31_dim(i, seed: int) -> F.Column:
    from rust_triplets_spark.functions.hashing import hash31_col

    return hash31_col(i.cast("long"), seed)


def hyperplane_lsh_buckets_sql(
    table: str, id_sql: str, vec_sql: str, n_planes: int = 8, seed: int = 7000
) -> str:
    """DuckDB twin of :func:`hyperplane_lsh_buckets` — same quantization,
    same hash-derived ±1 planes, same sign bits."""
    from rust_triplets_spark.functions.hashing import hash31_sql

    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    bits = []
    for p in range(n_planes):
        sign = f"CASE WHEN ({hash31_sql('i - 1', seed + p)} % 2) = 0 THEN 1 ELSE -1 END"
        proj = (
            f"list_sum(list_transform(range(1, len(v) + 1), "
            f"i -> v[i] * ({sign})))"
        )
        bits.append(
            f"CASE WHEN {proj} > 0 THEN CAST({2**p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    sig = " + ".join(bits)
    return (
        f"SELECT id, {sig} AS bucket FROM "
        f"(SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS v FROM {table})"
    )


def _bucketed_scored_sql(
    table: str, id_sql: str, vec_sql: str, n_planes: int, seed: int
) -> str:
    """Shared CTE body: quantized vectors + norms + LSH bucket, self-joined
    within bucket with exact integer-cosine scoring."""
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    buckets = hyperplane_lsh_buckets_sql(table, id_sql, vec_sql, n_planes, seed)
    return f"""
b AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS v FROM {table}
), n AS MATERIALIZED (
  SELECT b.id, b.v,
         CAST(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])) AS BIGINT) AS nn,
         bk.bucket
  FROM b JOIN ({buckets}) bk ON bk.id = b.id
), scored AS MATERIALIZED (
  SELECT l.id AS qid, r.id AS nid,
         CAST(CAST(list_sum(list_transform(range(1, len(l.v) + 1), i -> l.v[i] * r.v[i])) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(l.nn AS DOUBLE)) * sqrt(CAST(r.nn AS DOUBLE))) AS cos_sim
  FROM n l JOIN n r ON l.bucket = r.bucket AND l.id <> r.id
)"""


def ann_bucketed_topk_sql(
    table: str, id_sql: str, vec_sql: str, k: int = 5,
    n_planes: int = 8, seed: int = 7000,
) -> str:
    """DuckDB twin of :func:`ann_bucketed_topk`."""
    body = _bucketed_scored_sql(table, id_sql, vec_sql, n_planes, seed)
    return f"""
WITH {body}
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM scored)
WHERE rank <= {k}
"""


def _check_lsh_sizing(
    df: DataFrame, n_planes: int, caller: str, strict: bool
) -> None:
    """Fixed-plane-count guard: buckets = 2^planes, so a plane count that a
    corpus outgrows turns the in-bucket self-join quadratic — the exact
    fixed-parameter trap ``auto_cells`` closed for IVF (54× at a 10× scale-
    up, SCALE.md). The per-plane sign bits are unrolled into the expression
    tree (and the static oracle SQL) at plan-build time, so the plane count
    can't be data-dependent — instead this warns (raises with
    ``strict_planes=True``) when ``2^n_planes × TARGET_CELL_ROWS < rows``,
    citing :func:`recommended_planes` for the right value. The row probe is
    ``df.count()`` — a parquet-footer read for file-backed frames."""
    import warnings

    rows = df.count()
    if (1 << n_planes) * TARGET_CELL_ROWS >= rows:
        return
    msg = (
        f"{caller}: n_planes={n_planes} gives 2^{n_planes}={1 << n_planes} "
        f"LSH buckets for {rows} rows — expected bucket occupancy "
        f"~{rows >> n_planes} exceeds the ~{TARGET_CELL_ROWS}-row target and "
        f"the in-bucket self-join grows quadratically; use "
        f"recommended_planes({rows}) = {recommended_planes(rows)}"
    )
    if strict:
        raise ValueError(msg)
    warnings.warn(msg, RuntimeWarning, stacklevel=3)


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9,
    n_planes: int = 8, seed: int = 7000, strict_planes: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: pairs (a < b) in the
    same LSH bucket with cosine ≥ threshold. The dedup counterpart of
    :func:`ann_bucketed_topk` — Σ bucket² join cost, never corpus²."""
    _check_lsh_sizing(df, n_planes, "embedding_neardup_pairs", strict_planes)
    buckets = hyperplane_lsh_buckets(df, id_col, vec_col, n_planes, seed)
    base = df.select(
        F.col(id_col).cast("long").alias("id"), _quantize(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _dot(F.col("__v"), F.col("__v"))).join(buckets, "id")
    left = base.select(F.col("id").alias("a"), F.col("__v").alias("__av"),
                       F.col("__n").alias("__an"), "bucket")
    right = base.select(F.col("id").alias("b"), F.col("__v").alias("__bv"),
                        F.col("__n").alias("__bn"), "bucket")
    joined = left.join(right, "bucket").where(F.col("a") < F.col("b"))
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__an").cast("double")) * F.sqrt(F.col("__bn").cast("double"))
    )
    return (
        joined.withColumn("__dot", _dot(F.col("__av"), F.col("__bv")))
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= threshold)
        .select("a", "b", "cos_sim")
    )


def embedding_neardup_pairs_sql(
    table: str, id_sql: str, vec_sql: str, threshold: float = 0.9,
    n_planes: int = 8, seed: int = 7000,
) -> str:
    body = _bucketed_scored_sql(table, id_sql, vec_sql, n_planes, seed)
    return f"""
WITH {body}
SELECT qid AS a, nid AS b, cos_sim
FROM scored WHERE qid < nid AND cos_sim >= {threshold!r}
"""


def ann_bucketed_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    n_planes: int = 8, seed: int = 7000, strict_planes: bool = False,
) -> DataFrame:
    """Scale-path ANN: cosine top-k WITHIN each vector's LSH bucket — the
    cross join shrinks from |corpus|² to Σ bucket². Recall is traded for
    cost; brute-force :func:`cosine_topk` is the exact baseline."""
    _check_lsh_sizing(df, n_planes, "ann_bucketed_topk", strict_planes)
    buckets = hyperplane_lsh_buckets(df, id_col, vec_col, n_planes, seed)
    base = df.select(
        F.col(id_col).cast("long").alias("id"), _quantize(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _dot(F.col("__v"), F.col("__v"))).join(buckets, "id")
    left = base.select(
        F.col("id").alias("qid"), F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"), "bucket",
    )
    right = base.select(
        F.col("id").alias("nid"), F.col("__v").alias("__nv"),
        F.col("__n").alias("__nn"), "bucket",
    )
    joined = left.join(right, "bucket").where(F.col("qid") != F.col("nid"))
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__qn").cast("double")) * F.sqrt(F.col("__nn").cast("double"))
    )
    scored = joined.withColumn("__dot", _dot(F.col("__qv"), F.col("__nv"))).withColumn(
        "cos_sim", cos
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "nid", "cos_sim")
    )


def ann_ivf_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    n_centroids: int | None = None, nprobe: int = 2, seed: int = 7000,
    max_iter: int = 10, fit_sample_target: int = 100_000,
    kernel: str = "pandas",
) -> DataFrame:
    """IVF ANN, the PRODUCTION variant: a k-means coarse quantizer (MLlib,
    trained once) splits the corpus into cells; each query probes its
    ``nprobe`` nearest centroids and runs the exact cosine kernel within
    those cells only — join cost ~ corpus x nprobe x avg cell, the classic
    IVF trade-off next to the hyperplane-LSH path
    (:func:`ann_bucketed_topk`).

    ``n_centroids=None`` (default) derives the quantizer size from the
    corpus (:func:`auto_cells`, ~:data:`TARGET_CELL_ROWS` rows/cell) — a
    FIXED cell count is the corpus²/n_cells quadratic trap SCALE.md
    measured at 27-54x on a 10x scale-up.

    ``kernel`` picks the in-cell scoring path: ``"pandas"`` (default)
    scores candidate batches with an Arrow-vectorized numpy kernel (one
    ``einsum`` per batch — the deploy path; higher-order Spark expressions
    like ``F.aggregate`` never enter whole-stage codegen and cost ~µs per
    candidate interpreted); ``"expr"`` keeps the pure-expression float
    kernel for environments where Arrow/pandas workers are unavailable.
    Both kernels are exact float64 cosine — they differ only in summation
    order (pairwise numpy vs sequential fold), i.e. final-ulp.

    The coarse quantizer is fit on a DETERMINISTIC hash sample of at most
    ~``fit_sample_target`` rows (``hash31(id) % step == 0`` — id-stable and
    partition-layout-independent, unlike ``df.sample``): centroid quality
    saturates far below corpus size, and a full-corpus k-means fit per call
    would be the dominant cost at 100 TB. Corpora at/below the target fit
    on every row, so small-scale results are unchanged.

    Scale notes: the trained centroid table is tiny (n_centroids x dim) and
    ships as a literal expression — probe selection is row-local, the only
    shuffle is the (cell) equi-join; with ``nprobe == n_centroids`` results
    equal the brute-force baseline exactly (pytest-pinned, both kernels).
    Iterative training is why THIS variant has no SQL oracle twin; the
    driver-checked hash-exact query uses :func:`ivf_seeded_topk`
    (zero-iteration quantizer, same search shape), and the driver covers
    this variant rows-only plus a pytest recall floor vs
    :func:`cosine_topk` ground truth."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from rust_triplets_spark.functions.hashing import hash31_col

    if kernel not in ("pandas", "expr"):
        raise ValueError(f"kernel must be 'pandas' or 'expr', got {kernel!r}")
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("__arr"),
    )
    train = base.withColumn("features", array_to_vector("__arr"))
    fit_df = train
    rows = train.count()
    if n_centroids is None:
        n_centroids = auto_cells(rows)
    if rows > fit_sample_target:
        step = rows // fit_sample_target + 1
        fit_df = train.where(F.pmod(hash31_col(F.col("id"), seed), F.lit(step)) == 0)
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(fit_df)
    assigned = model.transform(train).select(
        "id", "__arr", F.col("prediction").cast("int").alias("cell")
    )

    # centroid table as a literal array of structs: probe ranking is pure
    # row-local arithmetic, no join against a centroid frame
    centers = [
        F.struct(
            F.lit(ci).cast("int").alias("cell"),
            F.array(*[F.lit(float(x)) for x in c]).alias("cvec"),
        )
        for ci, c in enumerate(model.clusterCenters())
    ]

    def d2(q, c):
        return F.aggregate(
            F.zip_with(q, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    probes = base.select(
        F.col("id").alias("qid"),
        F.col("__arr").alias("__qv"),
        F.explode(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.transform(
                            F.array(*centers),
                            lambda c: F.struct(
                                d2(F.col("__arr"), c["cvec"]).alias("d2"),
                                c["cell"].alias("cell"),
                            ),
                        )
                    ),
                    lambda s: s["cell"],
                ),
                1,
                nprobe,
            )
        ).alias("cell"),
    )

    cand = probes.join(assigned, "cell").where(F.col("qid") != F.col("id"))
    if kernel == "pandas":
        scored = cand.withColumn(
            "cos_sim", _cosine_batch_udf(F.col("__qv"), F.col("__arr"))
        )
    else:
        def dot(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
            )

        cos = dot(F.col("__qv"), F.col("__arr")) / (
            F.sqrt(dot(F.col("__qv"), F.col("__qv"))) * F.sqrt(dot(F.col("__arr"), F.col("__arr")))
        )
        scored = cand.withColumn("cos_sim", cos)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"),
                F.col("id").alias("nid"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF with a SEEDED coarse quantizer — the oracle-checkable variant
# ---------------------------------------------------------------------------

IVF_SEED = 7000

# Auto-sized quantizers: a FIXED n_centroids makes the in-cell self-join
# quadratic in the corpus (cells grow as corpus/n_centroids, join cost as
# Σ cell² = corpus²/n_centroids) — measured 27-54x at a 10x scale-up
# (SCALE.md). Deriving n_centroids from the corpus bounds cells at
# ~target_cell_rows, making the join linear: corpus × target. Exact
# integer arithmetic so Spark and the DuckDB oracle (a scalar subquery
# over the same table) agree at every boundary.
TARGET_CELL_ROWS = 1000


def auto_cells(rows: int, target_cell_rows: int = TARGET_CELL_ROWS, floor: int = 8) -> int:
    """ceil(rows / target) with a floor — integer-exact in both engines."""
    return max(floor, (rows + target_cell_rows - 1) // target_cell_rows)


def _auto_cells_sql(table: str, target_cell_rows: int, floor: int) -> str:
    return (
        f"(SELECT greatest({floor}, (count(*) + {target_cell_rows - 1}) "
        f"// {target_cell_rows}) FROM {table})"
    )


def recommended_planes(
    rows: int, target_bucket_rows: int = TARGET_CELL_ROWS, floor: int = 4
) -> int:
    """Hyperplane count for the LSH family (:func:`ann_bucketed_topk`,
    :func:`embedding_neardup_pairs`): buckets = 2^planes, so a FIXED plane
    count is the same quadratic trap as a fixed n_centroids. Pick
    planes = ceil(log2(rows / target_bucket_rows)) so expected bucket
    occupancy stays ~target. The per-plane sign bits are unrolled into the
    expression tree (and the static oracle SQL) at plan-build time, which
    is why the LSH queries take an explicit plane count instead of a
    data-dependent auto mode — size it with this helper."""
    import math

    buckets_needed = max(1, (rows + target_bucket_rows - 1) // target_bucket_rows)
    return max(floor, math.ceil(math.log2(buckets_needed)) if buckets_needed > 1 else floor)


def ivf_seeded_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    n_centroids: int | None = 16, nprobe: int = 2, seed: int = IVF_SEED,
    target_cell_rows: int = TARGET_CELL_ROWS,
    label_col: str | None = None, exclude_same_label: bool = False,
) -> DataFrame:
    """IVF ANN with a hash-seeded coarse quantizer: the centroids are the
    ``n_centroids`` corpus vectors with the smallest ``hash31(id, seed)``
    (k-means with zero Lloyd iterations — pure random init), every vector
    is assigned to its nearest centroid by EXACT integer squared distance
    over the quantized embeddings, each query probes its ``nprobe``
    nearest cells, and the exact integer-cosine kernel runs within those
    cells. Identical expression trees on both engines ⇒ hash-matchable —
    the property the MLlib-trained :func:`ann_ivf_topk` can't offer.

    Scale shape: the centroid frame is ``n_centroids`` rows (broadcast);
    distance scoring is a narrow map over corpus × n_centroids; the only
    wide exchanges are the per-id argmin window and the (cell) equi-join.
    ``n_centroids=None`` derives it from the corpus (:func:`auto_cells`,
    floor 16) so cells stay ~``target_cell_rows`` and the candidate join
    stays LINEAR — a fixed count is quadratic once the corpus outgrows it
    (measured 54x at a 10x scale-up, SCALE.md). The count() behind auto
    mode is a parquet-footer read, not a scan.

    ``label_col`` + ``exclude_same_label=True`` turn the search into
    ANCE-style HARD-NEGATIVE MINING (Xu et al. 2021; the dense-retrieval
    counterpart of the BM25 hard negatives in operators/bm25.py): the
    top-k nearest neighbors whose label DIFFERS from the query's — the
    semantically-closest wrong answers, exactly what contrastive training
    wants as negatives. The label rides the existing candidate join as
    one extra fixed-width column; output gains ``neg_label``."""
    if exclude_same_label and label_col is None:
        raise ValueError("exclude_same_label requires label_col")
    if n_centroids is None:
        n_centroids = auto_cells(df.count(), target_cell_rows, floor=16)
    lab_cols = (
        [F.col(label_col).cast("long").alias("__lab")] if label_col else []
    )
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        _quantize(F.col(vec_col)).alias("__v"),
        *lab_cols,
    ).withColumn("__n", _dot(F.col("__v"), F.col("__v")))
    # centroid pick: orderBy().limit() plans as a distributed TakeOrdered
    # (per-partition top-n + merge) — NOT a global row_number window, which
    # would funnel the whole corpus through one partition. The row_number
    # that assigns cell ids runs on the already-limited n_centroids rows.
    picked = (
        base.select("id", "__v", _ivf_pick_key(seed).alias("__pk"))
        .orderBy(F.col("__pk").asc(), F.col("id").asc())
        .limit(n_centroids)
    )
    cent = picked.select(
        F.row_number()
        .over(Window.orderBy(F.col("__pk").asc(), F.col("id").asc()))
        .cast("long")
        .alias("cell"),
        F.col("__v").alias("__cv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__v"), F.col("__cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from rust_triplets_spark.functions.caching import cache_scoped

    # ranked feeds BOTH the cell assignment and the probe list, and each
    # side of the candidate join would otherwise re-run the corpus ×
    # n_centroids distance scoring (an interpreted higher-order kernel) —
    # cache it once, filtered twice. Probes keep only (qid, cell) + the
    # query vector; rows = corpus × nprobe, bounded.
    ranked = cache_scoped(
        base.crossJoin(F.broadcast(cent))
        .withColumn("__d2", d2)
        .withColumn(
            "__cr",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("__d2").asc(), F.col("cell").asc())
            ),
        )
        .where(F.col("__cr") <= max(1, nprobe))
        .select("id", "__v", "__n", "cell", "__cr",
                *(["__lab"] if label_col else [])),
        f"similarity.ivf.ranked{'.lab' if label_col else ''}",
        eager=True,  # both join sides must read materialized blocks — a
        # lazy cache lets the self-join's concurrent scans double-compute
    )
    assigned = ranked.where(F.col("__cr") == 1).select(
        "id", "__v", "__n", "cell", *(["__lab"] if label_col else [])
    )
    probes = ranked.where(F.col("__cr") <= nprobe).select(
        F.col("id").alias("qid"), F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"), "cell",
        *([F.col("__lab").alias("__qlab")] if label_col else []),
    )
    cand = probes.join(assigned, "cell").where(F.col("qid") != F.col("id"))
    if exclude_same_label:
        cand = cand.where(F.col("__qlab") != F.col("__lab"))
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__qn").cast("double")) * F.sqrt(F.col("__n").cast("double"))
    )
    scored = cand.withColumn("__dot", _dot(F.col("__qv"), F.col("__v"))).withColumn(
        "cos_sim", cos
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id").asc())
    out_cols = ["qid", F.col("rank").cast("long").alias("rank"),
                F.col("id").alias("nid"), "cos_sim"]
    if exclude_same_label:
        out_cols.append(F.col("__lab").alias("neg_label"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*out_cols)
    )


def _ivf_pick_key(seed: int):
    from rust_triplets_spark.functions.hashing import hash31_col

    return hash31_col(F.col("id"), seed)


def ivf_seeded_topk_sql(
    table: str, id_sql: str, vec_sql: str, k: int = 5,
    n_centroids: int | None = 16, nprobe: int = 2, seed: int = IVF_SEED,
    target_cell_rows: int = TARGET_CELL_ROWS,
    label_sql: str | None = None, exclude_same_label: bool = False,
) -> str:
    """DuckDB twin of :func:`ivf_seeded_topk` — same seeded centroid pick,
    same integer distances, same tie-breaks; ``n_centroids=None`` becomes
    the same integer-exact auto_cells arithmetic as a scalar subquery."""
    from rust_triplets_spark.functions.hashing import hash31_sql

    if exclude_same_label and label_sql is None:
        raise ValueError("exclude_same_label requires label_sql")
    n_cent_sql = (
        _auto_cells_sql("b", target_cell_rows, floor=16)
        if n_centroids is None
        else str(n_centroids)
    )
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    lab_b = f", CAST({label_sql} AS BIGINT) AS lab" if label_sql else ""
    lab = ", lab" if label_sql else ""
    lab_q = ", lab AS qlab" if label_sql else ""
    lab_neg = ", a.lab AS neg_label" if exclude_same_label else ""
    lab_out = ", neg_label" if exclude_same_label else ""
    lab_filter = " AND a.lab <> p.qlab" if exclude_same_label else ""
    return f"""
WITH b AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS v{lab_b} FROM {table}
), n AS MATERIALIZED (
  SELECT id, v{lab},
         CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])) AS BIGINT) AS nn
  FROM b
), cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY {hash31_sql('id', seed)}, id) AS BIGINT) AS cell,
         v AS cv
  FROM b QUALIFY cell <= {n_cent_sql}
), ranked AS MATERIALIZED (
  SELECT n.id, n.v, n.nn{lab}, c.cell,
         row_number() OVER (
           PARTITION BY n.id
           ORDER BY CAST(list_sum(list_transform(range(1, len(n.v) + 1),
                         i -> (n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i]))) AS BIGINT), c.cell
         ) AS cr
  FROM n, cent c
), assigned AS (SELECT id, v, nn{lab}, cell FROM ranked WHERE cr = 1),
probes AS (SELECT id AS qid, v AS qv, nn AS qn{lab_q}, cell FROM ranked WHERE cr <= {nprobe}),
scored AS (
  SELECT p.qid, a.id AS nid,
         CAST(CAST(list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.v[i])) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(p.qn AS DOUBLE)) * sqrt(CAST(a.nn AS DOUBLE))) AS cos_sim{lab_neg}
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.id <> p.qid{lab_filter}
)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos_sim{lab_out}
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM scored)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# SemDedup: embedding-cluster near-duplicate pruning (keep/drop frame)
# ---------------------------------------------------------------------------


def seeded_cells(
    df: DataFrame, id_col: str, vec_col: str,
    n_centroids: int | None = 16, seed: int = IVF_SEED,
    target_cell_rows: int = TARGET_CELL_ROWS,
) -> DataFrame:
    """Coarse cell assignment with the hash-seeded quantizer (the
    zero-iteration k-means of :func:`ivf_seeded_topk`): centroids are the
    ``n_centroids`` corpus vectors with the smallest ``hash31(id, seed)``;
    every vector goes to its nearest centroid by EXACT integer squared
    distance over the quantized embeddings (ties broken by cell id).
    Returns ``(id, __v, __n, cell)`` — quantized vector and norm ride along
    so downstream kernels reuse them without re-reading the corpus.

    Scale shape: centroid frame is ``n_centroids`` rows (broadcast); the
    d2 scoring is a narrow map over corpus × n_centroids; the argmin is a
    per-id window — one hash exchange on id. ``n_centroids=None`` derives
    the count from the corpus (:func:`auto_cells`, floor 8) so downstream
    in-cell joins stay linear (see :data:`TARGET_CELL_ROWS`)."""
    if n_centroids is None:
        n_centroids = auto_cells(df.count(), target_cell_rows, floor=8)
    base = df.select(
        F.col(id_col).cast("long").alias("id"), _quantize(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _dot(F.col("__v"), F.col("__v")))
    picked = (
        base.select("id", "__v", _ivf_pick_key(seed).alias("__pk"))
        .orderBy(F.col("__pk").asc(), F.col("id").asc())
        .limit(n_centroids)
    )
    cent = picked.select(
        F.row_number()
        .over(Window.orderBy(F.col("__pk").asc(), F.col("id").asc()))
        .cast("long")
        .alias("cell"),
        F.col("__v").alias("__cv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__v"), F.col("__cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        base.crossJoin(F.broadcast(cent))
        .withColumn("__d2", d2)
        .withColumn(
            "__cr",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("__d2").asc(), F.col("cell").asc())
            ),
        )
        .where(F.col("__cr") == 1)
        .select("id", "__v", "__n", "cell")
    )


def semdedup_keep(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9,
    n_centroids: int | None = 16, seed: int = IVF_SEED,
    target_cell_rows: int = TARGET_CELL_ROWS,
) -> DataFrame:
    """SemDedup-style embedding-cluster dedup (Abbas et al. 2023, public):
    cluster the corpus with a coarse quantizer, score pairwise cosine only
    WITHIN each cluster, and drop every document that has a same-cell
    neighbor above ``threshold`` with a smaller id (the deterministic
    min-id survivor policy — same keep-first rule as exact dedup, so the
    result is iteration-order-free and oracle-checkable; the published
    heuristic keeps the point farthest from the centroid, a policy choice
    this column layout supports swapping in). Returns
    ``(id, cell, keep)`` for EVERY document.

    The embedding-level analog of minhash-based ``neardup_clusters``:
    candidate cost is Σ cell² (cells ≈ corpus / n_centroids), never
    corpus². ``n_centroids=None`` (the scale default) derives the count
    from the corpus so cells stay ~``target_cell_rows`` and the in-cell
    self-join is LINEAR — a fixed count re-grows cells with the corpus and
    measured 27x at a 10x scale-up (SCALE.md). The self-join is an
    equi-join on cell and the dominance test one aggregate — no
    iteration, no driver state."""
    from rust_triplets_spark.functions.caching import cache_scoped

    cells = cache_scoped(
        seeded_cells(df, id_col, vec_col, n_centroids, seed, target_cell_rows),
        "similarity.semdedup.cells",
        eager=True,  # both self-join sides must read materialized blocks
    )
    left = cells.select(
        F.col("id").alias("a"), F.col("__v").alias("__av"),
        F.col("__n").alias("__an"), "cell",
    )
    right = cells.select(
        F.col("id").alias("b"), F.col("__v").alias("__bv"),
        F.col("__n").alias("__bn"), "cell",
    )
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__an").cast("double")) * F.sqrt(F.col("__bn").cast("double"))
    )
    dominated = (
        left.join(right, "cell")
        .where(F.col("a") < F.col("b"))
        .withColumn("__dot", _dot(F.col("__av"), F.col("__bv")))
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= threshold)
        .select(F.col("b").alias("id"))
        .distinct()
    )
    return cells.join(
        dominated.withColumn("__drop", F.lit(True)), "id", "left"
    ).select(
        "id",
        "cell",
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
    )


def semdedup_keep_sql(
    table: str, id_sql: str, vec_sql: str, threshold: float = 0.9,
    n_centroids: int | None = 16, seed: int = IVF_SEED,
    target_cell_rows: int = TARGET_CELL_ROWS,
) -> str:
    """DuckDB twin of :func:`semdedup_keep` — same seeded centroids, same
    integer d2 cell assignment, same min-id survivor rule;
    ``n_centroids=None`` becomes the same auto_cells arithmetic as a
    scalar subquery."""
    from rust_triplets_spark.functions.hashing import hash31_sql

    n_cent_sql = (
        _auto_cells_sql("b", target_cell_rows, floor=8)
        if n_centroids is None
        else str(n_centroids)
    )
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    return f"""
WITH b AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS v FROM {table}
), n AS MATERIALIZED (
  SELECT id, v,
         CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])) AS BIGINT) AS nn
  FROM b
), cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY {hash31_sql('id', seed)}, id) AS BIGINT) AS cell,
         v AS cv
  FROM b QUALIFY cell <= {n_cent_sql}
), assigned AS MATERIALIZED (
  SELECT id, v, nn, cell FROM (
    SELECT n.id, n.v, n.nn, c.cell,
           row_number() OVER (
             PARTITION BY n.id
             ORDER BY CAST(list_sum(list_transform(range(1, len(n.v) + 1),
                           i -> (n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i]))) AS BIGINT), c.cell
           ) AS cr
    FROM n, cent c
  ) WHERE cr = 1
), dominated AS (
  SELECT DISTINCT r.id
  FROM assigned l JOIN assigned r ON l.cell = r.cell AND l.id < r.id
  WHERE CAST(CAST(list_sum(list_transform(range(1, len(l.v) + 1), i -> l.v[i] * r.v[i])) AS BIGINT) AS DOUBLE)
          / (sqrt(CAST(l.nn AS DOUBLE)) * sqrt(CAST(r.nn AS DOUBLE))) >= {threshold!r}
)
SELECT a.id, a.cell, (d.id IS NULL) AS keep
FROM assigned a LEFT JOIN dominated d ON d.id = a.id
"""


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized candidates inside probed cells — the memory
# scale path. At 100 TB the ANN bottleneck is not compute but the bytes a
# candidate row drags through the probe join: a 1024-dim float vector is
# 4 KB/row, while an m-subvector PQ code is m bytes + a shared codebook.
# This kernel stores each corpus vector as its per-subspace nearest
# codeword and scores queries ASYMMETRICALLY (exact query vs reconstructed
# candidate — classic ADC), so the candidate side of the probe join
# carries only the reconstruction.
# ---------------------------------------------------------------------------

PQ_PICK_STEP = 1  # codebook pick uses hash31(id, seed + PQ_PICK_STEP) so the
# codeword sample decorrelates from the coarse-centroid sample at the same seed


def _pq_codebook(base: DataFrame, m: int, sub: int, n_codes: int, seed: int):
    """(j, code, __csv): per-subspace codewords — the ``n_codes`` corpus
    vectors with the smallest ``hash31(id, seed + PQ_PICK_STEP)``, sliced
    into their m subvectors (zero-iteration k-means, the seeded-quantizer
    trick). m × n_codes rows — always broadcast."""
    from rust_triplets_spark.functions.hashing import hash31_col

    picked = (
        base.select("id", "__v", hash31_col(F.col("id"), seed + PQ_PICK_STEP).alias("__pk"))
        .orderBy(F.col("__pk").asc(), F.col("id").asc())
        .limit(n_codes)
    )
    coded = picked.select(
        F.row_number()
        .over(Window.orderBy(F.col("__pk").asc(), F.col("id").asc()))
        .cast("long")
        .alias("code"),
        "__v",
    )
    slices = [
        F.struct(
            F.lit(j).cast("long").alias("j"),
            F.slice(F.col("__v"), j * sub + 1, sub).alias("__csv"),
        )
        for j in range(m)
    ]
    return coded.select(
        "code", F.explode(F.array(*slices)).alias("__s")
    ).select(F.col("__s.j").alias("j"), "code", F.col("__s.__csv").alias("__csv"))


def pq_index(
    base: DataFrame, m: int, sub: int, n_codes: int, seed: int,
) -> DataFrame:
    """(id, __codes, __rv, __rn): the PQ index frame — per subspace j the
    codeword minimizing the EXACT integer squared distance (ties → lowest
    code id), exposed as the m-long code array, the stitched
    reconstruction, and its integer norm. Consumers project what they
    need: the recon scorer carries ``__rv`` per candidate, the LUT scorer
    carries only ``__codes`` + ``__rn``.

    Scale shape: corpus × (m·n_codes) narrow map against the broadcast
    codebook, argmin per (id, j) window (one hash exchange), then one
    groupBy(id) that stitches the m winners — all corpus-linear; the
    codebook never exceeds m × n_codes rows."""
    cb = _pq_codebook(base, m, sub, n_codes, seed)
    d2 = F.aggregate(
        F.zip_with(F.col("__sv"), F.col("__csv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    doc_slices = [
        F.struct(
            F.lit(j).cast("long").alias("j"),
            F.slice(F.col("__v"), j * sub + 1, sub).alias("__sv"),
        )
        for j in range(m)
    ]
    sub_rows = base.select(
        "id", F.explode(F.array(*doc_slices)).alias("__s")
    ).select("id", F.col("__s.j").alias("j"), F.col("__s.__sv").alias("__sv"))
    best = (
        sub_rows.join(F.broadcast(cb), "j")
        .withColumn("__d2", d2)
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("id", "j").orderBy(
                    F.col("__d2").asc(), F.col("code").asc()
                )
            ),
        )
        .where(F.col("__r") == 1)
        .select("id", "j", "code", "__csv")
    )
    return (
        best.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("j", "code", "__csv"))).alias("__w"))
        .select(
            "id",
            F.transform(F.col("__w"), lambda s: s.getField("code")).alias("__codes"),
            F.flatten(
                F.transform(F.col("__w"), lambda s: s.getField("__csv"))
            ).alias("__rv"),
        )
        .withColumn("__rn", _dot(F.col("__rv"), F.col("__rv")))
    )


def ivfpq_seeded_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5,
    m: int = 8, n_codes: int = 16, dim: int | None = None,
    n_centroids: int | None = 16, nprobe: int = 2, seed: int = IVF_SEED,
    rerank: int | None = None, score_via: str = "recon",
    target_cell_rows: int = TARGET_CELL_ROWS,
) -> DataFrame:
    """IVF-PQ ANN: coarse seeded cells + ``nprobe`` probing exactly as
    :func:`ivf_seeded_topk`, but candidates are scored against their PQ
    RECONSTRUCTION (``cos(query, reconstruct(candidate))`` — asymmetric
    distance). Returns (qid, rank, nid, cos_sim); the cosine runs on
    integer-exact dot/norms of the quantized query and the integer
    reconstruction, so the result hash-matches the DuckDB twin.

    ``score_via``: ``"recon"`` materializes the reconstruction per
    candidate row (fewest shuffles — right while dim is small);
    ``"lut"`` is ADC proper — candidates carry only the m-long code array
    and the scoring join looks partial dots up in a (qid, subspace, code)
    table, the memory shape PQ exists for at high dim (a 1024-dim recon
    is 4 KB per candidate row; codes are m ints). Both kernels produce
    IDENTICAL values (Σ_j of exact int64 partial dots == the single dot),
    so either hash-matches the twin; pytest pins the equality.

    ``rerank=R`` enables the standard two-stage deployment: ADC keeps each
    query's top-R candidates (coarse but cheap — the candidate join never
    touches full vectors), then the EXACT integer-cosine kernel re-scores
    only those R rows and keeps k. ADC alone resolves cluster structure,
    not intra-cluster noise (its reconstruction error is bounded by the
    codebook, not the data — the recall pytest pins both regimes), so
    top-k-of-equals within a tight cluster needs the rerank. ``None``
    returns raw ADC ranking.

    Degenerate-to-exact property (pinned by pytest): with ``n_codes ≥``
    corpus rows every subspace reconstructs its own subvector (d2 = 0) and
    this collapses to :func:`ivf_seeded_topk` bit-for-bit.

    ``dim`` (embedding width) must be divisible by ``m``; when None it is
    read from one corpus row. ``n_centroids=None`` derives the cell count
    from the corpus (:func:`auto_cells`) — same linearity contract as the
    other IVF kernels."""
    if rerank is not None and rerank < k:
        raise ValueError(f"ivfpq: rerank={rerank} must be >= k={k}")
    if score_via not in ("recon", "lut"):
        raise ValueError(f"ivfpq: unknown score_via {score_via!r}")
    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is None:
            raise ValueError("ivfpq: empty corpus — cannot infer embedding dim")
        dim = row["d"]
    if dim % m:
        raise ValueError(f"ivfpq: dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    if n_centroids is None:
        n_centroids = auto_cells(df.count(), target_cell_rows, floor=16)
    from rust_triplets_spark.functions.caching import cache_scoped

    base = df.select(
        F.col(id_col).cast("long").alias("id"), _quantize(F.col(vec_col)).alias("__v")
    ).withColumn("__n", _dot(F.col("__v"), F.col("__v")))
    picked = (
        base.select("id", "__v", _ivf_pick_key(seed).alias("__pk"))
        .orderBy(F.col("__pk").asc(), F.col("id").asc())
        .limit(n_centroids)
    )
    cent = picked.select(
        F.row_number()
        .over(Window.orderBy(F.col("__pk").asc(), F.col("id").asc()))
        .cast("long")
        .alias("cell"),
        F.col("__v").alias("__cv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__v"), F.col("__cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ranked = cache_scoped(
        base.crossJoin(F.broadcast(cent))
        .withColumn("__d2", d2)
        .withColumn(
            "__cr",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("__d2").asc(), F.col("cell").asc())
            ),
        )
        .where(F.col("__cr") <= max(1, nprobe))
        .select("id", "__v", "__n", "cell", "__cr"),
        "similarity.ivfpq.ranked",
        eager=True,  # probe + assigned sides must both read materialized blocks
    )
    idx = pq_index(base, m, sub, n_codes, seed)
    cos = F.col("__dot").cast("double") / (
        F.sqrt(F.col("__qn").cast("double")) * F.sqrt(F.col("__rn").cast("double"))
    )
    if score_via == "recon":
        assigned = (
            ranked.where(F.col("__cr") == 1)
            .select("id", "cell")
            .join(idx.select("id", "__rv", "__rn"), "id")
        )
        probes = ranked.where(F.col("__cr") <= nprobe).select(
            F.col("id").alias("qid"), F.col("__v").alias("__qv"),
            F.col("__n").alias("__qn"), "cell",
        )
        cand = probes.join(assigned, "cell").where(F.col("qid") != F.col("id"))
        scored = cand.withColumn(
            "__dot", _dot(F.col("__qv"), F.col("__rv"))
        ).withColumn("cos_sim", cos)
    else:
        # LUT/ADC proper: the candidate join carries only the m-long code
        # array + an int norm — the memory shape PQ exists for (at 1024-dim
        # the recon path ships a 4 KB vector per candidate row; this ships
        # m ints). The query-side partial dots live in a (qid, j, code)
        # table the scoring join looks up; Σ_j of exact int64 partial dots
        # equals the recon path's single dot EXACTLY, so both kernels (and
        # the recon-form DuckDB twin) are value-identical (pytest-pinned).
        cb = _pq_codebook(base, m, sub, n_codes, seed)
        q_slices = [
            F.struct(
                F.lit(j).cast("long").alias("j"),
                F.slice(F.col("__v"), j * sub + 1, sub).alias("__sv"),
            )
            for j in range(m)
        ]
        lut = (
            base.select("id", F.explode(F.array(*q_slices)).alias("__s"))
            .select(
                F.col("id").alias("qid"),
                F.col("__s.j").alias("j"),
                F.col("__s.__sv").alias("__sv"),
            )
            .join(F.broadcast(cb), "j")
            .select(
                "qid", "j", "code", _dot(F.col("__sv"), F.col("__csv")).alias("__pd")
            )
        )
        assigned = (
            ranked.where(F.col("__cr") == 1)
            .select("id", "cell")
            .join(idx.select("id", "__codes", "__rn"), "id")
        )
        probes = ranked.where(F.col("__cr") <= nprobe).select(
            F.col("id").alias("qid"), F.col("__n").alias("__qn"), "cell",
        )
        cand_m = (
            probes.join(assigned, "cell")
            .where(F.col("qid") != F.col("id"))
            .select(
                "qid", "id", "__qn", "__rn",
                F.posexplode(F.col("__codes")).alias("j", "code"),
            )
        )
        scored = (
            cand_m.join(lut, ["qid", "j", "code"])
            .groupBy("qid", "id", "__qn", "__rn")
            .agg(F.sum("__pd").alias("__dot"))
            .withColumn("cos_sim", cos)
        )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id").asc())
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    F.col("id").alias("nid"), "cos_sim")
        )
    # stage 2: exact rerank of the ADC top-R — re-fetch the R candidates'
    # (and queries') true vectors (R × queries rows, never corpus × probes)
    # and rank by the exact integer cosine
    adc_top = (
        scored.withColumn("__ar", F.row_number().over(w))
        .where(F.col("__ar") <= rerank)
        .select("qid", "id")
    )
    qvecs = base.select(
        F.col("id").alias("qid"), F.col("__v").alias("__qv"),
        F.col("__n").alias("__qn"),
    )
    exact_cos = F.col("__xd").cast("double") / (
        F.sqrt(F.col("__qn").cast("double")) * F.sqrt(F.col("__n").cast("double"))
    )
    rescored = (
        adc_top.join(qvecs, "qid")
        .join(base, "id")
        .withColumn("__xd", _dot(F.col("__qv"), F.col("__v")))
        .withColumn("cos_sim", exact_cos)
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"),
                F.col("id").alias("nid"), "cos_sim")
    )


def ivfpq_seeded_topk_sql(
    table: str, id_sql: str, vec_sql: str, dim: int, k: int = 5,
    m: int = 8, n_codes: int = 16,
    n_centroids: int | None = 16, nprobe: int = 2, seed: int = IVF_SEED,
    rerank: int | None = None,
    target_cell_rows: int = TARGET_CELL_ROWS,
) -> str:
    """DuckDB twin of :func:`ivfpq_seeded_topk` — same seeded picks, same
    integer subspace argmins, same reconstruction, same tie-breaks, same
    optional exact-rerank stage. ``dim`` is required (the m slice
    expressions are generated at SQL-build time)."""
    from rust_triplets_spark.functions.hashing import hash31_sql

    if dim % m:
        raise ValueError(f"ivfpq: dim={dim} not divisible by m={m} subspaces")
    if rerank is not None and rerank < k:
        raise ValueError(f"ivfpq: rerank={rerank} must be >= k={k}")
    sub = dim // m
    if rerank is None:
        final = f"""
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos_sim
FROM (SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
      FROM scored)
WHERE rank <= {k}"""
    else:
        final = f""", adc_top AS (
  SELECT qid, qv, qn, nid
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS ar
        FROM scored)
  WHERE ar <= {rerank}
), rescored AS (
  SELECT t.qid, t.nid,
         CAST(CAST(list_sum(list_transform(range(1, len(t.qv) + 1), i -> t.qv[i] * x.v[i])) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(t.qn AS DOUBLE)) * sqrt(CAST(x.nn AS DOUBLE))) AS cos_sim
  FROM adc_top t JOIN n x ON x.id = t.nid
)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cos_sim
FROM (SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
      FROM rescored)
WHERE rank <= {k}"""
    n_cent_sql = (
        _auto_cells_sql("b", target_cell_rows, floor=16)
        if n_centroids is None
        else str(n_centroids)
    )
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    cb_slices = " UNION ALL ".join(
        f"SELECT code, {j} AS j, v[{j * sub + 1}:{(j + 1) * sub}] AS csv FROM pq_coded"
        for j in range(m)
    )
    doc_slices = " UNION ALL ".join(
        f"SELECT id, {j} AS j, v[{j * sub + 1}:{(j + 1) * sub}] AS sv FROM b"
        for j in range(m)
    )
    return f"""
WITH b AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS v FROM {table}
), n AS MATERIALIZED (
  SELECT id, v,
         CAST(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i])) AS BIGINT) AS nn
  FROM b
), pq_coded AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY {hash31_sql('id', seed + PQ_PICK_STEP)}, id) AS BIGINT) AS code,
         v
  FROM b QUALIFY code <= {n_codes}
), pq_cb AS MATERIALIZED ({cb_slices}),
pq_docsub AS MATERIALIZED ({doc_slices}),
pq_best AS MATERIALIZED (
  SELECT id, j, csv FROM (
    SELECT d.id, d.j, c.csv,
           row_number() OVER (
             PARTITION BY d.id, d.j
             ORDER BY CAST(list_sum(list_transform(range(1, {sub} + 1),
                           i -> (d.sv[i] - c.csv[i]) * (d.sv[i] - c.csv[i]))) AS BIGINT), c.code
           ) AS r
    FROM pq_docsub d JOIN pq_cb c ON d.j = c.j
  ) WHERE r = 1
), pq_recon AS MATERIALIZED (
  SELECT id, flatten(list(csv ORDER BY j)) AS rv FROM pq_best GROUP BY id
), pq_rn AS MATERIALIZED (
  SELECT id, rv,
         CAST(list_sum(list_transform(range(1, len(rv) + 1), i -> rv[i] * rv[i])) AS BIGINT) AS rn
  FROM pq_recon
), cent AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY {hash31_sql('id', seed)}, id) AS BIGINT) AS cell,
         v AS cv
  FROM b QUALIFY cell <= {n_cent_sql}
), ranked AS MATERIALIZED (
  SELECT n.id, n.v, n.nn, c.cell,
         row_number() OVER (
           PARTITION BY n.id
           ORDER BY CAST(list_sum(list_transform(range(1, len(n.v) + 1),
                         i -> (n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i]))) AS BIGINT), c.cell
         ) AS cr
  FROM n, cent c
), assigned AS (
  SELECT r.id, r.cell, p.rv, p.rn
  FROM ranked r JOIN pq_rn p ON p.id = r.id WHERE r.cr = 1
),
probes AS (SELECT id AS qid, v AS qv, nn AS qn, cell FROM ranked WHERE cr <= {nprobe}),
scored AS (
  SELECT p.qid, p.qv, p.qn, a.id AS nid,
         CAST(CAST(list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.rv[i])) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(p.qn AS DOUBLE)) * sqrt(CAST(a.rn AS DOUBLE))) AS cos_sim
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.id <> p.qid
){final}
"""


# ---------------------------------------------------------------------------
# Persisted-quantizer cell profile — the oracle-checkable projection of the
# float/MLlib IVF deploy path
# ---------------------------------------------------------------------------


def load_ivf_centroid_fixture(path: str | None = None) -> dict:
    """Load the persisted coarse-quantizer fixture written by
    ``scripts/gen_ivf_centroids.py`` (MLlib k-means trained once on the
    sf0.01 embeddings with the deploy path's seed/params, centroids
    quantized to the ``QUANT`` integer grid)."""
    import json
    import os

    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "fixtures",
            "ivf_centroids.json",
        )
    with open(path) as fh:
        return json.load(fh)


def ivf_trained_cell_profile(
    df: DataFrame, id_col: str, vec_col: str,
    centroids: list[list[int]], nprobe: int = 2,
) -> DataFrame:
    """Cell-assignment + probe + candidate-count profile of the float-IVF
    deploy pipeline (:func:`ann_ivf_topk`), made hash-exact by running it
    against PERSISTED quantized centroids instead of an in-plan k-means
    fit. Per vector: the cell it lands in (argmin integer squared distance
    over the quantized grid, ties -> lower cell id), the exact integer
    distance to that centroid, the second probe cell, and how many
    candidates an ``nprobe``-probe search would score (sum of probed cell
    occupancies minus self) — i.e. the deterministic skeleton of the ANN
    search that the MLlib-trained ``ann_ivf_float_topk`` query runs
    rows-only. Training once on a sample and applying the centroids
    corpus-wide as constants is exactly the 100 TB deployment shape.

    Scale shape: the centroid list is a literal expression (no join) — d2
    scoring is a narrow map over corpus x n_centroids; the per-id argmin is
    row-local (array_sort over n_centroids structs, no window); the only
    exchanges are the tiny cell-size aggregate (broadcast back) and the
    final per-id sum."""
    cent_arr = F.array(*[
        F.struct(
            F.lit(ci + 1).cast("long").alias("cell"),
            F.array(*[F.lit(int(x)).cast("long") for x in c]).alias("cv"),
        )
        for ci, c in enumerate(centroids)
    ])
    d2 = lambda v, c: F.aggregate(  # noqa: E731
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        _quantize(F.col(vec_col)).alias("__v"),
    )
    # row-local probe ranking: sort (d2, cell) structs, keep first nprobe —
    # the same expression-tree trick as ann_ivf_topk's probe stage
    ranked = base.select(
        "id",
        F.slice(
            F.array_sort(
                F.transform(
                    cent_arr,
                    lambda c: F.struct(
                        d2(F.col("__v"), c["cv"]).alias("d2"),
                        c["cell"].alias("cell"),
                    ),
                )
            ),
            1,
            max(2, nprobe),
        ).alias("__probes"),
    ).select(
        "id",
        F.element_at("__probes", 1)["cell"].alias("cell"),
        F.element_at("__probes", 1)["d2"].alias("d2_cell"),
        # try_: a single-centroid quantizer has no second probe — NULL,
        # not an ANSI out-of-bounds error (the twin LEFT-joins to match)
        F.try_element_at("__probes", F.lit(2))["cell"].alias("probe2_cell"),
        F.slice("__probes", 1, nprobe).alias("__probe_cells"),
    )
    sizes = ranked.groupBy("cell").agg(F.count("*").cast("long").alias("__sz"))
    n_cand = (
        ranked.select("id", F.explode(F.col("__probe_cells")["cell"]).alias("cell"))
        .join(F.broadcast(sizes), "cell")
        .groupBy("id")
        .agg((F.sum("__sz") - F.lit(1)).cast("long").alias("n_candidates"))
    )
    return (
        ranked.drop("__probe_cells")
        .join(n_cand, "id")
        .select(
            F.col("id").alias("vec_id"), "cell", "d2_cell", "probe2_cell",
            "n_candidates",
        )
    )


def ivf_trained_cell_profile_sql(
    table: str, id_sql: str, vec_sql: str,
    centroids: list[list[int]], nprobe: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_trained_cell_profile`: the persisted
    centroids inline as a VALUES list, same integer d2 / argmin / probe /
    occupancy arithmetic — hash-exact."""
    rows = ",\n    ".join(
        f"({ci + 1}, {list(int(x) for x in c)!r}::BIGINT[])"
        for ci, c in enumerate(centroids)
    )
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    return f"""
WITH b AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS v FROM {table}
), cent(cell, cv) AS (
  VALUES
    {rows}
), ranked AS MATERIALIZED (
  SELECT b.id, CAST(c.cell AS BIGINT) AS cell,
         CAST(list_sum(list_transform(range(1, len(b.v) + 1),
              i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS BIGINT) AS d2,
         row_number() OVER (
           PARTITION BY b.id
           ORDER BY CAST(list_sum(list_transform(range(1, len(b.v) + 1),
                 i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]))) AS BIGINT), c.cell
         ) AS cr
  FROM b, cent c
), sizes AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS sz FROM ranked WHERE cr = 1 GROUP BY cell
), ncand AS (
  SELECT r.id, CAST(sum(s.sz) - 1 AS BIGINT) AS n_candidates
  FROM ranked r JOIN sizes s ON s.cell = r.cell
  WHERE r.cr <= {nprobe} GROUP BY r.id
)
SELECT a.id AS vec_id, a.cell, a.d2 AS d2_cell, p.cell AS probe2_cell,
       n.n_candidates
FROM (SELECT id, cell, d2 FROM ranked WHERE cr = 1) a
-- LEFT: with a single-centroid quantizer there is no cr=2 row, and the
-- Spark twin returns probe2_cell NULL rather than dropping the vector
LEFT JOIN (SELECT id, cell FROM ranked WHERE cr = 2) p USING (id)
JOIN ncand n USING (id)
"""


# ---------------------------------------------------------------------------
# Int8 scalar quantization (SQ8) — the embedding STORAGE scale path. A
# 100 TB corpus's float32 embeddings are 4 bytes/dim; per-dimension
# min/max scalar quantization stores 1 byte/dim at ~0.4% of the value
# range in reconstruction error, and every major vector store ships it.
# Complements the PQ family (ivfpq_* — sub-byte codes for SEARCH): SQ8
# keeps per-dim addressability, so filters and partial dequantization
# still work. All arithmetic is IEEE double ops on exactly-widened
# float32 inputs + floor(x + 0.5) integer grids (the BM25 rule: Spark's
# Round on doubles allocates a BigDecimal per row), so the DuckDB twin
# matches bit-for-bit.
# ---------------------------------------------------------------------------

SQ8_ERR_SCALE = 1_000_000_000  # 1e-9 reconstruction-error grid


def embedding_int8_codes(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-(vector, dimension) SQ8 codes: ``(id, d, code, err_q)`` —
    the 0-based dimension, its [0, 255] code under per-dimension
    min/max scaling (corpus-derived, one tiny broadcast stats frame),
    and the reconstruction error |x − dequant(code)| on the 1e-9
    integer grid. Dimension-agnostic: one posexplode (rows = n·d of
    four fixed-width values), one d-row aggregate broadcast back —
    no per-dim column generation, no collect.

    Degenerate dimensions (min == max) code to 0 with zero error
    (dequant returns the constant)."""
    vals = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(F.col(vec_col)).alias("d", "__x"),
    ).select("id", "d", F.col("__x").cast("double").alias("__x"))
    stats = vals.groupBy("d").agg(
        F.min("__x").alias("__lo"), F.max("__x").alias("__hi")
    )
    j = vals.join(F.broadcast(stats), "d")
    span = F.col("__hi") - F.col("__lo")
    code = F.when(
        span > 0,
        F.least(
            F.lit(255).cast("long"),
            F.floor(((F.col("__x") - F.col("__lo")) * F.lit(255.0)) / span + F.lit(0.5)).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    dequant = F.when(
        span > 0, F.col("__lo") + (F.col("code").cast("double") * span) / F.lit(255.0)
    ).otherwise(F.col("__lo"))
    return (
        j.withColumn("code", code)
        .withColumn(
            "err_q",
            F.floor(F.abs(F.col("__x") - dequant) * F.lit(float(SQ8_ERR_SCALE)) + F.lit(0.5)).cast("long"),
        )
        .select("id", F.col("d").cast("long").alias("d"), "code", "err_q")
    )


def embedding_int8_codes_sql(table: str, id_sql: str, vec_sql: str) -> str:
    """DuckDB twin of :func:`embedding_int8_codes`."""
    return f"""
WITH sq_base AS (
  SELECT CAST({id_sql} AS BIGINT) AS id, {vec_sql} AS v FROM {table} t
),
sq_vals AS MATERIALIZED (
  -- duckdb has no UNNEST WITH ORDINALITY: unnest the index range instead
  SELECT b.id, CAST(u.i - 1 AS BIGINT) AS d, CAST(b.v[u.i] AS DOUBLE) AS x
  FROM sq_base b, UNNEST(range(1, len(b.v) + 1)) AS u(i)
),
sq_stats AS (
  SELECT d, MIN(x) AS lo, MAX(x) AS hi FROM sq_vals GROUP BY d
),
sq_coded AS (
  SELECT v.id, v.d, v.x, s.lo, s.hi,
         CASE WHEN s.hi > s.lo
              THEN LEAST(CAST(255 AS BIGINT),
                         CAST(floor(((v.x - s.lo) * 255.0) / (s.hi - s.lo) + 0.5) AS BIGINT))
              ELSE CAST(0 AS BIGINT) END AS code
  FROM sq_vals v JOIN sq_stats s USING (d)
)
SELECT id, d, code,
       CAST(floor(abs(x - (CASE WHEN hi > lo
                  THEN lo + (CAST(code AS DOUBLE) * (hi - lo)) / 255.0
                  ELSE lo END)) * {float(SQ8_ERR_SCALE)!r} + 0.5) AS BIGINT) AS err_q
FROM sq_coded
"""


# ---------------------------------------------------------------------------
# Label centroids — exact mean-pooling of embeddings per label, the
# primitive behind class centroids (nearest-centroid classification,
# k-means init, per-class drift monitoring) and doc-from-chunk pooling.
# Sums run over QUANTIZED integers (order-free — float sums would differ
# across engines by summation order), so the DuckDB twin is bit-exact.
# ---------------------------------------------------------------------------


def label_centroids(
    df: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """``(label, d, n_vectors, sum_q, centroid_q)`` — per (label,
    dimension): member count, exact int64 sum of QUANT-grid components,
    and the integer-division mean on the same grid. One posexplode +
    one partial-agg groupBy; output is (labels × dims) rows — a model,
    not data."""
    vals = df.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(_quantize(F.col(vec_col))).alias("d", "__q"),
    )
    return vals.groupBy("label", "d").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("__q").cast("long").alias("sum_q"),
        F.expr("sum(__q) div count(*)").cast("long").alias("centroid_q"),
    ).select("label", F.col("d").cast("long").alias("d"),
             "n_vectors", "sum_q", "centroid_q")


def label_centroids_sql(table: str, label_sql: str, vec_sql: str) -> str:
    """DuckDB twin of :func:`label_centroids`."""
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    return f"""
WITH lc_base AS (
  SELECT CAST({label_sql} AS BIGINT) AS label, {q} AS v FROM {table} t
),
lc_vals AS (
  SELECT label, CAST(u.i - 1 AS BIGINT) AS d, v[u.i] AS q
  FROM lc_base, UNNEST(range(1, len(v) + 1)) AS u(i)
)
SELECT label, d,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(sum(q) // count(*) AS BIGINT) AS centroid_q
FROM lc_vals
GROUP BY label, d
"""


# ---------------------------------------------------------------------------
# Seeded random projection (Johnson–Lindenstrauss sketch) — the embedding
# compression path that precedes ANN at corpus scale: project d-dim float
# vectors to k integer coordinates with a DATA-INDEPENDENT seeded ±1
# (Rademacher/Achlioptas 2003) matrix, so the sketch is reproducible from
# (seed, dims) alone and distances are preserved in expectation (JL lemma).
# ---------------------------------------------------------------------------

RP_SEED = 4_100_009


def _rp_signs(in_dim: int, out_dim: int, seed: int) -> list:
    """The ±1 projection matrix, derived from the shared 31-bit hash:
    ``sign[i][j] = +1 if hash31(i·out_dim + j, seed) is even else −1``.
    Data-independent, so it is precomputed driver-side and enters BOTH
    engines' plans as literal coefficients — no hash evaluation in the
    hot path, and the twin agrees by construction."""
    from rust_triplets_spark.functions.hashing import hash31_py

    return [
        [1 - 2 * (hash31_py(i * out_dim + j, seed) & 1) for j in range(out_dim)]
        for i in range(in_dim)
    ]


def random_projection(
    df: DataFrame, id_col: str, vec_col: str,
    in_dim: int, out_dim: int = 16, seed: int = RP_SEED,
) -> DataFrame:
    """``(id, proj_0 … proj_{k−1})`` — exact int64 JL sketch: the QUANT-
    grid quantized vector times the seeded ±1 matrix. Entirely row-local
    column arithmetic (one flat sum of signed terms per output
    coordinate — no fold chains, no shuffle, no UDF): at 100 TB this is
    a pure map stage that cuts every downstream ANN/dedup exchange by
    d/k. Integer end-to-end, so the DuckDB twin hash-matches and the
    sketch is bit-reproducible across engines and runs (the property a
    persisted corpus-wide sketch table must have)."""
    signs = _rp_signs(in_dim, out_dim, seed)
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        _quantize(F.col(vec_col)).alias("__q"),
    )
    cols = []
    for j in range(out_dim):
        expr = None
        for i in range(in_dim):
            term = F.element_at(F.col("__q"), i + 1)
            if signs[i][j] < 0:
                expr = -term if expr is None else expr - term
            else:
                expr = term if expr is None else expr + term
        cols.append(expr.cast("long").alias(f"proj_{j}"))
    return base.select("id", *cols)


def random_projection_sql(
    table: str, id_sql: str, vec_sql: str,
    in_dim: int, out_dim: int = 16, seed: int = RP_SEED,
) -> str:
    """DuckDB twin of :func:`random_projection` — the same literal ±1
    coefficients over the same QUANT grid."""
    signs = _rp_signs(in_dim, out_dim, seed)
    q = f"list_transform({vec_sql}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    cols = ",\n       ".join(
        "("
        + " ".join(
            ("-" if signs[i][j] < 0 else "+") + f" qv[{i + 1}]"
            for i in range(in_dim)
        ).lstrip("+ ")
        + f") AS proj_{j}"
        for j in range(out_dim)
    )
    return f"""
SELECT id,
       {cols}
FROM (SELECT CAST({id_sql} AS BIGINT) AS id, {q} AS qv FROM {table} t) s
"""
