"""Triplet / pair / text-sample assembly (SURVEY §2.6, §3.1-3.3) — the
reference's primary query path (``next_triplet_batch``,
src/sampler/mod.rs:2444-2626) re-expressed as one Catalyst-planned job:

records → windows (chunker) → split column → distinct anchor/positive chunk
pair per record → strategy negative (indexed-pool pick) → 50% deterministic
anchor/positive swap → weight model → degenerate rejection. The reference's
(a,p,n) record-id dedup is structural here: every stage is 1:1 per record,
so each anchor id appears exactly once (no dropDuplicates needed — and the
SQL twins stay literally equivalent).

Key mappings:

- anchor/positive distinct-chunk selection (src/sampler/mod.rs:1162-1211,
  retry loop + SAME_SELECTOR_PAIR_RETRY_LIMIT): two *distinct* window chunks
  per record via ``row_number`` over a seeded hash order — rn 1 / rn 2, no
  retries needed. Records need >= 2 window chunks (the auto long-section
  recipe gate, src/sampler/mod.rs:1217-1256; both must be Window views).
- 50% swap (src/sampler/mod.rs:1329-1370): ``mix(anchor, variant) % 2 == 0``
  swaps anchor↔positive; negative unaffected.
- weights (src/sampler/mod.rs:106-122, :1442-1468; src/metrics.rs:97-133):
  ``chunk_w = max(floor, (1/(win_index+1)) * clamp(trust,0,1))`` for
  windows; anchor & positive additionally ``max(floor, chunk_w * prox)``
  with ``prox = 1 - d/(d+1)`` over window-index distance; negative is
  trust-only ``max(floor, clamp(trust,0,1))``;
  ``weight = recipe_w * (aw + pw + nw) / 3``.
- degenerate rejection (src/sampler/mod.rs:1382-1387) and (a,p,n) record-id
  dedup (src/sampler/mod.rs:2604-2611).
- pair derivation (src/sampler/mod.rs:2062-2100): each triplet explodes to a
  Positive pair + a Negative pair with a strategy reason.

Scale: the chunker is a narrow fan-out, the pair pick is one window
function, the negative is an O(n) indexed-pool pick — no operation grows
super-linearly with corpus size, and everything partitions by (source,
split).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rust_triplets_spark.functions.caching import cache_scoped
from rust_triplets_spark.functions.hashing import (
    M31,
    hash31_sql,
    mix31_col,
    mix31_sql,
    strfold_col,
)
from rust_triplets_spark.operators.chunking import ChunkingStrategy, chunk_sections, chunk_sql
from rust_triplets_spark.operators.negatives import negative_pick, negative_pick_sql
from rust_triplets_spark.operators.splits import split_label_col, split_label_sql

CHUNK_SEED_OFF = 404  # chunk-order rotation
SWAP_SEED_OFF = 505  # anchor/positive swap coin
TRUST_SEED = 7  # synthetic per-record trust for the driver tables
SEL_ROLE_OFF = 909  # Role selector rotation (matches selector_text_samples)
SEL_RAND_OFF = 910  # Random selector pick
SEL_CHUNK_OFF = 911  # chunk-pool rotation within the selected section
SEL_SIDE_SALT = {"anchor": 0, "positive": 1, "negative": 2}  # decorrelate sides

STRATEGY_REASON = {  # src/constants.rs:98-103
    "wrong_article": "wrong_article",
    "wrong_publication_date": "wrong_publication_date",
    "qa_mismatch": "wrong_qa_pairing",
}


@dataclass(frozen=True)
class Selector:
    """Mirrors the reference's ``Selector`` enum (src/config.rs:200-215):
    ``Role(Anchor|Context)`` / ``Paragraph(n)`` / ``Random`` /
    ``TemporalOffset(days)`` (the as-of neighbor's Context pick; the
    one-section corpus shortcut remains as
    :func:`assemble_temporal_triplets`)."""

    kind: str  # 'role' | 'paragraph' | 'random' | 'temporal'
    role: str | None = None  # for kind='role': 'anchor' | 'context'
    index: int | None = None  # for kind='paragraph'
    days: int | None = None  # for kind='temporal'

    def __post_init__(self):
        if self.kind not in ("role", "paragraph", "random", "temporal"):
            raise ValueError(f"unknown selector kind {self.kind!r}")
        if self.kind == "role" and self.role not in ("anchor", "context"):
            raise ValueError("Role selector requires role='anchor'|'context'")
        if self.kind == "paragraph" and (self.index is None or self.index < 0):
            raise ValueError("Paragraph selector requires index >= 0")
        if self.kind == "temporal" and self.days is None:
            raise ValueError("TemporalOffset selector requires days")



def _sql_str(s: str) -> str:
    """Single-quoted DuckDB string literal with embedded quotes doubled —
    recipe names/instructions are user text ("Don't match…" must not
    unbalance the generated oracle)."""
    return "'" + s.replace("'", "''") + "'"


def Role(role: str) -> Selector:  # noqa: N802 — mirrors the enum variant
    return Selector("role", role=role)


def Paragraph(index: int) -> Selector:  # noqa: N802
    return Selector("paragraph", index=index)


def TemporalOffset(days: int) -> Selector:  # noqa: N802
    return Selector("temporal", days=days)


RANDOM = Selector("random")


@dataclass(frozen=True)
class TripletRecipe:
    """Mirrors src/config.rs:146-198. When the per-side selectors are left
    ``None`` the recipe runs the window-chunk pair over one-section records
    (the auto long-section recipe shape, :func:`assemble_triplets`); set
    anchor/positive_selector/negative_selector to route the recipe through
    multi-section selector assembly (:func:`assemble_selector_triplets`)."""

    name: str
    negative_strategy: str = "wrong_article"
    weight: float = 1.0
    instruction: str | None = None
    allow_same_anchor_positive: bool = False
    anchor: Selector | None = None
    positive_selector: Selector | None = None
    negative_selector: Selector | None = None


@dataclass(frozen=True)
class TextRecipe:
    """Text-sample recipe (src/config.rs:218-238): one selector chunk per
    record, recipe weight x chunk weight."""

    name: str
    weight: float = 1.0
    instruction: str | None = None


def derive_text_recipes(recipes: list[TripletRecipe]) -> list[TextRecipe]:
    """Auto-expand each triplet recipe into three text recipes —
    ``{name}_anchor`` / ``{name}_positive`` / ``{name}_negative`` — carrying
    the triplet recipe's weight and no instruction
    (``build_derived_text_recipes``, src/sampler/mod.rs:1775-1799;
    src/heuristics.rs:100-124). A user porting a reference config gets the
    same derived text-sampling surface for free."""
    out: list[TextRecipe] = []
    for r in recipes:
        for side in ("anchor", "positive", "negative"):
            out.append(TextRecipe(name=f"{r.name}_{side}", weight=r.weight))
    return out


def _trust_col(idf) -> "F.Column":
    from rust_triplets_spark.functions.hashing import hash31_col

    return F.lit(0.5) + (hash31_col(idf, TRUST_SEED).cast("double") / F.lit(float(M31))) * F.lit(0.5)


def _trust_sql(idf_sql: str) -> str:
    return f"(0.5 + (CAST({hash31_sql(idf_sql, TRUST_SEED)} AS DOUBLE) / {float(M31)!r}) * 0.5)"


def assemble_triplets(
    records: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    recipe: TripletRecipe,
    chunking: ChunkingStrategy,
    seed: int = 42,
    variant: int = 0,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
    date_col: str | None = None,
    id_is_string: bool = False,
    trust_col: str | None = None,
) -> DataFrame:
    """Full triplet assembly over a one-section-per-record corpus."""
    idf = (
        strfold_col(F.col(id_col)) if id_is_string else F.col(id_col).cast("long")
    )
    recs = records.select(
        F.col(id_col).alias("record_id"),
        F.lit(0).alias("section_idx"),
        F.col(source_col).alias("source"),
        F.col(text_col).alias("text"),
        (F.col(trust_col) if trust_col else _trust_col(idf)).cast("double").alias("trust"),
        split_label_col(id_col, seed, ratios, id_is_string).alias("split"),
        idf.alias("__idf"),
        *( [F.col(date_col).alias("__date")] if date_col else [] ),
    )

    chunks = chunk_sections(
        recs,
        chunking,
        text_col="text",
        carry_cols=(
            "record_id", "section_idx", "source", "split", "trust", "__idf",
            *( ["__date"] if date_col else [] ),
        ),
    ).where(F.col("view_kind") == "window")

    order_key = mix31_col(
        [F.col("__idf"), F.col("win_index"), F.col("overlap"), F.lit(variant)],
        seed + CHUNK_SEED_OFF,
    )
    w_rec = Window.partitionBy("record_id").orderBy(order_key.asc(), F.col("chunk_key").asc())
    ranked = chunks.withColumn("__crn", F.row_number().over(w_rec)).withColumn(
        "__ccnt", F.count("*").over(Window.partitionBy("record_id"))
    )
    # the ranked-chunks frame feeds anchors (rn=1), positives (rn=2), and
    # the negative's chunk lookup — cache so the scan+chunk+rank pipeline
    # runs once instead of once per consumer (the reference recomputes
    # chunks on every access, src/sampler/mod.rs:1765-1773). Scoped cache:
    # a repeat call releases the previous generation's blocks.
    ranked = cache_scoped(ranked, "triplets.ranked")

    pick = ranked.where(F.col("__ccnt") >= 2)
    anchors = pick.where(F.col("__crn") == 1).select(
        F.col("record_id"), F.col("source"), F.col("split"), F.col("trust"), F.col("__idf"),
        F.col("chunk_key").alias("anchor_key"),
        F.col("chunk_text").alias("anchor_text"),
        F.col("win_index").alias("__a_idx"),
    )
    positives = pick.where(F.col("__crn") == 2).select(
        F.col("record_id"),
        F.col("chunk_key").alias("positive_key"),
        F.col("chunk_text").alias("positive_text"),
        F.col("win_index").alias("__p_idx"),
    )
    pair = anchors.join(positives, "record_id", "inner")

    # negative pool = ALL chunked records in the split (the reference draws
    # negatives from every record regardless of chunk count,
    # src/sampler/mod.rs:995-1151) — not just records that produced an
    # anchor/positive pair, so short single-chunk records can be negatives
    rec_pool = ranked.where(F.col("__crn") == 1).select(
        F.col("record_id").alias("id"), "source", "split",
        *( ["__date"] if date_col else [] ),
    )
    # date_col threads through to the strategy: wrong_publication_date
    # requires it, and a dated wrong_article upgrades to the
    # same_source_same_date preference tier
    neg = negative_pick(
        rec_pool, "id", "source", "split", recipe.negative_strategy,
        date_col="__date" if date_col else None,
        seed=seed, variant=variant, id_is_string=id_is_string,
    )
    neg_chunk = ranked.where(F.col("__crn") == 1).select(
        F.col("record_id").alias("negative_id"),
        F.col("chunk_key").alias("negative_key"),
        F.col("chunk_text").alias("negative_text"),
        F.col("trust").alias("__n_trust"),
    )
    trip = (
        pair.join(neg.withColumnRenamed("id", "record_id"), "record_id", "inner")
        .join(neg_chunk, "negative_id", "inner")
    )

    # 50% deterministic swap (src/sampler/mod.rs:1329-1370)
    swap_coin = F.pmod(
        mix31_col([F.col("__idf"), F.lit(variant)], seed + SWAP_SEED_OFF), F.lit(2)
    )
    trip = trip.withColumn("swapped", (swap_coin == 0).cast("long"))

    floor = float(chunking.chunk_weight_floor)
    trust_c = F.greatest(F.lit(0.0), F.least(F.col("trust"), F.lit(1.0)))
    n_trust_c = F.greatest(F.lit(0.0), F.least(F.col("__n_trust"), F.lit(1.0)))
    base_a = F.lit(1.0) / (F.col("__a_idx").cast("double") + F.lit(1.0))
    base_p = F.lit(1.0) / (F.col("__p_idx").cast("double") + F.lit(1.0))
    d = F.abs(F.col("__a_idx") - F.col("__p_idx")).cast("double")
    prox = F.lit(1.0) - d / (d + F.lit(1.0))
    chunk_w_a = F.greatest(F.lit(floor), base_a * trust_c)
    chunk_w_p = F.greatest(F.lit(floor), base_p * trust_c)
    aw = F.greatest(F.lit(floor), chunk_w_a * prox)
    pw = F.greatest(F.lit(floor), chunk_w_p * prox)
    nw = F.greatest(F.lit(floor), n_trust_c)
    weight = F.lit(float(recipe.weight)) * ((aw + pw + nw) / F.lit(3.0))

    out = trip.select(
        F.lit(recipe.name).alias("recipe"),
        F.col("record_id").alias("anchor_id"),
        F.when(F.col("swapped") == 1, F.col("positive_key")).otherwise(F.col("anchor_key")).alias("anchor_key"),
        F.when(F.col("swapped") == 1, F.col("positive_text")).otherwise(F.col("anchor_text")).alias("anchor_text"),
        F.when(F.col("swapped") == 1, F.col("anchor_key")).otherwise(F.col("positive_key")).alias("positive_key"),
        F.when(F.col("swapped") == 1, F.col("anchor_text")).otherwise(F.col("positive_text")).alias("positive_text"),
        F.col("negative_id"),
        F.col("negative_key"),
        F.col("negative_text"),
        weight.alias("weight"),
        F.col("swapped"),
        F.col("tier"),
        F.lit(recipe.instruction).cast("string").alias("instruction"),
        F.col("split"),
    )
    if not recipe.allow_same_anchor_positive:
        out = out.where(F.col("anchor_text") != F.col("positive_text"))
    out = out.where(
        (F.col("negative_text") != F.col("anchor_text"))
        & (F.col("negative_text") != F.col("positive_text"))
    )
    # the reference's (a,p,n) record-id dedup (src/sampler/mod.rs:2604-2611)
    # is structurally satisfied here: every join stage is 1:1 per record_id
    # (anchor rn=1, positive rn=2, one negative pick), so each anchor_id
    # appears exactly once. No dropDuplicates — the SQL twin has none, and a
    # dedup over a nondeterministic pick would silently diverge the engines
    # if a stage ever became multi-row (both sides now emit the same rows).
    return out


def assemble_triplets_sql(
    table: str,
    id_sql: str,
    source_sql: str,
    text_sql: str,
    recipe: TripletRecipe,
    chunking: ChunkingStrategy,
    seed: int = 42,
    variant: int = 0,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
    id_is_string: bool = False,
    where: str = "TRUE",
    date_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`assemble_triplets` (synthetic trust variant)."""
    idf = f"CAST({id_sql} AS BIGINT)" if not id_is_string else None
    if idf is None:
        raise NotImplementedError("oracle twin currently supports numeric ids")
    split_expr = split_label_sql(id_sql, seed, ratios, id_is_string)
    trust_expr = _trust_sql(idf)
    chunks_query = chunk_sql(
        table,
        id_sql,
        text_sql,
        chunking,
        extra_cols={
            "source": source_sql,
            "split": split_expr,
            "trust": trust_expr,
            "idf": idf,
            **({"datec": date_sql} if date_sql else {}),
        },
        where=where,
    )
    order_key = mix31_sql(["idf", "win_index", "overlap", str(variant)], seed + CHUNK_SEED_OFF)
    pool_cols = "record_id AS id, source, split" + (", datec" if date_sql else "")
    neg_sql = negative_pick_sql(
        f"(SELECT {pool_cols} FROM wchunks WHERE crn = 1)",
        "id", "source", "split", recipe.negative_strategy,
        date_sql="datec" if date_sql else None,
        seed=seed, variant=variant, id_is_string=id_is_string,
    )
    swap_coin = f"({mix31_sql(['a.idf', str(variant)], seed + SWAP_SEED_OFF)} % 2)"
    floor = float(chunking.chunk_weight_floor)
    fl = f"{floor!r}"
    trust_c = "greatest(0.0, least(a.trust, 1.0))"
    n_trust_c = "greatest(0.0, least(nc.trust, 1.0))"
    base_a = "(1.0 / (CAST(a.a_idx AS DOUBLE) + 1.0))"
    base_p = "(1.0 / (CAST(a.p_idx AS DOUBLE) + 1.0))"
    d = "CAST(abs(a.a_idx - a.p_idx) AS DOUBLE)"
    prox = f"(1.0 - {d} / ({d} + 1.0))"
    chunk_w_a = f"greatest({fl}, {base_a} * {trust_c})"
    chunk_w_p = f"greatest({fl}, {base_p} * {trust_c})"
    aw = f"greatest({fl}, {chunk_w_a} * {prox})"
    pw = f"greatest({fl}, {chunk_w_p} * {prox})"
    nw = f"greatest({fl}, {n_trust_c})"
    weight = f"({float(recipe.weight)!r} * ((({aw}) + ({pw}) + ({nw})) / 3.0))"
    degenerate = (
        "" if recipe.allow_same_anchor_positive
        else "AND a.anchor_text <> a.positive_text "
    )
    instruction = _sql_str(recipe.instruction) if recipe.instruction else "CAST(NULL AS VARCHAR)"
    return f"""
WITH all_chunks AS MATERIALIZED ({chunks_query}),
wchunks AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY record_id ORDER BY {order_key}, chunk_key) AS crn,
         count(*) OVER (PARTITION BY record_id) AS ccnt
  FROM all_chunks WHERE view_kind = 'window'
),
anchors AS MATERIALIZED (
  SELECT record_id, source, split, trust, idf, chunk_key AS anchor_key,
         chunk_text AS anchor_text, win_index AS a_idx
  FROM wchunks WHERE crn = 1 AND ccnt >= 2
),
positives AS MATERIALIZED (
  SELECT record_id, chunk_key AS positive_key, chunk_text AS positive_text,
         win_index AS p_idx
  FROM wchunks WHERE crn = 2
),
pair AS MATERIALIZED (
  SELECT a.*, p.positive_key, p.positive_text, p.p_idx
  FROM anchors a JOIN positives p USING (record_id)
),
neg AS MATERIALIZED ({neg_sql}),
neg_chunk AS MATERIALIZED (
  SELECT record_id AS negative_id, chunk_key AS negative_key,
         chunk_text AS negative_text, trust
  FROM wchunks WHERE crn = 1
)
SELECT {_sql_str(recipe.name)} AS recipe,
       a.record_id AS anchor_id,
       CASE WHEN {swap_coin} = 0 THEN a.positive_key ELSE a.anchor_key END AS anchor_key,
       CASE WHEN {swap_coin} = 0 THEN a.positive_text ELSE a.anchor_text END AS anchor_text,
       CASE WHEN {swap_coin} = 0 THEN a.anchor_key ELSE a.positive_key END AS positive_key,
       CASE WHEN {swap_coin} = 0 THEN a.anchor_text ELSE a.positive_text END AS positive_text,
       n.negative_id,
       nc.negative_key,
       nc.negative_text,
       {weight} AS weight,
       CAST(CASE WHEN {swap_coin} = 0 THEN 1 ELSE 0 END AS BIGINT) AS swapped,
       n.tier,
       {instruction} AS instruction,
       a.split
FROM pair a
JOIN neg n ON n.id = a.record_id
JOIN neg_chunk nc ON nc.negative_id = n.negative_id
WHERE nc.negative_text <> a.anchor_text AND nc.negative_text <> a.positive_text
{degenerate}
"""


def assemble_temporal_triplets(
    records: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    ts_col: str,
    recipe: TripletRecipe,
    chunking: ChunkingStrategy,
    offset_days: int = 30,
    seed: int = 42,
    variant: int = 0,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
    ts_is_epoch: bool = True,
) -> DataFrame:
    """Triplet assembly with a ``Selector::TemporalOffset`` positive
    (src/config.rs:200-215; execution src/sampler/mod.rs:950-976,
    :1694-1706): the positive chunk comes from the nearest *other* record
    of the same (source, split) to ``created_at + offset_days`` — never
    crossing split boundaries — then that neighbor's representative chunk
    (the reference's Context-role pick reduced to the ranked window chunk
    for this one-section corpus). Negative strategy, 50% swap, weight
    model, degenerate rejection, and dedup are identical to
    :func:`assemble_triplets`.

    Scale: neighbor selection is the distributed insertion-point as-of
    join (operators/asof.py — two sorts + a 4x equi-join, no per-group
    all-pairs), and the chunk lineage is computed once and shared by the
    anchor/positive/negative lookups via a scoped cache."""
    from rust_triplets_spark.operators.asof import asof_nearest

    idf = F.col(id_col).cast("long")
    recs = records.select(
        F.col(id_col).alias("record_id"),
        F.lit(0).alias("section_idx"),
        F.col(source_col).alias("source"),
        F.col(text_col).alias("text"),
        _trust_col(idf).cast("double").alias("trust"),
        split_label_col(id_col, seed, ratios).alias("split"),
        idf.alias("__idf"),
        F.col(ts_col).alias("__ts"),
    )

    chunks = chunk_sections(
        recs,
        chunking,
        text_col="text",
        carry_cols=(
            "record_id", "section_idx", "source", "split", "trust", "__idf",
        ),
    ).where(F.col("view_kind") == "window")
    order_key = mix31_col(
        [F.col("__idf"), F.col("win_index"), F.col("overlap"), F.lit(variant)],
        seed + CHUNK_SEED_OFF,
    )
    w_rec = Window.partitionBy("record_id").orderBy(order_key.asc(), F.col("chunk_key").asc())
    ranked = cache_scoped(
        chunks.withColumn("__crn", F.row_number().over(w_rec)).where(F.col("__crn") == 1),
        "triplets.temporal.rep",
    )

    neighbor = asof_nearest(
        recs, "record_id", "__ts", "source", split_col="split",
        offset_days=offset_days, ts_is_epoch=ts_is_epoch,
    ).select(F.col("id").alias("record_id"), F.col("neighbor_id"))

    anchors = ranked.select(
        "record_id", "source", "split", "trust", "__idf",
        F.col("chunk_key").alias("anchor_key"),
        F.col("chunk_text").alias("anchor_text"),
        F.col("win_index").alias("__a_idx"),
    )
    pos_chunk = ranked.select(
        F.col("record_id").alias("neighbor_id"),
        F.col("chunk_key").alias("positive_key"),
        F.col("chunk_text").alias("positive_text"),
        F.col("win_index").alias("__p_idx"),
        # the positive chunk belongs to the NEIGHBOR record — its weight
        # must clamp the neighbor's trust, not the anchor's (weight spec:
        # chunk_w uses the chunk's own record's trust)
        F.col("trust").alias("__p_trust"),
    )
    pair = anchors.join(neighbor, "record_id", "inner").join(
        pos_chunk, "neighbor_id", "inner"
    )

    rec_pool = ranked.select(F.col("record_id").alias("id"), "source", "split")
    neg = negative_pick(
        rec_pool, "id", "source", "split", recipe.negative_strategy,
        date_col=None, seed=seed, variant=variant, id_is_string=False,
    )
    neg_chunk = ranked.select(
        F.col("record_id").alias("negative_id"),
        F.col("chunk_key").alias("negative_key"),
        F.col("chunk_text").alias("negative_text"),
        F.col("trust").alias("__n_trust"),
    )
    trip = (
        pair.join(neg.withColumnRenamed("id", "record_id"), "record_id", "inner")
        .join(neg_chunk, "negative_id", "inner")
    )

    swap_coin = F.pmod(
        mix31_col([F.col("__idf"), F.lit(variant)], seed + SWAP_SEED_OFF), F.lit(2)
    )
    trip = trip.withColumn("swapped", (swap_coin == 0).cast("long"))

    floor = float(chunking.chunk_weight_floor)
    trust_c = F.greatest(F.lit(0.0), F.least(F.col("trust"), F.lit(1.0)))
    p_trust_c = F.greatest(F.lit(0.0), F.least(F.col("__p_trust"), F.lit(1.0)))
    n_trust_c = F.greatest(F.lit(0.0), F.least(F.col("__n_trust"), F.lit(1.0)))
    base_a = F.lit(1.0) / (F.col("__a_idx").cast("double") + F.lit(1.0))
    base_p = F.lit(1.0) / (F.col("__p_idx").cast("double") + F.lit(1.0))
    d = F.abs(F.col("__a_idx") - F.col("__p_idx")).cast("double")
    prox = F.lit(1.0) - d / (d + F.lit(1.0))
    aw = F.greatest(F.lit(floor), F.greatest(F.lit(floor), base_a * trust_c) * prox)
    pw = F.greatest(F.lit(floor), F.greatest(F.lit(floor), base_p * p_trust_c) * prox)
    nw = F.greatest(F.lit(floor), n_trust_c)
    weight = F.lit(float(recipe.weight)) * ((aw + pw + nw) / F.lit(3.0))

    # the swap exchanges the WHOLE anchor/positive identity — ids included;
    # keys/texts without ids left half the rows with mismatched lineage
    out = trip.select(
        F.lit(recipe.name).alias("recipe"),
        F.when(F.col("swapped") == 1, F.col("neighbor_id")).otherwise(F.col("record_id")).alias("anchor_id"),
        F.when(F.col("swapped") == 1, F.col("positive_key")).otherwise(F.col("anchor_key")).alias("anchor_key"),
        F.when(F.col("swapped") == 1, F.col("positive_text")).otherwise(F.col("anchor_text")).alias("anchor_text"),
        F.when(F.col("swapped") == 1, F.col("record_id")).otherwise(F.col("neighbor_id")).alias("positive_id"),
        F.when(F.col("swapped") == 1, F.col("anchor_key")).otherwise(F.col("positive_key")).alias("positive_key"),
        F.when(F.col("swapped") == 1, F.col("anchor_text")).otherwise(F.col("positive_text")).alias("positive_text"),
        F.col("negative_id"),
        F.col("negative_key"),
        F.col("negative_text"),
        weight.alias("weight"),
        F.col("swapped"),
        F.col("tier"),
        F.lit(recipe.instruction).cast("string").alias("instruction"),
        F.col("split"),
    )
    if not recipe.allow_same_anchor_positive:
        out = out.where(F.col("anchor_text") != F.col("positive_text"))
    out = out.where(
        (F.col("negative_text") != F.col("anchor_text"))
        & (F.col("negative_text") != F.col("positive_text"))
    )
    # no dropDuplicates: every stage (rep chunk rn=1, as-of neighbor,
    # negative pick) is 1:1 per record_id, and the SQL twin carries no
    # dedup — keeping the two plans literally equivalent (see
    # assemble_triplets) instead of masking a future multi-row divergence.
    return out


def assemble_temporal_triplets_sql(
    table: str,
    id_sql: str,
    source_sql: str,
    text_sql: str,
    ts_sql: str,
    recipe: TripletRecipe,
    chunking: ChunkingStrategy,
    offset_days: int = 30,
    seed: int = 42,
    variant: int = 0,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
    ts_is_epoch: bool = True,
) -> str:
    """DuckDB twin of :func:`assemble_temporal_triplets` — same as-of
    insertion-point algorithm (asof_nearest_sql) window-for-window."""
    from rust_triplets_spark.operators.asof import asof_nearest_sql

    idf = f"CAST({id_sql} AS BIGINT)"
    split_expr = split_label_sql(id_sql, seed, ratios)
    trust_expr = _trust_sql(idf)
    chunks_query = chunk_sql(
        table, id_sql, text_sql, chunking,
        extra_cols={"source": source_sql, "split": split_expr,
                    "trust": trust_expr, "idf": idf},
    )
    order_key = mix31_sql(["idf", "win_index", "overlap", str(variant)], seed + CHUNK_SEED_OFF)
    asof_sql = asof_nearest_sql(
        table, id_sql, ts_sql, source_sql, split_sql=split_expr,
        offset_days=offset_days, ts_is_epoch=ts_is_epoch,
    )
    neg_sql = negative_pick_sql(
        "(SELECT record_id AS id, source, split FROM rep)",
        "id", "source", "split", recipe.negative_strategy,
        seed=seed, variant=variant, id_is_string=False,
    )
    swap_coin = f"({mix31_sql(['a.idf', str(variant)], seed + SWAP_SEED_OFF)} % 2)"
    floor = float(chunking.chunk_weight_floor)
    fl = f"{floor!r}"
    trust_c = "greatest(0.0, least(a.trust, 1.0))"
    p_trust_c = "greatest(0.0, least(pc.p_trust, 1.0))"
    n_trust_c = "greatest(0.0, least(nc.trust, 1.0))"
    base_a = "(1.0 / (CAST(a.a_idx AS DOUBLE) + 1.0))"
    base_p = "(1.0 / (CAST(pc.p_idx AS DOUBLE) + 1.0))"
    d = "CAST(abs(a.a_idx - pc.p_idx) AS DOUBLE)"
    prox = f"(1.0 - {d} / ({d} + 1.0))"
    aw = f"greatest({fl}, greatest({fl}, {base_a} * {trust_c}) * {prox})"
    pw = f"greatest({fl}, greatest({fl}, {base_p} * {p_trust_c}) * {prox})"
    nw = f"greatest({fl}, {n_trust_c})"
    weight = f"({float(recipe.weight)!r} * ((({aw}) + ({pw}) + ({nw})) / 3.0))"
    degenerate = (
        "" if recipe.allow_same_anchor_positive
        else "AND a.anchor_text <> pc.positive_text "
    )
    instruction = _sql_str(recipe.instruction) if recipe.instruction else "CAST(NULL AS VARCHAR)"
    return f"""
WITH all_chunks AS MATERIALIZED ({chunks_query}),
rep AS MATERIALIZED (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY record_id ORDER BY {order_key}, chunk_key) AS crn
    FROM all_chunks WHERE view_kind = 'window'
  ) WHERE crn = 1
),
nb AS MATERIALIZED ({asof_sql}),
anchors AS MATERIALIZED (
  SELECT record_id, source, split, trust, idf, chunk_key AS anchor_key,
         chunk_text AS anchor_text, win_index AS a_idx
  FROM rep
),
pos_chunk AS MATERIALIZED (
  SELECT record_id AS neighbor_id, chunk_key AS positive_key,
         chunk_text AS positive_text, win_index AS p_idx, trust AS p_trust
  FROM rep
),
neg AS MATERIALIZED ({neg_sql}),
neg_chunk AS MATERIALIZED (
  SELECT record_id AS negative_id, chunk_key AS negative_key,
         chunk_text AS negative_text, trust
  FROM rep
)
SELECT {_sql_str(recipe.name)} AS recipe,
       CASE WHEN {swap_coin} = 0 THEN nb.neighbor_id ELSE a.record_id END AS anchor_id,
       CASE WHEN {swap_coin} = 0 THEN pc.positive_key ELSE a.anchor_key END AS anchor_key,
       CASE WHEN {swap_coin} = 0 THEN pc.positive_text ELSE a.anchor_text END AS anchor_text,
       CASE WHEN {swap_coin} = 0 THEN a.record_id ELSE nb.neighbor_id END AS positive_id,
       CASE WHEN {swap_coin} = 0 THEN a.anchor_key ELSE pc.positive_key END AS positive_key,
       CASE WHEN {swap_coin} = 0 THEN a.anchor_text ELSE pc.positive_text END AS positive_text,
       n.negative_id,
       nc.negative_key,
       nc.negative_text,
       {weight} AS weight,
       CAST(CASE WHEN {swap_coin} = 0 THEN 1 ELSE 0 END AS BIGINT) AS swapped,
       n.tier,
       {instruction} AS instruction,
       a.split
FROM anchors a
JOIN nb ON nb.id = a.record_id
JOIN pos_chunk pc ON pc.neighbor_id = nb.neighbor_id
JOIN neg n ON n.id = a.record_id
JOIN neg_chunk nc ON nc.negative_id = n.negative_id
WHERE nc.negative_text <> a.anchor_text AND nc.negative_text <> pc.positive_text
{degenerate}
"""


def pairs_from_triplets(triplets: DataFrame, negative_strategy: str) -> DataFrame:
    """Explode each triplet into Positive + Negative SamplePairs
    (src/sampler/mod.rs:2062-2100, :3072-3078). Single-pass ``explode`` —
    a union of two selects would recompute the whole triplet lineage twice."""
    reason = STRATEGY_REASON[negative_strategy]
    sides = F.array(
        F.struct(
            F.col("positive_key").alias("other_key"),
            F.col("positive_text").alias("other_text"),
            F.lit("positive").alias("label"),
            F.lit(None).cast("string").alias("reason"),
        ),
        F.struct(
            F.col("negative_key").alias("other_key"),
            F.col("negative_text").alias("other_text"),
            F.lit("negative").alias("label"),
            F.lit(reason).cast("string").alias("reason"),
        ),
    )
    return triplets.select(
        "recipe", "anchor_id", "anchor_key", "anchor_text",
        F.explode(sides).alias("__side"), "weight", "split",
    ).select(
        "recipe", "anchor_id", "anchor_key", "anchor_text",
        F.col("__side.other_key").alias("other_key"),
        F.col("__side.other_text").alias("other_text"),
        F.col("__side.label").alias("label"),
        F.col("__side.reason").alias("reason"),
        "weight", "split",
    )


def pairs_from_triplets_sql(triplets_sql: str, negative_strategy: str) -> str:
    reason = STRATEGY_REASON[negative_strategy]
    return f"""
WITH trip AS MATERIALIZED ({triplets_sql})
SELECT recipe, anchor_id, anchor_key, anchor_text,
       positive_key AS other_key, positive_text AS other_text,
       'positive' AS label, CAST(NULL AS VARCHAR) AS reason, weight, split
FROM trip
UNION ALL
SELECT recipe, anchor_id, anchor_key, anchor_text,
       negative_key AS other_key, negative_text AS other_text,
       'negative' AS label, '{reason}' AS reason, weight, split
FROM trip
"""


# ---------------------------------------------------------------------------
# per-side selector assembly over multi-section records
# (Selector execution: src/sampler/mod.rs:1694-1751; recipe surface
# src/config.rs:146-215)
# ---------------------------------------------------------------------------

def _select_section(
    base: DataFrame,
    selector: Selector,
    side: str,
    seed: int,
    chunking: "ChunkingStrategy | None" = None,
    variant: int = 0,
) -> DataFrame:
    """One chunk per record according to ``selector`` — the reference's
    ``select_chunk`` reduced to this engine's determinism spec (stateless
    seeded hashes instead of rotation cursors / RNG streams):

    - ``Role(r)``: among the record's sections with role ``r``, start at a
      deterministic hashed offset (select_by_role's hashed start,
      src/sampler/mod.rs:1735-1742) — here: rank 1 in the per-record
      seeded hash order;
    - ``Paragraph(n)``: section ``n``; records lacking it produce no row
      (the sparse-section skip is *per recipe*, src/sampler/mod.rs:1699);
    - ``Random``: seeded uniform pick over all of the record's sections.

    With ``chunking`` given, the selected section is then materialized
    into its window-chunk pool and ONE window is picked in seeded hash
    order rotated by ``variant`` — the stateless reduction of the
    reference's ``materialize_chunks`` → ``next_chunk_from_pool`` cursor
    (src/sampler/mod.rs:1698-1704, :1744-1751). Without it the whole
    section is the chunk (the short-section case, where the pool has
    exactly one window).

    Sides are decorrelated via a per-side salt so e.g. a Random positive
    and a Random negative don't co-pick. Returns
    (record_id, section_idx, …, sel_key, sel_text, sel_win) — ``sel_key``
    is the picked chunk's key (src/sampler/mod.rs:3080-3089), ``sel_win``
    its window index (0 for whole-section chunks), which feeds the weight
    model."""
    salt = SEL_SIDE_SALT[side]
    if selector.kind == "temporal":
        # select_temporal_neighbor (src/sampler/mod.rs:950-976) then the
        # neighbor's Context pick (:1705-1706): as-of join over the
        # per-record frame (same split enforced), Context selection runs
        # on the NEIGHBOR's sections, the result stays keyed by the
        # requesting record
        if "__ts" not in base.columns:
            raise ValueError(
                "TemporalOffset selector requires a ts column in sections "
                "(pass ts_col to assemble_selector_triplets)"
            )
        recs = base.groupBy("record_id").agg(
            F.min("source").alias("source"), F.min("split").alias("split"),
            F.min("trust").alias("trust"), F.min("__idf").alias("__idf"),
            F.min("__ts").alias("__ts"),
        )
        from rust_triplets_spark.operators.asof import asof_nearest

        nb = asof_nearest(
            recs, "record_id", "__ts", "source", split_col="split",
            offset_days=selector.days, ts_is_epoch=True,
        ).select(F.col("id").alias("record_id"), "neighbor_id")
        inner = _select_section(base, Role("context"), side, seed, chunking, variant)
        # trust rides from the NEIGHBOR (the selected chunk's record) —
        # the weight model clamps the chunk's own record's trust; source/
        # split/idf stay the requesting record's (pool + swap semantics)
        return (
            nb.join(recs.select("record_id", "source", "split", "__idf"),
                    "record_id")
            .join(
                inner.select(
                    F.col("record_id").alias("neighbor_id"),
                    "section_idx", "sel_key", "sel_text", "sel_win",
                    F.col("trust").alias("trust"),
                ),
                "neighbor_id",
            )
            .select("record_id", "section_idx", "source", "split", "trust",
                    "__idf", "sel_key", "sel_text", "sel_win",
                    # the chunk belongs to the NEIGHBOR record — output
                    # lineage must name it (the swap exchanges whole
                    # identities, ids included)
                    F.col("neighbor_id").alias("chunk_record_id"))
        )
    if selector.kind == "role":
        key = mix31_col(
            [F.col("__idf"), F.col("section_idx"), F.lit(salt)], seed + SEL_ROLE_OFF
        )
        w = Window.partitionBy("record_id").orderBy(key.asc(), F.col("section_idx").asc())
        picked = (
            base.where(F.col("role") == selector.role)
            .withColumn("__srn", F.row_number().over(w))
            .where(F.col("__srn") == 1)
        )
    elif selector.kind == "paragraph":
        picked = base.where(F.col("section_idx") == selector.index)
    else:  # random
        picked = base.where(
            F.col("section_idx")
            == F.pmod(
                mix31_col([F.col("__idf"), F.lit(salt)], seed + SEL_RAND_OFF),
                F.col("n_sections"),
            )
        )
    if chunking is None:
        return picked.select(
            "record_id", "section_idx", "source", "split", "trust", "__idf",
            F.concat(
                F.col("record_id").cast("string"), F.lit("|"),
                F.col("section_idx").cast("string"), F.lit("|w|0"),
            ).alias("sel_key"),
            F.col("text").alias("sel_text"),
            F.lit(0).cast("long").alias("sel_win"),
            F.col("record_id").alias("chunk_record_id"),
        )
    # per-side chunking of the PICKED sections beats a shared cached pool
    # here, measured both ways at sf0.1: the three side-subtrees of the
    # one output action overlap across cores (9.4 s), while a shared
    # lazily-cached pool is the same (9.9 s) and an eagerly-materialized
    # one serializes the chunker behind a persist barrier (15.5 s)
    chunks = chunk_sections(
        picked, chunking, text_col="text",
        carry_cols=("record_id", "section_idx", "source", "split", "trust", "__idf"),
    ).where(F.col("view_kind") == "window")
    order = mix31_col(
        [F.col("__idf"), F.col("win_index"), F.col("overlap"),
         F.lit(salt), F.lit(variant)],
        seed + SEL_CHUNK_OFF,
    )
    w2 = Window.partitionBy("record_id").orderBy(order.asc(), F.col("chunk_key").asc())
    return (
        chunks.withColumn("__crn", F.row_number().over(w2))
        .where(F.col("__crn") == 1)
        .select(
            "record_id", "section_idx", "source", "split", "trust", "__idf",
            F.col("chunk_key").alias("sel_key"),
            F.col("chunk_text").alias("sel_text"),
            F.col("win_index").cast("long").alias("sel_win"),
            F.col("record_id").alias("chunk_record_id"),
        )
    )


def _select_section_sql(
    selector: Selector,
    side: str,
    seed: int,
    chunking: "ChunkingStrategy | None" = None,
    variant: int = 0,
) -> str:
    """DuckDB twin of :func:`_select_section` over the ``sec`` CTE."""
    salt = SEL_SIDE_SALT[side]
    key_cols = "record_id, section_idx, source, split, trust, idf"
    if selector.kind == "temporal":
        from rust_triplets_spark.operators.asof import asof_nearest_sql

        recs = (
            "(SELECT record_id, min(source) AS source, min(split) AS split, "
            "min(trust) AS trust, min(idf) AS idf, min(ts) AS ts "
            "FROM sec GROUP BY record_id)"
        )
        asof = asof_nearest_sql(
            recs, "record_id", "ts", "source", split_sql="split",
            offset_days=selector.days, ts_is_epoch=True,
        )
        inner = _select_section_sql(Role("context"), side, seed, chunking, variant)
        # x.trust, not r.trust: the chunk belongs to the neighbor record
        # (mirrors the Spark twin's weight-spec fix)
        return (
            f"SELECT nb.id AS record_id, x.section_idx, r.source, r.split, "
            f"x.trust, r.idf, x.sel_key, x.sel_text, x.sel_win, "
            f"nb.neighbor_id AS chunk_record_id "
            f"FROM ({asof}) nb "
            f"JOIN {recs} r ON r.record_id = nb.id "
            f"JOIN ({inner}) x ON x.record_id = nb.neighbor_id"
        )
    if selector.kind == "role":
        order = mix31_sql(["idf", "section_idx", str(salt)], seed + SEL_ROLE_OFF)
        picked = (
            f"SELECT * FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY record_id "
            f"ORDER BY {order}, section_idx) AS srn "
            f"FROM sec WHERE role = '{selector.role}') WHERE srn = 1"
        )
    elif selector.kind == "paragraph":
        picked = f"SELECT * FROM sec WHERE section_idx = {selector.index}"
    else:
        pick = mix31_sql(["idf", str(salt)], seed + SEL_RAND_OFF)
        picked = f"SELECT * FROM sec WHERE section_idx = ({pick} % n_sections)"
    if chunking is None:
        sel = (
            "CAST(record_id AS VARCHAR) || '|' || CAST(section_idx AS VARCHAR) || '|w|0'"
            " AS sel_key, text AS sel_text, CAST(0 AS BIGINT) AS sel_win,"
            " record_id AS chunk_record_id"
        )
        return f"SELECT {key_cols}, {sel} FROM ({picked})"
    chunks = chunk_sql(
        f"({picked})", "record_id", "text", chunking,
        extra_cols={
            "section_idx": "section_idx", "source": "source", "split": "split",
            "trust": "trust", "idf": "idf",
        },
        section_key_sql="CAST(section_idx AS VARCHAR)",
    )
    order2 = mix31_sql(
        ["idf", "win_index", "overlap", str(salt), str(variant)], seed + SEL_CHUNK_OFF
    )
    return (
        f"SELECT {key_cols}, chunk_key AS sel_key, chunk_text AS sel_text, "
        f"CAST(win_index AS BIGINT) AS sel_win, record_id AS chunk_record_id "
        f"FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY record_id "
        f"ORDER BY {order2}, chunk_key) AS crn "
        f"FROM ({chunks}) WHERE view_kind = 'window') WHERE crn = 1"
    )


def assemble_selector_triplets(
    sections: DataFrame,
    recipe: TripletRecipe,
    seed: int = 42,
    variant: int = 0,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
    floor: float | None = None,
    chunking: "ChunkingStrategy | None" = None,
    ts_col: str | None = None,
) -> DataFrame:
    """Triplet assembly driven by the recipe's PER-SIDE selectors over a
    multi-section corpus (the reference's primary configuration surface:
    ``TripletRecipe{anchor, positive_selector, negative_selector}``,
    src/config.rs:146-215; execution src/sampler/mod.rs:1694-1751).

    ``sections`` must carry (record_id, section_idx, role, text, source) —
    one row per record section, the normalized ``RecordSection`` layout
    (src/data.rs:109-118). Flow: anchor/positive sections selected from the
    SAME record by their selectors; the negative RECORD comes from the
    negative strategy (same-source pool + same-split fallback tiers, split
    isolation enforced by :func:`negative_pick`); the negative CHUNK is the
    negative selector applied to that record. 50% deterministic swap,
    whole-section chunk weights (win_index 0 ⇒ proximity 1), degenerate
    rejection — identical contract to :func:`assemble_triplets`.

    A ``Paragraph(n)`` side on a record with fewer sections drops that
    record *for this recipe only* (inner-join semantics — the reference's
    sparse-section skip). Scale: two narrow window ranks + the O(n)
    negative pick + 1:1 equi-joins, everything partitioned by record/split.
    """
    anchor_sel = recipe.anchor or RANDOM
    positive_sel = recipe.positive_selector or RANDOM
    negative_sel = recipe.negative_selector or RANDOM
    if floor is None:
        # derive from the strategy like the other assemblies (divergence
        # between entry points was a reviewed bug); 0.1 = reference default
        floor = float(chunking.chunk_weight_floor) if chunking is not None else 0.1

    idf = F.col("record_id").cast("long")
    base = sections.select(
        F.col("record_id"),
        F.col("section_idx").cast("long").alias("section_idx"),
        F.col("role"),
        F.col("text"),
        F.col("source"),
        _trust_col(idf).cast("double").alias("trust"),
        split_label_col("record_id", seed, ratios).alias("split"),
        idf.alias("__idf"),
        # ts (epoch seconds) feeds only TemporalOffset selectors
        *([F.col(ts_col).cast("long").alias("__ts")] if ts_col else []),
    )
    # n_sections (a per-record window pass = one extra shuffle over the
    # whole sections frame) feeds ONLY the Random selector's modulus —
    # recipes without a Random side skip it entirely
    if "random" in {anchor_sel.kind, positive_sel.kind, negative_sel.kind}:
        base = base.withColumn(
            "n_sections", F.count("*").over(Window.partitionBy("record_id"))
        )
    else:
        base = base.withColumn("n_sections", F.lit(None).cast("long"))
    base = cache_scoped(base, "triplets.selector.sections")

    a = _select_section(base, anchor_sel, "anchor", seed, chunking, variant).select(
        "record_id", "source", "split", "trust", "__idf",
        F.col("sel_key").alias("anchor_key"),
        F.col("sel_text").alias("anchor_text"),
        F.col("sel_win").alias("__a_win"),
        F.col("chunk_record_id").alias("__a_rid"),
    )
    # the positive side carries its OWN chunk-owner id and trust: for a
    # TemporalOffset positive the chunk belongs to the as-of neighbor, so
    # weighting it by the anchor record's trust (and losing the neighbor
    # id from the output) was the same weight/lineage bug fixed earlier
    # in assemble_temporal_triplets
    p = _select_section(base, positive_sel, "positive", seed, chunking, variant).select(
        "record_id",
        F.col("sel_key").alias("positive_key"),
        F.col("sel_text").alias("positive_text"),
        F.col("sel_win").alias("__p_win"),
        F.col("chunk_record_id").alias("__p_rid"),
        F.col("trust").alias("__p_trust"),
    )
    pair = a.join(p, "record_id", "inner")

    # negative pool = every record with at least one section (the strategy
    # draws from the whole split-scoped pool regardless of selector
    # satisfiability; an unsatisfiable negative selector drops the triplet,
    # mirroring the reference's None-propagating select_chunk)
    pool = base.groupBy("record_id").agg(
        F.min("source").alias("source"), F.min("split").alias("split")
    ).select(F.col("record_id").alias("id"), "source", "split")
    neg = negative_pick(
        pool, "id", "source", "split", recipe.negative_strategy,
        date_col=None, seed=seed, variant=variant, id_is_string=False,
    )
    nsel = _select_section(base, negative_sel, "negative", seed, chunking, variant).select(
        F.col("record_id").alias("negative_id"),
        F.col("sel_key").alias("negative_key"),
        F.col("sel_text").alias("negative_text"),
        F.col("trust").alias("__n_trust"),
    )
    trip = (
        pair.join(neg.withColumnRenamed("id", "record_id"), "record_id", "inner")
        .join(nsel, "negative_id", "inner")
    )

    swap_coin = F.pmod(
        mix31_col([F.col("__idf"), F.lit(variant)], seed + SWAP_SEED_OFF), F.lit(2)
    )
    trip = trip.withColumn("swapped", (swap_coin == 0).cast("long"))

    # full chunk-weight model (src/sampler/mod.rs:106-122): base weight
    # 1/(win+1), proximity over window-index distance. Whole-section
    # chunks have win 0 on both sides ⇒ base 1 and proximity 1, so the
    # short-section case reduces to the trust-only weights exactly.
    trust_c = F.greatest(F.lit(0.0), F.least(F.col("trust"), F.lit(1.0)))
    p_trust_c = F.greatest(F.lit(0.0), F.least(F.col("__p_trust"), F.lit(1.0)))
    n_trust_c = F.greatest(F.lit(0.0), F.least(F.col("__n_trust"), F.lit(1.0)))
    base_a = F.lit(1.0) / (F.col("__a_win").cast("double") + F.lit(1.0))
    base_p = F.lit(1.0) / (F.col("__p_win").cast("double") + F.lit(1.0))
    d = F.abs(F.col("__a_win") - F.col("__p_win")).cast("double")
    prox = F.lit(1.0) - d / (d + F.lit(1.0))
    aw = F.greatest(F.lit(floor), F.greatest(F.lit(floor), base_a * trust_c) * prox)
    pw = F.greatest(F.lit(floor), F.greatest(F.lit(floor), base_p * p_trust_c) * prox)
    nw = F.greatest(F.lit(floor), n_trust_c)
    weight = F.lit(float(recipe.weight)) * ((aw + pw + nw) / F.lit(3.0))

    out = trip.select(
        F.lit(recipe.name).alias("recipe"),
        # the swap exchanges WHOLE identities — ids included (the same
        # lineage contract assemble_temporal_triplets pins): on swapped
        # rows the anchor slot holds the positive side's chunk, so it
        # carries that chunk's record id; positive_id names the other
        # side. For non-temporal selectors both rids equal record_id,
        # so those values are unchanged.
        F.when(F.col("swapped") == 1, F.col("__p_rid")).otherwise(F.col("__a_rid")).alias("anchor_id"),
        F.when(F.col("swapped") == 1, F.col("positive_key")).otherwise(F.col("anchor_key")).alias("anchor_key"),
        F.when(F.col("swapped") == 1, F.col("positive_text")).otherwise(F.col("anchor_text")).alias("anchor_text"),
        F.when(F.col("swapped") == 1, F.col("__a_rid")).otherwise(F.col("__p_rid")).alias("positive_id"),
        F.when(F.col("swapped") == 1, F.col("anchor_key")).otherwise(F.col("positive_key")).alias("positive_key"),
        F.when(F.col("swapped") == 1, F.col("anchor_text")).otherwise(F.col("positive_text")).alias("positive_text"),
        F.col("negative_id"),
        F.col("negative_key"),
        F.col("negative_text"),
        weight.alias("weight"),
        F.col("swapped"),
        F.col("tier"),
        F.lit(recipe.instruction).cast("string").alias("instruction"),
        F.col("split"),
    )
    if not recipe.allow_same_anchor_positive:
        out = out.where(F.col("anchor_text") != F.col("positive_text"))
    return out.where(
        (F.col("negative_text") != F.col("anchor_text"))
        & (F.col("negative_text") != F.col("positive_text"))
    )


def assemble_selector_triplets_sql(
    sections_sql: str,
    recipe: TripletRecipe,
    seed: int = 42,
    variant: int = 0,
    ratios: tuple[float, float, float] = (0.8, 0.1, 0.1),
    floor: float | None = None,
    chunking: "ChunkingStrategy | None" = None,
    has_ts: bool = False,
) -> str:
    """DuckDB twin of :func:`assemble_selector_triplets`. ``sections_sql``
    must yield (record_id BIGINT, section_idx BIGINT, role, text, source)
    — plus ``ts`` (BIGINT epoch seconds) when ``has_ts`` (TemporalOffset
    selectors)."""
    anchor_sel = recipe.anchor or RANDOM
    positive_sel = recipe.positive_selector or RANDOM
    negative_sel = recipe.negative_selector or RANDOM
    if floor is None:
        # derive from the strategy like the other assemblies (divergence
        # between entry points was a reviewed bug); 0.1 = reference default
        floor = float(chunking.chunk_weight_floor) if chunking is not None else 0.1
    if not has_ts and "temporal" in {
        anchor_sel.kind, positive_sel.kind, negative_sel.kind
    }:
        # mirror the Spark twin's up-front ValueError instead of emitting
        # SQL that fails later with a missing-column binder error
        raise ValueError(
            "TemporalOffset selector requires has_ts=True (sections_sql "
            "must yield a ts column)"
        )

    split_expr = split_label_sql("record_id", seed, ratios)
    trust_expr = _trust_sql("CAST(record_id AS BIGINT)")
    neg_sql = negative_pick_sql(
        "sel_pool", "id", "source", "split", recipe.negative_strategy,
        seed=seed, variant=variant, id_is_string=False,
    )
    swap_coin = f"({mix31_sql(['a.idf', str(variant)], seed + SWAP_SEED_OFF)} % 2)"
    fl = f"{float(floor)!r}"
    trust_c = "greatest(0.0, least(a.trust, 1.0))"
    p_trust_c = "greatest(0.0, least(p.p_trust, 1.0))"
    n_trust_c = "greatest(0.0, least(nc.trust, 1.0))"
    base_a = "(1.0 / (CAST(a.a_win AS DOUBLE) + 1.0))"
    base_p = "(1.0 / (CAST(p.p_win AS DOUBLE) + 1.0))"
    d = "CAST(abs(a.a_win - p.p_win) AS DOUBLE)"
    prox = f"(1.0 - {d} / ({d} + 1.0))"
    aw = f"greatest({fl}, greatest({fl}, {base_a} * {trust_c}) * {prox})"
    # positive weight clamps the POSITIVE chunk's own record trust (for a
    # TemporalOffset positive that is the as-of neighbor, not the anchor)
    pw = f"greatest({fl}, greatest({fl}, {base_p} * {p_trust_c}) * {prox})"
    nw = f"greatest({fl}, {n_trust_c})"
    weight = f"({float(recipe.weight)!r} * ((({aw}) + ({pw}) + ({nw})) / 3.0))"
    degenerate = (
        "" if recipe.allow_same_anchor_positive
        else "AND a.anchor_text <> p.positive_text "
    )
    instruction = _sql_str(recipe.instruction) if recipe.instruction else "CAST(NULL AS VARCHAR)"
    return f"""
WITH sections0 AS MATERIALIZED ({sections_sql}),
sec AS MATERIALIZED (
  SELECT record_id, section_idx, role, text, source,
         {trust_expr} AS trust, {split_expr} AS split,
         CAST(record_id AS BIGINT) AS idf,
         count(*) OVER (PARTITION BY record_id) AS n_sections{', CAST(ts AS BIGINT) AS ts' if has_ts else ''}
  FROM sections0
),
a_sel AS MATERIALIZED (
  SELECT record_id, source, split, trust, idf,
         sel_key AS anchor_key, sel_text AS anchor_text, sel_win AS a_win,
         chunk_record_id AS a_rid
  FROM ({_select_section_sql(anchor_sel, 'anchor', seed, chunking, variant)})
),
p_sel AS MATERIALIZED (
  SELECT record_id, sel_key AS positive_key, sel_text AS positive_text,
         sel_win AS p_win, chunk_record_id AS p_rid, trust AS p_trust
  FROM ({_select_section_sql(positive_sel, 'positive', seed, chunking, variant)})
),
sel_pool AS MATERIALIZED (
  SELECT record_id AS id, min(source) AS source, min(split) AS split
  FROM sec GROUP BY 1
),
neg AS MATERIALIZED ({neg_sql}),
n_sel AS MATERIALIZED (
  SELECT record_id AS negative_id, sel_key AS negative_key,
         sel_text AS negative_text, trust
  FROM ({_select_section_sql(negative_sel, 'negative', seed, chunking, variant)})
)
SELECT {_sql_str(recipe.name)} AS recipe,
       CASE WHEN {swap_coin} = 0 THEN p.p_rid ELSE a.a_rid END AS anchor_id,
       CASE WHEN {swap_coin} = 0 THEN p.positive_key ELSE a.anchor_key END AS anchor_key,
       CASE WHEN {swap_coin} = 0 THEN p.positive_text ELSE a.anchor_text END AS anchor_text,
       CASE WHEN {swap_coin} = 0 THEN a.a_rid ELSE p.p_rid END AS positive_id,
       CASE WHEN {swap_coin} = 0 THEN a.anchor_key ELSE p.positive_key END AS positive_key,
       CASE WHEN {swap_coin} = 0 THEN a.anchor_text ELSE p.positive_text END AS positive_text,
       n.negative_id,
       nc.negative_key,
       nc.negative_text,
       {weight} AS weight,
       CAST(CASE WHEN {swap_coin} = 0 THEN 1 ELSE 0 END AS BIGINT) AS swapped,
       n.tier,
       {instruction} AS instruction,
       a.split
FROM a_sel a
JOIN p_sel p USING (record_id)
JOIN neg n ON n.id = a.record_id
JOIN n_sel nc ON nc.negative_id = n.negative_id
WHERE nc.negative_text <> a.anchor_text AND nc.negative_text <> p.positive_text
{degenerate}
"""


# ---------------------------------------------------------------------------
# Stage A: source-level auto-injection of the long-section recipe
# (resolve_source_triplet_plan, src/sampler/mod.rs:715-728; eligibility
# src/sampler/mod.rs:660-679; long-section discovery :1801-1812)
# ---------------------------------------------------------------------------

AUTO_RECIPE_NAME = "auto_injected_long_section_chunk_pair_wrong_article"  # src/constants.rs:104-109


def resolve_source_recipe_plans(
    records: DataFrame,
    source_col: str,
    text_col: str,
    configured_names: list[str],
    max_window_tokens: int,
) -> DataFrame:
    """Per-source effective triplet-recipe plan with auto-injection: start
    from the configured pool; when the source has at least one record whose
    section exceeds ``max_window_tokens`` (long-section discovery,
    src/sampler/mod.rs:1801-1812/:1825), the window is non-zero, and the
    pool does not already carry the auto recipe, append
    ``auto_injected_long_section_chunk_pair_wrong_article``.

    Returns (source, plan_pos, recipe_name, auto_injected) — one row per
    plan slot per source. Scale: one partial-aggregable groupBy(source) +
    a row-local array explode; the plan frame is |sources| × |plan| rows.
    """
    from rust_triplets_spark.functions.text import token_count_col

    eligible = max_window_tokens > 0 and AUTO_RECIPE_NAME not in configured_names
    srcs = records.groupBy(F.col(source_col).alias("source")).agg(
        F.max(
            (token_count_col(text_col) > max_window_tokens).cast("int")
        ).alias("__long")
    )
    names_arr = F.array(*[F.lit(n) for n in configured_names])
    if eligible:
        plan = F.when(
            F.col("__long") == 1,
            F.concat(names_arr, F.array(F.lit(AUTO_RECIPE_NAME))),
        ).otherwise(names_arr)
    else:
        plan = names_arr
    return srcs.select(
        "source", F.posexplode(plan).alias("__p", "recipe_name")
    ).select(
        "source",
        F.col("__p").cast("long").alias("plan_pos"),
        "recipe_name",
        (F.col("recipe_name") == AUTO_RECIPE_NAME).cast("long").alias("auto_injected"),
    )


def resolve_source_recipe_plans_sql(
    table: str,
    source_sql: str,
    text_sql: str,
    configured_names: list[str],
    max_window_tokens: int,
) -> str:
    """DuckDB twin of :func:`resolve_source_recipe_plans`."""
    from rust_triplets_spark.functions.text import token_count_sql

    eligible = max_window_tokens > 0 and AUTO_RECIPE_NAME not in configured_names
    names = ", ".join(_sql_str(n) for n in configured_names)
    if eligible:
        # list built WITH the auto name then joined — "[{names}, 'auto']"
        # would be "[, 'auto']" (a parse error) when nothing is configured
        with_auto = ", ".join(
            [*(_sql_str(n) for n in configured_names), _sql_str(AUTO_RECIPE_NAME)]
        )
        plan = f"CASE WHEN lng = 1 THEN [{with_auto}] ELSE [{names}] END"
    else:
        plan = f"[{names}]"
    return f"""
WITH srcs AS (
  SELECT {source_sql} AS source,
         max(CASE WHEN {token_count_sql(text_sql)} > {max_window_tokens}
                  THEN 1 ELSE 0 END) AS lng
  FROM {table} GROUP BY 1
),
plans AS (SELECT source, {plan} AS plan FROM srcs)
SELECT source, CAST(u.i - 1 AS BIGINT) AS plan_pos, plan[u.i] AS recipe_name,
       CAST(CASE WHEN plan[u.i] = '{AUTO_RECIPE_NAME}' THEN 1 ELSE 0 END AS BIGINT) AS auto_injected
FROM plans, UNNEST(range(1, len(plan) + 1)) AS u(i)
"""
