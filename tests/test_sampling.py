"""Sampling invariants ported from the reference's integration tests
(tests/invariants.rs, tests/anchor_positive_swap.rs — SURVEY §5):
split isolation, negative ≠ anchor, ~50% swap rate, epoch-order change,
interleave oversampling ratios."""

import pytest
from pyspark.sql import functions as F

from rust_triplets_spark.operators.chunking import ChunkingStrategy
from rust_triplets_spark.operators.epoch import epoch_order
from rust_triplets_spark.operators.mixing import weighted_interleave, weighted_recipe_order
from rust_triplets_spark.operators.negatives import negative_pick
from rust_triplets_spark.operators.splits import split_label_col
from rust_triplets_spark.operators.triplets import TripletRecipe, assemble_triplets


@pytest.fixture(scope="module")
def corpus(spark):
    """120 records over 4 uneven sources with dates (FIXTURES F3/F8)."""
    rows = [
        (
            i,
            f"src{i % 7 if i % 3 == 0 else i % 2}",
            f"2024-01-{(i % 9) + 1:02d}" if i % 5 else None,
            " ".join(f"w{i}t{j}" for j in range(9)),
        )
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "id long, source string, d string, text string")


def _with_split(df):
    return df.withColumn("split", split_label_col("id", 42))


def test_negative_never_self_and_split_isolated(spark, corpus):
    base = _with_split(corpus)
    for strategy in ("qa_mismatch", "wrong_article", "wrong_publication_date"):
        out = negative_pick(
            base, "id", "source", "split", strategy,
            date_col="d", seed=42, id_is_string=False,
        )
        joined = (
            out.join(base.select("id", F.col("split").alias("a_split")), "id")
            .join(
                base.select(
                    F.col("id").alias("negative_id"), F.col("split").alias("n_split")
                ),
                "negative_id",
            )
        )
        rows = joined.collect()
        assert rows, strategy
        assert all(r["id"] != r["negative_id"] for r in rows), strategy
        assert all(r["a_split"] == r["n_split"] for r in rows), strategy


def test_wrong_date_negative_has_different_date(spark, corpus):
    base = _with_split(corpus)
    out = negative_pick(
        base, "id", "source", "split", "wrong_publication_date",
        date_col="d", seed=42, id_is_string=False,
    )
    dates = base.select("id", "d")
    joined = (
        out.where(F.col("tier") == "wrong_date")
        .join(dates, "id")
        .join(dates.select(F.col("id").alias("negative_id"), F.col("d").alias("nd")), "negative_id")
    )
    for r in joined.collect():
        assert (r["d"] or "§") != (r["nd"] or "§")


def test_negative_pick_variant_rotates(spark, corpus):
    base = _with_split(corpus)
    a = negative_pick(base, "id", "source", "split", "qa_mismatch", seed=42, variant=0, id_is_string=False)
    b = negative_pick(base, "id", "source", "split", "qa_mismatch", seed=42, variant=1, id_is_string=False)
    diff = a.alias("a").join(b.alias("b"), "id").where(
        F.col("a.negative_id") != F.col("b.negative_id")
    )
    assert diff.count() > 20  # most picks rotate with the variant


_STRAT = ChunkingStrategy(max_window_tokens=4, overlap_tokens=(1,), summary_fallback_tokens=2)
_RECIPE = TripletRecipe(name="t", negative_strategy="wrong_article")


def test_triplet_swap_rate_and_validity(spark, corpus):
    out = assemble_triplets(
        corpus, "id", "source", "text", _RECIPE, _STRAT, seed=42, id_is_string=False
    ).collect()
    assert len(out) > 60
    swap_rate = sum(r["swapped"] for r in out) / len(out)
    assert 0.35 < swap_rate < 0.65  # ~50% (anchor_positive_swap.rs:412-445)
    for r in out:
        assert r["anchor_id"] != r["negative_id"]
        assert r["anchor_text"] != r["positive_text"]
        assert r["negative_text"] != r["anchor_text"]
        assert r["anchor_key"] != r["positive_key"]
        assert 0.0 < r["weight"] <= 1.0


def test_triplet_determinism(spark, corpus):
    a = assemble_triplets(corpus, "id", "source", "text", _RECIPE, _STRAT, seed=42, id_is_string=False)
    b = assemble_triplets(corpus, "id", "source", "text", _RECIPE, _STRAT, seed=42, id_is_string=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = assemble_triplets(corpus, "id", "source", "text", _RECIPE, _STRAT, seed=43, id_is_string=False)
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))


def test_epoch_order_changes_per_epoch_and_oversamples(spark, corpus):
    e1 = epoch_order(corpus, "id", "source", epoch=1, seed=42, id_is_string=False)
    e2 = epoch_order(corpus, "id", "source", epoch=2, seed=42, id_is_string=False)
    o1 = [r["id"] for r in e1.orderBy("position").collect()]
    o2 = [r["id"] for r in e2.orderBy("position").collect()]
    assert o1 != o2  # per-epoch permutation change (invariants.rs:811-865)
    assert sorted(set(o1)) == sorted(set(o2))
    # every source appears exactly max_len times (epoch.rs:61-77)
    per_src = dict(e1.groupBy("source").count().collect())
    assert len(set(per_src.values())) == 1
    # within one cycle (n_src consecutive positions) all sources appear once
    n_src = len(per_src)
    first_cycle = e1.where(F.col("position") < n_src).select("source").collect()
    assert len({r["source"] for r in first_cycle}) == n_src


def test_epoch_order_reads_shuffled_input_once(spark, corpus):
    """epoch_order's four consumers of its keyed input (rank and bucket
    counts of the per-source ranking, per-source stats, interleave join)
    share ONE read of it: the optimized plan reads a shuffled input once,
    a cached relation counting once however many branches scan it. A plain
    scan is re-read, not cached. The streamed batches still equal the
    epoch_batches order, also on resume."""
    from rust_triplets_spark.plans.batches import Checkpoint, batch_iterator, epoch_batches

    identity = spark.sparkContext._jvm.System.identityHashCode

    def reads(df):
        out = epoch_order(df, "id", "source", epoch=1, seed=42, id_is_string=False)
        leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
        found = set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "InMemoryRelation":
                found.add(("cache", identity(leaf.cacheBuilder())))
            else:
                found.add(("scan", i))
        return found

    shuffled = corpus.repartition(3, "source")
    assert len(reads(shuffled)) == 1, reads(shuffled)
    assert all(kind == "scan" for kind, _ in reads(corpus))

    want = [
        (r["batch_idx"], r["id"])
        for r in epoch_batches(
            shuffled, "id", "source", 1, 42, 16, id_is_string=False
        ).orderBy("position").collect()
    ]

    def streamed(step):
        it = batch_iterator(
            shuffled, "id", "source", Checkpoint(42, 1, step), batch_size=16,
            id_is_string=False,
        )
        return [(idx, i) for idx, pdf in it for i in pdf["id"]]

    assert len({b for b, _ in want}) > 2
    assert streamed(0) == want
    assert streamed(1) == [w for w in want if w[0] >= 1]


def test_weighted_interleave_ratios(spark):
    rows = [(i, "a" if i < 300 else "b") for i in range(600)]
    df = spark.createDataFrame(rows, "id long, source string")
    out = weighted_interleave(df, "source", {"a": 2.0, "b": 1.0}, "id", id_is_string=False)
    head = out.where(F.col("position") < 90).groupBy("source").count().collect()
    counts = {r["source"]: r["count"] for r in head}
    # stride scheduling: a gets ~2/3 of any prefix
    assert 55 <= counts["a"] <= 65 and 25 <= counts["b"] <= 35


def test_weighted_recipe_order_ticket_counts(spark):
    out = weighted_recipe_order(
        spark, [("a", 1.0), ("b", 0.5), ("c", 0.25), ("z", 0.0)], seed=42
    ).collect()
    by_recipe = {}
    for r in out:
        by_recipe.setdefault(r["recipe"], []).append(r["slot"])
    # tickets = round(w / 0.25) clamped [1,16] → a=4, b=2, c=1; z excluded
    assert {k: len(v) for k, v in by_recipe.items()} == {"a": 4, "b": 2, "c": 1}
    assert sorted(r["slot"] for r in out) == list(range(7))


def test_temporal_offset_triplets_split_isolation(spark):
    """TemporalOffset positives must never cross split boundaries
    (src/config.rs:206-210: same-split candidates only, None otherwise) —
    and negatives are split-isolated like every strategy."""
    from rust_triplets_spark.operators.splits import split_label_col
    from rust_triplets_spark.plans.driver_queries import QUERIES

    out = QUERIES["temporal_offset_triplets"](spark, "/root/testdata/sf0.001")
    checked = out.select(
        "split",
        split_label_col("positive_id", 42).alias("p_split"),
        split_label_col("negative_id", 42).alias("n_split"),
        (F.col("positive_id") != F.col("anchor_id")).alias("p_other"),
    ).collect()
    assert checked, "fixture should yield temporal triplets"
    for r in checked:
        assert r["p_split"] == r["split"], "positive crossed split"
        assert r["n_split"] == r["split"], "negative crossed split"
        assert r["p_other"], "temporal positive must be a different record"


def test_derive_text_recipes_expansion():
    """build_derived_text_recipes parity (src/sampler/mod.rs:1775-1799):
    3 per triplet recipe, name-suffixed, same weight, no instruction."""
    from rust_triplets_spark.operators.triplets import TripletRecipe, derive_text_recipes

    out = derive_text_recipes([
        TripletRecipe(name="r1", weight=0.75, instruction="ignored"),
        TripletRecipe(name="r2", weight=2.0),
    ])
    assert [(t.name, t.weight, t.instruction) for t in out] == [
        ("r1_anchor", 0.75, None), ("r1_positive", 0.75, None), ("r1_negative", 0.75, None),
        ("r2_anchor", 2.0, None), ("r2_positive", 2.0, None), ("r2_negative", 2.0, None),
    ]


@pytest.fixture(scope="module")
def sectioned_corpus(spark):
    """Multi-section records: section 0 = anchor role (title analog),
    1..n = context; record i has (i % 4) + 1 sections."""
    rows = []
    for i in range(80):
        n = (i % 4) + 1
        for s in range(n):
            rows.append(
                (i, s, "anchor" if s == 0 else "context",
                 f"record {i} section {s} body text", f"src{i % 3}")
            )
    return spark.createDataFrame(
        rows, "record_id long, section_idx long, role string, text string, source string"
    )


def test_selector_triplets_negative_is_different_record(spark, sectioned_corpus):
    """invariants.rs:409-427 — the negative chunk must come from a record
    other than the anchor's, and split isolation must hold."""
    from rust_triplets_spark.operators.triplets import (
        RANDOM, Role, assemble_selector_triplets,
    )

    recipe = TripletRecipe(
        name="r", negative_strategy="wrong_article",
        anchor=Role("anchor"), positive_selector=Role("context"),
        negative_selector=RANDOM,
    )
    out = assemble_selector_triplets(sectioned_corpus, recipe, seed=42).collect()
    assert out, "expected triplets from the sectioned corpus"
    for r in out:
        assert r["negative_id"] != r["anchor_id"]
        assert r["anchor_text"] != r["negative_text"]
        assert r["positive_text"] != r["negative_text"]


def test_selector_triplets_split_isolation(spark, sectioned_corpus):
    from rust_triplets_spark.operators.triplets import (
        RANDOM, Role, assemble_selector_triplets,
    )
    from rust_triplets_spark.operators.splits import split_label_col

    recipe = TripletRecipe(
        name="r", anchor=Role("anchor"), positive_selector=RANDOM,
        negative_selector=RANDOM,
    )
    out = assemble_selector_triplets(sectioned_corpus, recipe, seed=42)
    neg_split = out.withColumn(
        "neg_split", split_label_col("negative_id", 42)
    )
    assert neg_split.where(F.col("neg_split") != F.col("split")).count() == 0


def test_selector_paragraph_sparse_skips_record_for_recipe_only(spark, sectioned_corpus):
    """Paragraph(2) requires >= 3 sections: records with fewer must be
    absent as anchors for THIS recipe (src/sampler/mod.rs:1699), while a
    Paragraph(0) recipe still serves every record."""
    from rust_triplets_spark.operators.triplets import (
        Paragraph, RANDOM, assemble_selector_triplets,
    )

    sparse = TripletRecipe(
        name="p2", anchor=Paragraph(2), positive_selector=Paragraph(0),
        negative_selector=RANDOM, allow_same_anchor_positive=False,
    )
    out = assemble_selector_triplets(sectioned_corpus, sparse, seed=42)
    n_sections = {r["record_id"]: r["n"] for r in sectioned_corpus.groupBy(
        "record_id").agg(F.count("*").alias("n")).collect()}
    anchors = {r["anchor_id"] for r in out.select("anchor_id").collect()}
    assert anchors, "some records have >= 3 sections"
    for a in anchors:
        assert n_sections[a] >= 3
    dense = TripletRecipe(
        name="p0", anchor=Paragraph(0), positive_selector=RANDOM,
        negative_selector=RANDOM, allow_same_anchor_positive=True,
    )
    dense_out = assemble_selector_triplets(sectioned_corpus, dense, seed=42)
    # every record can anchor (subject only to negative-degeneracy filters)
    assert dense_out.select("anchor_id").distinct().count() > len(anchors)


def test_selector_role_rotation_is_deterministic(spark, sectioned_corpus):
    from rust_triplets_spark.operators.triplets import (
        RANDOM, Role, assemble_selector_triplets,
    )

    recipe = TripletRecipe(
        name="r", anchor=Role("context"), positive_selector=Role("context"),
        negative_selector=RANDOM, allow_same_anchor_positive=False,
    )
    a = assemble_selector_triplets(sectioned_corpus, recipe, seed=42).collect()
    b = assemble_selector_triplets(sectioned_corpus, recipe, seed=42).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # anchor and positive Role('context') picks are side-decorrelated: with
    # multiple context sections they must not always coincide
    multi = [r for r in a if r["anchor_key"] != r["positive_key"]]
    assert multi, "decorrelated sides should pick different sections somewhere"


def test_selector_chunk_pool_rotates_with_variant(spark):
    """With chunking, the selector picks from the selected section's
    window-chunk POOL (materialize_chunks → next_chunk_from_pool) and the
    pick rotates deterministically with variant."""
    from rust_triplets_spark.operators.chunking import ChunkingStrategy
    from rust_triplets_spark.operators.triplets import (
        RANDOM, Role, assemble_selector_triplets,
    )

    rows = []
    for i in range(30):
        long_text = " ".join(f"w{i}x{j}" for j in range(60))
        rows.append((i, 0, "anchor", long_text, f"src{i % 2}"))
        rows.append((i, 1, "context", " ".join(f"c{i}y{j}" for j in range(60)), f"src{i % 2}"))
    sections = spark.createDataFrame(
        rows, "record_id long, section_idx long, role string, text string, source string"
    )
    strat = ChunkingStrategy(max_window_tokens=16, overlap_tokens=(4,),
                             summary_fallback_tokens=8)
    recipe = TripletRecipe(
        name="r", anchor=Role("anchor"), positive_selector=Role("context"),
        negative_selector=RANDOM,
    )
    v0 = assemble_selector_triplets(sections, recipe, seed=42, variant=0,
                                    chunking=strat).collect()
    v1 = assemble_selector_triplets(sections, recipe, seed=42, variant=1,
                                    chunking=strat).collect()
    assert v0 and v1
    # picked chunks are true sub-windows (16 tokens of the 60-token section)
    for r in v0:
        assert len(r["anchor_text"].split()) <= 16
        assert "|w|" in r["anchor_key"]
    # rotation: at least some picks move to a different window chunk
    k0 = {r["anchor_id"]: r["anchor_key"] for r in v0}
    k1 = {r["anchor_id"]: r["anchor_key"] for r in v1}
    assert any(k0[i] != k1.get(i) for i in k0)


def test_temporal_selector_neighbor_is_other_record_same_split(spark, sectioned_corpus):
    """TemporalOffset positive: comes from a DIFFERENT record of the same
    (source, split), and from a Context section of that neighbor."""
    from rust_triplets_spark.operators.triplets import (
        RANDOM, Role, TemporalOffset, assemble_selector_triplets,
    )
    from rust_triplets_spark.operators.splits import split_label_col

    secs = sectioned_corpus.withColumn(
        "ts", (F.col("record_id") * 86400 + 1700000000).cast("long")
    )
    recipe = TripletRecipe(
        name="r", anchor=Role("anchor"),
        positive_selector=TemporalOffset(3), negative_selector=RANDOM,
    )
    out = assemble_selector_triplets(secs, recipe, seed=42, ts_col="ts")
    rows = out.collect()
    assert rows
    # the 50% swap exchanges WHOLE identities (ids together with
    # keys/texts), so the lineage invariant is per-slot: each slot's key
    # names that slot's record id, and the temporal neighbor (the side
    # whose chunk came from the as-of join) is a DIFFERENT record than
    # the requesting record — i.e. anchor_id != positive_id.
    swapped_seen = False
    for r in rows:
        assert int(r["anchor_key"].split("|")[0]) == r["anchor_id"]
        assert int(r["positive_key"].split("|")[0]) == r["positive_id"]
        assert r["anchor_id"] != r["positive_id"]
        nkey = r["anchor_key"] if r["swapped"] == 1 else r["positive_key"]
        if r["swapped"] == 1:
            swapped_seen = True
        # the neighbor's picked section is a context section (idx >= 1 in
        # this corpus: section 0 is the anchor role)
        assert int(nkey.split("|")[1]) >= 1
    assert swapped_seen  # both orderings must appear for the check to bite
    # split isolation of the temporal neighbor
    nkey_col = F.when(F.col("swapped") == 1, F.col("anchor_key")).otherwise(
        F.col("positive_key")
    )
    neigh_split = out.withColumn(
        "n_id", F.split(nkey_col, "\\|")[0].cast("long")
    ).withColumn("n_split", split_label_col("n_id", 42))
    assert neigh_split.where(F.col("n_split") != F.col("split")).count() == 0


def test_assembly_threads_date_col_to_strategy(spark, corpus):
    """date_col now reaches negative_pick from assembly: the
    wrong_publication_date strategy works end-to-end and matches the
    DuckDB twin cell-for-cell (previously it raised despite the caller
    supplying a date column)."""
    import duckdb
    import pandas as pd

    from rust_triplets_spark.operators.triplets import assemble_triplets_sql

    strat = ChunkingStrategy(max_window_tokens=4, overlap_tokens=(1,),
                             summary_fallback_tokens=3)
    recipe = TripletRecipe("dated", negative_strategy="wrong_publication_date")
    out = assemble_triplets(
        corpus, "id", "source", "text", recipe, strat, date_col="d"
    ).toPandas()
    assert len(out) > 0
    con = duckdb.connect()
    con.register("corpus_t", corpus.toPandas())
    sql = assemble_triplets_sql(
        "corpus_t", "id", "source", "text", recipe, strat, date_sql="d"
    )
    oracle = con.execute(sql).df()
    key = sorted(out.columns)
    a = out[key].sort_values(key, kind="mergesort").reset_index(drop=True)
    b = oracle[key].sort_values(key, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a, b, check_dtype=False, check_exact=False, rtol=1e-9
    )
    # the strategy contract: the negative's date differs from the anchor's
    dates = {r["id"]: r["d"] for _, r in corpus.toPandas().iterrows()}
    for _, r in out.iterrows():
        da, dn = dates[r["anchor_id"]], dates[r["negative_id"]]
        if da is not None and dn is not None:
            assert da != dn, (r["anchor_id"], r["negative_id"])


def test_temporal_swap_exchanges_ids_with_texts(spark):
    """Swapped temporal triplets carry the NEIGHBOR's id as anchor_id —
    (id, key, text) triples stay aligned for pair derivation."""
    from rust_triplets_spark.operators.triplets import assemble_temporal_triplets

    rows = [
        (i, "s", 1_700_000_000 + i * 86_400,
         " ".join(f"r{i}w{j}" for j in range(6)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, source string, ts long, text string")
    strat = ChunkingStrategy(max_window_tokens=4, overlap_tokens=(1,),
                             summary_fallback_tokens=3)
    out = assemble_temporal_triplets(
        df, "id", "source", "text", "ts",
        TripletRecipe("t", negative_strategy="wrong_article"), strat,
        offset_days=3,
    ).collect()
    assert out
    swapped_seen = False
    for r in out:
        # anchor text tokens must come from the anchor_id record
        assert r.anchor_text.split()[0].startswith(f"r{r.anchor_id}w"), r
        assert r.positive_text.split()[0].startswith(f"r{r.positive_id}w"), r
        if r.swapped == 1:
            swapped_seen = True
    assert swapped_seen


def test_negative_pick_salted_equals_unsalted(spark):
    """Skew salting (salt_buckets) must be a pure parallelism knob: the
    picked negatives are row-for-row identical, while the dominant
    source's rows fan out over >1 rank bucket (= >1 window task)."""
    from rust_triplets_spark.functions.hashing import M31, hash31_py, strfold_py
    from rust_triplets_spark.operators.negatives import POOL_SEED_OFF

    # one dominant source: 90% of rows in 'big'
    rows = []
    for i in range(120):
        src = "big" if i % 10 else f"tiny{i % 3}"
        split = "test" if i % 17 == 0 else "train"
        date = f"2024-0{1 + (i % 3)}" if i % 4 else None
        rows.append((f"r{i}", src, split, date))
    df = spark.createDataFrame(rows, "id string, source string, split string, datec string")

    cases = [
        ("wrong_article", "datec"),
        ("wrong_publication_date", "datec"),
        ("qa_mismatch", None),
    ]
    for strategy, date_col in cases:
        base = negative_pick(df, "id", "source", "split", strategy, date_col=date_col)
        salted = negative_pick(
            df, "id", "source", "split", strategy, date_col=date_col, salt_buckets=8
        )
        key = lambda r: r["id"]
        assert sorted(base.collect(), key=key) == sorted(salted.collect(), key=key), strategy

    # fan-out proof: the dominant source's salt buckets (hash31(id) div s)
    # span >1 value, so its rank window splits across >1 task partition
    ssize = (M31 + 8 - 1) // 8
    big_buckets = {
        hash31_py(strfold_py(f"r{i}"), 42 + POOL_SEED_OFF) // ssize
        for i in range(120)
        if i % 10
    }
    assert len(big_buckets) > 1


def test_negative_pick_auto_salt(spark):
    """The 'auto' default (no caller opt-in) is a STATIC fan-out since r12:
    it must (a) run zero Spark jobs at plan-build time (the r11 counting
    probe re-ran the whole pool lineage per build), and (b) stay
    row-for-row identical to the unsalted pick for every strategy."""
    from rust_triplets_spark.operators import negatives as N

    rows = []
    for i in range(120):
        src = "big" if i % 10 else f"tiny{i % 3}"
        split = "test" if i % 17 == 0 else "train"
        date = f"2024-0{1 + (i % 3)}" if i % 4 else None
        rows.append((f"r{i}", src, split, date))
    df = spark.createDataFrame(rows, "id string, source string, split string, datec string")

    # (a) plan-build is job-free: the static policy never touches the data
    tracker = spark.sparkContext.statusTracker()
    ids_before = set(tracker.getJobIdsForGroup() or [])
    auto = N.negative_pick(df, "id", "source", "split", "qa_mismatch")
    ids_after = set(tracker.getJobIdsForGroup() or [])
    assert ids_after == ids_before, "auto salt policy must not run jobs at build"

    # (b) identical rows to the unsalted plan for every strategy
    key = lambda r: r["id"]
    manual = N.negative_pick(df, "id", "source", "split", "qa_mismatch", salt_buckets=None)
    assert sorted(auto.collect(), key=key) == sorted(manual.collect(), key=key)
    for strategy, date_col in [
        ("wrong_article", "datec"),
        ("wrong_publication_date", "datec"),
    ]:
        salted_auto = N.negative_pick(
            df, "id", "source", "split", strategy, date_col=date_col
        )
        unsalted = N.negative_pick(
            df, "id", "source", "split", strategy, date_col=date_col, salt_buckets=None
        )
        assert sorted(salted_auto.collect(), key=key) == sorted(
            unsalted.collect(), key=key
        ), strategy

    # explicit garbage string rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="salt_buckets"):
        N.negative_pick(df, "id", "source", "split", "qa_mismatch", salt_buckets="yes")
