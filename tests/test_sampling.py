"""Deterministic sampling/splitting/quota + skew-safe top-k +
decontamination semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_spark.functions.text import tokens, word_shingles
from etl_spark_spark.operators.neardup import contamination_scores, shingle_set
from etl_spark_spark.operators.sampling import (
    hash_bucket,
    hash_sample,
    hash_split,
    stratified_hash_sample,
)
from etl_spark_spark.operators.windows import partial_topk, top_k_per_group
from etl_spark_spark.sources import table

SPLITS = [("train", "d"), ("val", "f"), ("test", None)]


def test_hash_split_partitions_exactly(spark, sf_dir):
    """Every row lands in exactly one split; totals are preserved."""
    docs = table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", SPLITS)
    by = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(by.values()) == docs.count()
    assert set(by) == {"train", "val", "test"}
    # ~13/16, 2/16, 1/16 of 500 docs — loose sanity bands
    assert by["train"] > by["val"] > by["test"] > 0


def test_hash_split_is_stable_and_layout_independent(spark, sf_dir):
    """Same ids -> same splits, even when the data arrives repartitioned
    and reordered (the property df.sample cannot give)."""
    docs = table(spark, sf_dir, "documents")
    a = hash_split(docs, "doc_id", SPLITS).select("doc_id", "split")
    shuffled = docs.repartition(13, "lang").sortWithinPartitions("n_chars")
    b = hash_split(shuffled, "doc_id", SPLITS).select("doc_id", "split")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hash_sample_rate_and_containment(spark, sf_dir):
    """Rate tracks the hex threshold; a smaller sample is a strict
    subset of a larger one (nested samples — threshold monotonicity)."""
    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    small = {r[0] for r in hash_sample(docs, "doc_id", "20").select("doc_id").collect()}
    big = {r[0] for r in hash_sample(docs, "doc_id", "80").select("doc_id").collect()}
    assert small <= big
    assert abs(len(big) / n - 0.5) < 0.15
    assert abs(len(small) / n - 0.125) < 0.1


def test_stratified_rates_differ_per_stratum(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": "40", "zh": "c0"}, default="ff"
    )
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got["en"] / base["en"] < 0.5 < got["zh"] / base["zh"]
    # default=None drops unlisted strata entirely
    only = stratified_hash_sample(docs, "doc_id", "lang", {"en": "40"})
    assert only.select("lang").distinct().collect() == [("en",)]


def test_stratified_agrees_with_manual_filter(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(docs, "doc_id", "lang", {"en": "40"})
    manual = docs.filter(
        (F.col("lang") == "en") & (hash_bucket("doc_id", 2) < "40")
    )
    assert sorted(r[0] for r in kept.select("doc_id").collect()) == sorted(
        r[0] for r in manual.select("doc_id").collect()
    )


def test_partial_topk_matches_window(spark, sf_dir):
    """The two-phase salted aggregate returns the EXACT rows of the
    ranking-window formulation, for several k and salt counts."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    for k in (1, 3):
        for n_salts in (1, 7):
            got = partial_topk(
                orders,
                ["o_custkey"],
                F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("n")),
                k=k,
                n_salts=n_salts,
            )
            want = top_k_per_group(
                orders,
                ["o_custkey"],
                [F.desc("o_totalprice"), F.asc("o_orderkey")],
                k=k,
            )
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.select(*got.columns).collect())
            ), (k, n_salts)


def test_partial_topk_plan_has_no_window(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    df = partial_topk(
        orders, ["o_custkey"], F.struct(F.col("o_orderkey")), k=2, n_salts=4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_contamination_scores_synthetic(spark):
    """Hand-built corpus: doc 1 fully contaminated, doc 2 half, doc 3
    clean, doc 4 (<3 tokens) absent from output."""
    rows = [
        (1, "alpha beta gamma delta"),      # shingles: abg, bgd
        (2, "alpha beta gamma zeta"),       # abg (hit via eval), bgz
        (3, "one two three four"),          # ott, ttf
        (4, "too short"),                   # no 3-gram shingles
        (9, "alpha beta gamma delta"),      # the eval doc
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = docs.select("doc_id", tokens("text").alias("t"))
    pairs = shingle_set(toks, "doc_id", word_shingles("t", 3))
    scored = contamination_scores(
        pairs.filter(F.col("doc_id") != 9),
        pairs.filter(F.col("doc_id") == 9),
        "doc_id",
    )
    got = {r["doc_id"]: (r["n_shingles"], r["n_hits"], r["contamination"]) for r in scored.collect()}
    assert got == {1: (2, 2, 1.0), 2: (2, 1, 0.5), 3: (2, 0, 0.0)}


def test_pack_by_token_budget_semantics(spark, sf_dir):
    """Offset packing invariants per shard: offsets are the doc_id-order
    token cumsum, a doc's pack is its start offset // budget, and every
    pack except the shard's last is filled to the boundary (its docs'
    token span crosses or reaches (k+1)*budget)."""
    from etl_spark_spark.functions.text import bpe_token_count
    from etl_spark_spark.operators.packing import pack_by_token_budget
    import pytest

    budget = 64
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", bpe_token_count("text").cast("long").alias("n_tokens")
    )
    out = pack_by_token_budget(docs, ["source"], "doc_id", "n_tokens", budget=budget)
    by_shard = {}
    for r in out.collect():
        by_shard.setdefault(r["source"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["pack_offset"] == cum
            assert r["pack_id"] == cum // budget
            cum += r["n_tokens"]
        # the stream is contiguous: a skipped pack id can only come from
        # a doc spanning whole chunks (its token run covers the skipped
        # boundaries), never from an actual hole in the layout
        for prev, nxt in zip(rows, rows[1:]):
            assert nxt["pack_offset"] == prev["pack_offset"] + prev["n_tokens"]
            if nxt["pack_id"] > prev["pack_id"] + 1:
                assert (
                    prev["pack_offset"] + prev["n_tokens"]
                    >= nxt["pack_id"] * budget
                )
    with pytest.raises(ValueError):
        pack_by_token_budget(docs, ["source"], "doc_id", "n_tokens", budget=0)


def test_pack_layout_independent(spark, sf_dir):
    from etl_spark_spark.operators.packing import pack_by_token_budget

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("n_tokens")
    )
    a = pack_by_token_budget(docs, ["source"], "doc_id", "n_tokens", budget=500)
    b = pack_by_token_budget(
        docs.repartition(11).sortWithinPartitions(F.desc("n_tokens")),
        ["source"], "doc_id", "n_tokens", budget=500,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (diameter 4 — forces multiple propagation rounds),
    a triangle, and a 2-node island all resolve to min-id labels."""
    from etl_spark_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain
         (10, 11), (11, 12), (10, 12),        # triangle
         (20, 21)],                            # island
        ["id_a", "id_b"],
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_raises_on_round_limit(spark):
    import pytest

    from etl_spark_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError):
        connected_components(pairs, max_rounds=1)


def test_training_prep_funnel_not_degenerate(spark, sf_dir):
    """The composite keeps the bulk of the curated corpus: the
    decontamination stage must drop only genuine eval-overlap docs, not
    background-shingle noise (the 3-gram-vs-5-gram trap), and every
    split must be populated."""
    import __spark_entry__ as entrymod

    curated = entrymod.queries()["doc_curation"](spark, sf_dir).count()
    prep = entrymod.queries()["doc_training_prep"](spark, sf_dir).toPandas()
    assert len(prep) > 0.7 * curated
    assert set(prep["split"]) == {"train", "val", "test"}
    assert (prep.groupby(["split", "source"])["pack_offset"].min() == 0).all()


def test_group_split_is_leakage_safe(spark, sf_dir):
    """Splitting on the group key assigns every doc of a source to ONE
    split (no near-dup leakage across train/test via shared domains)."""
    import __spark_entry__ as entrymod

    pdf = entrymod.queries()["doc_group_split"](spark, sf_dir).toPandas()
    assert (pdf.groupby("source")["split"].nunique() == 1).all()
    assert pdf["n_docs"].sum() == table(spark, sf_dir, "documents").count()


def test_temperature_sample_properties(spark, sf_dir):
    """alpha upweights rare strata; huge budgets keep everything; the
    decision is content-addressed (layout-independent)."""
    from etl_spark_spark.operators.sampling import temperature_sample

    docs = table(spark, sf_dir, "documents")
    n = docs.count()

    # budget >= corpus: the inequality self-caps and keeps every row
    assert temperature_sample(docs, "doc_id", "source", budget=10 * n).count() == n

    # determinism under repartition: same kept set regardless of layout
    k1 = {r["doc_id"] for r in temperature_sample(docs, "doc_id", "source", 100).collect()}
    k2 = {
        r["doc_id"]
        for r in temperature_sample(docs.repartition(13), "doc_id", "source", 100).collect()
    }
    assert k1 == k2 and 50 <= len(k1) <= 200

    # alpha=0: uniform per-stratum quotas -> rare sources keep as many
    # as dominant ones (fixture sources are uniform, so instead check
    # alpha=0 and alpha=1 agree with their closed-form expectations)
    per = (
        temperature_sample(docs, "doc_id", "source", 100, alpha=0.0)
        .groupBy("source")
        .count()
        .collect()
    )
    n_sources = docs.select("source").distinct().count()
    for r in per:
        assert r["count"] <= 100  # no stratum exceeds the whole budget
    assert abs(sum(r["count"] for r in per) - 100) <= 30  # ~budget total
    assert len(per) >= n_sources - 2  # nearly every stratum represented


def test_pagerank_exact_star_and_reference(spark):
    """pagerank_exact: (a) the hub of an undirected star outranks every
    leaf; (b) ranks equal a pure-Python evaluation of the SAME integer
    recurrence — pinning that the distributed fold implements exactly
    the arithmetic it promises (which is what makes the SQL oracle
    possible)."""
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.graph import pagerank_exact

    leaves = [f"x{i}" for i in range(6)]
    pairs = [("hub", l) for l in leaves]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    )
    got = {r["node"]: r["rank_fp"] for r in pagerank_exact(edges, iters=4).collect()}

    # python reference of the identical recurrence
    scale, n = 10**12, 7
    nodes = ["hub"] + leaves
    out = {"hub": 6, **{l: 1 for l in leaves}}
    adj_in = {v: [u for u, w in pairs + [(b, a) for a, b in pairs] if w == v]
              for v in nodes}
    init = scale // n
    base = (15 * init) // 100
    r = {v: init for v in nodes}
    for _ in range(4):
        r = {
            v: base + (85 * sum(r[u] // out[u] for u in adj_in[v])) // 100
            for v in nodes
        }
    assert got == r
    assert got["hub"] > max(got[l] for l in leaves)


def test_pagerank_exact_empty_graph(spark):
    from etl_spark_spark.operators.graph import pagerank_exact

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank_exact(edges, iters=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank_fp", "rank"]


def test_scalable_running_sum_equals_global_window(spark):
    """Distributed prefix-scan decomposition == the naive single-task
    global window, on data that crosses many buckets with duplicate
    order keys — a running sum and a running max carried by one
    two-measure bucketed_scan, with per-scan totals off the offsets
    table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.windows import bucketed_scan

    df = (
        spark.range(0, 5000)
        .select(
            (F.col("id") % 97).alias("t"),  # bucket-crossing, dup-heavy
            (F.col("id") % 7 - 3).alias("v"),
            F.col("id").alias("tie"),
        )
    )
    got = bucketed_scan(
        df,
        (F.col("t") / 10).cast("long"),
        [F.col("t"), F.col("tie")],
        [
            ("running_sum", "v", "sum", "total"),
            ("running_max", F.col("v") * F.col("t"), "max"),
        ],
    )
    w = Window.orderBy("t", "tie").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = (
        df.withColumn("running_sum", F.sum("v").over(w))
        .withColumn("running_max", F.max(F.col("v") * F.col("t")).over(w))
        .withColumn("total", F.sum("v").over(Window.partitionBy()))
    )
    assert got.columns == want.columns
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_scalable_running_monotone_bucket_guard(spark):
    """Round-12 (VERDICT r11 task 2): a non-monotone (hash-style)
    bucket used to silently interleave the prefix decomposition —
    wrong running sums with no signal. The per-bucket order-key
    ranges now ride the totals aggregate and overlap raises loudly;
    SortOrder items are rejected up front (the guard needs comparable
    plain expressions — negate numerics for descending), and the
    negated-ascending form still matches the naive global window.
    A NULL bucket raises too: the offset join used to drop its rows
    while their total still fed the other buckets' offsets (7 rows
    with sums 4..10 instead of 10 rows with 1..10), or, with the NULL
    rows last, to raise a misleading "not monotone"."""
    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.windows import bucketed_scan

    df = spark.range(0, 100).select(
        F.col("id").alias("t"), F.lit(1).cast("long").alias("v")
    )
    for kind in ("sum", "max"):
        with pytest.raises(Exception, match="not monotone"):
            bucketed_scan(
                df, F.col("t") % 7, ["t"], [("r", "v", kind)]
            ).collect()
    with pytest.raises(ValueError, match="plain ascending"):
        bucketed_scan(
            df,
            (F.col("t") / 10).cast("long"),
            [F.col("t").desc()],
            [("r", "v", "sum")],
        )
    small = df.filter(F.col("t") < 10)
    for null_side in (F.col("t") >= 3, F.col("t") < 7):
        with pytest.raises(Exception, match="bucket_of produced NULL"):
            bucketed_scan(
                small,
                F.when(null_side, (F.col("t") / 3).cast("long")),
                ["t"],
                [("r", "v", "sum")],
            ).collect()
    got = bucketed_scan(
        df,
        -((F.col("t") / 10).cast("long")),
        [(-F.col("t"))],
        [("rs", "v", "sum")],
    )
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("rs", F.sum("v").over(w))
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_pagerank_resume_composes_bitwise(spark):
    """pagerank(5 iters) == pagerank(2 iters) resumed for 3 more —
    the exact-integer recurrence makes checkpoint/restart of the
    iterative job bit-lossless."""
    from etl_spark_spark.operators.graph import pagerank_exact

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    full = {r["node"]: r["rank_fp"] for r in pagerank_exact(edges, iters=5).collect()}
    mid = pagerank_exact(edges, iters=2).select("node", "rank_fp")
    resumed = {
        r["node"]: r["rank_fp"]
        for r in pagerank_exact(edges, iters=3, init_ranks=mid).collect()
    }
    assert resumed == full


def test_apportion_budget_exact_sum_and_proportionality(spark):
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.sampling import apportion_budget

    df = spark.createDataFrame(
        [("a", 330), ("b", 330), ("c", 340), ("d", 7)], "k string, n long"
    )
    out = {r["k"]: r["alloc"] for r in apportion_budget(df, "k", "n", 100).collect()}
    assert sum(out.values()) == 100
    assert out["c"] >= out["a"] >= out["d"]
    # budget larger than total weight still sums exactly
    out2 = {r["k"]: r["alloc"] for r in apportion_budget(df, "k", "n", 5000).collect()}
    assert sum(out2.values()) == 5000
