"""Unit pins for the round-3 wave: BM25 retrieval, unigram surprisal,
duplicate-span audit, Mann-Whitney U, BFS reach, categorical entropy.

Each operator also has a full DuckDB oracle (test_oracle.py covers all
registered queries); these tests pin the SEMANTICS against tiny
hand-checkable inputs and brute-force recomputations, so a refactor
that breaks the math fails here with a readable diff, not a hash
mismatch.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_bm25_matches_brute_force(spark):
    from etl_spark_spark.operators.retrieval import bm25_topk

    corpus = [
        (1, "hash join hash join spark"),
        (2, "hash table scan"),
        (3, "sort merge join"),
        (4, "filter scan vector"),
        (5, "hash hash hash hash hash hash"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    terms = ["hash", "join"]
    got = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(docs, "doc_id", "text", terms, k=10).collect()
    }

    # brute force in python
    toks = {i: t.split() for i, t in corpus}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75
    want = {}
    for i, t in toks.items():
        score = 0.0
        for term in terms:
            tf = t.count(term)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if round(score * 1e6) > 0:
            want[i] = round(score * 1e6)
    assert got == want
    # doc 5 is pure term spam: high tf saturates, so it must NOT beat
    # the doc that matches both terms
    assert got[1] > got[5]


def test_unigram_surprisal_brute_force(spark):
    from etl_spark_spark.operators.lm import unigram_surprisal

    corpus = [(1, "a a b"), (2, "a c"), (3, "b b a a")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_terms"], r["mean_surprisal_milli"])
        for r in unigram_surprisal(docs, "doc_id", "text").collect()
    }
    counts = {"a": 5, "b": 3, "c": 1}
    total = 9
    for i, text in corpus:
        t = text.split()
        mean = sum(-math.log(counts[w] / total) for w in t) / len(t)
        assert out[i][0] == len(t)
        assert out[i][1] == len(set(t))
        assert out[i][2] == round(mean * 1000)
    # the rare-token doc is the most surprising
    assert out[2][2] == max(v[2] for v in out.values())


def test_duplicate_span_stats_small(spark):
    from etl_spark_spark.functions.text import tokens, word_shingles
    from etl_spark_spark.operators.neardup import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            (1, "one two three four five"),
            (2, "zero one two three four"),  # shares span "one two three"
            (3, "alpha beta gamma delta"),
            (4, "short doc"),  # < 3 tokens -> 0 spans
        ],
        "doc_id long, text string",
    )
    tok = docs.select("doc_id", tokens("text").alias("t"))
    out = {
        r["doc_id"]: (r["n_spans"], r["n_shared"], r["shared_frac"])
        for r in duplicate_span_stats(
            tok, "doc_id", word_shingles("t", 3)
        ).collect()
    }
    assert out[1] == (3, 2, pytest.approx(2 / 3))  # "one two three","two three four" shared
    assert out[2] == (3, 2, pytest.approx(2 / 3))
    assert out[3] == (2, 0, 0.0)
    assert out[4] == (0, 0, 0.0)  # short doc present with zero spans


def test_mann_whitney_u_matches_brute_force(spark):
    from etl_spark_spark.operators.stats import mann_whitney_u

    import random

    rng = random.Random(7)
    rows = [("A", rng.randint(0, 30)) for _ in range(120)] + [
        ("B", rng.randint(5, 40)) for _ in range(90)
    ]
    df = spark.createDataFrame(rows, "variant string, v long")
    row = mann_whitney_u(df, "v", "variant").collect()[0]

    # brute force: average ranks over the pooled sample
    pooled = sorted(v for _, v in rows)
    from collections import Counter

    cnt = Counter(pooled)
    rank = {}
    pos = 0
    for v in sorted(cnt):
        t = cnt[v]
        rank[v] = pos + (t + 1) / 2
        pos += t
    ra = sum(rank[v] for g, v in rows if g == "A")
    na = sum(1 for g, _ in rows if g == "A")
    nb = len(rows) - na
    u_a = ra - na * (na + 1) / 2
    n = na + nb
    tie = sum(t**3 - t for t in cnt.values())
    s2 = na * nb / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u_a - na * nb / 2) / math.sqrt(s2)
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["u_a"] == pytest.approx(u_a, abs=1e-9)
    assert row["tie_term"] == tie
    assert row["z"] == pytest.approx(z, rel=1e-12)


def test_bfs_hops_small_graph(spark):
    from etl_spark_spark.operators.graph import bfs_hops

    # 1-2-3-4 chain plus 2-5; 6 isolated from source component
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (6, 7)], "src long, dst long"
    )
    out = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, F.lit(1).cast("long"), max_hops=2).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2, 5: 2}  # 4 is 3 hops away -> cut

    full = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, F.lit(1).cast("long"), max_hops=10).collect()
    }
    assert full == {1: 0, 2: 1, 3: 2, 5: 2, 4: 3}  # early-stops, 6/7 unreachable


def test_categorical_entropy_known_values(spark):
    from etl_spark_spark.functions.profile import categorical_entropy

    df = spark.createDataFrame(
        [("x", "u")] * 4 + [("y", "u")] * 4 + [("z", "u")] * 0 + [("x", "v")] * 0,
        "c1 string, c2 string",
    )
    out = {
        r["column_name"]: (r["n"], r["n_distinct"], r["entropy_micro"])
        for r in categorical_entropy(df, ["c1", "c2"]).collect()
    }
    assert out["c1"] == (8, 2, round(math.log(2) * 1e6))  # fair coin: ln 2
    assert out["c2"] == (8, 1, 0)  # constant column: zero entropy


def test_bpe_matches_python_reference(spark):
    from etl_spark_spark.operators.bpe import SEP, END_OF_WORD, train_bpe

    corpus = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new"),
        (3, "low new lower newer"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = train_bpe(docs, "text", n_merges=5)

    # pure-python reference with IDENTICAL semantics: str.replace is
    # the same left-to-right resume-after-replacement scan
    from collections import Counter

    words = Counter()
    for _, text in corpus:
        words.update(text.lower().split())
    state = {
        w: SEP + SEP.join(list(w)) + SEP + END_OF_WORD + SEP
        for w in words
    }
    want = []
    for _ in range(5):
        pairs = Counter()
        for w, s in state.items():
            syms = [x for x in s.split(SEP) if x]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += words[w]
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        want.append((a, b, c))
        state = {
            w: s.replace(SEP + a + SEP + b + SEP, SEP + a + b + SEP)
            for w, s in state.items()
        }
    assert got == want
    # 'low' appears 5 times -> ('l','o') or ('o','w') must win round 1
    assert got[0][0:2] in {("l", "o"), ("o", "w")}


def test_stock_balance_floor_matches_sequential_recurrence(spark, sf_dir):
    """The prefix-sum/prefix-min identity must equal the sequential
    b_t = max(0, b_{t-1} + x_t) recurrence (the oracle shares the
    identity, so this pins it against an INDEPENDENT simulation)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["stock_balance_floor"](spark, sf_dir).collect()
    by_supp = {}
    for r in rows:
        by_supp.setdefault(r["l_suppkey"], []).append((r["day"], r["net"], r["balance"]))
    assert by_supp
    for supp, seq in by_supp.items():
        seq.sort()
        b = 0
        for day, net, balance in seq:
            b = max(0, b + net)
            assert balance == b, (supp, day, balance, b)
        assert all(x[2] >= 0 for x in seq)


def test_poisson_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from etl_spark_spark.operators.stats import poisson_bootstrap_mean_ci
    from pyspark.sql import functions as SF

    df = spark.range(2_000).select(
        SF.col("id").alias("k"), ((SF.col("id") % 97) * 3 + 50).alias("v")
    )
    r1 = poisson_bootstrap_mean_ci(df, "k", "v", b=100).collect()[0]
    r2 = poisson_bootstrap_mean_ci(df, "k", "v", b=100).collect()[0]
    assert r1 == r2  # hash-derived weights: bit-deterministic
    assert r1["ci_lo"] < r1["mean_value"] < r1["ci_hi"]
    # a 95% CI on n=2000 of this spread is narrow but not degenerate
    width = r1["ci_hi"] - r1["ci_lo"]
    assert 0 < width < r1["mean_value"] * 0.2


def test_poisson_bootstrap_rejects_out_of_range_ranks(spark):
    from etl_spark_spark.operators.stats import poisson_bootstrap_mean_ci
    from pyspark.sql import functions as SF
    import pytest

    df = spark.range(10).select(SF.col("id").alias("k"), SF.col("id").alias("v"))
    # defaults (3, 98) are only valid when b >= 98
    with pytest.raises(ValueError, match="lo_rank"):
        poisson_bootstrap_mean_ci(df, "k", "v", b=96)
    with pytest.raises(ValueError, match="lo_rank"):
        poisson_bootstrap_mean_ci(df, "k", "v", b=100, lo_rank=98, hi_rank=3)
    with pytest.raises(ValueError, match="lo_rank"):
        poisson_bootstrap_mean_ci(df, "k", "v", b=100, lo_rank=0, hi_rank=98)


def test_quantile_labels_full_precision_and_duplicate_rejection(spark):
    from etl_spark_spark.operators.stats import (
        exact_group_quantiles,
        exact_weighted_quantiles,
    )
    from pyspark.sql import functions as SF
    import pytest

    df = spark.range(1_000).select(
        (SF.col("id") % 2).alias("g"),
        SF.col("id").alias("v"),
        SF.lit(1).alias("w"),
    )
    out = exact_group_quantiles(df, ["g"], "v", qs=(0.125, 0.12, 0.999))
    assert {"q0_125", "q12", "q0_999"} <= set(out.columns)  # no collision
    wout = exact_weighted_quantiles(df, ["g"], "v", "w", qs=(0.5, 0.999))
    assert {"wq50", "wq0_999"} <= set(wout.columns)
    with pytest.raises(ValueError, match="duplicate"):
        exact_group_quantiles(df, ["g"], "v", qs=(0.5, 0.5))


def test_quantile_labels_whole_percent_float_jitter():
    """0.07 * 100 is 7.000000000000001 in binary floats: whole-percent
    quantiles must still get the compact documented label, while finer
    quantiles keep full-precision labels and duplicates are rejected."""
    import pytest

    from etl_spark_spark.operators.stats import _q_labels

    assert _q_labels("q", (0.07, 0.14, 0.29, 0.55)) == [
        "q7", "q14", "q29", "q55",
    ]
    assert _q_labels("q", (0.125, 0.999)) == ["q0_125", "q0_999"]
    with pytest.raises(ValueError, match="duplicate"):
        _q_labels("q", (0.25, 0.25))


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.similarity import hard_negatives

    rows = []
    for i in range(40):
        lab = i % 4
        base = [1.0 if d == lab else 0.0 for d in range(4)]
        base[(i * 7) % 4] += 0.1 * (i % 3)
        rows.append((i, base, lab))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", "label", k=3
    ).collect()
    assert out, "no negatives returned"
    assert all(r["neighbor_label"] != r["query_label"] for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == 3
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3]
        # descending similarity in rank order
        srt = sorted(rs, key=lambda r: r["rank"])
        sims = [r["cos_sim"] for r in srt]
        assert sims == sorted(sims, reverse=True)


def test_label_centroid_outliers_finds_planted_outlier(spark):
    from etl_spark_spark.operators.similarity import label_centroid_outliers

    rows = []
    for lab in (0, 1):
        axis = [1.0, 0.0] if lab == 0 else [0.0, 1.0]
        for i in range(9):
            v = [axis[0] + 0.01 * (i % 3), axis[1] + 0.01 * ((i + 1) % 3)]
            rows.append((lab * 100 + i, v, lab))
        # planted outlier: points the opposite way
        rows.append((lab * 100 + 99, [-axis[0], -axis[1]], lab))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = label_centroid_outliers(emb, "vec_id", "embedding", "label", k=1).collect()
    got = {r["label"]: r["vec_id"] for r in out}
    assert got == {0: 99, 1: 199}, got
    assert all(r["rank"] == 1 for r in out)


def test_bigram_surprisal_flags_word_salad(spark):
    """A document whose tokens are a corpus-typical phrase repeated
    scores LOW mean bigram surprisal; a doc built from the same
    unigrams in scrambled order (bigrams the corpus never produces)
    scores HIGH — the context signal unigram surprisal cannot see."""
    from etl_spark_spark.operators.lm import bigram_surprisal

    phrase = "the cat sat on the mat"
    docs = [(i, phrase) for i in range(20)]
    docs.append((99, "mat the on cat the sat"))  # same unigrams, new bigrams
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r["mean_surprisal_milli"]
        for r in bigram_surprisal(df, "doc_id", "text").collect()
    }
    assert out[99] > out[0], out
    # repeated docs identical by construction
    assert out[0] == out[5] == out[19]


def test_embedding_covariance_blocked_equals_exact(spark, sf_dir):
    """The Arrow-blocked covariance scale path must be BIT-identical
    to the explode-based exact operator (same quantization expression,
    integer-exact partials, one shared final division) — and a
    hand-check pins the numbers against numpy int64 math."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.stats import (
        embedding_covariance,
        embedding_covariance_blocked,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "embedding"
    )
    a = {
        (r["dim_i"], r["dim_j"]): (r["n"], r["cov_q2"])
        for r in embedding_covariance(emb, "embedding").collect()
    }
    b = {
        (r["dim_i"], r["dim_j"]): (r["n"], r["cov_q2"])
        for r in embedding_covariance_blocked(emb, "embedding").collect()
    }
    assert a == b  # bit-identical, not approx

    # independent ground truth: quantize THROUGH SPARK (the parity-
    # critical step), then exact integer covariance in numpy
    q = np.stack(
        emb.select(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000).cast("long"),
            ).alias("qa")
        )
        .toPandas()["qa"]
        .to_numpy()
    ).astype(object)  # python ints: no int64 overflow in the check
    n = q.shape[0]
    for (i, j) in [(0, 0), (0, 1), (3, 7)]:
        num = n * int((q[:, i] * q[:, j]).sum()) - int(q[:, i].sum()) * int(
            q[:, j].sum()
        )
        want = float(num) / float(n * n)
        assert a[(i, j)][1] == want


def test_kn_bigram_surprisal_matches_brute_force(spark):
    """Pin interpolated-KN semantics against a tiny hand-replayable
    model: train stats computed in pure Python from the train slice,
    every scored bigram's P replayed with the same D=0.75 formula
    (including both OOV branches), milli-rounded identically."""
    from etl_spark_spark.operators.lm import kn_bigram_surprisal

    train_rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog"),
    ]
    score_rows = train_rows + [
        (4, "the cat sat"),          # all bigrams seen
        (5, "zz cat sat"),           # unseen history 'zz'
        (6, "the zebra sat"),        # seen history, unseen bigram+word
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    score = spark.createDataFrame(score_rows, "doc_id long, text string")

    # brute-force model from the train slice
    def toks(t):
        return t.lower().strip().split()

    from collections import Counter

    c_uv: Counter = Counter()
    vocab = set()
    for _, t in train_rows:
        ws = toks(t)
        vocab.update(ws)
        for u, v in zip(ws, ws[1:]):
            c_uv[(u, v)] += 1
    c_u: Counter = Counter()
    n1fw: Counter = Counter()
    n1bw: Counter = Counter()
    for (u, v), c in c_uv.items():
        c_u[u] += c
        n1fw[u] += 1
        n1bw[v] += 1
    B, V = len(c_uv), len(vocab)

    def p(u, v):
        pcont = (n1bw.get(v, 0) + 1) / (B + V + 1)
        if u not in c_u:
            return pcont
        return (
            max(c_uv.get((u, v), 0) - 0.75, 0.0) / c_u[u]
            + 0.75 * n1fw[u] / c_u[u] * pcont
        )

    expect = {}
    for did, t in score_rows:
        ws = toks(t)
        bgs = list(zip(ws, ws[1:]))
        s = sum(-math.log(p(u, v)) for u, v in bgs) / len(bgs)
        expect[did] = (
            len(bgs),
            sum(1 for u, _ in bgs if u not in c_u),
            sum(1 for b in bgs if b not in c_uv),
            round(s * 1000),
        )

    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["n_unseen_hist"],
            r["n_unseen_bigram"],
            r["kn_surprisal_milli"],
        )
        for r in kn_bigram_surprisal(
            score, train, "doc_id", "text"
        ).collect()
    }
    assert got == expect
    # sanity direction: the OOV-history doc is more surprising than the
    # all-seen doc
    assert got[5][3] > got[4][3]


def test_k_core_peels_to_known_core(spark):
    """Hand-checkable graph: a 4-clique with pendant chains — the
    3-core is exactly the clique; k=5 empties the graph; k=1 keeps
    everything. Convergence guard raises when max_iters is too low."""
    from etl_spark_spark.operators.graph import k_core

    clique = [(a, b) for a in "abcd" for b in "abcd" if a != b]
    pendants = [("a", "e"), ("e", "a"), ("e", "f"), ("f", "e")]
    edges = spark.createDataFrame(
        clique + pendants, "src string, dst string"
    )
    core3 = {
        (r["node"], r["degree"]) for r in k_core(edges, k=3).collect()
    }
    assert core3 == {("a", 3), ("b", 3), ("c", 3), ("d", 3)}
    assert k_core(edges, k=5).count() == 0
    assert k_core(edges, k=1).count() == 6  # nothing peeled

    import pytest

    with pytest.raises(ValueError):
        k_core(edges, k=0)
    # chain of length 3 peels one node per round from each end: with
    # max_iters=1 the 2-core of a path graph can't converge
    path = [("p1", "p2"), ("p2", "p1"), ("p2", "p3"), ("p3", "p2"),
            ("p3", "p4"), ("p4", "p3"), ("p4", "p5"), ("p5", "p4")]
    pdf = spark.createDataFrame(path, "src string, dst string")
    with pytest.raises(RuntimeError):
        k_core(pdf, k=2, max_iters=1)


def test_k_core_normalizes_multi_edges_and_self_loops(spark):
    """Regression (ADVICE r10): duplicate edges and self-loops must not
    inflate degree. A node whose only neighbor is listed 3 times (plus
    a self-loop) has true degree 1 and must NOT survive the 3-core."""
    from etl_spark_spark.operators.graph import k_core, k_core_sql

    clique = [(a, b) for a in "abcd" for b in "abcd" if a != b]
    noisy = (
        clique
        + [("x", "a"), ("a", "x")] * 3  # x's one neighbor, tripled
        + [("x", "x")]                   # self-loop
    )
    edges = spark.createDataFrame(noisy, "src string, dst string")
    core3 = {
        (r["node"], r["degree"]) for r in k_core(edges, k=3).collect()
    }
    assert core3 == {("a", 3), ("b", 3), ("c", 3), ("d", 3)}

    # the SQL mirror applies the identical normalization
    import duckdb

    con = duckdb.connect()
    vals = ", ".join(f"('{s}', '{d}')" for s, d in noisy)
    sql = k_core_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst)", k=3, rounds=8
    )
    assert {tuple(r) for r in con.execute(sql).fetchall()} == core3


def test_tfidf_block_recall_measured_pins(spark):
    """Round-11 (VERDICT r10 task 4): the blocking recall is MEASURED,
    not asserted. On the fixture corpus the within-reachable recall
    (the df-threshold trade itself) must hold the >=0.9 rung — the
    same bar the MinHash sampled-recall pin uses — and the report must
    be non-vacuous (true pairs and blocked hits both > 0; the
    round-10 unigram audit caught a 0=0 vacuity, never again)."""
    from etl_spark_spark.operators.retrieval import tfidf_block_recall

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    row = tfidf_block_recall(
        docs.select("doc_id", "text"),
        "doc_id",
        "text",
        rare_df=4,
        sim_milli=800,
        sample_mod=8,
    ).collect()[0]
    assert row["n_true_pairs"] > 0 and row["n_blocked_true"] > 0
    assert row["n_true_seq"] >= row["n_blocked_true"]
    assert row["seq_recall_milli"] >= 900
    # overall recall is corpus-shape-bound on the 31-word-vocab
    # fixture (most high-cosine pairs share no trigram) — assert the
    # decomposition is consistent rather than a meaningless floor
    assert row["recall_milli"] <= row["seq_recall_milli"]

    with pytest.raises(ValueError, match="sampled docs exceed"):
        tfidf_block_recall(
            docs.select("doc_id", "text"),
            "doc_id",
            "text",
            rare_df=4,
            sample_mod=1,
            max_sample_docs=10,
        )


def test_tfidf_topk_similar_matches_python_replay(spark):
    """TF-IDF blocked cosine pinned against a pure-Python replay on a
    planted corpus: two near-identical docs must rank each other #1;
    the blocking contract (pairs sharing only common terms are not
    candidates) is asserted explicitly."""
    import math

    from etl_spark_spark.operators.retrieval import tfidf_topk_similar

    corpus = {
        1: "zebra quantum flux omega alpha beta",
        2: "zebra quantum flux omega alpha gamma",
        3: "alpha beta gamma delta common words here",
        4: "alpha beta gamma delta common words there",
        5: "totally unrelated text about nothing special",
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    # rare_df=2, trigram blocking: only 3-token shingles appearing in
    # <=2 docs generate candidates
    out = tfidf_topk_similar(
        df, "doc_id", "text", k=2, rare_df=2, block_ngram=3
    ).collect()
    got = {(r["doc_id"], r["rank"]): (r["sim_doc_id"], r["cos_milli"]) for r in out}

    # python replay
    tf = {d: {} for d in corpus}
    for d, t in corpus.items():
        for w_ in t.split():
            tf[d][w_] = tf[d].get(w_, 0) + 1
    dfreq = {}
    for d in corpus:
        for t in tf[d]:
            dfreq[t] = dfreq.get(t, 0) + 1
    n = len(corpus)
    w = {
        d: {t: c * round(math.log(n / dfreq[t]) * 1000) for t, c in tf[d].items()}
        for d in corpus
    }
    norms = {d: sum(v * v for v in w[d].values()) for d in corpus}

    def trigrams(text):
        ws = text.split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    sh = {d: trigrams(t) for d, t in corpus.items()}
    shdf = {}
    for d in corpus:
        for g in sh[d]:
            shdf[g] = shdf.get(g, 0) + 1
    rare_sh = {g for g, c in shdf.items() if c <= 2}
    pairs = set()
    docs = sorted(corpus)
    for i, a in enumerate(docs):
        for b in docs[i + 1:]:
            if sh[a] & sh[b] & rare_sh:
                pairs.add((a, b))
    expect = {}
    for a, b in pairs:
        dot = sum(w[a][t] * w[b][t] for t in set(w[a]) & set(w[b]))
        if dot > 0:
            c = round(dot / math.sqrt(norms[a] * norms[b]) * 1000)
            expect.setdefault(a, []).append((c, b))
            expect.setdefault(b, []).append((c, a))
    for d, lst in expect.items():
        lst.sort(key=lambda x: (-x[0], x[1]))
        for r, (c, other) in enumerate(lst[:2], 1):
            assert got[(d, r)] == (other, c), (d, r, got.get((d, r)), (other, c))
    assert len(got) == sum(min(2, len(v)) for v in expect.values())

    # the planted twins rank each other first
    assert got[(1, 1)][0] == 2 and got[(2, 1)][0] == 1
    assert got[(3, 1)][0] == 4 and got[(4, 1)][0] == 3
    # doc 5 shares no rare shingle with anything -> no output rows
    assert not any(d == 5 for d, _ in got)


def test_tfidf_vacuity_guard_and_corpus_relative_threshold(spark):
    """Round-12 (VERDICT r11 task 1): the shipped absolute rare_df=4
    is measured-vacuous at sf0.1 (1.08 candidates/doc, within-
    reachable recall 0.006) yet used to return a silently near-empty
    result. Pins: (a) min_cand_per_doc trips at sf0.1 in BOTH
    engines; (b) the trap fires even when the result itself is EMPTY
    (zero candidates — the worst silent case); (c) rare_df_frac
    resolves to the same output as the equivalent absolute threshold;
    (d) the threshold options are mutually exclusive."""
    import duckdb

    from etl_spark_spark.operators.retrieval import (
        tfidf_block_candidates,
        tfidf_topk_similar,
        tfidf_topk_similar_sql,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="exactly one"):
        tfidf_topk_similar(docs, "doc_id", "text", rare_df=4, rare_df_frac=0.1)
    with pytest.raises(ValueError, match="exactly one"):
        tfidf_block_candidates(docs, "doc_id", "text", rare_df=None)
    with pytest.raises(ValueError, match="rare_df_frac"):
        tfidf_topk_similar(
            docs, "doc_id", "text", rare_df=None, rare_df_frac=1.5
        )

    # (b) empty-result trap: unique vocabularies -> zero candidates
    uniq = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(6)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="VACUOUS"):
        tfidf_topk_similar(
            uniq, "doc_id", "text", k=3, rare_df=4, min_cand_per_doc=0.1
        ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW uniqdocs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, 'w{i}a w{i}b w{i}c w{i}d')" for i in range(6))
        + ") AS t(doc_id, text)"
    )
    with pytest.raises(Exception, match="VACUOUS"):
        con.execute(
            tfidf_topk_similar_sql(
                "uniqdocs", "doc_id", "text", k=3, rare_df=4,
                min_cand_per_doc=0.1,
            )
        ).fetchall()

    # (c) corpus-relative == absolute when ceil(n*frac) lands on the
    # same cut (8 docs * 0.25 -> df <= 2)
    corpus = [
        (1, "zebra quantum flux omega"), (2, "zebra quantum flux gamma"),
        (3, "alpha beta gamma delta"), (4, "alpha beta gamma epsilon"),
        (5, "one two three four"), (6, "one two three five"),
        (7, "six seven eight nine"), (8, "six seven eight ten"),
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    abs_out = {
        tuple(r)
        for r in tfidf_topk_similar(
            cdf, "doc_id", "text", k=2, rare_df=2
        ).collect()
    }
    frac_out = {
        tuple(r)
        for r in tfidf_topk_similar(
            cdf, "doc_id", "text", k=2, rare_df=None, rare_df_frac=0.25
        ).collect()
    }
    assert abs_out == frac_out and len(abs_out) > 0

    # (a) the sf0.1 vacuity trip, both engines (the round-11 measured
    # collapse: 5379 pairs / 5000 docs < 2.0 per doc)
    docs1 = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).select("doc_id", "text")
    with pytest.raises(Exception, match="VACUOUS"):
        tfidf_topk_similar(
            docs1, "doc_id", "text", k=3, rare_df=4, min_cand_per_doc=2.0
        ).collect()
    con.execute(
        "CREATE VIEW docs1 AS SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.1/documents.parquet')"
    )
    with pytest.raises(Exception, match="VACUOUS"):
        con.execute(
            tfidf_topk_similar_sql(
                "docs1", "doc_id", "text", k=3, rare_df=4,
                min_cand_per_doc=2.0,
            )
        ).fetchall()


def test_grouped_ols_trend_matches_replay_and_degenerates(spark):
    """OLS sufficient-stats trend pinned against a pure-Python replay;
    degenerate groups (n<2, zero x-variance, zero y-variance) emit
    NULLs per the documented contract, never NaN."""
    from etl_spark_spark.operators.stats import grouped_ols_trend

    rows = (
        [("up", x, 10 * x + 3) for x in range(10)]
        + [("noisy", x, 7 * x + (x % 3) - 1) for x in range(8)]
        + [("flat_y", x, 42) for x in range(5)]
        + [("one_pt", 1, 99)]
        + [("same_x", 5, 1), ("same_x", 5, 9)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r["g"]: (r["n"], r["slope_scaled"], r["intercept_scaled"], r["r2_milli"])
        for r in grouped_ols_trend(df, ["g"], "x", "y").collect()
    }

    def replay(pts):
        n = len(pts)
        sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        sxx = sum(p[0] ** 2 for p in pts); syy = sum(p[1] ** 2 for p in pts)
        num = n * sxy - sx * sy
        dx = n * sxx - sx * sx; dy = n * syy - sy * sy
        slope = num / dx
        inter = (sy - slope * sx) / n
        r2 = (num * num) / (dx * dy) if dx * dy != 0 else None
        return (
            round(slope * 1e6),
            round(inter * 1e6),
            round(r2 * 1000) if r2 is not None else None,
        )

    for g in ("up", "noisy"):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        s, i, r = replay(pts)
        assert got[g] == (len(pts), s, i, r), g
    assert got["up"][1] == 10_000_000 and got["up"][3] == 1000  # exact fit
    assert got["flat_y"][1] == 0 and got["flat_y"][3] is None  # dy = 0
    assert got["one_pt"] == (1, None, None, None)
    assert got["same_x"][1] is None  # zero x-variance -> vertical


def test_theil_sen_trend_cross_engine_and_robust(spark):
    """Round-11: grouped Theil–Sen pinned cross-engine on a planted
    corpus — the +50 outlier at t=7 must NOT move the median slope
    (exactly 2.0; OLS would be pulled), discrete-median semantics
    agree with the plain-SQL mirror bit-for-bit, degenerate groups
    (single point; tied-x only) emit NULL slope/intercept with their
    counts, and the O(n²) group-size guard raises in both engines."""
    import duckdb

    from etl_spark_spark.operators.stats import (
        theil_sen_trend,
        theil_sen_trend_sql,
    )

    rows = [
        ("a", t, 2.0 * t + 5 + (50.0 if t == 7 else 0.0))
        for t in range(1, 11)
    ]
    rows += [("b", 1, 3.0), ("b", 2, 4.0)]
    rows += [("c", 5, 9.0)]
    rows += [("d", 3, 1.0), ("d", 3, 2.0)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = {tuple(r) for r in theil_sen_trend(df, ["g"], "t", "v").collect()}

    con = duckdb.connect()
    vals = ", ".join(f"('{g}', {t}, {v})" for g, t, v in rows)
    src = f"SELECT * FROM (VALUES {vals}) AS t(g, t, v)"
    want = {
        tuple(r)
        for r in con.execute(
            theil_sen_trend_sql(src, ["g"], "t", "v")
        ).fetchall()
    }
    assert got == want
    by_g = {r[0]: r for r in got}
    assert by_g["a"] == ("a", 10, 45, 2_000_000, 5_000_000)  # outlier-immune
    assert by_g["c"][2:] == (0, None, None)
    assert by_g["d"][2:] == (0, None, None)

    with pytest.raises(Exception, match="exceeds max_points=5"):
        theil_sen_trend(df, ["g"], "t", "v", max_points=5).collect()
    with pytest.raises(Exception, match="exceeds max_points=5"):
        con.execute(
            theil_sen_trend_sql(src, ["g"], "t", "v", max_points=5)
        ).fetchall()
    with pytest.raises(ValueError):
        theil_sen_trend(df, ["g"], "t", "v", max_points=0)


def test_theil_sen_trend_null_discipline(spark):
    """Round-12 (ADVICE r11): NULL y (or x) raises LOUDLY in both
    engines before pair generation — previously a NULL pairwise slope
    silently shifted the discrete median differently per engine
    (Spark windows order NULLS FIRST, DuckDB's ORDER BY puts them
    LAST). And a NULL GROUP KEY is a real group in both engines —
    previously name-list/USING joins silently dropped those rows,
    reporting n_pairs=0 / NULL slope for a group with plenty of
    untied points (the same bug class as ewma_scalable's r11 carry
    join)."""
    import duckdb

    from etl_spark_spark.operators.stats import (
        theil_sen_trend,
        theil_sen_trend_sql,
    )

    con = duckdb.connect()

    # --- NULL group key: computed, not dropped, identically ---
    rows = [
        (None, 1, 1.0), (None, 2, 3.0), (None, 3, 5.0),
        ("z", 1, 1.0), ("z", 2, 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = {tuple(r) for r in theil_sen_trend(df, ["g"], "t", "v").collect()}
    vals = ", ".join(
        f"({'NULL' if g is None else repr(g)}, {t}, {v})"
        for g, t, v in rows
    )
    src = f"SELECT * FROM (VALUES {vals}) AS t(g, t, v)"
    want = {
        tuple(r)
        for r in con.execute(
            theil_sen_trend_sql(src, ["g"], "t", "v")
        ).fetchall()
    }
    assert got == want
    by_g = {r[0]: r for r in got}
    # slope (5-3)/(3-2)=2, (5-1)/2=2, (3-1)/1=2 -> median 2.0 exactly
    assert by_g[None] == (None, 3, 3, 2_000_000, -1_000_000)
    assert by_g["z"][2:] == (1, 1_000_000, 0)

    # --- NULL y / NULL x: loud in both engines ---
    bad_y = [("a", 1, 1.0), ("a", 2, None), ("a", 3, 5.0)]
    df_y = spark.createDataFrame(bad_y, "g string, t long, v double")
    with pytest.raises(Exception, match="theil_sen_trend: NULL y"):
        theil_sen_trend(df_y, ["g"], "t", "v").collect()
    vals_y = ", ".join(
        f"('{g}', {t}, {'NULL' if v is None else v})" for g, t, v in bad_y
    )
    with pytest.raises(Exception, match="theil_sen_trend: NULL y"):
        con.execute(
            theil_sen_trend_sql(
                f"SELECT * FROM (VALUES {vals_y}) AS t(g, t, v)",
                ["g"], "t", "v",
            )
        ).fetchall()
    bad_x = [("a", 1, 1.0), ("a", None, 2.0)]
    df_x = spark.createDataFrame(bad_x, "g string, t long, v double")
    with pytest.raises(Exception, match="theil_sen_trend: NULL x"):
        theil_sen_trend(df_x, ["g"], "t", "v").collect()
    with pytest.raises(Exception, match="theil_sen_trend: NULL x"):
        con.execute(
            theil_sen_trend_sql(
                "SELECT * FROM (VALUES ('a', 1, 1.0), ('a', NULL, 2.0))"
                " AS t(g, t, v)",
                ["g"], "t", "v",
            )
        ).fetchall()


def test_ewma_grouped_matches_python_fold(spark):
    """EWMA pinned against a pure-Python left fold — including the
    s_1 = x_1 seed, order restoration after the group pack, and the
    alpha validation guard."""
    import pytest as _pytest

    from etl_spark_spark.operators.recurrence import ewma_grouped

    rows = [
        ("a", 3, 10.0), ("a", 1, 4.0), ("a", 2, 0.0), ("a", 4, -6.0),
        ("b", 1, 100.0),
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = {
        (r["g"], r["t"]): r["ewma_scaled"]
        for r in ewma_grouped(df, ["g"], "t", "v", alpha=0.25).collect()
    }

    def fold(series, alpha=0.25):
        import math

        def half_up(x):  # Spark/DuckDB round: HALF away from zero
            return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

        s = None
        res = []
        for x in series:
            s = x if s is None else alpha * x + (1 - alpha) * s
            res.append(half_up(s * 1000))
        return res

    ea = fold([4.0, 0.0, 10.0, -6.0])
    assert [out[("a", t)] for t in (1, 2, 3, 4)] == ea
    assert out[("b", 1)] == 100_000
    assert len(out) == 5

    with _pytest.raises(ValueError):
        ewma_grouped(df, ["g"], "t", "v", alpha=0.0)


def test_rrf_fuse_matches_python_replay(spark):
    """RRF pinned against a pure-Python replay: contributions
    1/(k0+rank) summed in list order, micro-quantized; docs present in
    one list only still fuse; re-rank ties break on id."""
    from etl_spark_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(3, 1), (1, 2), (4, 3)], "doc_id long, rank int"
    )
    got = {
        r["doc_id"]: (r["n_lists"], r["rrf_micro"], r["rank"])
        for r in rrf_fuse([a, b], "doc_id", k0=60).collect()
    }

    import math

    def half_up(x):
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    contribs = {1: [1 / 61, 1 / 62], 2: [1 / 62], 3: [1 / 63, 1 / 61], 4: [1 / 63]}
    scores = {d: half_up(sum(c) * 1e6) for d, c in contribs.items()}
    order = sorted(scores, key=lambda d: (-scores[d], d))
    for rk, d in enumerate(order, 1):
        assert got[d] == (len(contribs[d]), scores[d], rk), d

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([], "doc_id")


def test_ewma_null_value_fails_loudly_both_engines(spark):
    """Regression (round-10 self-review): a NULL value must RAISE in
    both engines — a NULL-init fold would silently re-seed after it in
    Spark while DuckDB's list_reduce poisons the rest of the series,
    an engine/oracle divergence on exactly the rows that matter."""
    import duckdb

    from etl_spark_spark.operators.recurrence import (
        ewma_grouped,
        ewma_grouped_sql,
    )

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, None), ("a", 3, 4.0)],
        "g string, t long, v double",
    )
    with pytest.raises(Exception, match="NULL v"):
        ewma_grouped(df, ["g"], "t", "v", alpha=0.25).collect()

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT 'a' g, 1::BIGINT t, 1.0::DOUBLE v "
        "UNION ALL SELECT 'a', 2, NULL UNION ALL SELECT 'a', 3, 4.0"
    )
    with pytest.raises(Exception, match="NULL v"):
        con.execute(
            ewma_grouped_sql("SELECT * FROM ev", ["g"], "t", "v", 0.25)
        ).fetchall()


def test_ewma_max_series_guard_fails_loudly_both_engines(spark):
    """Round-11 (VERDICT r10): the bounded-series contract is enforced,
    not docstring-only — a group longer than max_series RAISES in both
    engines instead of silently running the O(n²) fold on an unbounded
    series; an in-bound series is untouched by the guard."""
    import duckdb

    from etl_spark_spark.operators.recurrence import (
        ewma_grouped,
        ewma_grouped_sql,
    )

    rows = [("a", t, float(t)) for t in range(1, 6)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    with pytest.raises(Exception, match="exceeds max_series=4"):
        ewma_grouped(df, ["g"], "t", "v", alpha=0.25, max_series=4).collect()
    # in-bound: guard is a no-op, values identical to the unguarded form
    ok = ewma_grouped(df, ["g"], "t", "v", alpha=0.25, max_series=5)
    off = ewma_grouped(df, ["g"], "t", "v", alpha=0.25, max_series=None)
    assert sorted(map(tuple, ok.collect())) == sorted(
        map(tuple, off.collect())
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT 'a' g, unnest(range(1, 6))::BIGINT t, "
        "unnest(range(1, 6))::DOUBLE v"
    )
    with pytest.raises(Exception, match="exceeds max_series=4"):
        con.execute(
            ewma_grouped_sql(
                "SELECT * FROM ev", ["g"], "t", "v", 0.25, max_series=4
            )
        ).fetchall()
    n_ok = con.execute(
        ewma_grouped_sql(
            "SELECT * FROM ev", ["g"], "t", "v", 0.25, max_series=5
        )
    ).fetchall()
    assert len(n_ok) == 5
    with pytest.raises(ValueError):
        ewma_grouped(df, ["g"], "t", "v", alpha=0.25, max_series=0)
    with pytest.raises(ValueError):
        ewma_grouped_sql("SELECT * FROM ev", ["g"], "t", "v", 0.25, 1000, -1)


def test_ewma_scalable_equals_grouped_across_buckets(spark):
    """Round-11 (VERDICT r10 task 7): the affine-composition path must
    reproduce the sequential fold — pinned on a synthetic series that
    crosses several buckets (including a group confined to one bucket,
    where the seed path must be bit-identical), plus the loud guards
    (NULL value; over-long bucket; bad params)."""
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.recurrence import (
        ewma_grouped,
        ewma_scalable,
    )

    rows = [("a", t, float((t * 37) % 11) - 3.25) for t in range(1, 31)]
    rows += [("b", t, 100.0 / t) for t in range(1, 4)]
    # NULL group key: groupBy treats it as a group, so the carry
    # join-back must be null-safe or these rows silently vanish
    # (round-11 pre-close self-review regression)
    rows += [(None, t, float(t)) for t in range(1, 4)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    bucket = (F.col("t") / 10).cast("long")  # monotone in t
    want = {
        (r["g"], r["t"]): r["ewma_scaled"]
        for r in ewma_grouped(
            df, ["g"], "t", "v", alpha=0.3, max_series=None
        ).collect()
    }
    got_df = ewma_scalable(df, ["g"], bucket, "t", "v", alpha=0.3)
    got = {(r["g"], r["t"]): r["ewma_scaled"] for r in got_df.collect()}
    assert got == want
    assert got_df.columns == ["g", "t", "v", "ewma_scaled"]

    nulls = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, None)], "g string, t long, v double"
    )
    with pytest.raises(Exception, match="NULL v"):
        ewma_scalable(nulls, ["g"], bucket, "t", "v", alpha=0.3).collect()
    with pytest.raises(Exception, match="exceeds max_bucket_series=5"):
        ewma_scalable(
            df, ["g"], F.lit(0), "t", "v", alpha=0.3, max_bucket_series=5
        ).collect()
    with pytest.raises(ValueError):
        ewma_scalable(df, ["g"], bucket, "t", "v", alpha=1.5)
    with pytest.raises(ValueError):
        ewma_scalable(
            df, ["g"], bucket, "t", "v", alpha=0.3, max_bucket_series=0
        )


def test_ewma_scalable_monotone_bucket_guard(spark):
    """Round-12 (VERDICT r11 task 2): a bucket expression that is NOT
    monotone in the order column (e.g. a hash/modulo bucket) used to
    silently compose the affine carries out of order — wrong EWMA
    values with no signal. Now the per-bucket order-key ranges ride
    the ends aggregate and overlapping adjacent buckets raise."""
    from pyspark.sql import functions as F

    from etl_spark_spark.operators.recurrence import ewma_scalable

    rows = [("a", t, float(t)) for t in range(1, 13)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    with pytest.raises(Exception, match="not monotone"):
        ewma_scalable(
            df, ["g"], F.col("t") % 3, "t", "v", alpha=0.3
        ).collect()
    # same bucket COUNT but monotone: passes (the guard keys on order
    # overlap, not cardinality)
    ok = ewma_scalable(
        df, ["g"], (F.col("t") / 4).cast("long"), "t", "v", alpha=0.3
    )
    assert ok.count() == 12


def test_ewma_affine_composition_law_numpy():
    """Mathematical pin of ewma_scalable's recombination (no Spark):
    for random alpha/series/bucket splits, evaluating the within-bucket
    affine prefix (A_t, B_t) against the carried state reproduces the
    sequential fold to ~n·eps relative error, and the milli-quantized
    outputs differ by at most 1 (the documented ulp-boundary caveat —
    on the fixture the observed difference is exactly 0)."""
    import numpy as np

    rng = np.random.default_rng(11)
    for trial in range(200):
        n = int(rng.integers(2, 60))
        alpha = float(rng.uniform(0.05, 1.0))
        xs = rng.uniform(-1e4, 1e4, size=n)
        # sequential reference
        seq, s = [], None
        for x in xs:
            s = x if s is None else alpha * x + (1 - alpha) * s
            seq.append(s)
        # random bucket split + affine recombination
        n_cuts = int(rng.integers(0, min(5, n - 1) + 1))
        cuts = sorted(rng.choice(np.arange(1, n), size=n_cuts, replace=False))
        bounds = [0, *cuts, n]
        out, s_in = [], None
        for lo, hi in zip(bounds, bounds[1:]):
            A, B = 1.0, 0.0
            seed = None
            for t in range(lo, hi):
                x = xs[t]
                A *= 1 - alpha
                B = alpha * x + (1 - alpha) * B
                seed = x if seed is None else (
                    alpha * x + (1 - alpha) * seed
                )
                out.append(seed if s_in is None else A * s_in + B)
            s_in = out[-1]
        seq = np.asarray(seq)
        out = np.asarray(out)
        np.testing.assert_allclose(out, seq, rtol=1e-10, atol=1e-9)
        q = lambda a: np.round(a * 1000)  # noqa: E731
        assert np.abs(q(out) - q(seq)).max() <= 1, trial


def test_rrf_fuse_rejects_nonpositive_k(spark):
    """Round-11 (ADVICE r10): k=0 must be rejected, not silently mean
    'return everything' — consistent with the strict positive-parameter
    validation elsewhere; k=None remains the documented 'all' form."""
    from etl_spark_spark.operators.retrieval import rrf_fuse, rrf_fuse_sql

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    with pytest.raises(ValueError, match="k must be positive"):
        rrf_fuse([a], "doc_id", k=0)
    with pytest.raises(ValueError, match="k must be positive"):
        rrf_fuse([a], "doc_id", k=-3)
    with pytest.raises(ValueError, match="k must be positive"):
        rrf_fuse_sql(["SELECT 1 doc_id, 1 rank"], "doc_id", k=0)
    assert rrf_fuse([a], "doc_id", k=None).count() == 2
    assert rrf_fuse([a], "doc_id", k=1).count() == 1


def test_grouped_ols_exact_at_large_magnitudes(spark):
    """Regression (round-10 self-review): sufficient statistics run in
    decimal/HUGEINT, so (a) a constant-y group at large magnitude
    emits NULL r2 via the EXACT zero-variance test (a float den_y
    would read nonzero past 2^53), and (b) Spark and DuckDB agree
    bit-for-bit on cents-scale magnitudes where double sums would be
    accumulation-order-dependent."""
    import duckdb

    from etl_spark_spark.operators.stats import (
        grouped_ols_trend,
        grouped_ols_trend_sql,
    )

    rows = [("const", x, 20_000_001) for x in range(30)]
    rows += [("big", x, 50_000_000 + 1_000_000 * x + (x % 7)) for x in range(200)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r["g"]: (r["n"], r["slope_scaled"], r["intercept_scaled"], r["r2_milli"])
        for r in grouped_ols_trend(df, ["g"], "x", "y").collect()
    }
    assert got["const"][1] == 0 and got["const"][3] is None

    con = duckdb.connect()
    vals = ", ".join(f"('{g}', {x}, {y})" for g, x, y in rows)
    sql = grouped_ols_trend_sql(
        f"SELECT * FROM (VALUES {vals}) AS t(g, x, y)", ["g"], "x", "y"
    )
    want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    assert {g: tuple(v) for g, v in got.items()} == want


def test_null_measure_guard_family_fails_loudly_both_engines(spark):
    """Round-12 sweep of the theil_sen NULL-discipline (ADVICE r11)
    across the whole cumulative-distribution family: a NULL measure
    enters windows that Spark orders NULLS FIRST and the DuckDB
    mirrors order NULLS LAST, silently shifting every cumulative
    threshold. Verified live before the guard: exact_group_quantiles
    on [(g,NULL),(g,1),(g,2),(g,3)] returned q50=1 in Spark vs q50=2
    in DuckDB. Every operator in the family now raises loudly, and
    checked_measure_sql raises identically in DuckDB."""
    import duckdb
    import pytest as _pytest

    from etl_spark_spark.operators.stats import (
        checked_measure_sql,
        exact_group_quantiles,
        exact_weighted_quantiles,
        integer_tercile_buckets,
        ks_drift_by_group,
        ks_two_sample,
        mann_whitney_u,
        psi_drift,
    )

    gv = spark.createDataFrame(
        [("g", None), ("g", 1), ("g", 2), ("g", 3)], "k string, v int"
    )
    with _pytest.raises(Exception, match="exact_group_quantiles: NULL v"):
        exact_group_quantiles(gv, ["k"], "v", qs=(0.5,)).collect()
    with _pytest.raises(
        Exception, match="integer_tercile_buckets: NULL v"
    ):
        integer_tercile_buckets(gv, ["k"], "v").collect()

    wv = spark.createDataFrame(
        [("g", None, 1), ("g", 2, 1)], "k string, v int, w int"
    )
    with _pytest.raises(
        Exception, match="exact_weighted_quantiles: NULL v"
    ):
        exact_weighted_quantiles(wv, ["k"], "v", "w").collect()
    ww = spark.createDataFrame(
        [("g", 1, None), ("g", 2, 1)], "k string, v int, w int"
    )
    with _pytest.raises(
        Exception, match="exact_weighted_quantiles: NULL w"
    ):
        exact_weighted_quantiles(ww, ["k"], "v", "w").collect()

    ab = spark.createDataFrame(
        [("A", None), ("A", 1), ("B", 2)], "variant string, v int"
    )
    with _pytest.raises(Exception, match="ks_two_sample: NULL v"):
        ks_two_sample(ab, "v", "variant").collect()
    with _pytest.raises(Exception, match="mann_whitney_u: NULL v"):
        mann_whitney_u(ab, "v", "variant").collect()
    gab = spark.createDataFrame(
        [("t", "A", None), ("t", "A", 1), ("t", "B", 2)],
        "k string, variant string, v int",
    )
    with _pytest.raises(Exception, match="ks_drift_by_group: NULL v"):
        ks_drift_by_group(gab, ["k"], "v", "variant").collect()
    with _pytest.raises(Exception, match="psi_drift: NULL v"):
        psi_drift(gab, ["k"], "v", "variant").collect()

    # the SQL-side guard raises on the same input and is a no-op on
    # clean data (the oracle mirrors embed this exact expression)
    con = duckdb.connect()
    guard = checked_measure_sql("v", "exact_group_quantiles", "v")
    assert con.execute(
        f"SELECT {guard} FROM (VALUES (1), (2)) t(v) ORDER BY 1"
    ).fetchall() == [(1,), (2,)]
    with _pytest.raises(
        Exception, match="exact_group_quantiles: NULL v"
    ):
        con.execute(
            f"SELECT {guard} FROM (VALUES (1), (NULL)) t(v)"
        ).fetchall()

    # non-null semantics unchanged: same discrete quantile both ways
    clean = spark.createDataFrame(
        [("g", 1), ("g", 2), ("g", 2), ("g", 9)], "k string, v int"
    )
    row = exact_group_quantiles(clean, ["k"], "v").collect()[0]
    assert (row["n"], row["q25"], row["q50"], row["q75"]) == (4, 1, 2, 2)


def test_scalable_group_quantiles_equals_plain_form(spark):
    """Round-12: the decomposed cumulative-count quantile path must be
    bit-identical to exact_group_quantiles for any valid bucketing —
    including NULL group keys (a real group), single-bucket
    degenerate bucketing, ties, and finer-than-needed buckets. The
    monotone-bucket and NULL-bucket guards raise loudly. The grouped
    KS drift monitor's bucket_of path runs through the same scan and
    must equal its plain per-group-window path under the same
    bucketings and guards."""
    import random

    import pytest as _pytest

    from etl_spark_spark.operators.stats import (
        exact_group_quantiles,
        ks_drift_by_group,
        scalable_group_quantiles,
    )

    rng = random.Random(12)
    rows = [
        (rng.choice(["a", "b", None]), rng.randint(0, 500))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, v int")

    want = {
        tuple(r)
        for r in exact_group_quantiles(
            df, ["k"], "v", qs=(0.25, 0.5, 0.75)
        ).collect()
    }
    for bucket in (
        F.floor(F.col("v") / 50),   # ~10 buckets
        F.floor(F.col("v") / 7),    # finer
        F.lit(0),                   # degenerate: single bucket
        F.col("v"),                 # one bucket per distinct value
    ):
        got = {
            tuple(r)
            for r in scalable_group_quantiles(
                df, ["k"], "v", bucket_of=bucket, qs=(0.25, 0.5, 0.75)
            ).collect()
        }
        assert got == want

    # non-monotone bucket (hash parity) raises loudly
    with _pytest.raises(Exception, match="not monotone"):
        scalable_group_quantiles(
            df, ["k"], "v", bucket_of=F.col("v") % 2
        ).collect()
    # NULL bucket raises loudly
    with _pytest.raises(Exception, match="bucket_of produced NULL"):
        scalable_group_quantiles(
            df,
            ["k"],
            "v",
            bucket_of=F.when(F.col("v") < 400, F.col("v")),
        ).collect()
    # NULL measure raises like the plain form
    gv = spark.createDataFrame([("g", None), ("g", 1)], "k string, v int")
    with _pytest.raises(
        Exception, match="scalable_group_quantiles: NULL v"
    ):
        scalable_group_quantiles(
            gv, ["k"], "v", bucket_of=F.lit(0)
        ).collect()

    kdf = spark.createDataFrame(
        [(k, rng.choice("AB"), v) for k, v in rows], "k string, g string, v int"
    )
    ks_plain = {
        tuple(r) for r in ks_drift_by_group(kdf, ["k"], "v", "g").collect()
    }
    assert len(ks_plain) == 3
    for bucket in (
        F.floor(F.col("v") / 50),
        F.floor(F.col("v") / 7),
        F.lit(0),
        F.col("v"),
    ):
        got = {
            tuple(r)
            for r in ks_drift_by_group(
                kdf, ["k"], "v", "g", bucket_of=bucket
            ).collect()
        }
        assert got == ks_plain
    with _pytest.raises(
        Exception, match="ks_drift_by_group: bucket_col is not monotone"
    ):
        ks_drift_by_group(
            kdf, ["k"], "v", "g", bucket_of=F.col("v") % 2
        ).collect()
    with _pytest.raises(
        Exception, match="ks_drift_by_group: bucket_of produced NULL"
    ):
        ks_drift_by_group(
            kdf,
            ["k"],
            "v",
            "g",
            bucket_of=F.when(F.col("v") < 400, F.col("v")),
        ).collect()


def test_scalable_group_quantiles_no_forced_broadcast(spark):
    """The quantile offsets table is per-(group, bucket), so it grows
    with group cardinality: with broadcasts disabled by threshold, a
    10k-group quantile plans no BroadcastExchange (a hint would force
    one) and still equals the plain form. An unpartitioned
    bucketed_scan's offsets table is sized by the bucket count and
    keeps its broadcast under the same setting."""
    from etl_spark_spark.operators.stats import (
        exact_group_quantiles,
        scalable_group_quantiles,
    )
    from etl_spark_spark.operators.windows import bucketed_scan
    from etl_spark_spark.plans import explain_str

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = spark.range(0, 30000).select(
            (F.col("id") % 10007).alias("g"),
            ((F.col("id") * 7919) % 1000).alias("v"),
        )
        q = scalable_group_quantiles(
            df, ["g"], "v", bucket_of=F.floor(F.col("v") / 100)
        )
        assert "BroadcastExchange" not in explain_str(q)
        want = exact_group_quantiles(df, ["g"], "v")
        assert q.exceptAll(want).isEmpty() and want.exceptAll(q).isEmpty()

        scan = bucketed_scan(
            df, F.floor(F.col("v") / 100), ["v", "g"], [("r", "v", "sum")]
        )
        assert "BroadcastExchange" in explain_str(scan)
    finally:
        spark.conf.set(key, prev)


def test_theil_sen_blocked_pair_path_identical(spark):
    """Round-12: pair_block_size decomposes pair generation into
    (block_i, block_j) tiles — the pair SET must be identical to the
    plain group-keyed join for every block size (1 = one point per
    block, mid, larger-than-group), across NULL group keys, tied x
    (excluded pairs), and degenerate groups."""
    import random

    from etl_spark_spark.operators.stats import theil_sen_trend

    rng = random.Random(42)
    rows = []
    for g in ["a", "b", None, "z"]:
        xs = rng.sample(range(200), rng.randint(2, 50))
        for x in xs:
            rows.append(
                (g, float(x), float(rng.randint(-50, 50)))
            )
        rows.append((g, float(xs[0]), 999.0))  # tied x: excluded pair
    rows.append(("solo", 1.0, 5.0))  # degenerate: n=1 -> NULL slope
    df = spark.createDataFrame(rows, "g string, x double, y double")
    plain = {
        tuple(r) for r in theil_sen_trend(df, ["g"], "x", "y").collect()
    }
    for bs in (1, 7, 1000):
        blocked = {
            tuple(r)
            for r in theil_sen_trend(
                df, ["g"], "x", "y", pair_block_size=bs
            ).collect()
        }
        assert blocked == plain, f"pair_block_size={bs} diverged"


def test_decomposed_weighted_quantiles_and_grouped_ks_identical(spark):
    """Round-12: the weighted-quantile and grouped-KS members of the
    cumulative-distribution family decompose exactly like
    scalable_group_quantiles — values bit-identical to the plain
    per-group-window forms for any valid bucketing, including NULL
    group keys, one-variant groups (dropped in both paths), and
    degenerate single-bucket bucketings."""
    import random

    from etl_spark_spark.operators.stats import (
        exact_weighted_quantiles,
        ks_drift_by_group,
        scalable_group_quantiles,
    )

    rng = random.Random(99)
    wrows = [
        (rng.choice(["a", None]), rng.randint(0, 300), rng.randint(1, 5))
        for _ in range(300)
    ]
    wdf = spark.createDataFrame(wrows, "k string, v int, w int")
    want = {
        tuple(r)
        for r in exact_weighted_quantiles(wdf, ["k"], "v", "w").collect()
    }
    for bucket in (F.floor(F.col("v") / 37), F.lit(0)):
        got = {
            tuple(r)
            for r in scalable_group_quantiles(
                wdf, ["k"], "v", bucket_of=bucket, weight_col="w"
            ).collect()
        }
        assert got == want

    krows = [
        (g, rng.choice("AB"), rng.randint(0, 3000))
        for g in ["t1", "t2", None]
        for _ in range(rng.randint(5, 300))
    ] + [("onlyA", "A", 5)]
    kdf = spark.createDataFrame(krows, "k string, variant string, v int")
    plain = {
        tuple(r)
        for r in ks_drift_by_group(kdf, ["k"], "v", "variant").collect()
    }
    assert "onlyA" not in {r[0] for r in plain}  # one-variant dropped
    for div in (1000, 10):
        dec = {
            tuple(r)
            for r in ks_drift_by_group(
                kdf, ["k"], "v", "variant",
                bucket_of=F.expr(f"v div {div}"),
            ).collect()
        }
        assert dec == plain
