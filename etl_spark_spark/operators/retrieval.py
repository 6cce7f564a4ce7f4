"""Ranked text retrieval over a document corpus (LLM-data-pipeline
extension; no reference counterpart — the reference's surface stops at
relational ETL, but a training-data engine needs corpus search for
curation forensics: "which documents dominate this query?").

BM25 (Robertson/Sparck Jones probabilistic weighting, the Lucene/
Elasticsearch default) implemented as PURE DataFrame expressions:

- per-document term frequencies for the (small, literal) query term
  set come from ``size(filter(tokens, t -> t = term))`` — map-only,
  no explode, no shuffle, one pass over the corpus;
- corpus statistics (N, avg doc length, per-term document frequency)
  are ONE 1-row aggregate broadcast back with a crossJoin — the same
  tiny-dimension idiom the repo uses everywhere;
- the score is a fixed left-to-right chain of per-term contributions
  (not a SUM aggregate), so floating-point evaluation order is
  identical in any engine and under any parallelism;
- scores are emitted as micro-scaled integers
  (``round(score * 1e6)::bigint``): Spark's JVM ``ln`` and a C-libm
  ``ln`` (DuckDB/NumPy) can disagree by 1 ulp (~4% of arguments,
  measured in this container), so raw transcendental doubles are NOT
  oracle-stable bitwise — a 1e-6 quantum absorbs ulp noise while
  keeping six significant decimals of score.

Scale: one corpus scan + a 1-row broadcast + TakeOrderedAndProject for
the top-k — no shuffle proportional to corpus size. 100 TB of text
ranks with map-side work only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import computed_once, fan_out
from ..functions.text import tokens


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query_terms`` under BM25.

    Returns ``(id_col, dl, n_hit_terms, score_micro)`` ordered by
    (score desc, id) — deterministic under score ties. Documents
    matching no query term are excluded.
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")

    # the tokenized projection is evaluated TWICE (corpus stats agg +
    # the scored side of the broadcast cross join) and both runs sit in
    # the input's partitioning — one task on a single-row-group scan
    # (guide §2.5). fan_out parallelizes both evaluations and is a
    # no-op when the scan already has >= cores splits (real scale).
    tok = fan_out(docs).select(F.col(id_col), tokens(text_col).alias("__t"))

    def _match(term: str):
        # single-arg lambda factory: a default-arg lambda would have
        # two parameters and F.filter would treat it as the
        # (element, index) form
        return lambda x: x == F.lit(term)

    base = tok.select(
        id_col,
        F.size("__t").alias("dl"),
        *[
            F.size(F.filter(F.col("__t"), _match(t))).alias(f"__tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.count("*").alias("__n_docs"),
        F.sum("dl").alias("__sum_dl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n = F.col("__n_docs").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n
    contribs = []
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        df = F.col(f"__df_{i}").cast("double")
        idf = F.log((n - df + 0.5) / (df + 0.5) + 1.0)
        denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
        contribs.append(
            F.when(tf > 0, idf * (tf * (k1 + 1.0)) / denom).otherwise(F.lit(0.0))
        )
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    n_hit = None
    for i in range(len(query_terms)):
        h = (F.col(f"__tf_{i}") > 0).cast("int")
        n_hit = h if n_hit is None else n_hit + h

    # computed_once: the score predicate would otherwise be substituted
    # down past the projection and re-run the per-term tf/idf trees
    # (and the tokenize behind them) a second time below the exchange.
    return (
        scored.select(
            id_col,
            "dl",
            n_hit.alias("n_hit_terms"),
            computed_once(F.round(score * 1e6).cast("long")).alias(
                "score_micro"
            ),
        )
        .filter(F.col("score_micro") > 0)
        .orderBy(F.desc("score_micro"), F.col(id_col))
        .limit(k)
    )


def bm25_topk_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`bm25_topk` (same tokenization, same
    expression tree, same micro-scaling) for the oracle gate."""
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(query_terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(query_terms))
    )
    contribs = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0)"
        f" * (CAST(tf_{i} AS DOUBLE) * ({k1} + 1.0))"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
        f" * CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        f" ELSE 0.0 END)"
        for i in range(len(query_terms))
    )
    hits = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(query_terms))
    )
    return f"""
WITH tok AS (
  SELECT {id_col},
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), base AS (
  SELECT {id_col}, len(t) AS dl, {tf_cols} FROM tok
), s AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols} FROM base
)
SELECT {id_col}, dl, CAST({hits} AS INTEGER) AS n_hit_terms,
       CAST(round(({contribs}) * 1e6) AS BIGINT) AS score_micro
FROM base, s
WHERE CAST(round(({contribs}) * 1e6) AS BIGINT) > 0
ORDER BY score_micro DESC, {id_col}
LIMIT {k}
"""


def phrase_occurrences(tokens_col, terms: list[str]):
    """Occurrence count of an exact adjacent-token phrase inside a
    token array — positional phrase search, the retrieval primitive
    BM25's bag-of-words scoring can't express. Pure per-row expression
    (scan window starts, test each offset): map-only, no explode, no
    shuffle, embarrassingly parallel at any corpus size.

    Returns an int Column: number of positions i with
    tokens[i + j] == terms[j] for all j."""
    if not terms:
        raise ValueError("phrase_occurrences needs at least one term")
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    n = len(terms)

    def _hit(i):
        cond = None
        for j, term in enumerate(terms):
            c = F.element_at(t, i + j) == F.lit(term)
            cond = c if cond is None else cond & c
        return cond

    starts = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.size(F.filter(starts, _hit))


def phrase_occurrences_sql(tokens_expr: str, terms: list[str]) -> str:
    """DuckDB mirror of :func:`phrase_occurrences` over a list
    expression (1-based indexing matches element_at)."""
    n = len(terms)
    cond = " AND ".join(
        f"{tokens_expr}[i + {j}] = '{t}'" for j, t in enumerate(terms)
    )
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"len(list_filter(range(1, len({tokens_expr}) - {n - 2}), "
        f"i -> {cond})) ELSE 0 END"
    )


def tfidf_doc_vectors(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    idf_scale: int = 1000,
) -> DataFrame:
    """Per-(doc, term) TF-IDF weights as EXACT integers: weight =
    tf * round(ln(N/df) * idf_scale). Milli-quantized idf keeps every
    downstream dot product inside int64 (w <= ~tf*12k at any corpus
    size; a 1e15 dot is still exact) while absorbing the 1-ulp
    engine divergence of ``ln`` (same rung as bm25's micro-scores).
    Returns (doc id under ``id_col``, term, df, w) — ``df`` is the
    term's document frequency, kept because weight consumers routinely
    need it for pruning. One explode + two hash aggregates + a
    term-keyed join; the corpus-size N rides a 1-row broadcast."""
    tok = docs.select(F.col(id_col), tokens(text_col).alias("__t"))
    tf = (
        tok.select(id_col, F.explode("__t").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("__tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("__df")).filter(
        F.col("__df") >= min_df
    )
    n = tok.agg(F.count("*").alias("__n"))
    idf = F.round(
        F.log(F.col("__n").cast("double") / F.col("__df").cast("double"))
        * F.lit(float(idf_scale))
    ).cast("long")
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            F.col("__df").alias("df"),
            (F.col("__tf") * idf).alias("w"),
        )
    )


def _check_rare_threshold(
    rare_df: int | None, rare_df_frac: float | None, op_name: str
) -> None:
    """Exactly one of rare_df (absolute shingle-df cut) or
    rare_df_frac (corpus-relative: df <= ceil(n_docs * frac)) must be
    set. The corpus-relative form exists because an ABSOLUTE threshold
    is measured-vacuous under corpus growth on bounded vocabularies
    (BASELINE.md round-11: within-reachable recall 0.91 at sf0.01 ->
    0.006 at sf0.1 with the same rare_df=4)."""
    if (rare_df is None) == (rare_df_frac is None):
        raise ValueError(
            f"{op_name}: set exactly one of rare_df / rare_df_frac "
            f"(got rare_df={rare_df}, rare_df_frac={rare_df_frac})"
        )
    if rare_df is not None and rare_df < 1:
        raise ValueError(f"{op_name}: rare_df must be >= 1, got {rare_df}")
    if rare_df_frac is not None and not (0.0 < rare_df_frac <= 1.0):
        raise ValueError(
            f"{op_name}: rare_df_frac must be in (0, 1], got {rare_df_frac}"
        )


def tfidf_block_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    rare_df: int | None,
    block_ngram: int = 3,
    rare_df_frac: float | None = None,
) -> DataFrame:
    """The rare-shingle candidate generator shared by
    :func:`tfidf_topk_similar` and the replica audits: distinct
    (doc, ngram-shingle) pairs, shingles kept iff their document
    frequency <= the threshold, self-joined on the shingle. The
    threshold is either ABSOLUTE (``rare_df``) or CORPUS-RELATIVE
    (``rare_df_frac``: df <= max(1, ceil(n_docs * frac)), the n_docs
    riding a 1-row broadcast exactly like tfidf_doc_vectors' idf N —
    round-12, closing the measured scale-instability of absolute
    thresholds). Returns (__da, __db) with __da < __db, distinct.
    Extracted so the audit measures EXACTLY the candidate space the
    operator ships (the blocking scheme already changed once; a
    hand-synced copy would silently drift)."""
    _check_rare_threshold(rare_df, rare_df_frac, "tfidf_block_candidates")
    ng = int(block_ngram)
    tok = docs.select(F.col(id_col), tokens(text_col).alias("__t"))
    starts = F.when(
        F.size("__t") >= ng,
        F.sequence(F.lit(1), F.size("__t") - F.lit(ng - 1)),
    ).otherwise(F.array().cast("array<int>"))
    shingles = tok.select(
        F.col(id_col).alias("__d"),
        F.explode(
            F.transform(
                starts,
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("__t"), i, F.lit(ng))
                ),
            )
        ).alias("__g"),
    ).distinct()
    gdf = shingles.groupBy("__g").agg(F.count("*").alias("__gdf"))
    if rare_df_frac is None:
        kept = gdf.filter(F.col("__gdf") <= rare_df)
    else:
        nd = docs.agg(F.count("*").alias("__nd"))
        thr = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.col("__nd").cast("double") * F.lit(float(rare_df_frac))
            ).cast("long"),
        )
        kept = (
            gdf.crossJoin(F.broadcast(nd))
            .filter(F.col("__gdf") <= thr)
            .select("__g", "__gdf")
        )
    rare = shingles.join(kept, "__g")
    return (
        rare.alias("a")
        .join(rare.alias("b"), "__g")
        .filter(F.col("a.__d") < F.col("b.__d"))
        .select(
            F.col("a.__d").alias("__da"), F.col("b.__d").alias("__db")
        )
        .distinct()
    )


def tfidf_topk_similar(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    rare_df: int | None = 32,
    idf_scale: int = 1000,
    block_ngram: int = 3,
    rare_df_frac: float | None = None,
    min_cand_per_doc: float | None = None,
) -> DataFrame:
    """Top-``k`` most TF-IDF-cosine-similar documents per document,
    with RARE-SHINGLE BLOCKING: candidate pairs are docs sharing at
    least one ``block_ngram``-token shingle with document frequency <=
    ``rare_df``; the cosine is then the FULL unigram-TF-IDF weighted
    dot over all shared terms. Blocking on shingles (not unigrams)
    matters whenever the vocabulary is small relative to the corpus —
    every WORD is common, but word SEQUENCES stay discriminative (the
    fixture corpus is the extreme: 31 distinct words, no rare
    unigrams, yet trigram dfs are median-1). ``block_ngram=1``
    degrades to plain rare-term blocking. The recall contract is
    explicit (same family as LSH banding): a pair sharing only common
    shingles is not a candidate — while the blocking keeps the pair
    space scaling with rare-shingle coincidence, not corpus size
    squared (a shingle's posting list contributes at most
    rare_df*(rare_df-1)/2 candidate pairs). The recall is MEASURED,
    not asserted (round 11): :func:`tfidf_block_recall` /
    registry query ``tfidf_block_recall``; BASELINE.md records the
    numbers, including that an ABSOLUTE rare_df is scale-stable only
    under Heaps-law vocabulary growth — on a bounded vocabulary the
    shingle dfs shift up with corpus size and recall decays. Both
    halves are now MEASURED on both corpus shapes (round-12 organic-
    vocabulary audit, BASELINE.md): on a Zipf/Heaps corpus the
    absolute cut holds recall 1.0 at 1x and 10x with ~constant
    candidates/doc, while on the bounded fixture it collapses — and
    the corpus-relative cut inverts (overshoots on organic, rescues
    on bounded). When the truth metric is bag-overlap rather than
    sequence-overlap, prefer MinHash-LSH, whose banded recall is
    threshold-free by construction.

    Round-12 guards for exactly that hazard: ``rare_df_frac`` selects
    a CORPUS-RELATIVE threshold (df <= max(1, ceil(n_docs * frac)),
    exclusive with ``rare_df``), and ``min_cand_per_doc`` is a runtime
    VACUITY floor — when set, the operator counts its own candidate
    pairs (1-row aggregate over the already-materialized candidate
    table) and RAISES when candidates/doc falls below the floor,
    instead of returning a silently near-empty result that reads as
    "no duplicates" (the measured sf0.1 failure: 1.08 cand/doc vs
    20.5 at sf0.01 with the same rare_df=4). The trap fires through a
    guard row unioned into the plan, so it raises even when the
    result itself is empty; identical trap in the SQL mirror.

    Exactness: weights are integer TF-IDF (see tfidf_doc_vectors), the
    dot is an exact int64 sum, norms are exact int64 sums of squares,
    and cosine is milli-quantized: round(dot / sqrt(na*nb) * 1000) —
    int-to-double conversions are exact below 2^53 and sqrt/division
    are correctly rounded, so both engines compute the identical
    integer.

    Scale shape: explode + hash aggregates for vectors; the candidate
    join is keyed on rare terms only (bounded postings); the dot
    verify joins the candidate pair list back to the two doc vectors
    (per-pair cost = doc length, narrow rows — the
    pair_overlap_counts discipline from operators/neardup.py: no
    vectors ever attached to pairs). Returns (id, sim_id, cos_milli,
    rank) for both directions of each pair, dot > 0.
    """
    if k <= 0 or block_ngram < 1:
        raise ValueError(
            f"k, block_ngram must be positive: {k}, {block_ngram}"
        )
    _check_rare_threshold(rare_df, rare_df_frac, "tfidf_topk_similar")
    if min_cand_per_doc is not None and min_cand_per_doc < 0:
        raise ValueError(
            f"min_cand_per_doc must be >= 0, got {min_cand_per_doc}"
        )
    w = tfidf_doc_vectors(
        docs, id_col, text_col, min_df=1, idf_scale=idf_scale
    ).localCheckpoint()
    norms = w.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("__n2")
    )
    cand = tfidf_block_candidates(
        docs,
        id_col,
        text_col,
        rare_df=rare_df,
        block_ngram=block_ngram,
        rare_df_frac=rare_df_frac,
    )
    if min_cand_per_doc is not None:
        # the vacuity stats must not recompute the blocking join —
        # checkpoint the (bounded, pair-space) candidate table once
        # for its two consumers (dot verify + 1-row count)
        cand = cand.localCheckpoint()
    wa = w.select(
        F.col(id_col).alias("__da"), "term", F.col("w").alias("__wa")
    )
    wb = w.select(
        F.col(id_col).alias("__db"), "term", F.col("w").alias("__wb")
    )
    dots = (
        cand.join(wa, "__da")
        .join(wb, ["__db", "term"])
        .groupBy("__da", "__db")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
        .filter(F.col("__dot") > 0)
    )
    both = dots.unionByName(
        dots.select(
            F.col("__db").alias("__da"),
            F.col("__da").alias("__db"),
            "__dot",
        )
    )
    na = norms.select(F.col(id_col).alias("__da"), F.col("__n2").alias("__na"))
    nb = norms.select(F.col(id_col).alias("__db"), F.col("__n2").alias("__nb"))
    cos = both.join(na, "__da").join(nb, "__db").select(
        "__da",
        "__db",
        F.round(
            F.col("__dot").cast("double")
            / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double"))
            * F.lit(1000.0)
        ).cast("long").alias("cos_milli"),
    )
    from pyspark.sql import Window

    rk = Window.partitionBy("__da").orderBy(
        F.desc("cos_milli"), F.col("__db")
    )
    result = (
        cos.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__da").alias(id_col),
            F.col("__db").alias(f"sim_{id_col}"),
            "cos_milli",
            F.col("rank").cast("int").alias("rank"),
        )
    )
    if min_cand_per_doc is None:
        return result
    # vacuity trap: a guard relation that is empty when the blocking
    # is healthy and raises when it is vacuous — unioned into the plan
    # so it fires even when the result itself has zero rows (the
    # failure mode IS near-emptiness)
    stats = cand.agg(F.count("*").alias("__ncand")).crossJoin(
        F.broadcast(docs.agg(F.count("*").alias("__ndocs")))
    )
    vacuous = F.col("__ncand").cast("double") < (
        F.col("__ndocs").cast("double") * F.lit(float(min_cand_per_doc))
    )
    msg = F.concat(
        F.lit("tfidf_topk_similar: blocking is VACUOUS — "),
        F.col("__ncand").cast("string"),
        F.lit(" candidate pairs over "),
        F.col("__ndocs").cast("string"),
        F.lit(
            f" docs is below min_cand_per_doc={float(min_cand_per_doc)}; "
            "the df threshold keeps too few shingles at this corpus "
            "size — raise rare_df, switch to rare_df_frac, or use "
            "MinHash-LSH if the truth metric is bag overlap"
        ),
    )
    trap = stats.filter(vacuous).select(
        *[
            (
                F.raise_error(msg).cast("long")
                if f.name == "cos_milli"
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in result.schema.fields
        ]
    )
    return result.unionByName(trap)


def tfidf_topk_similar_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    rare_df: int | None = 32,
    idf_scale: int = 1000,
    block_ngram: int = 3,
    rare_df_frac: float | None = None,
    min_cand_per_doc: float | None = None,
) -> str:
    """DuckDB mirror of :func:`tfidf_topk_similar`: same tokenization,
    same integer weights, same rare-shingle blocking (absolute OR
    corpus-relative threshold), same milli-quantized cosine, and the
    identical vacuity trap (an error() row selected from a 1-row
    stats CTE only when candidates/doc falls below the floor)."""
    _check_rare_threshold(rare_df, rare_df_frac, "tfidf_topk_similar_sql")
    ng = int(block_ngram)
    if rare_df_frac is None:
        thr = str(int(rare_df))
    else:
        thr = (
            f"(SELECT greatest(1, CAST(ceil(count(*) * "
            f"{float(rare_df_frac)!r}) AS BIGINT)) FROM tok)"
        )
    trap = ""
    if min_cand_per_doc is not None:
        m = float(min_cand_per_doc)
        trap = f"""
UNION ALL
SELECT NULL AS {id_col}, NULL AS sim_{id_col},
       CAST(error('tfidf_topk_similar: blocking is VACUOUS — '
            || CAST(s.ncand AS VARCHAR) || ' candidate pairs over '
            || CAST(s.ndocs AS VARCHAR)
            || ' docs is below min_cand_per_doc={m!r}; the df '
            || 'threshold keeps too few shingles at this corpus size '
            || '— raise rare_df, switch to rare_df_frac, or use '
            || 'MinHash-LSH if the truth metric is bag overlap')
         AS BIGINT) AS cos_milli,
       NULL AS rank
FROM (SELECT (SELECT count(*) FROM cand) AS ncand,
             (SELECT count(*) FROM tok) AS ndocs) s
WHERE CAST(s.ncand AS DOUBLE) < CAST(s.ndocs AS DOUBLE) * {m!r}"""
    return f"""
WITH tok AS (
  SELECT {id_col},
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), tf AS (
  SELECT {id_col}, unnest(t) AS term FROM tok
), tfc AS (
  SELECT {id_col}, term, count(*) AS tf FROM tf GROUP BY 1, 2
), dfc AS (
  SELECT term, count(*) AS df FROM tfc GROUP BY 1
), n AS (SELECT count(*) AS n FROM tok),
w AS (
  SELECT tfc.{id_col}, tfc.term, dfc.df,
         tfc.tf * CAST(round(ln(CAST(n.n AS DOUBLE)
                  / CAST(dfc.df AS DOUBLE)) * {idf_scale}.0) AS BIGINT)
           AS w
  FROM tfc JOIN dfc USING (term), n
), norms AS (
  SELECT {id_col}, sum(w * w) AS n2 FROM w GROUP BY 1
), sh AS (
  SELECT DISTINCT {id_col} AS d,
         unnest(list_transform(range(1, len(t) - {ng} + 2),
                i -> list_aggregate(list_slice(t, i, i + {ng} - 1),
                                    'string_agg', ' '))) AS g
  FROM tok
), rare AS (
  SELECT d, g FROM sh
  WHERE g IN (SELECT g FROM sh GROUP BY g HAVING count(*) <= {thr})
), cand AS (
  SELECT DISTINCT a.d AS da, b.d AS db
  FROM rare a JOIN rare b USING (g) WHERE a.d < b.d
), dots AS (
  SELECT c.da, c.db, sum(wa.w * wb.w) AS dot
  FROM cand c
  JOIN w wa ON wa.{id_col} = c.da
  JOIN w wb ON wb.{id_col} = c.db AND wb.term = wa.term
  GROUP BY 1, 2 HAVING sum(wa.w * wb.w) > 0
), sym AS (
  SELECT da, db, dot FROM dots
  UNION ALL SELECT db AS da, da AS db, dot FROM dots
), cos AS (
  SELECT b.da, b.db,
         CAST(round(CAST(b.dot AS DOUBLE)
              / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
              * 1000.0) AS BIGINT) AS cos_milli
  FROM sym b
  JOIN norms na ON na.{id_col} = b.da
  JOIN norms nb ON nb.{id_col} = b.db
), ranked AS (
  SELECT da, db, cos_milli,
         CAST(row_number() OVER (PARTITION BY da
              ORDER BY cos_milli DESC, db) AS INTEGER) AS rank
  FROM cos
)
SELECT da AS {id_col}, db AS sim_{id_col}, cos_milli, rank
FROM ranked WHERE rank <= {k}{trap}
"""


def tfidf_blocking_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    rare_df: int | None = None,
    rare_df_frac: float | None = None,
    block_ngram: int = 3,
) -> DataFrame:
    """The PINNED vacuity stat for :func:`tfidf_topk_similar`'s
    blocking (round-12, VERDICT r11 task 1): one row with the corpus
    size, the EFFECTIVE df threshold (absolute, or the resolved
    corpus-relative cut), the candidate-pair count the shipped
    generator produces, and milli-quantized candidates-per-doc — the
    number a caller compares against a plausibility floor BEFORE
    trusting a near-empty similarity result. Cheap by construction:
    the candidate generator is the operator's own bounded blocking
    join; everything after it is a 1-row aggregate.

    Returns (n_docs, threshold_df, n_cand, cand_per_doc_milli)."""
    _check_rare_threshold(rare_df, rare_df_frac, "tfidf_blocking_stats")
    cand = tfidf_block_candidates(
        docs,
        id_col,
        text_col,
        rare_df=rare_df,
        block_ngram=block_ngram,
        rare_df_frac=rare_df_frac,
    )
    nd = docs.agg(F.count("*").alias("n_docs"))
    if rare_df_frac is None:
        thr = F.lit(int(rare_df)).cast("long")
    else:
        thr = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.col("n_docs").cast("double") * F.lit(float(rare_df_frac))
            ).cast("long"),
        )
    return (
        cand.agg(F.count("*").alias("n_cand"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            thr.alias("threshold_df"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.round(
                F.col("n_cand").cast("double")
                / F.col("n_docs").cast("double")
                * F.lit(1000.0)
            )
            .cast("long")
            .alias("cand_per_doc_milli"),
        )
    )


def tfidf_blocking_stats_sql(
    table: str,
    id_col: str,
    text_col: str,
    rare_df: int | None = None,
    rare_df_frac: float | None = None,
    block_ngram: int = 3,
) -> str:
    """DuckDB mirror of :func:`tfidf_blocking_stats`: identical
    tokenization/shingling/threshold resolution, identical 1-row
    output."""
    _check_rare_threshold(rare_df, rare_df_frac, "tfidf_blocking_stats_sql")
    ng = int(block_ngram)
    if rare_df_frac is None:
        thr = str(int(rare_df))
        thr_out = f"CAST({int(rare_df)} AS BIGINT)"
    else:
        thr = (
            f"(SELECT greatest(1, CAST(ceil(count(*) * "
            f"{float(rare_df_frac)!r}) AS BIGINT)) FROM tok)"
        )
        thr_out = thr
    return f"""
WITH tok AS (
  SELECT {id_col},
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), sh AS (
  SELECT DISTINCT {id_col} AS d,
         unnest(list_transform(range(1, len(t) - {ng} + 2),
                i -> list_aggregate(list_slice(t, i, i + {ng} - 1),
                                    'string_agg', ' '))) AS g
  FROM tok
), rare AS (
  SELECT d, g FROM sh
  WHERE g IN (SELECT g FROM sh GROUP BY g HAVING count(*) <= {thr})
), cand AS (
  SELECT DISTINCT a.d AS da, b.d AS db
  FROM rare a JOIN rare b USING (g) WHERE a.d < b.d
)
SELECT CAST((SELECT count(*) FROM tok) AS BIGINT) AS n_docs,
       {thr_out} AS threshold_df,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       CAST(round(CAST((SELECT count(*) FROM cand) AS DOUBLE)
            / CAST((SELECT count(*) FROM tok) AS DOUBLE) * 1000.0)
         AS BIGINT) AS cand_per_doc_milli
"""


def _doc_hash(c: Column) -> Column:
    """md5-hex -> int64 (the repo's standard cross-engine hash; same
    construction as neardup._pair_hash but over a single id)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def tfidf_block_recall(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    rare_df: int,
    sim_milli: int = 500,
    sample_mod: int = 8,
    block_ngram: int = 3,
    idf_scale: int = 1000,
    max_sample_docs: int = 20_000,
) -> DataFrame:
    """MEASURED blocking recall for :func:`tfidf_topk_similar`
    (round-11, VERDICT r10 task 4): the operator's recall contract
    ("pairs sharing only common shingles are not candidates") was
    documented but never measured — unlike MinHash, which pins
    recall >= 0.9 via its sampled eval. This closes that asymmetry.

    Construction: a deterministic 1/``sample_mod`` doc sample (md5
    hash of the id — identical in the DuckDB mirror), EXACT all-pairs
    unigram-TF-IDF cosine among the sampled docs as ground truth
    (weights/idf/norms computed on the FULL corpus, so the truth uses
    exactly the operator's scoring), and the SHIPPED candidate
    generator (:func:`tfidf_block_candidates` — full-corpus shingle
    dfs) restricted to sampled endpoints. True pair = cos_milli >=
    ``sim_milli``. Recall estimate = |true ∩ candidates| / |true|;
    sampling docs (not pairs) keeps both sides of the ratio defined
    over the same pair population, and by hash-uniformity the estimate
    is unbiased for the corpus recall at this threshold.

    TWO recalls are reported, because the blocker's misses decompose
    into two different facts (measured on the sf0.01 fixture, round
    11): (a) true pairs sharing NO ``block_ngram``-shingle at all —
    unreachable by ANY shingle blocker at any df threshold; on a
    vocabulary-degenerate corpus (the fixture's 31 words) most high
    unigram-cosine pairs are frequency coincidence with zero shared
    sequences, so overall ``recall_milli`` is LOW by corpus shape
    (238 at cos>=0.8), not by blocking choice; (b) within the
    REACHABLE truth (pairs sharing >= 1 shingle, ``n_true_seq``),
    the df <= rare_df rarity cut is the operator's actual trade —
    ``seq_recall_milli`` pins it (909 at cos>=0.8, the same >=0.9
    rung as the MinHash recall pin).

    Scale: everything except the ground truth is the operator's own
    linear machinery; the exact side is O((n/sample_mod)^2) BY
    DEFINITION (it is the eval), distributed through a term-keyed
    join, and loudly guarded at ``max_sample_docs`` sampled docs —
    raise ``sample_mod`` to take the eval to bigger corpora (the same
    escape hatch as sampled_ground_truth_pairs).

    Returns ONE row: (n_docs_sampled, n_true_pairs, n_true_seq,
    n_blocked_true, n_cand_sampled, recall_milli, seq_recall_milli).
    The recalls are NULL when their denominator is empty (vacuity
    surfaces as NULL, not 1000 — the fixture-shape lesson from the
    round-10 unigram audit).
    """
    if rare_df < 1 or block_ngram < 1:
        raise ValueError("rare_df/block_ngram must be positive")
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    sampled = docs.filter(
        F.pmod(_doc_hash(F.col(id_col)), F.lit(sample_mod)) == 0
    )
    n_sampled = sampled.count()
    if n_sampled > max_sample_docs:
        raise ValueError(
            f"tfidf_block_recall: {n_sampled} sampled docs exceed the "
            f"exact-eval guard ({max_sample_docs}); raise sample_mod"
        )
    w = tfidf_doc_vectors(
        docs, id_col, text_col, min_df=1, idf_scale=idf_scale
    ).localCheckpoint()
    norms = w.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("__n2")
    )
    in_sample = F.pmod(_doc_hash(F.col(id_col)), F.lit(sample_mod)) == 0
    ws = w.filter(in_sample)
    wa = ws.select(
        F.col(id_col).alias("__da"), "term", F.col("w").alias("__wa")
    )
    wb = ws.select(
        F.col(id_col).alias("__db"), "term", F.col("w").alias("__wb")
    )
    dots = (
        wa.join(wb, "term")
        .filter(F.col("__da") < F.col("__db"))
        .groupBy("__da", "__db")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
        .filter(F.col("__dot") > 0)
    )
    na = norms.select(F.col(id_col).alias("__da"), F.col("__n2").alias("__na"))
    nb = norms.select(F.col(id_col).alias("__db"), F.col("__n2").alias("__nb"))
    true_pairs = (
        dots.join(na, "__da")
        .join(nb, "__db")
        .select(
            "__da",
            "__db",
            F.round(
                F.col("__dot").cast("double")
                / F.sqrt(
                    F.col("__na").cast("double")
                    * F.col("__nb").cast("double")
                )
                * F.lit(1000.0)
            ).cast("long").alias("__cos"),
        )
        .filter(F.col("__cos") >= F.lit(int(sim_milli)))
    )
    cand = tfidf_block_candidates(
        docs, id_col, text_col, rare_df=rare_df, block_ngram=block_ngram
    ).filter(
        (F.pmod(_doc_hash(F.col("__da")), F.lit(sample_mod)) == 0)
        & (F.pmod(_doc_hash(F.col("__db")), F.lit(sample_mod)) == 0)
    )
    # reachable truth: pairs sharing >= 1 shingle of ANY df — the
    # ceiling of every shingle blocker; computed within the sample
    # only (same O((n/mod)^2) eval envelope as the exact side)
    reach = tfidf_block_candidates(
        sampled,
        id_col,
        text_col,
        rare_df=2_147_483_647,
        block_ngram=block_ngram,
    )
    hits = true_pairs.join(cand, ["__da", "__db"], "left_semi")
    seq_true = true_pairs.join(reach, ["__da", "__db"], "left_semi")
    t = true_pairs.agg(F.count("*").alias("n_true_pairs"))
    ts = seq_true.agg(F.count("*").alias("n_true_seq"))
    h = hits.agg(F.count("*").alias("n_blocked_true"))
    c = cand.agg(F.count("*").alias("n_cand_sampled"))

    def _ratio(num: str, den: str) -> Column:
        return F.round(
            F.col(num) * F.lit(1000.0)
            / F.nullif(F.col(den), F.lit(0)).cast("double")
        ).cast("long")

    return (
        t.crossJoin(F.broadcast(ts))
        .crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(c))
        .select(
            F.lit(int(n_sampled)).cast("long").alias("n_docs_sampled"),
            "n_true_pairs",
            "n_true_seq",
            "n_blocked_true",
            "n_cand_sampled",
            _ratio("n_blocked_true", "n_true_pairs").alias("recall_milli"),
            _ratio("n_blocked_true", "n_true_seq").alias(
                "seq_recall_milli"
            ),
        )
    )


def tfidf_block_recall_sql(
    table: str,
    id_col: str,
    text_col: str,
    rare_df: int,
    sim_milli: int = 500,
    sample_mod: int = 8,
    block_ngram: int = 3,
    idf_scale: int = 1000,
) -> str:
    """DuckDB mirror of :func:`tfidf_block_recall`: identical md5 doc
    sample, identical full-corpus integer weights, identical exact
    cosine and candidate generation, identical quantization."""
    ng = int(block_ngram)
    h = (
        f"('0x' || substr(md5(CAST({{c}} AS VARCHAR)), 1, 15))::BIGINT"
        f" % {sample_mod}"
    )
    return f"""
WITH tok AS (
  SELECT {id_col},
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), tf AS (
  SELECT {id_col}, unnest(t) AS term FROM tok
), tfc AS (
  SELECT {id_col}, term, count(*) AS tf FROM tf GROUP BY 1, 2
), dfc AS (
  SELECT term, count(*) AS df FROM tfc GROUP BY 1
), n AS (SELECT count(*) AS n FROM tok),
w AS (
  SELECT tfc.{id_col}, tfc.term,
         tfc.tf * CAST(round(ln(CAST(n.n AS DOUBLE)
                  / CAST(dfc.df AS DOUBLE)) * {idf_scale}.0) AS BIGINT)
           AS w
  FROM tfc JOIN dfc USING (term), n
), norms AS (
  SELECT {id_col}, sum(w * w) AS n2 FROM w GROUP BY 1
), ws AS (
  SELECT * FROM w WHERE {h.format(c=id_col)} = 0
), dots AS (
  SELECT a.{id_col} AS da, b.{id_col} AS db, sum(a.w * b.w) AS dot
  FROM ws a JOIN ws b ON b.term = a.term AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2 HAVING sum(a.w * b.w) > 0
), true_pairs AS (
  SELECT d.da, d.db
  FROM dots d
  JOIN norms na ON na.{id_col} = d.da
  JOIN norms nb ON nb.{id_col} = d.db
  WHERE CAST(round(CAST(d.dot AS DOUBLE)
        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
        * 1000.0) AS BIGINT) >= {int(sim_milli)}
), sh AS (
  SELECT DISTINCT {id_col} AS d,
         unnest(list_transform(range(1, len(t) - {ng} + 2),
                i -> list_aggregate(list_slice(t, i, i + {ng} - 1),
                                    'string_agg', ' '))) AS g
  FROM tok
), rare AS (
  SELECT d, g FROM sh
  WHERE g IN (SELECT g FROM sh GROUP BY g HAVING count(*) <= {rare_df})
), cand AS (
  SELECT DISTINCT a.d AS da, b.d AS db
  FROM rare a JOIN rare b USING (g) WHERE a.d < b.d
), cand_s AS (
  SELECT da, db FROM cand
  WHERE {h.format(c='da')} = 0 AND {h.format(c='db')} = 0
), reach AS (
  SELECT DISTINCT a.d AS da, b.d AS db
  FROM sh a JOIN sh b USING (g)
  WHERE a.d < b.d
    AND {h.format(c='a.d')} = 0 AND {h.format(c='b.d')} = 0
), counts AS (
  SELECT
    (SELECT count(*) FROM tok WHERE {h.format(c=id_col)} = 0)
      AS n_docs_sampled,
    (SELECT count(*) FROM true_pairs) AS n_true_pairs,
    (SELECT count(*) FROM true_pairs t
      WHERE EXISTS (SELECT 1 FROM reach r
                    WHERE r.da = t.da AND r.db = t.db))
      AS n_true_seq,
    (SELECT count(*) FROM true_pairs t
      WHERE EXISTS (SELECT 1 FROM cand_s c
                    WHERE c.da = t.da AND c.db = t.db))
      AS n_blocked_true,
    (SELECT count(*) FROM cand_s) AS n_cand_sampled
)
SELECT CAST(n_docs_sampled AS BIGINT) AS n_docs_sampled,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_true_seq AS BIGINT) AS n_true_seq,
       CAST(n_blocked_true AS BIGINT) AS n_blocked_true,
       CAST(n_cand_sampled AS BIGINT) AS n_cand_sampled,
       CAST(round(n_blocked_true * 1000.0
            / CAST(NULLIF(n_true_pairs, 0) AS DOUBLE)) AS BIGINT)
         AS recall_milli,
       CAST(round(n_blocked_true * 1000.0
            / CAST(NULLIF(n_true_seq, 0) AS DOUBLE)) AS BIGINT)
         AS seq_recall_milli
FROM counts
"""


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    rank_col: str = "rank",
    k0: int = 60,
    k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009 — the
    standard hybrid-retrieval combiner, e.g. BM25 + dense/structural
    rankings in RAG stacks): every input ranking contributes
    1/(k0 + rank) per document; documents missing from a ranking
    contribute nothing from it. Emits (id, n_lists, rrf_micro, rank)
    re-ranked by fused score (ties broken on id), optionally truncated
    to top-``k``.

    Exactness: each contribution is ONE correctly-rounded double
    division of exact small integers, the fused score a fixed-order
    sum over at most len(rankings) terms (sum aggregate order is made
    deterministic by summing per-source contributions built from a
    union in list order and grouping — addition over <= a handful of
    doubles whose exponents are near-equal is associative-safe here
    because every term is an exact ratio with denominator < 2^11 and
    the sum is micro-quantized; a 1-ulp association difference cannot
    move round(x*1e6) except on exact .5 boundaries, the same accepted
    rung as bm25). Scale: inputs are already top-k-sized; the fuse is
    a union + one grouped sum — driver-free, broadcast-free.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k is not None and k <= 0:
        raise ValueError(f"k must be positive (or None for all), got {k}")
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
            ).alias("__contrib"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    fused = tagged.groupBy(id_col).agg(
        F.count("*").alias("n_lists"),
        F.round(F.sum("__contrib") * F.lit(1e6)).cast("long").alias(
            "rrf_micro"
        ),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("rrf_micro"), F.col(id_col))
    out = fused.withColumn(
        "rank", F.row_number().over(w).cast("int")
    )
    return out.filter(F.col("rank") <= k) if k is not None else out


def rrf_fuse_sql(
    ranking_selects: list[str],
    id_col: str,
    rank_col: str = "rank",
    k0: int = 60,
    k: int | None = None,
) -> str:
    """DuckDB mirror of :func:`rrf_fuse`: each ``ranking_selects``
    entry must yield (id_col, rank_col)."""
    if k is not None and k <= 0:
        raise ValueError(f"k must be positive (or None for all), got {k}")
    unions = " UNION ALL ".join(
        f"SELECT {id_col}, 1.0 / ({k0}.0 + CAST({rank_col} AS DOUBLE)) "
        f"AS contrib FROM ({sel})"
        for sel in ranking_selects
    )
    limit = f"WHERE rank <= {k}" if k is not None else ""
    return f"""
WITH contribs AS ({unions}),
fused AS (
  SELECT {id_col}, count(*) AS n_lists,
         CAST(round(sum(contrib) * 1e6) AS BIGINT) AS rrf_micro
  FROM contribs GROUP BY 1
),
ranked AS (
  SELECT {id_col}, CAST(n_lists AS BIGINT) AS n_lists, rrf_micro,
         CAST(row_number() OVER (ORDER BY rrf_micro DESC, {id_col})
              AS INTEGER) AS rank
  FROM fused
)
SELECT * FROM ranked {limit}
"""
