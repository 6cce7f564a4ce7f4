"""Corpus language-model scoring (LLM-data-pipeline extension).

CCNet-style quality filtering ranks documents by perplexity under a
language model trained on the corpus (or a reference corpus). Real
pipelines use a KenLM 5-gram; the distributed mechanics — train token
statistics over the whole corpus, then score every document against
them — are engine work, and that is what this module implements with a
UNIGRAM model whose results an ANSI-SQL oracle can reproduce exactly.

Mean surprisal of document d: ``ln(total) - (Σ_t n_dt · ln(c_t)) / L``
where ``c_t`` is the corpus count of term t, ``total`` the corpus token
count and ``L`` the document length. High surprisal = tokens the corpus
rarely uses (gibberish / OCR noise); suspiciously low surprisal =
boilerplate made of the corpus's most common tokens.

Numerics: the weighted ``ln`` sum is order-dependent at the last-ulp
level (and JVM vs libm ``ln`` differ by 1 ulp on ~4% of arguments), so
the score is emitted milli-scaled (``round(x*1000)::bigint``, ~1e-9
accumulated error vs a 1e-3 quantum) — bit-stable across engines and
shuffle orders while keeping milli-nat resolution.

Scale: explode → two hash aggregates (term stats, per-doc fold) + one
shuffle join on term; the 1-row corpus total rides a broadcast
crossJoin. Nothing driver-side, nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..execution import fan_out
from ..functions.text import tokens


def unigram_surprisal(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document mean unigram surprisal in milli-nats.

    Returns ``(id_col, n_tokens, n_terms, mean_surprisal_milli)``.
    """
    # tokenize+explode evaluate in the input's partitioning — one task
    # on a single-row-group scan (guide §2.5); no-op at real scale
    docs = fan_out(docs)
    dt = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("__term"))
        .groupBy(id_col, "__term")
        .agg(F.count("*").alias("__n_dt"))
    )
    vocab = dt.groupBy("__term").agg(F.sum("__n_dt").alias("__c_t"))
    total = vocab.agg(F.sum("__c_t").alias("__total"))
    per_doc = (
        dt.join(vocab, "__term")
        .groupBy(id_col)
        .agg(
            F.sum("__n_dt").alias("n_tokens"),
            F.count("*").alias("n_terms"),
            F.sum(
                F.col("__n_dt").cast("double")
                * F.log(F.col("__c_t").cast("double"))
            ).alias("__sum_ln"),
        )
    )
    mean = (
        F.log(F.col("__total").cast("double"))
        - F.col("__sum_ln") / F.col("n_tokens").cast("double")
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        "n_terms",
        F.round(mean * 1000.0).cast("long").alias("mean_surprisal_milli"),
    )


def unigram_surprisal_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB mirror of :func:`unigram_surprisal`."""
    return f"""
WITH tok AS (
  SELECT {id_col},
         unnest(regexp_split_to_array(lower(trim({text_col})), '\\s+')) AS term
  FROM {table}
), dt AS (
  SELECT {id_col}, term, count(*) AS n_dt FROM tok GROUP BY 1, 2
), vocab AS (
  SELECT term, sum(n_dt) AS c_t FROM dt GROUP BY 1
), tot AS (
  SELECT sum(c_t) AS total FROM vocab
), per_doc AS (
  SELECT d.{id_col},
         CAST(sum(d.n_dt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_terms,
         sum(CAST(d.n_dt AS DOUBLE) * ln(CAST(v.c_t AS DOUBLE))) AS sum_ln
  FROM dt d JOIN vocab v USING (term)
  GROUP BY 1
)
SELECT {id_col}, n_tokens, n_terms,
       CAST(round((ln(CAST(total AS DOUBLE))
                   - sum_ln / CAST(n_tokens AS DOUBLE)) * 1000.0) AS BIGINT)
         AS mean_surprisal_milli
FROM per_doc, tot
"""


def bigram_surprisal(
    docs: DataFrame, id_col: str, text_col: str, alpha: int = 1
) -> DataFrame:
    """Per-document mean BIGRAM surprisal in milli-nats under an
    add-``alpha``-smoothed corpus bigram model — one context order up
    from :func:`unigram_surprisal`, and the shape real CCNet/KenLM
    scoring takes (condition on the previous token; repetitive
    templated text scores LOW, shuffled-word salad scores HIGH even
    when its unigram mix is normal).

    Per bigram occurrence (u, v):
    ``surprisal = ln(c_u + alpha*V) - ln(c_uv + alpha)`` where ``c_uv``
    is the corpus bigram count, ``c_u`` the corpus count of u AS A
    BIGRAM PREFIX, and ``V`` the corpus unigram vocabulary size (the
    smoothing denominator). Integer count arithmetic everywhere; the
    same milli-scaling contract as unigram_surprisal absorbs last-ulp
    ``ln``/sum-order divergence.

    Scale shape: bigram extraction is a map-side shingle; then two
    hash aggregates (per-doc bigram counts, corpus bigram counts), one
    join keyed by bigram, one join keyed by prefix token, and a 1-row
    vocabulary count broadcast — the identical shuffle skeleton as the
    unigram model, just keyed one order higher. Returns
    (id_col, n_bigrams, n_distinct_bigrams, mean_surprisal_milli);
    single-token docs (no bigrams) are absent by construction.
    """
    from ..functions.text import tokens, word_shingles

    # tokenize+shingle+explode evaluate in the input's partitioning —
    # one task on a single-row-group scan (guide §2.5)
    toks = fan_out(docs).select(F.col(id_col), tokens(text_col).alias("__t"))
    db = (
        toks.select(
            F.col(id_col), F.explode(word_shingles("__t", 2)).alias("__bg")
        )
        .groupBy(id_col, "__bg")
        .agg(F.count("*").alias("__n_db"))
    )
    big = db.groupBy("__bg").agg(F.sum("__n_db").alias("__c_uv"))
    prefix = big.select(
        F.split(F.col("__bg"), " ").getItem(0).alias("__u"), "__c_uv"
    ).groupBy("__u").agg(F.sum("__c_uv").alias("__c_u"))
    vocab = (
        toks.select(F.explode("__t").alias("__w"))
        .agg(F.count_distinct("__w").alias("__v"))
    )
    scored = (
        db.join(big.hint("merge"), "__bg")
        .withColumn("__u", F.split(F.col("__bg"), " ").getItem(0))
        .join(prefix.hint("merge"), "__u")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__s",
            F.log(
                (F.col("__c_u") + F.lit(alpha) * F.col("__v")).cast("double")
            )
            - F.log((F.col("__c_uv") + F.lit(alpha)).cast("double")),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__n_db").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
        F.round(
            (
                F.sum(F.col("__n_db").cast("double") * F.col("__s"))
                / F.sum("__n_db").cast("double")
            )
            * 1000.0
        )
        .cast("long")
        .alias("mean_surprisal_milli"),
    )


def bigram_surprisal_sql(
    table: str, id_col: str, text_col: str, alpha: int = 1
) -> str:
    """DuckDB mirror of :func:`bigram_surprisal` (same tokenization as
    unigram_surprisal_sql; bigram strings joined with one space)."""
    return f"""
WITH toks AS (
  SELECT {id_col},
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), bg AS (
  SELECT {id_col},
         t[i] || ' ' || t[i + 1] AS bg
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), db AS (
  SELECT {id_col}, bg, count(*) AS n_db FROM bg GROUP BY 1, 2
), big AS (
  SELECT bg, sum(n_db) AS c_uv FROM db GROUP BY 1
), prefix AS (
  SELECT string_split(bg, ' ')[1] AS u, sum(c_uv) AS c_u
  FROM big GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM toks)
)
SELECT d.{id_col},
       CAST(sum(d.n_db) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(round(
         sum(CAST(d.n_db AS DOUBLE)
             * (ln(CAST(b.c_u + {alpha} * vocab.v AS DOUBLE))
                - ln(CAST(g.c_uv + {alpha} AS DOUBLE))))
         / sum(CAST(d.n_db AS DOUBLE)) * 1000.0) AS BIGINT)
           AS mean_surprisal_milli
FROM db d
JOIN big g USING (bg)
JOIN prefix b ON b.u = string_split(d.bg, ' ')[1]
CROSS JOIN vocab
GROUP BY 1
"""


def dsir_log_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_pred,
    n_hex: int = 4,
    alpha: int = 1,
) -> DataFrame:
    """DSIR-style importance weights for domain-targeted data selection
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every document by how much more
    likely its HASHED n-gram features are under a target-domain bag
    model than under the raw-corpus model, then resample/top-k on the
    weight. This is the standard "make 100 TB of crawl look like the
    curated domain" selection pass.

    Features are bigrams hashed to ``16**n_hex`` buckets via the
    repo's cross-engine convention (first ``n_hex`` hex chars of md5 —
    the bucket id stays a STRING, portable bit-for-bit to any
    md5-bearing engine). Per bucket b with add-``alpha`` smoothing:

        lr(b) = (ln(c_t[b]+α) − ln(N_t+α·B)) − (ln(c_s[b]+α) − ln(N_s+α·B))

    where c_t/N_t count bigram occurrences in the TARGET slice
    (``target_pred`` rows) and c_s/N_s over the whole corpus;
    ``log_weight_milli = round(1000 · Σ_b n_doc[b] · lr(b))`` — the
    module's milli-scaling contract absorbs last-ulp ``ln``/sum-order
    divergence, so the oracle matches bit-for-bit.

    Scale shape: one map-side explode + md5, three hash aggregates
    (per-doc bucket counts, target bucket counts, corpus bucket
    counts — the latter two are at most B ≈ 65k rows, broadcastable),
    one 1-row totals broadcast, and a per-doc fold. Nothing is
    pair-proportional; the bucket tables are CONSTANT-sized however
    big the corpus. Docs with no bigrams are absent by construction.
    Returns (id_col, n_bigrams, n_buckets, log_weight_milli).
    """
    from ..functions.text import word_shingles

    B = 16 ** n_hex
    # tokenize+shingle+md5 evaluate in the input's partitioning — one
    # task on a single-row-group scan (guide §2.5)
    docs = fan_out(docs)
    toks = docs.select(
        F.col(id_col),
        F.coalesce(target_pred, F.lit(False)).alias("__is_t"),
        tokens(text_col).alias("__t"),
    )
    feats = toks.select(
        F.col(id_col),
        "__is_t",
        F.explode(word_shingles("__t", 2)).alias("__bg"),
    ).select(
        F.col(id_col),
        "__is_t",
        F.substring(F.md5("__bg"), 1, n_hex).alias("__b"),
    )
    per_doc = feats.groupBy(id_col, "__b").agg(F.count("*").alias("__n"))
    corpus = feats.groupBy("__b").agg(
        F.count("*").alias("__cs"),
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("__ct"),
    )
    totals = corpus.agg(
        F.sum("__cs").alias("__ns"), F.sum("__ct").alias("__nt")
    )
    lr = (
        F.log((F.col("__ct") + F.lit(alpha)).cast("double"))
        - F.log((F.col("__nt") + F.lit(alpha * B)).cast("double"))
    ) - (
        F.log((F.col("__cs") + F.lit(alpha)).cast("double"))
        - F.log((F.col("__ns") + F.lit(alpha * B)).cast("double"))
    )
    scored = (
        per_doc.join(F.broadcast(corpus), "__b")
        .crossJoin(F.broadcast(totals))
        .withColumn("__lr", lr)
    )
    return scored.groupBy(id_col).agg(
        F.sum("__n").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_buckets"),
        F.round(
            F.sum(F.col("__n").cast("double") * F.col("__lr")) * 1000.0
        )
        .cast("long")
        .alias("log_weight_milli"),
    )


def dsir_log_weights_sql(
    table: str,
    id_col: str,
    text_col: str,
    target_where: str,
    n_hex: int = 4,
    alpha: int = 1,
) -> str:
    """DuckDB mirror of :func:`dsir_log_weights` — same tokenization,
    same md5-prefix bucketing, same term-for-term ln arithmetic.
    ``target_where`` is the SQL predicate defining the target slice."""
    B = 16 ** n_hex
    return f"""
WITH toks AS (
  SELECT {id_col},
         coalesce(({target_where}), false) AS is_t,
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), feats AS (
  SELECT {id_col}, is_t,
         substring(md5(t[i] || ' ' || t[i + 1]), 1, {n_hex}) AS b
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), per_doc AS (
  SELECT {id_col}, b, count(*) AS n FROM feats GROUP BY 1, 2
), corpus AS (
  SELECT b, count(*) AS cs,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
  FROM feats GROUP BY 1
), totals AS (
  SELECT sum(cs) AS ns, sum(ct) AS nt FROM corpus
)
SELECT d.{id_col},
       CAST(sum(d.n) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(round(sum(CAST(d.n AS DOUBLE)
           * ((ln(CAST(c.ct + {alpha} AS DOUBLE))
               - ln(CAST(t.nt + {alpha * B} AS DOUBLE)))
              - (ln(CAST(c.cs + {alpha} AS DOUBLE))
                 - ln(CAST(t.ns + {alpha * B} AS DOUBLE)))))
           * 1000.0) AS BIGINT) AS log_weight_milli
FROM per_doc d
JOIN corpus c USING (b)
CROSS JOIN totals t
GROUP BY 1
"""


def kn_bigram_surprisal(
    docs_score: DataFrame,
    docs_train: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document mean bigram surprisal in milli-nats under an
    INTERPOLATED KNESER-NEY bigram model trained on a separate slice —
    the real CCNet recipe (train KenLM on a trusted corpus, score the
    crawl; here the model order is 2 and the engine mechanics are the
    point). Reference scope: the etl-spark reference has no LM scoring;
    this is a §7 LLM-pipeline extension alongside
    :func:`bigram_surprisal` (add-1), which KN strictly improves on:
    add-1 hammers frequent-but-narrow histories, KN discounts by a
    constant and redistributes mass by CONTINUATION fertility (how many
    distinct histories a word follows), the published fix for exactly
    that failure (Kneser & Ney 1995).

    For a scored bigram occurrence (u, v) with train statistics
    c(u,v), c(u) = Σ_v c(u,v), N1+(u,·) = |{v : c(u,v)>0}|,
    N1+(·,v) = |{u : c(u,v)>0}|, B = |{(u,v) : c(u,v)>0}|, V = train
    vocabulary size, and discount D = 0.75 (Chen & Goodman's default;
    exactly representable in binary):

      Pcont(v) = (N1+(·,v) + 1) / (B + V + 1)     -- add-1-smoothed
      P(v|u)   = max(c(u,v) - D, 0)/c(u)
                 + D·N1+(u,·)/c(u) · Pcont(v)      if c(u) > 0
      P(v|u)   = Pcont(v)                          if u unseen (full
                                                     backoff, λ = 1)

    The +1/+V+1 smoothing of the continuation distribution is the OOV
    escape (classic KN assigns unseen v probability 0); it reduces to
    textbook KN up to the normalizer and keeps every P strictly
    positive. Surprisal = -ln P, mean-weighted by occurrence count,
    emitted milli-scaled (same rung-4 contract as bigram_surprisal:
    ~1e-9 accumulated ln/sum-order error vs the 1e-3 quantum).

    Scale shape: train stats are three hash aggregates over the train
    bigram table (c_uv; per-prefix c_u+N1+fw; per-suffix N1+bw) plus a
    1-row (B, V) broadcast; scoring is the per-doc bigram aggregate
    left-joined to those tables on bigram / prefix / suffix. No
    windows, nothing quadratic, nothing driver-side; identical shuffle
    skeleton to bigram_surprisal plus one extra keyed join.

    Returns (id_col, n_bigrams, n_unseen_hist, n_unseen_bigram,
    kn_surprisal_milli); docs with <2 tokens are absent by
    construction.
    """
    from ..functions.text import tokens, word_shingles

    def _bigrams(docs: DataFrame) -> DataFrame:
        # tokenize+shingle+explode run in the input's partitioning —
        # one task on a single-row-group scan (guide §2.5)
        toks = fan_out(docs).select(
            F.col(id_col), tokens(text_col).alias("__t")
        )
        return toks.select(
            F.col(id_col), F.explode(word_shingles("__t", 2)).alias("__bg")
        )

    train_occ = _bigrams(docs_train)
    train_bg = train_occ.groupBy("__bg").agg(F.count("*").alias("__c_uv"))
    split_u = F.split(F.col("__bg"), " ").getItem(0)
    split_v = F.split(F.col("__bg"), " ").getItem(1)
    prefix = (
        train_bg.select(split_u.alias("__u"), "__c_uv")
        .groupBy("__u")
        .agg(
            F.sum("__c_uv").alias("__c_u"),
            F.count("*").alias("__n1fw"),
        )
    )
    suffix = (
        train_bg.select(split_v.alias("__v"))
        .groupBy("__v")
        .agg(F.count("*").alias("__n1bw"))
    )
    consts = train_bg.agg(F.count("*").alias("__b")).crossJoin(
        docs_train.select(
            F.explode(tokens(text_col)).alias("__w")
        ).agg(F.count_distinct("__w").alias("__vv"))
    )

    db = (
        _bigrams(docs_score)
        .groupBy(id_col, "__bg")
        .agg(F.count("*").alias("__n_db"))
    )
    joined = (
        db.join(train_bg.hint("merge"), "__bg", "left")
        .withColumn("__u", split_u)
        .withColumn("__v", split_v)
        .join(prefix.hint("merge"), "__u", "left")
        .join(suffix.hint("merge"), "__v", "left")
        .crossJoin(F.broadcast(consts))
    )
    # IEEE expression tree mirrored operator-for-operator in
    # kn_bigram_surprisal_sql -- do not reassociate on one side only.
    pcont = (F.coalesce(F.col("__n1bw"), F.lit(0)) + F.lit(1)).cast(
        "double"
    ) / (F.col("__b") + F.col("__vv") + F.lit(1)).cast("double")
    seen = F.greatest(
        F.coalesce(F.col("__c_uv"), F.lit(0)).cast("double") - F.lit(0.75),
        F.lit(0.0),
    ) / F.col("__c_u").cast("double") + F.lit(0.75) * F.col("__n1fw").cast(
        "double"
    ) / F.col("__c_u").cast("double") * pcont
    p = F.when(F.col("__c_u").isNull(), pcont).otherwise(seen)
    scored = joined.withColumn("__s", -F.log(p))
    return scored.groupBy(id_col).agg(
        F.sum("__n_db").cast("long").alias("n_bigrams"),
        F.sum(
            F.when(F.col("__c_u").isNull(), F.col("__n_db")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_unseen_hist"),
        F.sum(
            F.when(F.col("__c_uv").isNull(), F.col("__n_db")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_unseen_bigram"),
        F.round(
            (
                F.sum(F.col("__n_db").cast("double") * F.col("__s"))
                / F.sum("__n_db").cast("double")
            )
            * 1000.0
        )
        .cast("long")
        .alias("kn_surprisal_milli"),
    )


def kn_bigram_surprisal_sql(
    table: str, id_col: str, text_col: str, train_where: str
) -> str:
    """DuckDB mirror of :func:`kn_bigram_surprisal`: train slice =
    ``WHERE {train_where}`` of the same table, score slice = the whole
    table; identical tokenization and the identical IEEE expression
    tree (greatest / two divisions / interpolation, same
    parenthesization and operator order)."""
    return f"""
WITH toks AS (
  SELECT {id_col},
         coalesce(({train_where}), false) AS is_train,
         regexp_split_to_array(lower(trim({text_col})), '\\s+') AS t
  FROM {table}
), occ AS (
  SELECT {id_col}, is_train, t[i] || ' ' || t[i + 1] AS bg
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
), train_bg AS (
  SELECT bg, count(*) AS c_uv FROM occ WHERE is_train GROUP BY 1
), prefix AS (
  SELECT string_split(bg, ' ')[1] AS u, sum(c_uv) AS c_u,
         count(*) AS n1fw
  FROM train_bg GROUP BY 1
), suffix AS (
  SELECT string_split(bg, ' ')[2] AS v, count(*) AS n1bw
  FROM train_bg GROUP BY 1
), consts AS (
  SELECT (SELECT count(*) FROM train_bg) AS b,
         (SELECT count(DISTINCT w)
          FROM (SELECT unnest(t) AS w FROM toks WHERE is_train)) AS vv
), db AS (
  SELECT {id_col}, bg, count(*) AS n_db FROM occ GROUP BY 1, 2
), scored AS (
  SELECT d.{id_col}, d.n_db, g.c_uv, p.c_u,
         -ln(CASE WHEN p.c_u IS NULL
              THEN CAST(coalesce(s.n1bw, 0) + 1 AS DOUBLE)
                   / CAST(c.b + c.vv + 1 AS DOUBLE)
              ELSE greatest(CAST(coalesce(g.c_uv, 0) AS DOUBLE) - 0.75,
                            0.0)
                   / CAST(p.c_u AS DOUBLE)
                   + 0.75 * CAST(p.n1fw AS DOUBLE)
                     / CAST(p.c_u AS DOUBLE)
                     * (CAST(coalesce(s.n1bw, 0) + 1 AS DOUBLE)
                        / CAST(c.b + c.vv + 1 AS DOUBLE))
              END) AS s
  FROM db d
  LEFT JOIN train_bg g USING (bg)
  LEFT JOIN prefix p ON p.u = string_split(d.bg, ' ')[1]
  LEFT JOIN suffix s ON s.v = string_split(d.bg, ' ')[2]
  CROSS JOIN consts c
)
SELECT {id_col},
       CAST(sum(n_db) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN c_u IS NULL THEN n_db ELSE 0 END) AS BIGINT)
         AS n_unseen_hist,
       CAST(sum(CASE WHEN c_uv IS NULL THEN n_db ELSE 0 END) AS BIGINT)
         AS n_unseen_bigram,
       CAST(round(sum(CAST(n_db AS DOUBLE) * s)
                  / sum(CAST(n_db AS DOUBLE)) * 1000.0) AS BIGINT)
         AS kn_surprisal_milli
FROM scored
GROUP BY 1
"""
