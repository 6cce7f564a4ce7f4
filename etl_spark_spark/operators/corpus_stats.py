"""Corpus-frequency document scoring (LLM-data-pipeline extension).

The C4/Gopher-family quality signal that needs CORPUS state, not just
per-row features: how much of a document's bigram vocabulary is
attested in a reference corpus, and how frequent that vocabulary is.
Low-coverage documents are gibberish/boilerplate/foreign-language
candidates; very-high-frequency-only documents are template spam.

Deliberately integer/rational (doc-frequency counts, coverage ratios)
rather than a log-probability language model: every emitted value is
either an exact integer aggregate or one double division of two
integers (correctly rounded, engine-portable), so results are
bit-identical across engines — a sum of per-bigram ``log p`` floats
would be accumulation-order dependent AND libm-implementation
dependent, unverifiable against a SQL oracle.

Scale shape: the reference table is one hash aggregate over distinct
(doc, bigram) pairs; scoring is one equi-join of the corpus pair table
against it (shuffle join — at 100 TB BOTH sides are big; bucketed
layouts co-locate it) plus one per-doc hash aggregate. Nothing is
quadratic, nothing collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles


def bigram_pairs(docs: DataFrame, id_col: str, tokens_col: Column | str) -> DataFrame:
    """Distinct (id, bigram) pairs of each document's token stream."""
    return docs.select(
        F.col(id_col), F.explode(word_shingles(tokens_col, 2)).alias("bigram")
    ).distinct()


def bigram_doc_frequency(
    docs: DataFrame, id_col: str, tokens_col: Column | str
) -> DataFrame:
    """Reference table: per bigram, the number of distinct documents
    containing it. One hash aggregate over the distinct pair table."""
    return (
        bigram_pairs(docs, id_col, tokens_col)
        .groupBy("bigram")
        .agg(F.count("*").alias("df"))
    )


def doc_bigram_novelty(
    docs: DataFrame,
    id_col: str,
    tokens_col: Column | str,
    reference_df: DataFrame,
    min_df: int = 2,
) -> DataFrame:
    """Score each document against a ``bigram_doc_frequency`` reference:

    - ``n_bigrams``: the doc's distinct bigram count;
    - ``n_known``: how many are attested in >= ``min_df`` reference
      docs;
    - ``known_ratio``: n_known / n_bigrams (the coverage gate value);
    - ``sum_df``: total reference doc-frequency mass (template-spam
      signal when huge relative to n_bigrams).

    Documents with no bigrams (< 2 tokens) emit no row — they need a
    length gate, not a novelty score. All values exact (integers or
    one int/int division)."""
    pairs = bigram_pairs(docs, id_col, tokens_col)
    joined = pairs.join(reference_df, "bigram", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.when(F.col("df") >= min_df, 1).otherwise(0)
            ).cast("long").alias("n_known"),
            F.sum(F.coalesce(F.col("df"), F.lit(0))).cast("long").alias("sum_df"),
        )
        .withColumn(
            "known_ratio",
            F.col("n_known").cast("double") / F.col("n_bigrams"),
        )
    )


def source_shingle_overlap(
    docs: DataFrame,
    source_col: str,
    shingles_col: Column | str,
) -> DataFrame:
    """Cross-source n-gram contamination matrix: for every pair of
    sources, how many DISTINCT shingles appear in both (the "how much
    does crawl A duplicate corpus B" question corpus curation answers
    before mixing sources).

    Returns (source_a, source_b, n_shared, n_a, n_b) with source_a <
    source_b lexicographically; ``n_a``/``n_b`` are each side's total
    distinct shingle counts, so Jaccard/containment are one division
    away.

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    rows first (hash aggregate, linear), and the pair join is keyed by
    shingle — each join group is bounded by the number of SOURCES
    carrying that shingle, never by corpus size, so the worst shingle
    (a stopword trigram present in all S sources) costs S^2 rows, flat
    in N. Both join sides are corpus-vocabulary-sized and merge-hinted:
    distinct shingle tables compress misleadingly well, and AQE's
    dynamic broadcast must never build them driver-side (same failure
    class as the 100x driver OOM documented in
    ``neardup.pair_overlap_counts``).
    """
    sh = (
        docs.select(
            F.col(source_col).alias("__src"),
            F.explode(
                shingles_col if isinstance(shingles_col, Column)
                else F.col(shingles_col)
            ).alias("s"),
        )
        .distinct()
    )
    sizes = sh.groupBy("__src").agg(F.count("*").cast("long").alias("n"))
    a = sh.select(F.col("__src").alias("source_a"), "s")
    b = sh.select(F.col("__src").alias("source_b"), "s")
    pairs = (
        a.hint("merge")
        .join(b.hint("merge"), "s")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        pairs.join(
            sizes.select(F.col("__src").alias("source_a"), F.col("n").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("__src").alias("source_b"), F.col("n").alias("n_b")),
            "source_b",
        )
        .select("source_a", "source_b", "n_shared", "n_a", "n_b")
    )
