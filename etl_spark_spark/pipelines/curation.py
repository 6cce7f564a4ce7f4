"""Training-data curation pipeline — the end-to-end document pass an
LLM data pipeline runs before tokenization, composed entirely from this
engine's primitives so every stage inherits their scale shapes:

1. quality gate     — expression-side scoring (codegen, map-only)
2. exact dedup      — fingerprint hash-aggregate, keep min id
3. near-dup removal — n-gram Jaccard pairs among survivors, drop the
                      higher id of each pair (deterministic greedy:
                      pair emission is id_a < id_b, so the kept doc of
                      any cluster is its minimum surviving id's
                      transitive frontier)

The exact all-pairs Jaccard stage is the bounded-corpus ground truth;
swap in ``near_dup_minhash`` (same pair schema) for the banded LSH
scale path — the surrounding pipeline is unchanged. The whole pass is
three shuffles beyond the pair stage: fingerprint agg, pair distinct,
and the final left-anti join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_PROFILES,
    bpe_token_count,
    fingerprint,
    quality_score,
    token_count,
    tokens,
    word_shingles,
)
from ..operators.neardup import (
    contamination_scores,
    near_dup_minhash,
    ngram_jaccard_pairs,
    shingle_set,
)
from ..operators.packing import pack_by_token_budget
from ..operators.sampling import hash_bucket, hash_split


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.15,
    min_tokens: int = 20,
    max_tokens: int = 10_000,
    jaccard_threshold: float = 0.8,
    pair_stage: str = "exact",
    num_perms: int = 8,
    rows_per_band: int = 2,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Run the full curation pass; returns the curated corpus as
    (id, lang, n_tokens, quality) with deterministic contents.

    ``pair_stage`` selects the near-dup pair generator:

    - ``'exact'`` (default) — all-pairs n-gram Jaccard, the
      bounded-corpus ground truth this composite is oracle-checked
      with.
    - ``'minhash'`` — the production scale path:
      :func:`near_dup_minhash` (banded LSH, exact-Jaccard verified at
      ``jaccard_threshold``) with the heavy-bucket star mitigation
      ENGAGED by default (``bucket_cap=4096``). At organic duplicate
      rates a 4096-cap is a no-op (band buckets are tiny), but a
      boilerplate-heavy corpus — thousands of 1-token-edit variants
      whose near-identical signatures land in ONE bucket that
      verbatim-twin collapse cannot absorb — would otherwise generate
      m^2/2 candidates per bucket (measured 3.6B on a 50k family,
      scripts/bench_neardup_boiler.py); the cap bounds it to m-1 star
      pairs per band. Pass ``bucket_cap=None`` to opt out. The pair
      schema is identical, so the surrounding pipeline (drop the
      higher id of each pair) is unchanged."""
    stats = docs.select(
        F.col(id_col),
        F.col("lang"),
        F.col(text_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        quality_score(text_col, LANG_PROFILES["en"]).alias("quality"),
    )
    kept = stats.filter(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
    )
    # exact dedup: survivors whose id is the minimum of their fingerprint
    fp = kept.withColumn("__fp", fingerprint(text_col))
    # Pin the exact-dedup survivors: the near-dup pair stage reads this
    # table MANY times (sizes, frequencies, prefix positions, both
    # sides of the candidate join, the verify join, the final
    # anti-join) and without a materialization each read re-executes
    # the whole quality-scoring + fingerprint-dedup lineage from the
    # raw corpus — 36 separate document scans in the round-12 plan
    # audit, zero ReusedExchange. Same move as curate_for_training's
    # curated_ids pin; a production pipeline persists the curated
    # corpus between stages anyway (round-12, guide §5 "caching is
    # worth it when a DataFrame is reused and recomputing is more
    # expensive than the memory pressure").
    canon = (
        fp.join(
            fp.groupBy("__fp").agg(F.min(id_col).alias("__keep")),
            "__fp",
        )
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )
    canon = canon.localCheckpoint()
    # near-dup removal among survivors: drop the higher id of each pair
    toks = canon.select(F.col(id_col), tokens(text_col).alias("__t"))
    if pair_stage == "exact":
        # max_docs=None: the guard probe would execute the whole
        # upstream quality+dedup lineage a second time just to count
        # it; this is the documented small-corpus ground-truth pipeline
        pairs = ngram_jaccard_pairs(
            toks, id_col, word_shingles("__t", 3),
            threshold=jaccard_threshold, max_docs=None,
        )
    elif pair_stage == "minhash":
        pairs = near_dup_minhash(
            toks, id_col, word_shingles("__t", 3),
            num_perms=num_perms, rows_per_band=rows_per_band,
            threshold=jaccard_threshold, bucket_cap=bucket_cap,
        )
    else:
        raise ValueError(
            f"pair_stage must be 'exact' or 'minhash', got {pair_stage!r}"
        )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        canon.join(drop, id_col, "left_anti")
        .select(id_col, "lang", "n_tokens", "quality")
    )


def curate_for_training(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 256,
    contamination_max: float = 0.2,
    eval_bucket: str = "0",
    decontam_shingle_n: int = 5,
    pair_stage: str = "exact",
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """The complete corpus-to-training-chunks pass, every stage from
    this engine's primitives:

    1. ``curate_documents``   — quality gate + exact dedup + near-dup
                                removal
    2. decontamination        — hold out the md5-bucket-``eval_bucket``
                                docs as the benchmark set; drop
                                survivors whose shingle-contamination
                                vs that set reaches ``contamination_max``
                                (the benchmark docs themselves never
                                enter the output)
    3. ``hash_split``         — content-addressed train/val/test
    4. ``pack_by_token_budget`` — per (split, source) shard layout into
                                ``budget``-BPE-token chunks

    Returns (id, source, split, n_tokens, pack_offset, pack_id) —
    deterministic contents whatever the cluster layout, so a re-run
    reproduces the exact same training chunks.

    Note ``eval_bucket`` must not collide semantically with the split
    bounds: the default holds out bucket '0' as the benchmark while
    splits partition the remaining id space, so every split stays
    populated. Beyond ``curate_documents``'s passes this adds one
    shingle pass over survivors, the contamination equi-join, and the
    per-shard pack window.

    Decontamination uses LONGER shingles (``decontam_shingle_n``, default
    5) than the 3-gram near-dup stage on purpose: overlap-FRACTION
    thresholds need shingles rare enough that background collision is
    ~0, where a contiguous copied span still lights up — the same reason
    production decontamination uses 8-13-gram checks while MinHash dedup
    uses short shingles. (On a tiny-vocabulary corpus, 3-gram background
    overlap alone can exceed any sane threshold and silently empty the
    training set.)
    """
    curated = curate_documents(
        docs, id_col=id_col, text_col=text_col,
        pair_stage=pair_stage, bucket_cap=bucket_cap,
    )
    # Pin the curated ID SET (k ids — tiny at any corpus scale): it
    # feeds three downstream branches (corpus shingles, eval shingles,
    # the clean join), each of which would otherwise re-execute the
    # whole quality+dedup+near-dup lineage. Same materialization move
    # the incremental-dedup fold uses; a production pipeline would
    # persist the curated corpus between stages anyway.
    curated_ids = curated.select(id_col).localCheckpoint()
    # ONE pass over the survivors' text computes BOTH heavy text
    # derivatives — the decontamination token array and the packing
    # BPE token count (round-13, VERDICT r12 task 6 / guide §2.4):
    # previously the contamination branch tokenized the survivors and
    # the split/pack branch ran its own regexp_count pass over the same
    # text, two full regex passes over the corpus per run. Pinning the
    # compact feature table (id, source, tokens, n_tokens — text itself
    # is NOT carried; nothing downstream needs it) makes both branches
    # read it instead of re-deriving from the raw corpus. Values are
    # unchanged: same expressions over the same rows, evaluated once.
    feats = (
        docs.select(id_col, text_col, "source")
        .join(curated_ids, id_col)
        .select(
            F.col(id_col),
            F.col("source"),
            tokens(text_col).alias("__t"),
            bpe_token_count(text_col).cast("long").alias("n_tokens"),
        )
    )
    feats = feats.localCheckpoint()
    pairs = shingle_set(
        feats.select(F.col(id_col), "__t"),
        id_col,
        word_shingles("__t", decontam_shingle_n),
    )
    is_eval = hash_bucket(id_col, len(eval_bucket)) == eval_bucket
    contaminated = (
        contamination_scores(
            pairs.filter(~is_eval), pairs.filter(is_eval), id_col
        )
        .filter(F.col("contamination") >= contamination_max)
        .select(id_col)
    )
    clean = (
        feats.filter(~is_eval)
        .join(contaminated, id_col, "left_anti")
        .drop("__t")
    )
    split = hash_split(
        clean, id_col, [("train", "d"), ("val", "f"), ("test", None)]
    )
    packed = pack_by_token_budget(
        split, ["split", "source"], id_col, "n_tokens", budget=budget
    )
    return packed.select(
        id_col, "source", "split", "n_tokens", "pack_offset", "pack_id"
    )
