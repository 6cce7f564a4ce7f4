"""Embedding similarity search (LLM-data-pipeline extension).

- ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set against the corpus, score with JVM-side higher-order functions,
  rank per query. The corpus is scanned once, never shuffled; only
  |queries| × k rows survive the aggregate. This is the correct
  baseline and, with a broadcasted query set, scales linearly in corpus
  size across executors.
- ``lsh_bucket`` / ``cosine_topk_lsh`` — random-hyperplane LSH scale
  path: hash each vector to a sign-bit bucket (hyperplane components
  derived deterministically from md5, no RNG state to ship), compare
  only within buckets (optionally with multi-probe across tables).
  Approximate — pairs in different buckets are missed; recall grows
  with the number of tables. No SQL oracle (approximation is
  implementation-defined); verified by containment tests against
  ``cosine_topk``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..execution import fan_out
from ..functions.vectors import cosine


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).
    Returns (query_id, neighbor_id, cos_sim, rank) — deterministic:
    ties break on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # the |corpus| x |queries| cosine work runs in the CORPUS's
    # partitioning (the broadcast side adds none) — one task on a
    # single-row-group scan (guide §2.5). fan_out parallelizes it and
    # is a no-op when the scan already has >= cores splits.
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("__qvec", "__cvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _unit_rows(mat):
    """Unit-normalize rows with DIMENSION-SEQUENTIAL accumulation —
    the same IEEE addition order as a SQL list_reduce / F.aggregate
    left fold, so results are bit-identical to the expression form."""
    import numpy as np

    m = mat.astype(np.float64)
    acc = np.zeros(m.shape[0])
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return m / np.sqrt(acc)[:, None]


#: Auto-sized blocking targets ~this many rows per block, which caps the
#: per-task numpy score matrix at (2 * _BLOCK_TARGET_ROWS)^2 * 8 bytes.
_BLOCK_TARGET_ROWS = 2048


def _max_group_blocks(
    base: DataFrame, group_col: str, floor: int = 4
) -> int:
    """Block count for the GROUPED scorer, sized from the LARGEST
    group, not the corpus: per-task memory only depends on the hottest
    (group, pi, pj) cell, and every row is shuffled n_blocks times —
    corpus-derived blocking would make the candidate-stage shuffle
    O(N²/target) rows, forfeiting exactly the k-independent-subproblems
    win clustering buys. One linear count aggregate (re-runs a map-only
    cluster assignment once; trivial next to the pair scoring)."""
    mx = (
        base.groupBy(group_col)
        .agg(F.count("*").alias("__c"))
        .agg(F.max("__c"))
        .first()[0]
        or 1
    )
    return max(floor, -(-int(mx) // _BLOCK_TARGET_ROWS))


def _auto_n_blocks(base: DataFrame, floor: int = 8) -> int:
    """Pick the block count from the actual corpus size so per-task
    memory stays flat as N grows (one cheap count job; trivial next to
    the O(N^2) scoring it sizes). Found the hard way: the fixed
    n_blocks=8 default built a ~25k x 25k float64 score matrix per task
    on a 200k-vector replica (100x) and crashed the Arrow workers."""
    n = base.count()
    return max(floor, -(-n // _BLOCK_TARGET_ROWS))


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim >=
    threshold) by exact all-pairs comparison over unit-normalized
    vectors — fully distributed, nothing ever materializes on the
    driver.

    Blocked all-pairs join (the classic distributed theta-join layout):
    every row hashes to one of ``n_blocks`` blocks; each row is then
    shuffled to the ``n_blocks`` block-PAIR groups it participates in
    (pair (i, j), i <= j, receives exactly blocks i and j). Each group
    runs one Arrow-batched numpy block product via ``applyInPandas``:
    the (i, i) group scores its block's upper triangle, an (i, j) group
    scores only cross-block pairs — so every unordered pair is scored
    exactly once, in exactly one task.

    Scale model: exact all-pairs is inherently O(N²) compute, but here
    it is spread over B(B+1)/2 independent tasks with per-task memory
    O(2N/B) rows and shuffle volume B·N rows. ``n_blocks=None`` (the
    default) sizes B from the actual corpus count so per-task rows stay
    ~``_BLOCK_TARGET_ROWS`` whatever N is, and the scorer additionally
    chunks its numpy product so worker memory is hard-bounded even for
    a pathological block — no single node ever holds the corpus. (The previous
    implementation broadcast a driver-collected corpus matrix: exact
    and fast at bench scale but a driver-OOM at real scale.) For
    sub-quadratic *approximate* candidate generation use the
    ``lsh_bucket`` / ``cosine_topk_lsh`` machinery instead.

    Cosines accumulate dimension-sequentially over unit rows, so every
    value is bit-identical to the per-row expression fold (and to an
    ANSI-SQL list_reduce oracle), independent of blocking.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_blocks is None:
        n_blocks = _auto_n_blocks(base)
    return _blocked_cosine_pairs(base, threshold, n_blocks, group_cols=())


def _blocked_cosine_pairs(
    base: DataFrame,
    threshold: float,
    n_blocks: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Shared blocked all-pairs cosine scorer over ``(id, v [, *group_
    cols])`` rows. With ``group_cols`` empty this is the corpus-wide
    theta-join layout of ``cosine_near_dup_pairs``; with group columns
    (e.g. a cluster assignment) only same-group pairs are scored, and
    the blocking still bounds per-task memory even when one group is
    huge. Group columns pass through to the output."""
    import numpy as np
    import pandas as pd

    gcols = list(group_cols)
    exploded = (
        base.withColumn(
            "b", F.pmod(F.hash(F.col("id")), F.lit(n_blocks)).cast("int")
        )
        .withColumn("x", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("pi", F.least("b", "x"))
        .withColumn("pj", F.greatest("b", "x"))
        .drop("x")
    )
    n_group = len(gcols)

    def score_group(key, pdf):
        pi, pj = int(key[n_group]), int(key[n_group + 1])
        cols = {
            **{g: [] for g in gcols},
            "id_a": [],
            "id_b": [],
            "cos_sim": [],
        }
        empty = pd.DataFrame(cols)
        if pi == pj:
            left = right = pdf
        else:
            left = pdf[pdf["b"] == pi]
            right = pdf[pdf["b"] == pj]
        if not len(left) or not len(right):
            return empty
        ids_l = left["id"].to_numpy(dtype=np.int64)
        ids_r = right["id"].to_numpy(dtype=np.int64)
        u_l = _unit_rows(np.vstack(left["v"].to_numpy()))
        u_r = u_l if pi == pj else _unit_rows(np.vstack(right["v"].to_numpy()))
        # Hard memory bound independent of blocking: score left rows in
        # chunks so the float64 matrix never exceeds ~128 MB. Chunking
        # over rows leaves each element's dimension-sequential
        # accumulation order untouched, so values stay bit-identical.
        chunk = max(1, (16 << 20) // max(1, u_r.shape[0]))
        frames = []
        for s in range(0, u_l.shape[0], chunk):
            cl, cids = u_l[s : s + chunk], ids_l[s : s + chunk]
            acc = np.zeros((cl.shape[0], u_r.shape[0]))
            for i in range(cl.shape[1]):
                acc += cl[:, i][:, None] * u_r[:, i][None, :]
            # score each unordered pair once: within a block -> upper
            # triangle by id; across blocks -> all (l, r) combos,
            # emitted as (min_id, max_id)
            mask = (acc >= threshold) & (cids[:, None] != ids_r[None, :])
            if pi == pj:
                mask &= cids[:, None] < ids_r[None, :]
            li, ri = np.nonzero(mask)
            if not len(li):
                continue
            a, b = cids[li], ids_r[ri]
            frames.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(a, b),
                        "id_b": np.maximum(a, b),
                        "cos_sim": acc[li, ri],
                    }
                )
            )
        if not frames:
            return empty
        out = pd.concat(frames, ignore_index=True)
        for g, kv in zip(gcols, key[:n_group]):
            out.insert(0, g, kv)
        return out[list(cols)]

    gschema = "".join(
        f"{name} {base.schema[name].dataType.simpleString()}, " for name in gcols
    )
    return exploded.groupBy(*gcols, "pi", "pj").applyInPandas(
        score_group, schema=gschema + "id_a long, id_b long, cos_sim double"
    )


def cluster_argmax(vec_col: Column | str) -> Column:
    """Deterministic coarse clusterer: the 1-based index of a vector's
    largest component. No training, no RNG, SQL-expressible (DuckDB
    ``list_indexof(v, list_max(v))``) — the oracle-checkable stand-in
    for a trained quantizer in ``semantic_dedup``. Ties resolve to the
    first occurrence in both engines."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.array_position(v, F.array_max(v)).cast("long")


def assign_kmeans_clusters(
    df: DataFrame, id_col: str, vec_col: str, n_clusters: int
) -> DataFrame:
    """Assign every row to its nearest spherical-k-means centroid
    (trained on the bounded distributed sample — driver cost flat in
    corpus size, see ``_train_centroids_distributed``). Assignment is
    one numpy matmul per Arrow batch against the broadcast centroid
    matrix: map-only, embarrassingly parallel. Returns the input plus a
    ``cluster`` long column."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = _train_centroids_distributed(base, n_clusters)
    bc = df.sparkSession.sparkContext.broadcast(cents)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            u = _unit_rows(np.vstack(pdf["v"].to_numpy()))
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype=np.int64),
                    "cluster": np.argmax(u @ c.T, axis=1).astype(np.int64),
                }
            )

    # NOT fanned out (round-13): round-12 fanned the assignment leg on
    # a neutral same-session A/B; the driver's cold protocol measured
    # the kmeans/encode fan-out family as losses (emb_near_dup_lsh
    # >=1.8x slower) — the per-batch numpy matmul against broadcast
    # centroids is too light to buy back the exchange + AQE job
    # (VERDICT r12 rows 9/#2; same mechanism as the REVERTED LSH/IVF
    # bucket legs above).
    assigned = base.mapInPandas(fn, schema="id long, cluster long")
    return df.join(
        assigned.withColumnRenamed("id", id_col), id_col
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    cluster_col: str | None = None,
    n_clusters: int = 16,
    n_blocks: int | None = None,
) -> DataFrame:
    """Within-cluster embedding near-duplicate pairs — the candidate
    stage of SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, public method): cluster the embedding space
    coarsely, then compare pairs only inside a cluster, turning O(N²)
    corpus-wide comparison into k independent O((N/k)²) problems.

    ``cluster_col`` names a precomputed assignment (e.g.
    ``cluster_argmax`` for the deterministic oracle-checkable form);
    when None, a spherical k-means quantizer is trained on a bounded
    distributed sample and every row is assigned map-side
    (``assign_kmeans_clusters``) — the quality path, since trained
    centroids follow the data's actual cluster structure.

    Scale model: pick ``n_clusters`` ∝ corpus size so expected cluster
    size stays flat; the blocked scorer underneath additionally caps
    per-task memory at O(cluster/n_blocks) rows even for skewed hot
    clusters. Scoring accumulates dimension-sequentially over unit
    rows, bit-identical to the expression/list_reduce form whatever the
    clustering. Returns (cluster, id_a, id_b, cos_sim), id_a < id_b.
    """
    if cluster_col is None:
        df = assign_kmeans_clusters(df, id_col, vec_col, n_clusters)
        cluster_col = "cluster"
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(cluster_col).alias("cluster"),
    )
    if n_blocks is None:
        n_blocks = _max_group_blocks(base, "cluster")
    return _blocked_cosine_pairs(
        base, threshold, n_blocks, group_cols=("cluster",)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    cluster_col: str | None = None,
    n_clusters: int = 16,
    n_blocks: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop the higher id of
    every within-cluster pair with cosine >= ``threshold`` (greedy
    keep-min-id, same convention as the text curation pipeline), keep
    everything else. Returns (id, cluster) survivors.

    The pair stage plus one distinct and one broadcast-able left-anti
    join — nothing corpus-sized ever leaves the executors."""
    if cluster_col is None:
        df = assign_kmeans_clusters(df, id_col, vec_col, n_clusters)
        cluster_col = "cluster"
    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, threshold, cluster_col, n_clusters, n_blocks
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        df.join(drop, id_col, "left_anti")
        .select(F.col(id_col), F.col(cluster_col).cast("long").alias("cluster"))
    )


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    num_planes: int | None = None,
    num_tables: int = 8,
    target_bucket_rows: int = 256,
) -> DataFrame:
    """Sub-quadratic approximate embedding near-dup: candidate pairs are
    generated ONLY where two vectors share a sign-bit LSH bucket in at
    least one table (co-bucket self-join), then verified with the exact
    expression-side cosine — so every emitted pair is a TRUE pair with
    a score bit-identical to ``cosine_near_dup_pairs``; pairs never
    co-bucketed are missed (recall grows with num_tables, and with the
    pair's similarity: near-identical vectors collide almost surely).

    This is the scale path past exact all-pairs' O(N²): cost is the sum
    of per-bucket co-occupancies. Within-bucket work is quadratic in
    bucket size, so ``num_planes`` (bucket count = 2^planes) must GROW
    with the corpus: left as None it auto-sizes from a cheap count so
    the average bucket holds ~``target_bucket_rows`` rows, keeping
    per-group cost flat as N scales (10x data ≈ 10x groups of the same
    size, not the same groups 10x hotter). Fixing num_planes low favors
    recall on small corpora; raising it trades recall for speed —
    recall also rises with num_tables and with pair similarity
    (near-identical vectors collide in SOME table almost surely). The
    exact blocked all-pairs operator remains the verification baseline.

    Scoring is ONE numpy block product per (table, bucket) group
    (applyInPandas) with the exact operator's unit-row dimension-
    sequential accumulation — bit-identical scores without the
    per-pair array allocation an expression-side fold would pay on
    millions of candidates (measured 20x faster at sf0.1).
    """
    import math

    import numpy as np
    import pandas as pd

    if num_planes is None:
        n = df.count()
        num_planes = max(4, math.ceil(math.log2(max(1, n / target_bucket_rows))))

    b = _bucket_table(df, id_col, vec_col, dim, num_planes, num_tables, "id")

    def score_bucket(key, pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        u = _unit_rows(np.vstack(pdf["__id_vec"].to_numpy()))
        acc = np.zeros((u.shape[0], u.shape[0]))
        for i in range(u.shape[1]):
            acc = acc + u[:, i][:, None] * u[:, i][None, :]
        mask = (acc >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(mask)
        return pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bi], "cos_sim": acc[ai, bi]}
        )

    pairs = b.groupBy("table", "bucket").applyInPandas(
        score_bucket, schema="id_a long, id_b long, cos_sim double"
    )
    # dedup multi-table collisions AFTER scoring + threshold: duplicate
    # pairs score identically, so keeping any copy is exact
    return pairs.dropDuplicates(["id_a", "id_b"])


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer (here: the unit
    vectors of the ``n_lists`` lowest-id corpus rows — deterministic, no
    RNG/training step; swap in k-means centroids for production) assigns
    every corpus vector to its nearest list; each query probes its
    ``n_probe`` nearest lists and scores only those lists' members.

    Cost model at scale: corpus assignment is one numpy matmul per Arrow
    batch (embarrassingly parallel, done once and persistable); query
    cost drops from |C| to ~|C|·n_probe/n_lists. Recall is tunable via
    n_probe. Scoring stays expression-side (bit-identical to the exact
    operator). Approximate -> no SQL oracle; containment-tested against
    ``cosine_topk``.

    Centroid training is DISTRIBUTED sampling + bounded driver fit:
    every partition contributes at most ``sample_budget/n_partitions``
    rows (a mapInPandas head — no corpus sort, no corpus collect, no
    full-partition read), and k-means runs on that fixed-size pooled
    sample. Training cost is O(sample) regardless of corpus size.

    Recall honesty note: on data WITH cluster structure the centroids
    adapt to it and recall at n_probe≪n_lists is high (pinned by the
    clustered-data test). On uniformly random vectors no quantizer can
    beat ~n_probe/n_lists recall — the fixture embeddings are random,
    so tune n_probe accordingly there.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    base_ids = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    cents = _train_centroids_distributed(base_ids, n_lists)
    bc = spark.sparkContext.broadcast(cents)
    # can't probe more lists than exist (tiny corpora, or explicit
    # probe-everything calls with n_probe > n_lists)
    n_probe = min(n_probe, cents.shape[0])

    def assigned(df: DataFrame, probe: int, id_out: str) -> DataFrame:
        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                u = _unit_rows(np.vstack(pdf["v"].to_numpy()))
                sims = u @ c.T  # (n, L)
                order = np.argsort(-sims, axis=1, kind="stable")[:, :probe]
                ids = pdf["id"].to_numpy(dtype=np.int64)
                vecs = pdf["v"].to_numpy()
                yield pd.DataFrame(
                    {
                        "id": np.repeat(ids, probe),
                        "list_id": order.reshape(-1).astype(np.int32),
                        "v": [vecs[i] for i in np.repeat(np.arange(len(ids)), probe)],
                    }
                )

        # NOT fanned out (round-12 A/B): the assignment matmul is light
        # and this closure also runs on the 50-row QUERIES side — the
        # extra exchanges cost 1.55x (same-session off/on 4.23→6.54 s
        # for emb_cosine_topk_ivf)
        base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        out = base.mapInPandas(
            fn, schema="id long, list_id int, v array<float>"
        )
        return out.withColumnsRenamed({"id": id_out, "v": f"__{id_out}_vec"})

    c_a = assigned(corpus, 1, "neighbor_id")
    q_a = assigned(queries, n_probe, "query_id")
    cand = (
        c_a.join(F.broadcast(q_a.drop("__query_id_vec")), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__neighbor_id_vec")
    )
    return _score_and_rank(cand, queries, id_col, vec_col, k)


def _train_centroids_distributed(
    base: DataFrame, n_lists: int, sample_budget: int = 4096
):
    """Train coarse-quantizer centroids from a bounded distributed
    sample, never collecting or sorting the corpus:

    - map side: each partition yields its FIRST ``sample_budget /
      n_partitions`` rows (with a small floor) — a streaming head over
      the Arrow batches; large partitions are never fully read.
    - driver: the pooled sample (≈ sample_budget rows however big the
      corpus) is put into a canonical pseudo-random order — sorted by
      md5 of each row's bytes, which is deterministic regardless of
      Spark's collect order yet spreads the first-k k-means seeds
      across the data (a lexicographic sort would cluster the seeds in
      one corner and wreck quantizer quality) — then fit with
      deterministic spherical k-means.

    Executor cost O(per-partition sample), driver cost O(sample_budget
    × dim): both flat as the corpus grows to 100 TB.
    """
    sample = _bounded_unit_sample(base, sample_budget)
    return _kmeans_centroids(sample, min(n_lists, sample.shape[0]))


def _bounded_unit_sample(base: DataFrame, sample_budget: int = 4096):
    """The bounded distributed sample described in
    ``_train_centroids_distributed``, returned as canonically ordered
    unit rows (shared by the IVF coarse quantizer and the PQ
    sub-quantizers so both train from one corpus pass)."""
    import hashlib

    import numpy as np

    n_parts = base.rdd.getNumPartitions()
    per_part = max(32, sample_budget // max(1, n_parts))

    def sample_head(it):
        budget = per_part
        for pdf in it:
            if budget <= 0:
                break
            take = pdf.head(budget)
            budget -= len(take)
            yield take[["v"]]

    rows = (
        base.select("v")
        .mapInPandas(sample_head, schema="v array<float>")
        .collect()
    )
    sample = _unit_rows(
        np.vstack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    )
    order = sorted(
        range(sample.shape[0]),
        key=lambda i: hashlib.md5(sample[i].tobytes()).hexdigest(),
    )
    return sample[order]


def _train_opq_rotation(resid, m: int, n_codes: int, iters: int):
    """OPQ-NP (Ge et al., CVPR 2013, public method): alternate
    (a) train PQ codebooks in the rotated space, (b) solve the
    orthogonal Procrustes problem min_R ||X R - X̂||_F via SVD of
    X^T X̂ — the rotation that best aligns residual mass with the
    subspace grid, cutting quantization error on correlated dims.
    Driver-side numpy on the bounded training sample (flat cost)."""
    import numpy as np

    dim = resid.shape[1]
    sub = dim // m
    R = np.eye(dim)
    for _ in range(iters):
        y = resid @ R
        yhat = np.empty_like(y)
        for s in range(m):
            ys = y[:, s * sub : (s + 1) * sub]
            bk = _kmeans_euclidean(ys, min(n_codes, len(y)))
            codes = np.argmax(ys @ bk.T - 0.5 * (bk * bk).sum(axis=1), axis=1)
            yhat[:, s * sub : (s + 1) * sub] = bk[codes]
        u, _, vt = np.linalg.svd(resid.T @ yhat)
        R = u @ vt
    return R


def cosine_topk_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 16,
    rerank: int = 32,
    opq_iters: int = 0,
    per_list_books: bool = False,
    rerank_int8: bool = False,
) -> DataFrame:
    """IVF + product quantization with asymmetric-distance scoring and
    EXACT rerank — the memory-bound scale path for ANN over 100 TB of
    embeddings.

    Why PQ on top of IVF: IVF prunes WHICH vectors a query scores, but
    every scored candidate still drags its full float vector through
    the probe join (dim×4 bytes/row of shuffle). PQ replaces the vector
    with ``m_subspaces`` small codes (here int16 for Arrow friendliness;
    1 byte each at n_codes<=256 in a real deployment — 64-dim float32 =
    256 B -> 8 B, 32x). Candidate scoring then never touches a float
    vector: each query builds one ``m × n_codes`` lookup table of
    query-subvector · codeword dot products, and a candidate's
    approximate cosine is m table lookups — SIMD-friendly and tiny.

    Pipeline: (1) coarse + PQ codebooks trained on the same bounded
    distributed sample as IVF (driver cost flat in corpus size);
    (2) one corpus pass encodes every row to (list_id, codes) — this
    compact index is what a production deployment persists; (3) probe
    ``n_probe`` lists, ADC-score candidates per query, keep the top
    ``rerank`` ids; (4) fetch true vectors for ONLY those ids (a join
    moving rerank×|Q| rows, not the corpus) and re-score with the
    expression-side exact cosine, so every returned score is
    bit-identical to ``cosine_topk``'s — ADC error can drop a true
    neighbor (recall, tunable via rerank/n_probe) but can never corrupt
    a returned score. Approximate -> no SQL oracle; containment- and
    recall-tested like IVF/LSH.

    Codes are RESIDUAL-encoded (the standard IVF-PQ refinement): each
    vector stores PQ codes of ``u - coarse_centroid[list]``, not of
    ``u`` itself. Residuals are much smaller than raw vectors once the
    coarse quantizer has absorbed the cluster structure, so the same
    code budget quantizes far finer. The ADC score decomposes exactly:
    ``q·x ≈ q·c_list + Σ_s lut[s, code_s]`` where the lookup table is
    built on the residual codebooks — one extra per-(query, list)
    scalar, no extra per-candidate cost.

    ``per_list_books=True`` trains a SEPARATE codebook set per coarse
    list (the classic refinement when residual distributions differ
    across cells — anisotropic clusters, mixed modalities): codebook
    storage grows to L×m×n_codes codewords (still tiny) and the
    per-query LUT to (L, m, n_codes); per-candidate cost is unchanged
    (same m lookups, now indexed by the candidate's list). Lists with
    no training-sample residuals fall back to the shared codebooks.

    ``rerank_int8=True`` replaces the exact-float rerank fetch with
    per-vector symmetric scalar quantization (int8 components + one
    float scale): the rerank join then moves dim x 1 byte + 8 per
    candidate instead of dim x 4 — ~4x less rerank shuffle traffic,
    the memory-bound refinement when even the shortlist fetch
    dominates. Returned scores become SQ-approximate (per-component
    error <= scale/2, sub-1% of the score in practice), so the
    bit-identical-to-exact guarantee applies only to the default
    float rerank; recall on planted clusters is pinned for both.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub = dim // m_subspaces
    spark = corpus.sparkSession
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    sample = _bounded_unit_sample(base)
    coarse = _kmeans_centroids(sample, min(n_lists, sample.shape[0]))
    resid = sample - coarse[np.argmax(sample @ coarse.T, axis=1)]
    # Optional OPQ rotation: codes live in the rotated space y = r @ R.
    # R is orthonormal, so q·r = (qR)·(rR) and the ADC decomposition
    # q·x ≈ q·c_list + Σ_s lut[s, code_s] carries over unchanged with
    # the LUT built from the ROTATED query residual-space subvectors.
    rot = (
        _train_opq_rotation(resid, m_subspaces, n_codes, opq_iters)
        if opq_iters > 0
        else np.eye(dim)
    )
    resid_r = resid @ rot

    def _train_books(res):
        """One codebook per subspace over the given residual rows,
        padded to n_codes codewords (duplicate padding is harmless —
        a duplicate codeword is simply never the unique argmax)."""
        out = np.zeros((m_subspaces, n_codes, sub))
        for s in range(m_subspaces):
            bk = _kmeans_euclidean(
                res[:, s * sub : (s + 1) * sub], min(n_codes, res.shape[0])
            )
            out[s, : bk.shape[0]] = bk
            if bk.shape[0] < n_codes:
                out[s, bk.shape[0] :] = bk[0]
        return out

    books = _train_books(resid_r)  # (m, n_codes, sub), shared
    if per_list_books:
        sample_lists = np.argmax(sample @ coarse.T, axis=1)
        # (L, m, n_codes, sub); empty lists inherit the shared books
        books_pl = np.stack(
            [
                _train_books(resid_r[sample_lists == li])
                if (sample_lists == li).any()
                else books
                for li in range(coarse.shape[0])
            ]
        )
    else:
        books_pl = None
    bc_coarse = spark.sparkContext.broadcast(coarse)
    bc_books = spark.sparkContext.broadcast(
        books_pl if per_list_books else books
    )
    bc_rot = spark.sparkContext.broadcast(rot)
    n_probe = min(n_probe, coarse.shape[0])

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, bk_all = bc_coarse.value, bc_books.value
        rt = bc_rot.value
        for pdf in it:
            if not len(pdf):
                continue
            u = _unit_rows(np.vstack(pdf["v"].to_numpy()))
            lists = np.argmax(u @ c.T, axis=1).astype(np.int32)
            r = (u - c[lists]) @ rt
            codes = np.empty((len(u), m_subspaces), dtype=np.int16)
            for s in range(m_subspaces):
                rs = r[:, s * sub : (s + 1) * sub]
                if per_list_books:
                    # nearest codeword within the row's own list's book
                    bks = bk_all[:, s]  # (L, n_codes, sub)
                    row_books = bks[lists]  # (n, n_codes, sub)
                    scores = np.einsum("nd,nkd->nk", rs, row_books)
                    scores -= 0.5 * (row_books * row_books).sum(axis=2)
                else:
                    # nearest codeword by Euclidean: argmin ||x-c||^2 =
                    # argmax (x·c - ||c||²/2)
                    scores = rs @ bk_all[s].T - 0.5 * (
                        bk_all[s] * bk_all[s]
                    ).sum(axis=1)
                codes[:, s] = np.argmax(scores, axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["id"].to_numpy(dtype=np.int64),
                    "list_id": lists,
                    "codes": list(codes),
                }
            )

    # NOT fanned out (round-13): driver protocol measured the PQ encode
    # fan-out at 0.83 (emb_cosine_topk_ivfpq 2.15 s -> 2.58 s) — the
    # per-batch numpy encode against broadcast books is too light for
    # the exchange (VERDICT r12 task 2).
    encoded = base.mapInPandas(
        encode, schema="neighbor_id long, list_id int, codes array<smallint>"
    )

    # queries: tiny by contract — collect unit vectors + probe lists,
    # broadcast both (same small-side assumption as the exact operator's
    # broadcast cross join)
    q_rows = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).collect()
    q_ids = np.array([r["id"] for r in q_rows], dtype=np.int64)
    q_unit = _unit_rows(
        np.vstack([np.asarray(r["v"], dtype=np.float64) for r in q_rows])
    )
    probes = np.argsort(-(q_unit @ coarse.T), axis=1, kind="stable")[:, :n_probe]
    probe_df = F.broadcast(
        spark.createDataFrame(
            [
                (int(q_ids[i]), int(probes[i, j]))
                for i in range(len(q_ids))
                for j in range(n_probe)
            ],
            "query_id long, list_id int",
        )
    )
    # per-query ADC lookup tables: lut[q, s, code] = q_sub · codeword
    # (q rotated into the codes' space; R orthonormal keeps dot
    # products — see the OPQ note above)
    q_rot = q_unit @ rot
    if per_list_books:
        # lut[q, l, s, code] = q_sub · codeword_of_list_l
        lut = np.einsum(
            "qsd,lskd->qlsk",
            q_rot.reshape(len(q_ids), m_subspaces, sub),
            books_pl,
        )  # (Q, L, m, n_codes)
    else:
        lut = np.stack(
            [
                q_rot[:, s * sub : (s + 1) * sub] @ books[s].T
                for s in range(m_subspaces)
            ],
            axis=1,
        )  # (Q, m, n_codes)
    q_coarse = q_unit @ coarse.T  # (Q, L): the q·c_list term
    bc_lut = spark.sparkContext.broadcast(
        {int(q_ids[i]): (lut[i], q_coarse[i]) for i in range(len(q_ids))}
    )

    def adc_topr(key, pdf):
        qid = int(key[0])
        t, qc = bc_lut.value[qid]  # (m, n_codes) | (L, m, n_codes), (L,)
        codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        lists = pdf["list_id"].to_numpy(dtype=np.int64)
        keep = ids != qid
        codes, ids, lists = codes[keep], ids[keep], lists[keep]
        if not len(ids):
            return pd.DataFrame({"query_id": [], "neighbor_id": []})
        if per_list_books:
            # index each candidate's lookups through its own list's table
            sub_idx = np.arange(codes.shape[1])[None, :]
            adc = qc[lists] + t[lists[:, None], sub_idx, codes].sum(axis=1)
        else:
            adc = qc[lists] + t[np.arange(t.shape[0])[None, :], codes].sum(axis=1)
        order = np.lexsort((ids, -adc))[:rerank]
        return pd.DataFrame(
            {"query_id": qid, "neighbor_id": ids[order]}
        )

    cand = (
        encoded.join(probe_df, "list_id")
        .groupBy("query_id")
        .applyInPandas(adc_topr, schema="query_id long, neighbor_id long")
    )
    if not rerank_int8:
        with_vecs = cand.join(
            base.withColumnsRenamed(
                {"id": "neighbor_id", "v": "__neighbor_id_vec"}
            ),
            "neighbor_id",
        )
        return _score_and_rank(with_vecs, queries, id_col, vec_col, k)

    # int8 scalar-quantized rerank: the shortlist fetch reads the
    # compact SQ table (dim bytes + one scale per row) instead of the
    # float vectors. Unit-normalize FIRST, then quantize: the stored
    # (int8 / 127 * scale) rows reconstruct the unit vector, so the
    # integer dot against the float query approximates cosine directly.
    def sq_encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            u = _unit_rows(np.vstack(pdf["v"].to_numpy()))
            scale = np.abs(u).max(axis=1) / 127.0
            scale[scale == 0] = 1.0
            q8 = np.clip(
                np.round(u / scale[:, None]), -127, 127
            ).astype(np.int8)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["id"].to_numpy(dtype=np.int64),
                    "sq": list(q8),
                    "sq_scale": scale,
                }
            )

    # NOT fanned out (round-13): driver measured 0.81 for the int8 leg
    # (emb_cosine_topk_ivfpq_int8 2.28 s -> 2.81 s) — same revert as the
    # PQ encode above (VERDICT r12 task 2).
    sq = base.mapInPandas(
        sq_encode, schema="neighbor_id long, sq array<tinyint>, sq_scale double"
    )
    bc_q = spark.sparkContext.broadcast(
        {int(q_ids[i]): q_unit[i] for i in range(len(q_ids))}
    )

    def sq_score(key, pdf):
        qid = int(key[0])
        qv = bc_q.value[qid]
        mat = np.vstack(pdf["sq"].to_numpy()).astype(np.float64)
        scores = (mat @ qv) * pdf["sq_scale"].to_numpy()
        ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        order = np.lexsort((ids, -scores))[:k]
        return pd.DataFrame(
            {
                "query_id": qid,
                "neighbor_id": ids[order],
                "cos_sim": scores[order],
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            }
        )

    return (
        cand.join(sq, "neighbor_id")
        .groupBy("query_id")
        .applyInPandas(
            sq_score,
            schema="query_id long, neighbor_id long, cos_sim double, rank int",
        )
    )


def _kmeans_euclidean(sample, k: int, iters: int = 8):
    """Deterministic Euclidean k-means (Lloyd) for PQ sub-quantizers:
    seeds are the first k rows of the canonically ordered sample; empty
    clusters keep their previous codeword."""
    import numpy as np

    k = min(k, sample.shape[0])
    cents = sample[:k].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def _kmeans_centroids(sample, k: int, iters: int = 5):
    """Deterministic spherical k-means on a (unit-row) sample: seeds
    are the first k rows (callers pass a canonically shuffled sample),
    then a few Lloyd iterations with cosine assignment. Empty clusters
    keep their previous centroid."""
    import numpy as np

    k = min(k, sample.shape[0])
    cents = sample[:k].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cents.T, axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                m = members.sum(axis=0)
                n = np.sqrt((m * m).sum())
                if n > 0:
                    cents[j] = m / n
    return cents


def _score_and_rank(
    cand: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Shared tail of the approximate searchers: dedup candidate PAIRS
    by id (array-valued distinct is slow), re-attach query vectors,
    score expression-side (bit-identical to the exact operator), rank
    top-k with id tiebreak."""
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    scored = cand.join(F.broadcast(q_vecs), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine("__qv", "__neighbor_id_vec").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1]:
    derived from md5 of (table, plane, i) — identical on every executor
    and every run, no RNG to seed or broadcast."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"{table}/{plane}/{i}".encode()).hexdigest()
        out.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return out


def lsh_bucket(
    vec_col: str,
    dim: int,
    num_planes: int = 8,
    table: int = 0,
) -> Column:
    """Sign-bit bucket id (0..2^planes-1) for each vector under the
    ``table``-th deterministic hyperplane family."""
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = _hyperplane(table, p, dim)
        prods = F.zip_with(
            F.col(vec_col),
            F.array(*[F.lit(v) for v in plane]),
            lambda x, y: x.cast("double") * y,
        )
        proj = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _bucket_table(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int,
    num_tables: int,
    id_out: str,
) -> DataFrame:
    """(id, table, bucket, vec) rows: all tables' sign-bit buckets in
    one numpy pass over a broadcast hyperplane tensor — one matrix
    multiply per Arrow batch instead of tables×planes expression
    projections per row (~4x faster at 2000x64)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    planes = np.array(
        [
            [_hyperplane(t, p, dim) for p in range(num_planes)]
            for t in range(num_tables)
        ]
    )  # (T, P, dim)
    bc = df.sparkSession.sparkContext.broadcast(planes)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            v = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            frames = []
            for t in range(pl.shape[0]):
                proj = v @ pl[t].T  # (n, P)
                buckets = ((proj > 0) @ weights).astype(np.int64)
                frames.append(
                    pd.DataFrame(
                        {
                            "id": ids,
                            "table": t,
                            "bucket": buckets,
                            "v": pdf["v"].to_numpy(),
                        }
                    )
                )
            yield pd.concat(frames)

    # NOT fanned out (round-12 A/B): the per-batch numpy matmul here is
    # light enough that the extra exchange + AQE job cost 1.6x more
    # than the parallelism won back (same-session off/on 2.32→3.79 s
    # for emb_cosine_topk_lsh)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    out = base.mapInPandas(
        fn, schema="id long, table int, bucket long, v array<float>"
    )
    return out.withColumnsRenamed({"id": id_out, "v": f"__{id_out}_vec"})


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    num_planes: int = 6,
    num_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: compare query/corpus vectors only when they
    share an LSH bucket in at least one table. Bucket join replaces the
    cross join — at scale, cost drops from |Q|×|C| to the sum of bucket
    co-occupancies. Bucketing is a numpy matmul per Arrow batch;
    scoring of the (few) candidates stays expression-side so scores are
    bit-identical to the exact operator."""
    c_b = _bucket_table(
        corpus, id_col, vec_col, dim, num_planes, num_tables, "neighbor_id"
    )
    q_b = _bucket_table(
        queries, id_col, vec_col, dim, num_planes, num_tables, "query_id"
    )
    cand = (
        c_b.join(F.broadcast(q_b.drop("__query_id_vec")), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__neighbor_id_vec")
    )
    return _score_and_rank(cand, queries, id_col, vec_col, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most cosine-similar corpus vectors with a DIFFERENT label —
    the near-miss negatives that make embedding/retrieval training
    converge (random negatives are trivially separable). Returns
    (query_id, query_label, neighbor_id, neighbor_label, cos_sim,
    rank); ties break on neighbor id.

    Scale shape: identical to :func:`cosine_topk` — the bounded query
    set broadcasts, the corpus is scanned ONCE with the label filter
    applied before ranking, and the per-query top-k is a
    WindowGroupLimit-prunable ranking window. At 100 TB the cost is
    one corpus scan per probe batch regardless of k."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("__qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cvec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            cosine("__qvec", "__cvec").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def label_centroid_outliers(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-label embedding outliers: the k members LEAST cosine-similar
    to their own label's centroid — the mislabeled/garbage-vector sweep
    a curation pipeline runs before training on labeled embeddings.
    Returns (label, vec_id id_col, cos_to_centroid, rank) with rank 1 =
    farthest from the centroid; ties break on id.

    Determinism across engines: the centroid is computed per dimension
    (explode → hash aggregate keyed (label, dim) — N x d narrow cell
    rows, never a whole-vector reduce) and ROUNDED to 6 decimals
    before any distance math, so the float-sum order sensitivity of
    the mean is quantized away; the member-centroid cosine then runs
    the shared left-to-right fold (functions.vectors) on identical
    inputs in both engines. The tiny (label -> centroid array) table
    broadcasts; the corpus is scanned once.

    NULL ranking: cosine() returns NULL on a zero-norm vector or
    centroid; Spark's bare ``asc`` sorts NULLs FIRST while DuckDB's
    default is NULLS LAST, so the window orders ``asc_nulls_last``
    and the oracle says NULLS LAST explicitly — a zero-norm
    embedding ranks AFTER every finite cosine in both engines.
    """
    cells = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "__x"),
    )
    cent = (
        cells.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("__x").cast("double")), 6).alias("__c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "__c"))),
                lambda s: s["__c"],
            ).alias("__cent")
        )
    )
    scored = emb.select(
        F.col(label_col).alias("label"),
        F.col(id_col),
        F.col(vec_col).alias("__v"),
    ).join(F.broadcast(cent), "label")
    w = Window.partitionBy("label").orderBy(
        F.col("cos_to_centroid").asc_nulls_last(), F.col(id_col)
    )
    return (
        scored.select(
            "label",
            id_col,
            cosine("__v", "__cent").alias("cos_to_centroid"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
