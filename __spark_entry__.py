"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship composite (the reference's
superdesconto shape: union -> window top-1 -> broadcast joins) at
sf0.001. ``queries()`` exposes one named query per implemented operator
family from SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL for each. Column names/aliases match pairwise; money sums use
integer-cents fixed-point (etl_spark_spark.functions.money) so values
are bit-identical regardless of execution order/parallelism.

Each family module in ``entry_queries/`` is the one place its queries
are stated. To add a query, define ``q_<name>(spark, sf_dir)`` in a
family module and add one ``"<name>": <sql>`` entry to that module's
``ORACLES``; both registries below are derived from the modules.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from types import ModuleType
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from entry_queries import embedding, events, maintenance, relational, text
from etl_spark_spark.pipelines.superdesconto import best_sale_pipeline

SF_SMOKE = "/root/testdata/sf0.001"



def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return best_sale_pipeline(spark, SF_SMOKE)



# Registry order: family by family, definition order within a family.
_FAMILIES = (relational, events, text, embedding, maintenance)


def _merge(entries: Callable[[ModuleType], Iterable[tuple[str, Any]]]) -> dict:
    """Merge the ``(name, value)`` pairs of ``entries(family)`` over the
    families, refusing a query name that two families define."""
    merged: dict[str, Any] = {}
    home: dict[str, str] = {}
    for family in _FAMILIES:
        for name, value in entries(family):
            if name in home:
                raise ValueError(
                    f"query {name!r} is defined in both {home[name]} "
                    f"and {family.__name__}"
                )
            home[name] = family.__name__
            merged[name] = value
    return merged


def _query_fns(family: ModuleType) -> Iterable[tuple[str, Callable]]:
    """Every ``q_<name>`` function the family defines, as ``(name, fn)``."""
    for attr, fn in vars(family).items():
        if attr.startswith("q_") and getattr(fn, "__module__", None) == family.__name__:
            yield attr[2:], fn


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merge(_query_fns)


def oracle_sql() -> dict[str, str]:
    return _merge(lambda family: family.ORACLES.items())


# Fixed CORRECTNESS-panel anchors (ORACLE_NOTES.md "panel rotation",
# VERDICT r11 task 5): the flagship plus one representative per
# operator family — always in every panel so the driver's differential
# never loses its cross-family smoke coverage.
PANEL_ANCHORS = [
    "superdesconto",          # flagship pipeline
    "allocation",             # proportional allocation / reconcile
    "pricing_summary",        # group-by aggregates
    "dedup_latest_part",      # dedup windows
    "top_orders_per_customer",  # ranking windows
    "normalize_keys",         # normalization functions
    "monthly_orders_1995",    # date-range source / pushdown
    "nation_reconcile",       # full-outer reconciliation / set ops
    "sql_frontend",           # SQL-string frontend
    "user_value_trend",       # window trends
    "doc_text_stats",         # text analysis
    "doc_exact_dedup",        # exact dedup
    "neardup_minhash",        # MinHash-LSH near-dup
    "doc_simhash",            # SimHash near-dup
    "doc_tfidf_similar",      # TF-IDF blocked similarity
    "emb_cosine_topk",        # ANN family oracle
    "semantic_dedup",         # embedding dedup
    "events_tumbling",        # streaming-equivalent windows
    "events_sessionize",      # sessionization
    "multimodal_features",    # multimodal plumbing
]


def panel(round_n: int, size: int = 50) -> list[str]:
    """Deterministic rotating CORRECTNESS panel for the driver
    (ORACLE_NOTES.md "panel rotation"): the driver's differential has
    run the same frozen 50 queries since round 5 while the registry
    grew past 220, so 170+ oracle-gated queries never get the
    driver-side check. This returns ``size`` registry names for a
    given round: the PANEL_ANCHORS first (flagship + one per operator
    family, always present), then a round-robin slice of the remaining
    registry in sorted-name order, offset by ``round_n * slice_size``
    — consecutive rounds walk disjoint slices (mod wraparound), so
    every registry query gets driver-side coverage within
    ceil(len(rest) / (size - len(anchors))) consecutive rounds with
    zero driver-side bookkeeping (the function is pure in
    (round_n, size, registry)).
    """
    if size <= 0:
        raise ValueError(f"size must be positive, got {size}")
    names = sorted(queries().keys())
    in_registry = set(names)
    anchors = [a for a in PANEL_ANCHORS if a in in_registry][:size]
    rest = [n for n in names if n not in set(anchors)]
    k = size - len(anchors)
    if k <= 0 or not rest:
        return anchors
    start = (int(round_n) * k) % len(rest)
    picked = [rest[(start + i) % len(rest)] for i in range(min(k, len(rest)))]
    return anchors + picked
