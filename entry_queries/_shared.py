"""Oracle SQL fragments that more than one query family uses."""

# --------------------------------------------------------------------------
# oracles (DuckDB ANSI SQL)
# --------------------------------------------------------------------------

_FEED_SQL = """
    SELECT l_suppkey AS filial,
           l_partkey AS cod_prod,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS periodo,
           lpad(trim(CAST(l_partkey AS VARCHAR)), 30, '0') AS etiqueta,
           l_discount AS perc_dsc_cupom,
           l_extendedprice AS venda,
           l_extendedprice * (1 - l_discount) AS venda_desconto,
           l_orderkey AS src_ordem,
           l_linenumber AS src_linha
    FROM lineitem WHERE l_linestatus = '{st}'
"""


_SIMHASH_BIT_SUMS = ", ".join(
    f"sum(((hv >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(60)
)

_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)" for j in range(60)
)
