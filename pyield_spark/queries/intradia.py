"""Round-4 reference-parity queries:

- ``q_benchmarks`` — the Tesouro benchmark-vigency pipeline
  (pyield/tpf/benchmark.py:56-123): parse API-shaped records (strip,
  tolerant date casts, drop-nulls), keep benchmarks whose vigency
  window contains the reference date, canonical sort.
- ``q_intradia_enrich`` — the B3 intradia snapshot flow
  (pyield/b3/derivativos_intradia.py:51-77 connector shape +
  pyield/futuro/intradia.py:143-172 enrichment): FUT slice, price→rate
  rename, day counts, percent→decimal, DI1 price-from-rate, forward
  curve, DV01.

Both synthesize their reference-shaped input deterministically from the
driver's ``orders`` table (the established pattern of
``q_futures_enrich``) so the DuckDB oracle can restate the full chain.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from pyield_spark.operators.pinning import pin
from pyield_spark.queries import query, tables
from pyield_spark.queries.fixed_income import _CAL
from pyield_spark.queries.oracle_helpers import bd_count_sql, pround_sql

_HOJE = dt.date(1995, 6, 15)  # fixed reference "today" inside TPC-H range

_TITULO_CASE_SQL = (
    "CASE t4 WHEN 0 THEN 'LTN' WHEN 1 THEN 'LFT' "
    "WHEN 2 THEN 'NTN-B' ELSE 'NTN-F' END"
)


@query(
    "q_benchmarks",
    oracle=f"""
    WITH b0 AS (
      SELECT DISTINCT
        CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS ini,
        o_orderkey % 4 AS t4, o_orderkey % 10 AS t10
      FROM orders
    ),
    raw AS (
      SELECT
        concat(' ', {_TITULO_CASE_SQL}, ' ') AS titulo_raw,
        CASE WHEN t4 = 3 AND t10 = 9 THEN 'n/d'
             ELSE CAST(ini + TO_MONTHS(CAST(6 + t10 * 6 AS INT)) AS VARCHAR)
        END AS venc_raw,
        concat({_TITULO_CASE_SQL}, ' ', CAST(6 + t10 * 6 AS VARCHAR), ' meses')
          AS bench_raw,
        CAST(ini AS VARCHAR) AS ini_raw,
        CAST(CAST(ini + TO_MONTHS(3) AS DATE) - 1 AS VARCHAR) AS fim_raw
      FROM b0
    ),
    parsed AS (
      SELECT trim(titulo_raw) AS titulo,
             TRY_CAST(venc_raw AS DATE) AS data_vencimento,
             trim(bench_raw) AS benchmark,
             TRY_CAST(ini_raw AS DATE) AS data_inicio,
             TRY_CAST(fim_raw AS DATE) AS data_fim
      FROM raw
    )
    SELECT titulo, data_vencimento, benchmark, data_inicio, data_fim
    FROM parsed
    WHERE titulo IS NOT NULL AND data_vencimento IS NOT NULL
      AND benchmark IS NOT NULL AND data_inicio IS NOT NULL
      AND data_fim IS NOT NULL
      AND DATE '{_HOJE.isoformat()}' BETWEEN data_inicio AND data_fim
    """,
)
def q_benchmarks(spark, sf_dir):
    """Benchmark registry synthesized from order quarters (4 titles ×
    10 tenors per quarter, one malformed maturity to exercise the
    tolerant parse), pushed through the REAL pipeline:
    ``parse_benchmarks`` → ``benchmarks_vigentes`` (vigency BETWEEN on
    the fixed reference date + canonical sort). The vigency filter is a
    pure pushed-down predicate — at 100 TB the registry is a broadcast
    dimension, and ``benchmarks_vigentes`` stays a scan-level filter."""
    from pyield_spark.bonds.benchmark import benchmarks_vigentes, parse_benchmarks

    od = tables(spark, sf_dir, "orders")
    b0 = od.select(
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("ini"),
        (F.col("o_orderkey") % 4).alias("t4"),
        (F.col("o_orderkey") % 10).alias("t10"),
    ).distinct()
    titulo = (
        F.when(F.col("t4") == 0, "LTN")
        .when(F.col("t4") == 1, "LFT")
        .when(F.col("t4") == 2, "NTN-B")
        .otherwise("NTN-F")
    )
    months_fwd = (F.lit(6) + F.col("t10").cast("int") * 6).cast("int")
    raw = b0.select(
        F.concat(F.lit(" "), titulo, F.lit(" ")).alias("TÍTULO"),
        F.when(
            (F.col("t4") == 3) & (F.col("t10") == 9), F.lit("n/d")
        ).otherwise(
            F.add_months("ini", months_fwd).cast("string")
        ).alias("VENCIMENTO"),
        F.concat(
            titulo, F.lit(" "), months_fwd.cast("string"), F.lit(" meses")
        ).alias("BENCHMARK"),
        F.col("ini").cast("string").alias("INÍCIO"),
        F.date_sub(F.add_months("ini", 3), 1).cast("string").alias("TERMINO"),
    )
    return benchmarks_vigentes(parse_benchmarks(raw), hoje=_HOJE)


_SNAP_SQL = f"""
    snap AS (
      SELECT o_orderkey % 40 AS bucket,
             COUNT(*) AS numero_negocios,
             CAST(COUNT(*) * 10 AS BIGINT) AS contratos_abertos,
             round(SUM(o_totalprice), 2) AS volume_financeiro
      FROM orders GROUP BY o_orderkey % 40
    ),
    quotes AS (
      SELECT
        concat('DI1X', lpad(CAST(bucket AS VARCHAR), 2, '0')) AS codigo_negociacao,
        CASE WHEN bucket % 8 = 7 THEN 'OPT' ELSE 'FUT' END AS codigo_mercado,
        CASE WHEN bucket = 5 THEN DATE '1995-06-01'
             ELSE CAST(DATE '1995-07-01' + TO_MONTHS(CAST(bucket * 3 AS INT)) AS DATE)
        END AS data_vencimento,
        round(8.0 + (bucket % 17) * 0.25, 4) AS preco_ultimo,
        round(8.05 + (bucket % 17) * 0.25, 4) AS preco_ajuste_anterior,
        numero_negocios, contratos_abertos, volume_financeiro
      FROM snap
    )"""


@query(
    "q_intradia_enrich",
    oracle=f"""
    WITH {_CAL},
    {_SNAP_SQL.lstrip()},
    fut AS (
      SELECT *, DATE '{_HOJE.isoformat()}' AS data_referencia,
        round_even((preco_ultimo / 100.0) * 10000000000.0, 0) / 10000000000.0 AS taxa_ultima,
        round_even((preco_ajuste_anterior / 100.0) * 10000000000.0, 0) / 10000000000.0 AS taxa_ajuste_anterior,
        datediff('day', DATE '{_HOJE.isoformat()}', data_vencimento) AS dias_corridos
      FROM quotes
      WHERE codigo_mercado = 'FUT' AND data_vencimento IS NOT NULL
    ),
    counted AS (
      SELECT f.*,
        CAST({bd_count_sql("f.data_referencia", "f.data_vencimento")} AS BIGINT)
          AS dias_uteis
      FROM fut f
      JOIN cal cs ON cs.data = f.data_referencia
      JOIN cal ce ON ce.data = f.data_vencimento
      WHERE f.dias_corridos > 0
    ),
    priced AS (
      SELECT *,
        dias_uteis / 252.0 AS au,
        round(100000.0 / power(1.0 + taxa_ultima, dias_uteis / 252.0), 2)
          AS preco_ultimo_n
      FROM counted
    ),
    lagged AS (
      SELECT *,
        LAG(taxa_ultima) OVER (ORDER BY dias_uteis) AS tx_j,
        LAG(au) OVER (ORDER BY dias_uteis) AS au_j,
        MIN(dias_uteis) OVER () AS du_min
      FROM priced
    )
    SELECT data_referencia, codigo_negociacao, data_vencimento, dias_uteis,
      CAST(dias_corridos AS BIGINT) AS dias_corridos,
      contratos_abertos, numero_negocios, volume_financeiro,
      {pround_sql("0.0001 * (dias_uteis / 252.0) / (1 + taxa_ultima) * preco_ultimo_n", 6)}
        AS dv01,
      preco_ultimo_n AS preco_ultimo,
      {pround_sql("CASE WHEN dias_uteis = du_min THEN taxa_ultima ELSE power(power(1 + taxa_ultima, au) / power(1 + tx_j, au_j), 1.0 / (au - au_j)) - 1 END", 6)}
        AS taxa_forward,
      taxa_ajuste_anterior, taxa_ultima
    FROM lagged
    """,
)
def q_intradia_enrich(spark, sf_dir):
    """One DI1 snapshot (40 quotes, one per synthetic maturity bucket;
    a few OPT-market rows and one expired contract exercise the
    filters) through the REAL intradia flow: the ``processar_intradia``
    enrichment over the connector's canonical shape. Day counts come
    from the broadcast calendar dimension; the forward curve is one
    window over the (snapshot-sized) quote set — on a directory of
    10-second snapshots the window partitions by snapshot time and the
    whole pipeline stays shuffle-light."""
    from pyield_spark.sources.intradia_json import processar_intradia

    od = tables(spark, sf_dir, "orders")
    snap = od.groupBy((F.col("o_orderkey") % 40).alias("bucket")).agg(
        F.count("*").alias("numero_negocios"),
        (F.count("*") * 10).cast("bigint").alias("contratos_abertos"),
        F.round(F.sum("o_totalprice"), 2).alias("volume_financeiro"),
    )
    quotes = snap.select(
        F.concat(
            F.lit("DI1X"), F.lpad(F.col("bucket").cast("string"), 2, "0")
        ).alias("codigo_negociacao"),
        F.when(F.col("bucket") % 8 == 7, "OPT").otherwise("FUT").alias(
            "codigo_mercado"
        ),
        F.when(
            F.col("bucket") == 5, F.lit(dt.date(1995, 6, 1))
        ).otherwise(
            F.add_months(F.lit(dt.date(1995, 7, 1)), (F.col("bucket") * 3).cast("int"))
        ).alias("data_vencimento"),
        F.round(F.lit(8.0) + (F.col("bucket") % 17) * 0.25, 4).alias("preco_ultimo"),
        F.round(F.lit(8.05) + (F.col("bucket") % 17) * 0.25, 4).alias(
            "preco_ajuste_anterior"
        ),
        "numero_negocios",
        "contratos_abertos",
        "volume_financeiro",
    )
    out = processar_intradia(quotes, "DI1", _HOJE)
    from pyield_spark.functions.numbers import pround_expr

    return out.select(
        "data_referencia",
        "codigo_negociacao",
        "data_vencimento",
        "dias_uteis",
        "dias_corridos",
        "contratos_abertos",
        "numero_negocios",
        "volume_financeiro",
        pround_expr(F.col("dv01"), 6).alias("dv01"),
        "preco_ultimo",
        pround_expr(F.col("taxa_forward"), 6).alias("taxa_forward"),
        "taxa_ajuste_anterior",
        "taxa_ultima",
    )


# === Round-5: S14 monthly secondary-market silver/gold ===================
# The mensal connector's PARSE half (header-anchored per-member split,
# stripped all-string cells, '' → null, BR numbers, dd/MM/yyyy dates,
# era-tolerant corretagem columns, financeiro = Polars-parity round2)
# over reference-layout lines synthesized from orders — the same
# transform the real-zip goldens verify bit-exactly
# (tests/test_secundario_reference_goldens.py); here the DuckDB oracle
# recomputes every typed value directly.

_MENSAL_HDR = (
    "DATA MOV;SIGLA;CODIGO;CODIGO ISIN;EMISSAO;VENCIMENTO;NUM DE OPER;"
    "QUANT NEGOCIADA;VALOR NEGOCIADO;PU MIN;PU MED;PU MAX;PU LASTRO;"
    "VALOR PAR;TAXA MIN;TAXA MED;TAXA MAX;NUM OPER COM CORRETAGEM;"
    "QUANT NEG COM CORRETAGEM"
)

_MENSAL_TITULO_SQL = (
    "CASE o_orderkey % 4 WHEN 0 THEN 'LTN' WHEN 1 THEN 'LFT' "
    "WHEN 2 THEN 'NTN-B' ELSE 'NTN-F' END"
)


def _titulo_expr(k):
    """Spark twin of _MENSAL_TITULO_SQL (shared by both connector twins)."""
    return (
        F.when(k % 4 == 0, "LTN")
        .when(k % 4 == 1, "LFT")
        .when(k % 4 == 2, "NTN-B")
        .otherwise("NTN-F")
    )


def _br_cents_expr(col):
    """2dp BR decimal string via the decimal→string→comma roundtrip
    (q_part_dissect pattern; shared by both connector twins — the
    formatting MUST stay in sync with the oracle SQL's DECIMAL(12,2)
    cast in one place)."""
    return F.regexp_replace(col.cast("decimal(12,2)").cast("string"), r"\.", ",")


@query(
    "q_mensal_gold",
    oracle=f"""
    WITH msrc AS (
      SELECT CAST(o_orderdate AS DATE) AS data_liquidacao,
             {_MENSAL_TITULO_SQL} AS titulo,
             CAST(o_orderkey % 900000 + 100000 AS BIGINT) AS codigo_selic,
             concat('BRSTN', CAST(o_orderkey AS VARCHAR)) AS isin,
             CAST(o_orderdate AS DATE) - 100 AS data_emissao,
             CAST(CAST(o_orderdate AS DATE) + TO_MONTHS(12) AS DATE)
               AS data_vencimento,
             CAST(o_orderkey % 50 AS BIGINT) AS operacoes,
             CAST(o_orderkey % 1000 + 1 AS BIGINT) AS quantidade,
             CAST(NULL AS DOUBLE) AS pu_minimo,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS pu_medio,
             CAST(NULL AS DOUBLE) AS pu_maximo,
             CAST(NULL AS DOUBLE) AS pu_lastro,
             CAST(NULL AS DOUBLE) AS valor_par,
             CAST(NULL AS DOUBLE) AS taxa_minima,
             CAST(CAST((o_orderkey % 2000) / 100.0 AS DECIMAL(8,2)) AS DOUBLE)
               AS taxa_media,
             CAST(NULL AS DOUBLE) AS taxa_maxima,
             CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(o_orderkey % 7 AS BIGINT) END
               AS operacoes_corretagem,
             CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(o_orderkey % 11 AS BIGINT) END
               AS quantidade_corretagem
      FROM orders
    )
    SELECT *,
           round_even((quantidade * pu_medio) * 100, 0) / 100 AS financeiro
    FROM msrc
    """,
)
def q_mensal_gold(spark, sf_dir):
    """S14 driver-checkable twin: reference-layout ';'-lines synthesized
    from orders (BR decimals via the decimal→string→comma roundtrip,
    dd/MM/yyyy dates, ''-cells for the null columns), pushed through the
    REAL ``mensal_silver_from_lines`` + ``mensal_gold`` transform —
    exactly the code path the real-zip goldens cover."""
    from pyield_spark.sources.mensal import mensal_gold, mensal_silver_from_lines

    od = tables(spark, sf_dir, "orders", widen=True)
    k = F.col("o_orderkey")
    titulo = _titulo_expr(k)
    br = _br_cents_expr

    def d(col):
        return F.date_format(col, "dd/MM/yyyy")

    od_date = F.to_date("o_orderdate")
    data_line = F.concat_ws(
        ";",
        d(od_date),                                   # DATA MOV
        titulo,                                       # SIGLA
        (k % 900000 + 100000).cast("string"),         # CODIGO
        F.concat(F.lit("BRSTN"), k.cast("string")),   # CODIGO ISIN
        d(F.date_sub(od_date, 100)),                  # EMISSAO
        d(F.add_months(od_date, 12)),                 # VENCIMENTO
        (k % 50).cast("string"),                      # NUM DE OPER
        (k % 1000 + 1).cast("string"),                # QUANT NEGOCIADA
        F.lit(""),                                    # VALOR NEGOCIADO
        F.lit(""),                                    # PU MIN
        br(F.col("o_totalprice")),                    # PU MED
        F.lit(""),                                    # PU MAX
        F.lit(""),                                    # PU LASTRO
        F.lit(""),                                    # VALOR PAR
        F.lit(""),                                    # TAXA MIN
        br((k % 2000) / F.lit(100.0)),                # TAXA MED
        F.lit(""),                                    # TAXA MAX
        F.when(k % 3 == 0, F.lit("")).otherwise((k % 7).cast("string")),
        F.when(k % 5 == 0, F.lit("")).otherwise((k % 11).cast("string")),
    )
    hdr = spark.range(1).select(
        F.lit("synth.zip").alias("source_file"),
        F.lit("NegT.csv").alias("member_name"),
        F.lit(0).cast("long").alias("line_idx"),
        F.lit(_MENSAL_HDR).alias("line"),
    )
    data = od.select(
        F.lit("synth.zip").alias("source_file"),
        F.lit("NegT.csv").alias("member_name"),
        (k + 1).cast("long").alias("line_idx"),
        data_line.alias("line"),
    )
    # pin the synthesized lines ONCE: silver consumes the frame on two
    # legs (header aggregate + data parse) and derives its filters from
    # the line content, so Catalyst inlines the ~20-function synthesis
    # expression into every Filter/Project of BOTH legs — the r10
    # baseline plan evaluated it 4+ times per row over TWO orders scans
    # (+2 round-robin exchanges). The connector contract says `lines`
    # is an already-read frame (real zips arrive materialized), so the
    # twin mirrors that: one synthesis pass, one scan, narrow pin.
    lines = pin(hdr.unionByName(data), eager=False)
    return mensal_gold(mensal_silver_from_lines(lines))


# === Round-5: SELIC real-time statistics CSV (secondary intradia) =========
# The tpf_intradia connector's parse half over a synthesized wide frame
# carrying the REAL header (duplicated spot/termo names → Polars-style
# _duplicated_N disambiguation), '-' nulls in the termo block and
# corretagem slots, BR decimals, and a fixed query timestamp.

_TPFI_HEADER = [
    "//1", "código título", "data vencimento", "sigla",
    "mercado à vista pu último", "tx último", "pu mínimo", "tx mínimo",
    "pu médio", "tx médio", "pu máximo", "tx máximo",
    "totais liquidados operações", "corretagem liquidados operações",
    "títulos", "corretagem títulos", "financeiro",
    "mercado a termo pu último", "tx último", "pu mínimo", "tx mínimo",
    "pu médio", "tx médio", "pu máximo", "tx máximo",
    "totais contratados operações", "corretagem contratados operações",
    "títulos", "corretagem títulos", "financeiro",
]

_TPFI_TAXA_SQL = (
    "round_even((CAST(CAST((o_orderkey % 2000) / 100.0 AS DECIMAL(8,2)) AS DOUBLE)"
    " / 100.0) * 10000000000.0, 0) / 10000000000.0"
)


@query(
    "q_tpf_intradia",
    oracle=f"""
    WITH ti AS (
      SELECT TIMESTAMP '1995-06-15 12:00:00' AS data_hora_consulta,
             DATE '1995-06-15' AS data_liquidacao,
             {_MENSAL_TITULO_SQL} AS titulo,
             CAST(o_orderkey % 9000 + 1000 AS BIGINT) AS codigo_selic,
             CAST(CAST(o_orderdate AS DATE) + TO_MONTHS(6) AS DATE)
               AS data_vencimento,
             CAST(NULL AS DOUBLE) AS pu_minimo,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS pu_medio,
             CAST(NULL AS DOUBLE) AS pu_maximo,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS pu_ultimo,
             CAST(NULL AS DOUBLE) AS taxa_minima,
             {_TPFI_TAXA_SQL} AS taxa_media,
             CAST(NULL AS DOUBLE) AS taxa_maxima,
             {_TPFI_TAXA_SQL} AS taxa_ultima,
             CAST(o_orderkey % 500 AS BIGINT) AS operacoes,
             CAST(o_orderkey % 1000 AS BIGINT) AS quantidade,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS financeiro,
             CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(o_orderkey % 7 AS BIGINT) END
               AS operacoes_corretagem,
             CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS BIGINT)
                  ELSE CAST(o_orderkey % 11 AS BIGINT) END
               AS quantidade_corretagem,
             CAST(NULL AS DOUBLE) AS termo_pu_minimo,
             CAST(NULL AS DOUBLE) AS termo_pu_medio,
             CAST(NULL AS DOUBLE) AS termo_pu_ultimo,
             CAST(NULL AS DOUBLE) AS termo_pu_maximo,
             CAST(NULL AS DOUBLE) AS termo_taxa_ultima,
             CAST(NULL AS DOUBLE) AS termo_taxa_minima,
             CAST(NULL AS DOUBLE) AS termo_taxa_media,
             CAST(NULL AS DOUBLE) AS termo_taxa_maxima,
             CAST(NULL AS BIGINT) AS termo_operacoes,
             CAST(NULL AS BIGINT) AS termo_quantidade,
             CAST(NULL AS DOUBLE) AS termo_financeiro,
             CAST(NULL AS BIGINT) AS termo_operacoes_corretagem,
             CAST(NULL AS BIGINT) AS termo_quantidade_corretagem
      FROM orders
    )
    SELECT * FROM ti
    """,
)
def q_tpf_intradia(spark, sf_dir):
    """The SELIC statistics connector's parse half, driver-checkable:
    the real duplicated header + '1'-type data rows synthesized from
    orders (BR decimals, space-padded sigla, '-' nulls across the termo
    block) through ``tpf_intradia_from_wide`` — the same transform the
    2026-02-06 capture golden verifies."""
    import datetime as _dt

    from pyield_spark.sources.tpf_intradia import tpf_intradia_from_wide

    od = tables(spark, sf_dir, "orders", widen=True)
    k = F.col("o_orderkey")
    titulo = _titulo_expr(k)
    br = _br_cents_expr

    taxa_br = br((k % 2000) / F.lit(100.0))
    dash = F.lit("-")
    data_cells = [
        F.lit("1"),                                    # //1 record type
        (k % 9000 + 1000).cast("string"),              # código título
        F.date_format(F.add_months(F.to_date("o_orderdate"), 6), "dd/MM/yyyy"),
        F.concat(F.lit("   "), titulo, F.lit(" ")),    # sigla (padded)
        br(F.col("o_totalprice")),                     # à vista pu último
        taxa_br,                                       # tx último
        dash,                                          # pu mínimo
        dash,                                          # tx mínimo
        br(F.col("o_totalprice")),                     # pu médio
        taxa_br,                                       # tx médio
        dash,                                          # pu máximo
        dash,                                          # tx máximo
        (k % 500).cast("string"),                      # liquidados operações
        F.when(k % 3 == 0, dash).otherwise((k % 7).cast("string")),
        (k % 1000).cast("string"),                     # títulos
        F.when(k % 5 == 0, dash).otherwise((k % 11).cast("string")),
        br(F.col("o_totalprice")),                     # financeiro
    ] + [dash] * 13                                    # the termo block
    hdr_cells = [F.lit(h) for h in _TPFI_HEADER]
    n = len(_TPFI_HEADER)
    assert len(data_cells) == n
    hdr = spark.range(1).select(
        *[hdr_cells[i].alias(f"_c{i}") for i in range(n)],
        *[F.lit(None).cast("string").alias(f"_c{i}") for i in range(n, 36)],
    )
    data = od.select(
        *[data_cells[i].alias(f"_c{i}") for i in range(n)],
        *[F.lit(None).cast("string").alias(f"_c{i}") for i in range(n, 36)],
    )
    # NOT pinned, unlike q_mensal_gold's lines frame: an r10 A/B of the
    # same lazy-checkpoint pin here measured 2.01 → 4.52 s — this frame
    # is 36 STRING COLUMNS wide (vs one line string), so materializing
    # it costs more than re-evaluating the synthesis on the second leg
    return tpf_intradia_from_wide(
        hdr.unionByName(data), consulta=_dt.datetime(1995, 6, 15, 12, 0, 0)
    )
