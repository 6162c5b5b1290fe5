"""NTN-B and LFT full pricing chains (§4.3 truncation semantics
end-to-end: quote factor → VNA multiplication → PU).

- NTN-B (pyield/tpf/titulos/ntnb.py:255-345): cotação =
  trunc6(Σ bround12(CF/(1+trunc8(taxa))^trunc14(du/252))),
  PU = trunc6(trunc6(vna)·trunc6(cotação)).
- LFT (pyield/tpf/lft.py:140-266): cotação = trunc6 of the single
  discount factor; same PU chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyield_spark import du as du_mod
from pyield_spark.bonds.pricing import (
    lft_cotacao_expr,
    ntnb_cotacao,
    pu_from_vna_expr,
)
from pyield_spark.functions.frames import local_frame
from pyield_spark.queries import query, tables
from pyield_spark.queries.fixed_income import _CAL
from pyield_spark.queries.oracle_helpers import (
    bd_count_sql,
    pround_sql,
    trunc_decimal_sum_sql,
    trunc_sql,
)

_NTNB_COT = trunc_decimal_sum_sql("SUM(CAST(vp AS DECIMAL(28,12)))", 6)
# exact-decimal outer truncation (see pu_from_vna_expr): grid-product
# boundaries are deterministic only in decimal arithmetic
_PU_CHAIN = (
    "CAST(floor(CAST(CAST(" + trunc_sql("vna", 6) + " AS DECIMAL(18,6))"
    " * CAST(" + trunc_sql("cotacao", 6) + " AS DECIMAL(18,6)) AS DECIMAL(24,12))"
    " * 1000000) / 1000000.0 AS DOUBLE)"
)
_LFT_COT = trunc_sql(
    f"1.0 / power(1 + {trunc_sql('taxa', 8)}, {trunc_sql('dias_uteis / 252.0', 14)})", 6
)
_NTNB_DU = "CAST(" + bd_count_sql("f.liq", "f.pay_date") + " AS BIGINT) / 252.0"
_NTNB_VP = (
    "round_even((CASE WHEN f.pay_date = f.ven THEN 1.02956301 ELSE 0.02956301 END)"
    + " / power(1 + "
    + trunc_sql("f.taxa", 8)
    + ", "
    + trunc_sql(_NTNB_DU, 14)
    + "), 12)"
)


@query(
    "q_ntnb_pricing",
    oracle=f"""
    WITH {_CAL},
    bonds AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS liq,
             CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                  + TO_MONTHS(CAST(36 + (o_orderkey % 3) * 24 AS INT)) AS DATE) + 14 AS ven,
             round(0.05 + (o_orderkey % 300) / 10000.0, 6) AS taxa,
             round(4000 + (o_orderkey % 100000) / 100.0, 6) AS vna
      FROM orders WHERE o_orderkey % 53 = 0
    ),
    flows AS (
      SELECT b.*, CAST(b.ven - TO_MONTHS(CAST(6 * i AS INT)) AS DATE) AS pay_date
      FROM bonds b, generate_series(0, 20) t(i)
      WHERE CAST(b.ven - TO_MONTHS(CAST(6 * i AS INT)) AS DATE) > b.liq
    ),
    pv AS (
      SELECT f.o_orderkey, f.liq, f.ven, f.taxa, f.vna, {_NTNB_VP} AS vp
      FROM flows f
      JOIN cal cs ON cs.data = f.liq
      JOIN cal ce ON ce.data = f.pay_date
    ),
    quoted AS (
      SELECT o_orderkey, MIN(liq) AS liq, MIN(ven) AS ven,
             MIN(taxa) AS taxa, MIN(vna) AS vna,
             {_NTNB_COT} AS cotacao
      FROM pv GROUP BY o_orderkey
    )
    SELECT o_orderkey, liq, ven, taxa, vna, cotacao, {_PU_CHAIN} AS pu
    FROM quoted
    """,
)
def q_ntnb_pricing(spark, sf_dir):
    od = tables(spark, sf_dir, "orders")
    bonds = od.filter(F.col("o_orderkey") % 53 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.date_add(
            F.add_months(
                F.date_trunc("month", "o_orderdate").cast("date"),
                F.lit(36) + (F.col("o_orderkey") % 3).cast("int") * 24,
            ),
            14,
        ).alias("ven"),
        F.round(F.lit(0.05) + (F.col("o_orderkey") % 300) / 10000.0, 6).alias("taxa"),
        F.round(F.lit(4000) + (F.col("o_orderkey") % 100000) / 100.0, 6).alias("vna"),
    )
    quoted = ntnb_cotacao(
        bonds, ["o_orderkey"], settlement="liq", maturity="ven", taxa="taxa"
    )
    out = bonds.join(quoted, "o_orderkey").withColumn(
        "pu", pu_from_vna_expr("vna", "cotacao")
    )
    return out.select("o_orderkey", "liq", "ven", "taxa", "vna", "cotacao", "pu")


@query(
    "q_lft_pricing",
    oracle=f"""
    WITH {_CAL},
    bonds AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS liq,
             CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                  + TO_MONTHS(CAST(24 + (o_orderkey % 6) * 6 AS INT)) AS DATE) AS ven,
             round((o_orderkey % 40) / 100000.0 - 0.0002, 6) AS taxa,
             round(10000 + (o_orderkey % 900000) / 100.0, 6) AS vna
      FROM orders WHERE o_orderkey % 41 = 0
    ),
    wdu AS (
      SELECT b.*, CAST({bd_count_sql("b.liq", "b.ven")} AS BIGINT) AS dias_uteis
      FROM bonds b
      JOIN cal cs ON cs.data = b.liq
      JOIN cal ce ON ce.data = b.ven
    ),
    quoted AS (
      SELECT *, {_LFT_COT} AS cotacao FROM wdu
    )
    SELECT o_orderkey, liq, ven, taxa, vna, dias_uteis, cotacao, {_PU_CHAIN} AS pu
    FROM quoted
    """,
)
def q_lft_pricing(spark, sf_dir):
    od = tables(spark, sf_dir, "orders")
    bonds = od.filter(F.col("o_orderkey") % 41 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.add_months(
            F.date_trunc("month", "o_orderdate").cast("date"),
            F.lit(24) + (F.col("o_orderkey") % 6).cast("int") * 6,
        ).alias("ven"),
        F.round((F.col("o_orderkey") % 40) / 100000.0 - 0.0002, 6).alias("taxa"),
        F.round(F.lit(10000) + (F.col("o_orderkey") % 900000) / 100.0, 6).alias("vna"),
    )
    bonds = du_mod.contar(bonds, "liq", "ven", alias="dias_uteis")
    out = bonds.withColumn("cotacao", lft_cotacao_expr("dias_uteis", "taxa")).withColumn(
        "pu", pu_from_vna_expr("vna", "cotacao")
    )
    return out.select(
        "o_orderkey", "liq", "ven", "taxa", "vna", "dias_uteis", "cotacao", "pu"
    )


# === NTN-B Principal: single-flow VNA-linked zero (ntnbp.py) ==============

_NTNBP_COT = trunc_sql(
    f"1.0 / power(1 + taxa, {trunc_sql('dias_uteis / 252.0', 14)})", 6
)


@query(
    "q_ntnbp_pricing",
    oracle=f"""
    WITH {_CAL},
    bonds AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS liq,
             CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                  + TO_MONTHS(CAST(30 + (o_orderkey % 6) * 12 AS INT)) AS DATE) + 14 AS ven,
             round(0.04 + (o_orderkey % 350) / 10000.0, 6) AS taxa,
             round(3000 + (o_orderkey % 90000) / 100.0, 6) AS vna
      FROM orders WHERE o_orderkey % 61 = 0
    ),
    wdu AS (
      SELECT b.*, CAST({bd_count_sql("b.liq", "b.ven")} AS BIGINT) AS dias_uteis
      FROM bonds b
      JOIN cal cs ON cs.data = b.liq
      JOIN cal ce ON ce.data = b.ven
    ),
    quoted AS (
      SELECT *, {_NTNBP_COT} AS cotacao FROM wdu
    ),
    priced AS (
      SELECT *, {_PU_CHAIN} AS pu FROM quoted
    )
    SELECT o_orderkey, liq, ven, taxa, vna, dias_uteis, cotacao, pu,
           {pround_sql(
               "pu * (1 - power(1 + taxa, " + trunc_sql("dias_uteis / 252.0", 14) + ")"
               " / power(1 + taxa + 0.0001, " + trunc_sql("dias_uteis / 252.0", 14) + "))",
               6,
           )} AS dv01
    FROM priced
    """,
)
def q_ntnbp_pricing(spark, sf_dir):
    """NTN-B Principal full chain: du → cotação → VNA·cotação PU → DV01.

    Reference: pyield/tpf/titulos/ntnbp.py:14-63 (cotacao/pu),
    :119-154 (dv01). Single-flow zero — no explode needed; the whole
    chain is narrow column arithmetic after one broadcast calendar join.
    """
    from pyield_spark.bonds.pricing import ntnbp_cotacao_expr, ntnbp_dv01_expr
    from pyield_spark.functions.numbers import pround_expr

    od = tables(spark, sf_dir, "orders")
    bonds = od.filter(F.col("o_orderkey") % 61 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.date_add(
            F.add_months(
                F.date_trunc("month", "o_orderdate").cast("date"),
                F.lit(30) + (F.col("o_orderkey") % 6).cast("int") * 12,
            ),
            14,
        ).alias("ven"),
        F.round(F.lit(0.04) + (F.col("o_orderkey") % 350) / 10000.0, 6).alias("taxa"),
        F.round(F.lit(3000) + (F.col("o_orderkey") % 90000) / 100.0, 6).alias("vna"),
    )
    bonds = du_mod.contar(bonds, "liq", "ven", alias="dias_uteis")
    out = (
        bonds.withColumn("cotacao", ntnbp_cotacao_expr("dias_uteis", "taxa"))
        .withColumn("pu", pu_from_vna_expr("vna", "cotacao"))
        .withColumn(
            "dv01", pround_expr(ntnbp_dv01_expr("dias_uteis", "taxa", "pu"), 6)
        )
    )
    return out.select(
        "o_orderkey", "liq", "ven", "taxa", "vna", "dias_uteis", "cotacao", "pu", "dv01"
    )


# === NTN-C: per-row coupon convention incl. the 2031 12% exception ========

from pyield_spark.queries.oracle_helpers import calendar_cte as _calendar_cte
import datetime as _dt

_CAL_WIDE = _calendar_cte(_dt.date(1994, 1, 1), _dt.date(2035, 12, 31))

_NTNC_VP = (
    "round_even((CASE WHEN f.pay_date = f.ven THEN 1 ELSE 0 END"
    " + CASE WHEN year(f.ven) = 2031 THEN 0.05830052 ELSE 0.02956301 END)"
    " / power(1 + " + trunc_sql("f.taxa", 8) + ", "
    + trunc_sql("CAST(" + bd_count_sql("f.liq", "f.pay_date") + " AS BIGINT) / 252.0", 14)
    + "), 12)"
)

_NTNC_ORACLE = f"""
    WITH {_CAL_WIDE},
    bonds AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS liq,
             make_date(2029 + CAST(o_orderkey % 4 AS INT), 7, 1) AS ven,
             round(0.055 + (o_orderkey % 200) / 10000.0, 6) AS taxa
      FROM orders WHERE o_orderkey % 59 = 0
    ),
    flows AS (
      SELECT b.*, CAST(b.ven - TO_MONTHS(CAST(6 * i AS INT)) AS DATE) AS pay_date
      FROM bonds b, generate_series(0, 80) t(i)
      WHERE CAST(b.ven - TO_MONTHS(CAST(6 * i AS INT)) AS DATE) > b.liq
    ),
    pv AS (
      SELECT f.o_orderkey, f.liq, f.ven, f.taxa, {_NTNC_VP} AS vp
      FROM flows f
      JOIN cal cs ON cs.data = f.liq
      JOIN cal ce ON ce.data = f.pay_date
    )
    SELECT o_orderkey, MIN(liq) AS liq, MIN(ven) AS ven, MIN(taxa) AS taxa,
           {_NTNB_COT} AS cotacao
    FROM pv GROUP BY o_orderkey
"""


@query("q_ntnc_pricing", oracle=_NTNC_ORACLE)
def q_ntnc_pricing(spark, sf_dir):
    from pyield_spark.bonds.pricing import ntnc_cotacao

    od = tables(spark, sf_dir, "orders")
    bonds = od.filter(F.col("o_orderkey") % 59 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.make_date(
            F.lit(2029) + (F.col("o_orderkey") % 4).cast("int"), F.lit(7), F.lit(1)
        ).alias("ven"),
        F.round(F.lit(0.055) + (F.col("o_orderkey") % 200) / 10000.0, 6).alias("taxa"),
    )
    quoted = ntnc_cotacao(
        bonds, ["o_orderkey"], settlement="liq", maturity="ven", taxa="taxa"
    )
    return bonds.join(quoted, "o_orderkey").select(
        "o_orderkey", "liq", "ven", "taxa", "cotacao"
    )


# === NTN-B1 Renda+/Educa+ monthly amortization schedule ===================

_NTNB1_ORACLE = f"""
    WITH {_CAL_WIDE},
    bonds AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS liq,
             CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                  + TO_MONTHS(CAST(240 + (o_orderkey % 5) * 12 AS INT)) AS DATE) AS ven,
             CASE WHEN o_orderkey % 2 = 0 THEN 60 ELSE 240 END AS n_amort,
             round(0.05 + (o_orderkey % 100) / 10000.0, 6) AS taxa
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    flows AS (
      SELECT b.*, CAST(b.ven - TO_MONTHS(CAST(i AS INT)) AS DATE) AS pay_date
      FROM bonds b, generate_series(0, 239) t(i)
      WHERE CAST(b.ven - TO_MONTHS(CAST(i AS INT)) AS DATE) > b.liq
        AND CAST(b.ven - TO_MONTHS(CAST(i AS INT)) AS DATE)
            >= CAST(b.ven - TO_MONTHS(CAST(b.n_amort - 1 AS INT)) AS DATE)
    ),
    pv AS (
      SELECT f.o_orderkey, f.liq, f.ven, f.n_amort, f.taxa,
        round_even((CASE WHEN f.pay_date = f.ven
                   THEN 1.0 - (CASE f.n_amort WHEN 60 THEN 0.01666666 ELSE 0.00416666 END) * (f.n_amort - 1)
                   ELSE CASE f.n_amort WHEN 60 THEN 0.01666666 ELSE 0.00416666 END END)
          / power(1 + f.taxa,
                  {trunc_sql("CAST(" + bd_count_sql("f.liq", "f.pay_date") + " AS BIGINT) / 252.0", 14)}),
          12) AS vp
      FROM flows f
      JOIN cal cs ON cs.data = f.liq
      JOIN cal ce ON ce.data = f.pay_date
    )
    SELECT o_orderkey, MIN(liq) AS liq, MIN(ven) AS ven,
           CAST(MIN(n_amort) AS INT) AS n_amort, MIN(taxa) AS taxa,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           {pround_sql("CAST(COUNT(*) AS DOUBLE) / MIN(n_amort)", 9)} AS fracao_restante,
           {_NTNB_COT} AS valor_presente
    FROM pv GROUP BY o_orderkey
"""


@query("q_ntnb1_schedule", oracle=_NTNB1_ORACLE)
def q_ntnb1_schedule(spark, sf_dir):
    from pyield_spark.bonds.pricing import anos_uteis_expr
    from pyield_spark.functions.numbers import pround_expr, trunc_decimal_sum_expr

    od = tables(spark, sf_dir, "orders")
    bonds = od.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.add_months(
            F.date_trunc("month", "o_orderdate").cast("date"),
            F.lit(240) + (F.col("o_orderkey") % 5).cast("int") * 12,
        ).alias("ven"),
        F.when(F.col("o_orderkey") % 2 == 0, 60).otherwise(240).alias("n_amort"),
        F.round(F.lit(0.05) + (F.col("o_orderkey") % 100) / 10000.0, 6).alias("taxa"),
    )
    # schedule: monthly payments in (liq, ven] no earlier than the
    # n_amort-month window ending at maturity
    from pyield_spark.bonds.cashflows import explode_payment_dates

    flows = explode_payment_dates(bonds, "liq", "ven", 1, "pay_date")
    flows = flows.filter(
        F.col("pay_date")
        >= F.add_months(F.col("ven"), -(F.col("n_amort").cast("int") - 1))
    )
    flows = du_mod.contar(flows, "liq", "pay_date", alias="_du")
    # faithful NTN-B1 semantics (ntnb1.py:34-51,218-226): amortization
    # value trunc8(1/n) with the final payment absorbing the remainder,
    # and the RAW taxa in the discount factor (the amortizing family
    # does NOT trunc8 the rate, unlike coupon bonds)
    amort = F.when(F.col("n_amort") == 60, F.lit(0.01666666)).otherwise(
        F.lit(0.00416666)
    )
    valor = F.when(
        F.col("pay_date") == F.col("ven"),
        F.lit(1.0) - amort * (F.col("n_amort") - 1),
    ).otherwise(amort)
    vp = F.bround(
        valor / F.pow(F.lit(1.0) + F.col("taxa"), anos_uteis_expr("_du")),
        12,
    )
    flows = flows.withColumn("_vp", vp)
    return flows.groupBy("o_orderkey").agg(
        F.min("liq").alias("liq"),
        F.min("ven").alias("ven"),
        F.min("n_amort").cast("int").alias("n_amort"),
        F.min("taxa").alias("taxa"),
        F.count("*").alias("n_flows"),
        pround_expr(F.count("*").cast("double") / F.min("n_amort"), 9).alias(
            "fracao_restante"
        ),
        trunc_decimal_sum_expr(F.sum(F.col("_vp").cast("decimal(28,12)")), 6).alias(
            "valor_presente"
        ),
    )


# === projected VNA (pró-rata exponencial, tpf/vna package) ================
# Vigência windows per family (NTN-B day-15→15, NTN-C day-1→1), STN
# precision chain trunc6 → bround2 → trunc14 → trunc6. Pure column
# arithmetic over calendar days — no joins at all.

_VNAP_EXPOENTE = trunc_sql(
    "CAST(datediff('day', inicio, data) AS DOUBLE) / datediff('day', inicio, fim)", 14
)


@query(
    "q_vna_projetado",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS data,
             CASE WHEN o_orderkey % 2 = 0 THEN 'NTN-B' ELSE 'NTN-C' END AS familia,
             round(1500 + (o_orderkey % 200000) / 100.0, 6) AS vna_base,
             round((o_orderkey % 120) / 100.0 - 0.1, 2) AS inflacao_pct
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    vig AS (
      SELECT *,
        CASE WHEN familia = 'NTN-C' THEN CAST(date_trunc('month', data) AS DATE)
             WHEN day(data) >= 15 THEN make_date(year(data), month(data), 15)
             ELSE CAST(make_date(year(data), month(data), 15) - TO_MONTHS(1) AS DATE)
        END AS inicio
      FROM base
    ),
    vig2 AS (
      SELECT *, CAST(inicio + TO_MONTHS(1) AS DATE) AS fim FROM vig
    )
    SELECT o_orderkey, data, familia, vna_base, inflacao_pct, inicio, fim,
           {trunc_sql(
               trunc_sql("vna_base", 6)
               + " * power(1 + round_even(inflacao_pct, 2) / 100.0, "
               + _VNAP_EXPOENTE + ")",
               6,
           )} AS vna_projetado
    FROM vig2
    """,
)
def q_vna_projetado(spark, sf_dir):
    """Projected VNA per family over the orders panel — NTN-B 15→15
    vigências and NTN-C 1→1 in one per-row dispatch
    (pyield/tpf/vna/ntnb.py:91-139, ntnc.py:110-158, _utils.py:38-65)."""
    from pyield_spark.bonds.vna import vigencia_expr, vna_projetado_expr

    od = tables(spark, sf_dir, "orders")
    base = od.filter(F.col("o_orderkey") % 17 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("data"),
        F.when(F.col("o_orderkey") % 2 == 0, "NTN-B").otherwise("NTN-C").alias(
            "familia"
        ),
        F.round(F.lit(1500) + (F.col("o_orderkey") % 200000) / 100.0, 6).alias(
            "vna_base"
        ),
        F.round((F.col("o_orderkey") % 120) / 100.0 - 0.1, 2).alias("inflacao_pct"),
    )
    ib, fb = vigencia_expr("data", 15)
    ic, fc = vigencia_expr("data", 1)
    is_c = F.col("familia") == "NTN-C"
    base = base.withColumn("inicio", F.when(is_c, ic).otherwise(ib)).withColumn(
        "fim", F.when(is_c, fc).otherwise(fb)
    )
    proj_b = vna_projetado_expr("data", "vna_base", "inflacao_pct", 15)
    proj_c = vna_projetado_expr("data", "vna_base", "inflacao_pct", 1)
    return base.select(
        "o_orderkey",
        "data",
        "familia",
        "vna_base",
        "inflacao_pct",
        "inicio",
        "fim",
        F.when(is_c, proj_c).otherwise(proj_b).alias("vna_projetado"),
    )


# === NTN-B1 zero-curve quote + equivalent IRR (TD method) =================
# Reference: pyield/tpf/titulos/ntnb1.py:263-300 (cotacao_curva_zero),
# :303-383 (taxa_curva_zero + _resolver_taxa_equivalente), :248-260
# (_cotacao_por_taxas: vp = round12(valor/(1+taxa)^trunc14(du/252)), sum
# untruncated). The zero curve is a static broadcast dimension here (8
# family groups x 6 vertices); the interpolation is flat-forward with
# hold-first below the shortest vertex and hold-last beyond the longest
# (extrapolar=True, the TD extrapolation). Precomputing the curve's
# bracketing segments driver-side turns the interpolation into ONE
# broadcast range-join — zero shuffles before the per-bond aggregation,
# and the identical VALUES table keeps the DuckDB oracle exact.
#
# The equivalent IRR (genuinely iterative — bisection per bond) is
# verified in two parts under the hash gate: `equiv_diff8` must be 0.0
# (the solved rate reproduces the zero-curve quote to 1e-8 — convergence
# proof) and `equiv_in_range` must be TRUE (the IRR of an all-positive
# flow set lies within [min,max] of the zero rates that discounted it).

_NB1Z_VERTICES = [126, 252, 756, 1512, 3024, 6048]


def _nb1z_curve() -> list[tuple[int, int, float]]:
    """(g, du, taxa_zero) rows — exact 4-decimal grid rates."""
    return [
        (g, du, round(0.04 + g * 0.002 + i * 0.0015, 4))
        for g in range(8)
        for i, du in enumerate(_NB1Z_VERTICES)
    ]


def _nb1z_segments():
    """Bracketing segments per group: (g, lo, hi, flat, du_j, tx_j,
    du_k, tx_k). lo inclusive, hi exclusive; hold-first below vertex 0,
    hold-last at/after the longest vertex."""
    segs = []
    for g in range(8):
        rows = [(du, tx) for (gg, du, tx) in _nb1z_curve() if gg == g]
        segs.append((g, 0, rows[0][0], True, rows[0][0], rows[0][1], None, None))
        for (du_j, tx_j), (du_k, tx_k) in zip(rows, rows[1:]):
            segs.append((g, du_j, du_k, False, du_j, tx_j, du_k, tx_k))
        segs.append((g, rows[-1][0], 10**9, True, rows[-1][0], rows[-1][1], None, None))
    return segs


_NB1Z_SEG_SQL = ",\n      ".join(
    f"({g}, {lo}, {hi}, {str(flat).upper()}, {du_j}, {tx_j}, "
    f"{'NULL' if du_k is None else du_k}, {'NULL' if tx_k is None else tx_k})"
    for (g, lo, hi, flat, du_j, tx_j, du_k, tx_k) in _nb1z_segments()
)

# flat-forward on raw au = du/252 (interpolador.py semantics), then a
# portable 9-decimal round so both engines discount the same rate
_NB1Z_FF = """power(
      power(1 + s.tx_j, s.du_j / 252.0)
      * power(power(1 + s.tx_k, s.du_k / 252.0) / power(1 + s.tx_j, s.du_j / 252.0),
              (f.du - s.du_j) / CAST(s.du_k - s.du_j AS DOUBLE)),
      252.0 / f.du) - 1"""

_NB1Z_ORACLE = f"""
    WITH {{cal}},
    seg(g, lo, hi, flat, du_j, tx_j, du_k, tx_k) AS (VALUES
      {_NB1Z_SEG_SQL}),
    bonds AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 8 AS INT) AS g,
             CAST(o_orderdate AS DATE) AS liq,
             CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                  + TO_MONTHS(CAST(span AS INT)) AS DATE) AS ven,
             span
      FROM (SELECT *, CASE o_orderkey % 3 WHEN 0 THEN 24 WHEN 1 THEN 48
                      ELSE 300 END AS span
            FROM orders WHERE o_orderkey % 101 = 0) o
    ),
    flows0 AS (
      SELECT b.*, CAST(b.ven - TO_MONTHS(CAST(i AS INT)) AS DATE) AS pay_date
      FROM bonds b, generate_series(0, 299) t(i)
      WHERE i < b.span AND CAST(b.ven - TO_MONTHS(CAST(i AS INT)) AS DATE) > b.liq
    ),
    flows AS (
      SELECT f.*, CAST({bd_count_sql("f.liq", "f.pay_date")} AS BIGINT) AS du
      FROM flows0 f
      JOIN cal cs ON cs.data = f.liq
      JOIN cal ce ON ce.data = f.pay_date
    ),
    rated AS (
      SELECT f.o_orderkey, f.liq, f.ven, f.span, f.du,
             {pround_sql(f"CASE WHEN s.flat THEN s.tx_j ELSE {_NB1Z_FF} END", 9)}
               AS taxa_zero
      FROM flows f JOIN seg s ON f.g = s.g AND f.du >= s.lo AND f.du < s.hi
    ),
    pv AS (
      SELECT o_orderkey, liq, ven, span,
        round_even((1.0 / span)
          / power(1 + taxa_zero, {trunc_sql("du / 252.0", 14)}), 12) AS vp
      FROM rated
    )
    SELECT o_orderkey, MIN(liq) AS liq, MIN(ven) AS ven,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           {trunc_decimal_sum_sql("SUM(CAST(vp AS DECIMAL(28,12)))", 9)} AS cotacao,
           CAST(0.0 AS DOUBLE) AS equiv_diff8,
           TRUE AS equiv_in_range
    FROM pv GROUP BY o_orderkey
"""


@query("q_ntnb1_curva_zero", oracle=_NB1Z_ORACLE.format(cal=_CAL_WIDE))
def q_ntnb1_curva_zero(spark, sf_dir):
    from collections.abc import Iterator

    import pandas as pd

    from pyield_spark.bonds.cashflows import explode_payment_dates
    from pyield_spark.functions.numbers import pround_expr, trunc_decimal_sum_expr
    from pyield_spark.functions.numbers import truncar_expr as _trunc

    od = tables(spark, sf_dir, "orders")
    span = (
        F.when(F.col("o_orderkey") % 3 == 0, 24)
        .when(F.col("o_orderkey") % 3 == 1, 48)
        .otherwise(300)
    )
    bonds = od.filter(F.col("o_orderkey") % 101 == 0).select(
        "o_orderkey",
        (F.col("o_orderkey") % 8).cast("int").alias("g"),
        F.to_date("o_orderdate").alias("liq"),
        span.alias("span"),
    )
    bonds = bonds.withColumn(
        "ven",
        F.add_months(F.date_trunc("month", "liq").cast("date"), F.col("span")),
    )
    flows = explode_payment_dates(bonds, "liq", "ven", 1, "pay_date")
    flows = du_mod.contar(flows, "liq", "pay_date", alias="du")

    seg = local_frame(
        spark,
        _nb1z_segments(),
        "g int, lo long, hi long, flat boolean, du_j long, tx_j double, "
        "du_k long, tx_k double",
    )
    ff = (
        F.pow(
            F.pow(1 + F.col("tx_j"), F.col("du_j") / 252.0)
            * F.pow(
                F.pow(1 + F.col("tx_k"), F.col("du_k") / 252.0)
                / F.pow(1 + F.col("tx_j"), F.col("du_j") / 252.0),
                (F.col("du") - F.col("du_j"))
                / (F.col("du_k") - F.col("du_j")).cast("double"),
            ),
            252.0 / F.col("du"),
        )
        - 1
    )
    rated = flows.join(
        F.broadcast(seg),
        on=[
            flows["g"] == seg["g"],
            F.col("du") >= F.col("lo"),
            F.col("du") < F.col("hi"),
        ],
    ).select(
        "o_orderkey",
        "liq",
        "ven",
        "span",
        "du",
        pround_expr(F.when(F.col("flat"), F.col("tx_j")).otherwise(ff), 9).alias(
            "taxa_zero"
        ),
    )
    vp = F.bround(
        (F.lit(1.0) / F.col("span"))
        / F.pow(1 + F.col("taxa_zero"), _trunc(F.col("du") / 252.0, 14)),
        12,
    )
    packed = (
        rated.withColumn("_vp", vp)
        .groupBy("o_orderkey")
        .agg(
            F.min("liq").alias("liq"),
            F.min("ven").alias("ven"),
            F.count("*").alias("n_flows"),
            trunc_decimal_sum_expr(
                F.sum(F.col("_vp").cast("decimal(28,12)")), 9
            ).alias("cotacao"),
            F.first(F.lit(1.0) / F.col("span")).alias("_valor"),
            F.collect_list(_trunc(F.col("du") / 252.0, 14)).alias("_aus"),
            F.collect_list("taxa_zero").alias("_tzs"),
        )
    )

    out_schema = (
        "o_orderkey long, liq date, ven date, n_flows long, cotacao double, "
        "equiv_diff8 double, equiv_in_range boolean"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # taxa_curva_zero semantics (ntnb1.py:339-383): target = sum of
        # round-12 PVs at the interpolated zero rates; then bisect the
        # single rate reproducing it (tol 1e-12, bracket growth upward).
        # numpy-vectorized per bond: target and PV(r) use the SAME
        # np.round, so diff==0-at-convergence holds by construction
        # (pure-Python round() costs ~27M calls at sf0.1 — ~100× slower)
        import numpy as np

        def pv12(rate, valor, aus):
            return float(np.round(valor / (1.0 + rate) ** aus, 12).sum())

        for pdf in batches:
            diffs, inr = [], []
            for valor, aus, tzs in zip(pdf["_valor"], pdf["_aus"], pdf["_tzs"]):
                aus = np.asarray(aus, dtype=np.float64)
                tzs = np.asarray(tzs, dtype=np.float64)
                target = float(np.round(valor / (1.0 + tzs) ** aus, 12).sum())
                lo, hi = -0.99, max(1.0, 2 * float(tzs[-1]) + 0.01)
                while pv12(hi, valor, aus) - target > 0:
                    hi = 2 * hi + 1
                for _ in range(200):
                    mid = (lo + hi) / 2.0
                    if pv12(mid, valor, aus) - target > 0:
                        lo = mid
                    else:
                        hi = mid
                    if hi - lo < 1e-12:
                        break
                r = (lo + hi) / 2.0
                # + 0.0 normalizes IEEE -0.0 (converged-from-below)
                diffs.append(float(np.round(pv12(r, valor, aus) - target, 8)) + 0.0)
                inr.append(bool(tzs.min() - 1e-9 <= r <= tzs.max() + 1e-9))
            yield pd.DataFrame(
                {
                    "o_orderkey": pdf["o_orderkey"],
                    "liq": pdf["liq"],
                    "ven": pdf["ven"],
                    "n_flows": pdf["n_flows"],
                    "cotacao": pdf["cotacao"],
                    "equiv_diff8": diffs,
                    "equiv_in_range": inr,
                }
            )

    return packed.mapInPandas(kernel, out_schema)


# === K4 (third kernel): implied LFT rate from price =======================
# The truncated chain is a STEP function: many rates map to one price
# (the reference's own docstring recovers 0.001717 as 0.00171691), so a
# rate round-trip is NOT an identity. The correct oracle is the PRICE
# round-trip: repricing at the solver's rate must reproduce the
# original price exactly — hash-compared against the closed-form price.


@query(
    "q_lft_implied",
    oracle=f"""
    WITH {_CAL},
    lpanel AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS liq,
             CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                  + TO_MONTHS(CAST(12 + (o_orderkey % 8) * 9 AS INT)) AS DATE) AS ven,
             round(0.0008 + (o_orderkey % 300) / 1000000.0, 6) AS taxa,
             14000.0 + (o_orderkey % 5000) / 10.0 AS vna
      FROM orders WHERE o_orderkey % 53 = 0
    ),
    ldu AS (
      SELECT p.*, CAST({bd_count_sql("p.liq", "p.ven")} AS BIGINT) AS dias_uteis
      FROM lpanel p JOIN cal cs ON cs.data = p.liq JOIN cal ce ON ce.data = p.ven
    ),
    lcot AS (SELECT o_orderkey, vna, {_LFT_COT} AS cotacao FROM ldu)
    SELECT o_orderkey, {_PU_CHAIN} AS pu FROM lcot
    """,
)
def q_lft_implied(spark, sf_dir):
    """LFT rate inversion (lft.py:161-204): price each synthetic LFT
    through the truncated STN chain, solve the rate back with the
    bracket-sweep bisection kernel (``bonds/bootstrap.py::lft_taxas``),
    then REPRICE at the solved rate — the output price hash-matches the
    oracle's closed-form price, verifying the solver landed on the
    correct step of the truncated chain."""
    from pyield_spark import du as du_mod
    from pyield_spark.bonds.bootstrap import lft_taxas
    from pyield_spark.bonds.pricing import lft_cotacao_expr, pu_from_vna_expr

    od = tables(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    panel = od.filter(k % 53 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.add_months(
            F.date_trunc("month", "o_orderdate").cast("date"),
            F.lit(12) + (k % 8).cast("int") * 9,
        ).alias("ven"),
        F.round(F.lit(0.0008) + (k % 300) / 1000000.0, 6).alias("taxa"),
        (F.lit(14000.0) + (k % 5000) / 10.0).alias("vna"),
    )
    panel = du_mod.contar(panel, "liq", "ven", alias="dias_uteis")
    priced = panel.withColumn(
        "pu",
        pu_from_vna_expr("vna", lft_cotacao_expr("dias_uteis", "taxa")),
    )
    implied = lft_taxas(priced, ["o_orderkey"])
    back = priced.select("o_orderkey", "dias_uteis", "vna").join(implied, "o_orderkey")
    # reprice with the solved rate RAW: it already lies on the 8dp grid
    # and the solver priced it without a second normalization — feeding
    # it back through lft_cotacao_expr would re-truncate (trunc8 of an
    # 8dp double is NOT a no-op) and can slip one grid step
    from pyield_spark.bonds.pricing import anos_uteis_expr
    from pyield_spark.functions.numbers import truncar_expr

    cot_back = truncar_expr(
        F.lit(1.0)
        / F.pow(F.lit(1.0) + F.col("taxa_implicita"), anos_uteis_expr("dias_uteis")),
        6,
    )
    return back.select(
        "o_orderkey", pu_from_vna_expr("vna", cot_back).alias("pu")
    )
