"""STN-faithful bond pricing, fully columnar.

Constants and rounding chains verified against the reference:

- LTN (pyield/tpf/titulos/ltn.py:137-156): rate trunc8 →
  au = trunc14(du/252) → PU = trunc6(1000 / (1+taxa)^au).
- NTN-F (ntnf.py:16-25,283-301): semiannual coupon
  round(1000·(1.1^0.5 − 1), 5) = 48.80885; PV per flow bround9;
  PU = trunc6(Σ PV).
- NTN-B (ntnb.py:20-21,255-345): base-1 coupon 0.02956301
  (= (1.06^0.5 − 1) rounded); PV per flow bround12;
  cotação = trunc6(Σ PV); PU = trunc6(trunc6(vna)·trunc6(cotação)).
- LFT (lft.py:158,204,257-266): cotação = trunc6 of the discount factor;
  PU = trunc6(trunc6(vna)·cotação).
- Duration (Macaulay, explode-and-aggregate replacement for the per-row
  Python kernel at ntnb.py:750-781): Σ(t·PV)/Σ(PV), t = du/252.
- DV01 (pyield/tpf/titulos/_utils.py:189-192, futures variant
  pyield/futuro/contratos.py:29-46): 1e-4 · (duration/(1+taxa)) · PU.

Coupon-bond pricing uses the exploded-cash-flow plan (one narrow explode
+ one groupBy on the bond id) — no per-row Python, spark-scale clean.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark import du as du_mod
from pyield_spark.bonds.cashflows import coupon_flow_sql, explode_payment_dates
from pyield_spark.functions.numbers import pround_expr, truncar_expr
from pyield_spark.functions.sql import ident

VALOR_FACE = 1000.0
NTNF_CUPOM = 48.80885  # round(1000*((1.10)**0.5 - 1), 5) — ntnf.py:16-25
NTNF_FINAL = VALOR_FACE + NTNF_CUPOM
NTNB_CUPOM = 0.02956301  # base-1 semiannual 6% a.a. — ntnb.py:20-21
NTNB_FINAL = 1.0 + NTNB_CUPOM


def anos_uteis_expr(dias_uteis: str | Column) -> Column:
    """trunc14(du/252) — the STN year fraction (ltn.py:150)."""
    d = F.col(dias_uteis) if isinstance(dias_uteis, str) else dias_uteis
    return truncar_expr(d.cast("double") / 252.0, 14)


def ltn_pu_expr(dias_uteis: str | Column, taxa: str | Column) -> Column:
    """LTN PU from a business-day count and a decimal rate."""
    t = F.col(taxa) if isinstance(taxa, str) else taxa
    taxa_n = truncar_expr(t, 8)
    fator = F.pow(F.lit(1.0) + taxa_n, anos_uteis_expr(dias_uteis))
    return truncar_expr(F.lit(VALOR_FACE) / fator, 6)


def ltn_taxa_expr(dias_uteis: str | Column, pu: str | Column) -> Column:
    """Implied LTN rate from PU: trunc8((1000/pu)^(1/au) - 1) (ltn.py:186-197)."""
    p = F.col(pu) if isinstance(pu, str) else pu
    au = anos_uteis_expr(dias_uteis)
    taxa = F.pow(F.lit(VALOR_FACE) / p, F.lit(1.0) / au) - F.lit(1.0)
    return truncar_expr(taxa, 8)


def lft_cotacao_expr(dias_uteis: str | Column, taxa: str | Column) -> Column:
    """LFT quote factor: trunc6(1/(1+taxa)^au) (lft.py:140-158)."""
    t = F.col(taxa) if isinstance(taxa, str) else taxa
    taxa_n = truncar_expr(t, 8)
    fator = F.pow(F.lit(1.0) + taxa_n, anos_uteis_expr(dias_uteis))
    return truncar_expr(F.lit(1.0) / fator, 6)


def ntnbp_cotacao_expr(dias_uteis: str | Column, taxa: str | Column) -> Column:
    """NTN-B Principal quote factor: trunc6((1+taxa)^-trunc14(du/252)).

    Unlike the LTN/LFT chains, the reference applies NO trunc8 to the
    input rate here (pyield/tpf/titulos/ntnbp.py:14-40 uses ``taxa_tir``
    raw in the discount factor).
    """
    t = F.col(taxa) if isinstance(taxa, str) else taxa
    fator = F.pow(F.lit(1.0) + t, anos_uteis_expr(dias_uteis))
    return truncar_expr(F.lit(1.0) / fator, 6)


def ntnbp_dv01_expr(
    dias_uteis: str | Column, taxa: str | Column, pu: str | Column
) -> Column:
    """NTN-B Principal DV01 = pu·(1 − (1+t)^au / (1+t+1bp)^au)
    (pyield/tpf/titulos/ntnbp.py:119-154). The bumped rate is NOT
    re-truncated, unlike the LTN repricing path.
    """
    t = F.col(taxa) if isinstance(taxa, str) else taxa
    p = F.col(pu) if isinstance(pu, str) else pu
    au = anos_uteis_expr(dias_uteis)
    f0 = F.pow(F.lit(1.0) + t, au)
    f1 = F.pow(F.lit(1.0) + t + F.lit(0.0001), au)
    return p * (F.lit(1.0) - f0 / f1)


def pu_from_vna_expr(vna: str | Column, cotacao: str | Column) -> Column:
    """PU = trunc6(trunc6(vna)·trunc6(cotação)) (ntnb.py:316-324).

    The outer truncation runs in EXACT decimal: trunc6 outputs lie on
    the 1e-6 grid, so their product often lands exactly on a truncation
    boundary where double noise (±1 ulp) would flip the floor — the
    decimal path is deterministic across engines/platforms (the
    reference's float64 chain is itself platform-dependent there).
    Positive prices assumed (floor == toward-zero).
    """
    v = F.col(vna) if isinstance(vna, str) else vna
    c = F.col(cotacao) if isinstance(cotacao, str) else cotacao
    v6 = truncar_expr(v, 6).cast("decimal(18,6)")
    c6 = truncar_expr(c, 6).cast("decimal(18,6)")
    # re-narrow the exact product before scaling so neither engine hits
    # its precision cap (values < 1e12; (24,12) holds them exactly)
    prod = (v6 * c6).cast("decimal(24,12)")
    return (F.floor(prod * F.lit(1000000)) / F.lit(1000000.0)).cast("double")


def _exploded_flows(
    df: DataFrame,
    settlement: str,
    maturity: str,
    taxa: str,
    coupon_value: float | str,
    final_value: float | str,
) -> DataFrame:
    """Per-bond exploded flows with du, year fraction and discount factor,
    built from parsed SQL fragments (few py4j round trips per column). A
    ``str`` coupon or final value is a SQL fragment (NTN-C's per-row
    2031 exception)."""
    flows = explode_payment_dates(df, settlement, maturity, 6, "data_pagamento")
    flows = du_mod.contar(flows, settlement, "data_pagamento", alias="_du_fluxo")
    return (
        flows.withColumn(
            "_au", truncar_expr("CAST(_du_fluxo AS DOUBLE) / 252.0D", 14)
        )
        .withColumn(
            "_cf",
            F.expr(
                coupon_flow_sql(
                    "data_pagamento", ident(maturity), coupon_value, final_value
                )
            ),
        )
        .withColumn(
            "_fator",
            F.pow(F.lit(1.0) + truncar_expr(ident(taxa), 8), F.col("_au")),
        )
    )


def price_coupon_bond(
    df: DataFrame,
    id_cols: list[str],
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    taxa: str = "taxa",
    coupon_value: float | str = NTNF_CUPOM,
    final_value: float | str = NTNF_FINAL,
    vp_round: int = 9,
    alias: str = "pu",
    with_duration: bool = False,
) -> DataFrame:
    """Price coupon bonds (NTN-F defaults) via explode-and-aggregate.

    Returns one row per bond (``id_cols``) with ``alias`` =
    trunc6(Σ bround(CF/(1+taxa)^au, vp_round)) and, optionally,
    Macaulay ``duration`` = Σ(au·PV)/Σ(PV) from unrounded PVs.
    """
    flows = _exploded_flows(
        df, settlement, maturity, taxa, coupon_value, final_value
    )
    flows = flows.withColumn(
        "_vp", F.expr(f"bround(_cf / _fator, {int(vp_round)})")
    )
    # decimal accumulation: exact and order-independent (a parallel double
    # sum is association-dependent; the rounded PVs fit decimal exactly).
    # The STN truncation stays in the decimal domain — decimal→double
    # casts diverge across engines exactly on the truncation grid.
    # (Aggregates as parsed SQL — same trees as the old
    # trunc_decimal_sum_expr/pround_expr Column chains, r11 build
    # optimization.)
    aggs = [
        F.expr(
            "CAST(floor(CAST(sum(CAST(_vp AS DECIMAL(28,12)))"
            " AS DECIMAL(24,12)) * 1000000) / 1000000.0D AS DOUBLE)"
        ).alias(alias)
    ]
    if with_duration:
        # Macaulay from the STN-rounded PVs. Both factors sit on decimal
        # grids (au: trunc14, vp: bround-vp_round), so casting each to
        # its grid scale recovers the exact decimal on any engine, and
        # the product/sum stay exact; only the final quotient returns to
        # double, under a portable round. (Casting arbitrary PRODUCTS to
        # decimal is NOT portable — engines disagree near halfway.)
        num = (
            "CAST(sum(CAST(_au AS DECIMAL(16,14))"
            f" * CAST(_vp AS DECIMAL(20,{int(vp_round)}))) AS DOUBLE)"
        )
        den = f"CAST(sum(CAST(_vp AS DECIMAL(20,{int(vp_round)}))) AS DOUBLE)"
        aggs.append(
            pround_expr(f"({num}) / ({den})", 9).alias("duration")
        )
    return flows.groupBy(*id_cols).agg(*aggs)


def ntnb_cotacao(
    df: DataFrame,
    id_cols: list[str],
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    taxa: str = "taxa",
    alias: str = "cotacao",
    with_duration: bool = False,
) -> DataFrame:
    """NTN-B quote factor per bond (base-1; PV bround12, Σ trunc6)."""
    return price_coupon_bond(
        df,
        id_cols,
        settlement,
        maturity,
        taxa,
        coupon_value=NTNB_CUPOM,
        final_value=NTNB_FINAL,
        vp_round=12,
        alias=alias,
        with_duration=with_duration,
    )


def ntnb1_cotacao(
    df: DataFrame,
    id_cols: list[str],
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    taxa: str = "taxa",
    n_amort: int = 240,
    alias: str = "cotacao",
) -> DataFrame:
    """NTN-B1 (Renda+ n=240 / Educa+ n=60) quote factor per bond:
    monthly amortizing flows (final payment absorbs the trunc8
    remainder), PV = bround12(valor/(1+taxa)^trunc14(du/252)) with the
    input rate RAW (no trunc8 — ntnb1.py:191-226 uses taxa directly),
    Σ accumulated in decimal and truncated at 6."""
    from pyield_spark import du as du_mod
    from pyield_spark.bonds.cashflows import amortization_flows
    from pyield_spark.functions.numbers import trunc_decimal_sum_expr

    flows = amortization_flows(df, settlement, maturity, n_amort)
    flows = du_mod.contar(flows, settlement, "data_pagamento", alias="_du")
    t = F.col(taxa) if isinstance(taxa, str) else taxa
    vp = F.bround(
        F.col("valor_amortizacao")
        / F.pow(F.lit(1.0) + t, anos_uteis_expr(F.col("_du"))),
        12,
    )
    return (
        flows.withColumn("_vp", vp)
        .groupBy(*id_cols)
        .agg(
            trunc_decimal_sum_expr(
                F.sum(F.col("_vp").cast("decimal(28,12)")), 6
            ).alias(alias)
        )
    )


def rentabilidade_expr(taxa_titulo: str | Column, taxa_di: str | Column) -> Column:
    """Bond-over-DI daily-rate ratio (pyield/tpf/titulos/ltn.py:200-227):
    ((1+tx)^(1/252) − 1) / ((1+di)^(1/252) − 1)."""
    t = F.col(taxa_titulo) if isinstance(taxa_titulo, str) else taxa_titulo
    d = F.col(taxa_di) if isinstance(taxa_di, str) else taxa_di
    daily = lambda r: F.pow(F.lit(1.0) + r, F.lit(1.0 / 252.0)) - F.lit(1.0)  # noqa: E731
    return daily(t) / daily(d)


def premio_bps_expr(taxa_titulo: str | Column, taxa_di: str | Column) -> Column:
    """Raw rate premium over DI in basis points (premios_pre shape,
    pyield/tpf/titulos/_utils.py:51)."""
    t = F.col(taxa_titulo) if isinstance(taxa_titulo, str) else taxa_titulo
    d = F.col(taxa_di) if isinstance(taxa_di, str) else taxa_di
    return (t - d) * 10000.0


NTNC_CUPOM = 0.02956301  # 6% a.a. semiannual, base 1 (ntnc.py:24-31)
NTNC_CUPOM_2031 = 0.05830052  # the 12%-coupon 2031 maturity exception (ntnc.py:31-40)


def ntnc_coupon_sql(maturity: str) -> str:
    """NTN-C coupon over a maturity SQL fragment: 6% a.a. except the
    2031 maturity's 12% (pyield/tpf/titulos/ntnc.py:24-40)."""
    return (
        f"CASE WHEN year(to_date({maturity})) = 2031"
        f" THEN {NTNC_CUPOM_2031!r}D ELSE {NTNC_CUPOM!r}D END"
    )


def ntnc_cotacao(
    df: DataFrame,
    id_cols: list[str],
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    taxa: str = "taxa",
    alias: str = "cotacao",
) -> DataFrame:
    """NTN-C quote factor — per-row coupon convention as a SQL fragment."""
    coupon = ntnc_coupon_sql(ident(maturity))
    return price_coupon_bond(
        df,
        id_cols,
        settlement,
        maturity,
        taxa,
        coupon_value=coupon,
        final_value=f"1.0D + {coupon}",
        vp_round=12,
        alias=alias,
    )


def dv01_expr(dias_uteis: str | Column, taxa: str | Column, preco: str | Column) -> Column:
    """DV01 = 1e-4·(du/252)/(1+taxa)·PU (pyield/futuro/contratos.py:29-46)."""
    d = F.col(dias_uteis) if isinstance(dias_uteis, str) else dias_uteis
    t = F.col(taxa) if isinstance(taxa, str) else taxa
    p = F.col(preco) if isinstance(preco, str) else preco
    duracao_mod = (d.cast("double") / 252.0) / (F.lit(1.0) + t)
    return F.lit(0.0001) * duracao_mod * p
