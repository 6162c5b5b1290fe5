"""B3 futures enrichment pipeline.

Reference semantics:
- ticker dissection → maturity (pyield/futuro/contratos.py:96-153):
  prefix(3) + month-code letter (FGHJKMNQUVXZ → 1..12) + 2-digit year;
  maturity day 1 (15 for DAP), rolled forward to a business day;
- rate contracts {DI1, DAP, DDI, FRC, FRO} quote OHLC as percent →
  ÷100, and bid/ask INVERT on the price→rate rename
  (pyield/futuro/historico.py:15-28,119-122);
- enrich: dias_uteis (settlement→maturity), dias_corridos, DV01
  (contratos.py:29-46), forward rates per reference date
  (historico.py:129-136 → fwd.py).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark import du as du_mod
from pyield_spark.bonds.pricing import dv01_expr
from pyield_spark.curves.forwards import forwards_expr
from pyield_spark.functions.sql import ident

MONTH_CODES = "FGHJKMNQUVXZ"  # Jan..Dec
RATE_CONTRACTS = {"DI1", "DAP", "DDI", "FRC", "FRO"}


def normalizar_contrato_expr(contrato: str | Column) -> Column:
    """Contract-code normalization (pyield/b3/_contratos.py:8-21):
    trim + upper-case, empty/null → null (the engine's null is the
    reference's dropped-empty)."""
    c = F.col(contrato) if isinstance(contrato, str) else contrato
    up = F.upper(F.trim(c.cast("string")))
    return F.when(up == "", F.lit(None).cast("string")).otherwise(up)


def normalizar_contratos(valores) -> list[str]:
    """Scalar twin (pyield/b3/_contratos.py:24-50): normalize a
    str/sequence to a deduped upper-case list, input order kept."""
    if isinstance(valores, str):
        valores = [valores]
    out: list[str] = []
    for v in valores or []:
        if v is None:
            continue
        code = str(v).strip().upper()
        if code and code not in out:
            out.append(code)
    return out


def raw_maturity_sql(ticker_sql: str, contrato: str) -> str:
    """Unrolled maturity date from a 6-char ticker SQL fragment (day 1;
    15 for DAP), as SQL text. Malformed tickers yield null on ANY
    session: an invalid month letter nulls the month (locate → 0 →
    nullif), a non-digit year nulls the year (``try_cast``, so the
    parse is ANSI-independent), and ``make_date`` propagates either."""
    day = 15 if "DAP" in contrato.upper() else 1
    t = f"upper({ticker_sql})"
    return (
        f"make_date(try_cast(substring({t}, 5, 2) AS INT) + 2000, "
        f"nullif(locate(substring({t}, 4, 1), '{MONTH_CODES}'), 0), {day})"
    )


def with_vencimento(
    df: DataFrame, ticker: str, contrato: str, alias: str = "data_vencimento"
) -> DataFrame:
    """Maturity from ticker, rolled forward to a business day
    (deslocar(…, 0, 'forward') — contratos.py:153)."""
    df2 = df.withColumn(
        "_raw_ven", F.expr(raw_maturity_sql(ident(ticker), contrato))
    )
    return du_mod.deslocar(df2, "_raw_ven", 0, "forward", alias=alias).drop("_raw_ven")


def enrich(
    df: DataFrame,
    contrato: str,
    data_ref: str = "data_referencia",
    ticker: str = "codigo_negociacao",
    preco_ajuste: str = "preco_ajuste",
    taxa_ajuste_pct: str = "taxa_ajuste_pct",
) -> DataFrame:
    """Full enrichment: maturity, day counts, decimal rate, DV01,
    per-date forward curve."""
    out = with_vencimento(df, ticker, contrato)
    out = du_mod.contar(out, data_ref, "data_vencimento", alias="dias_uteis")
    out = out.withColumn(
        "dias_corridos", F.datediff(F.col("data_vencimento"), F.col(data_ref))
    )
    if contrato.upper() in RATE_CONTRACTS:
        from pyield_spark.functions.numbers import round_pl_expr

        # pct_para_decimal (br_numbers.py:10-16) is truediv(100)
        # .round(10) — Polars scaled half-to-even, same mode as
        # enriquecer and both auction pipelines (review: one rounding
        # mode per reference operation across every facade entry point)
        out = out.withColumn(
            "taxa_ajuste", round_pl_expr(F.col(taxa_ajuste_pct) / 100.0, 10)
        )
        out = out.withColumn(
            "dv01", dv01_expr("dias_uteis", "taxa_ajuste", preco_ajuste)
        )
        out = out.withColumn(
            "taxa_forward",
            forwards_expr("dias_uteis", "taxa_ajuste", F.col(data_ref)),
        )
    return out


# B3 XML schema → canonical names (pyield/futuro/historico.py:83-102)
RENOMEAR_COLUNAS_PR = {
    "TradDt": "data_referencia",
    "TckrSymb": "codigo_negociacao",
    "OpnIntrst": "contratos_abertos",
    "TradQty": "numero_negocios",
    "FinInstrmQty": "volume_negociado",
    "NtlFinVol": "volume_financeiro",
    "BestBidPric": "preco_ultima_oferta_compra",
    "BestAskPric": "preco_ultima_oferta_venda",
    "FrstPric": "preco_abertura",
    "MinPric": "preco_minimo",
    "MaxPric": "preco_maximo",
    "TradAvrgPric": "preco_medio",
    "LastPric": "preco_fechamento",
    "AdjstdQt": "preco_ajuste",
    "AdjstdQtTax": "taxa_ajuste",
    "MaxTradLmt": "preco_limite_maximo",
    "MinTradLmt": "preco_limite_minimo",
}

# preco_* → taxa_* on rate-quoted contracts; bid/ask INVERT
# (historico.py:15-28)
PRECO_PARA_TAXA = {
    "preco_abertura": "taxa_abertura",
    "preco_minimo": "taxa_minima",
    "preco_maximo": "taxa_maxima",
    "preco_medio": "taxa_media",
    "preco_fechamento": "taxa_fechamento",
    "preco_ultima_oferta_compra": "taxa_ultima_oferta_venda",
    "preco_ultima_oferta_venda": "taxa_ultima_oferta_compra",
    "preco_limite_minimo": "taxa_limite_minimo",
    "preco_limite_maximo": "taxa_limite_maximo",
}

COLUNAS_CONTRATO_PRECO = (
    "data_referencia", "codigo_negociacao", "data_vencimento",
    "dias_uteis", "dias_corridos", "contratos_abertos",
    "numero_negocios", "volume_negociado", "volume_financeiro",
    "preco_limite_minimo", "preco_limite_maximo", "preco_abertura",
    "preco_minimo", "preco_maximo", "preco_medio", "preco_fechamento",
    "preco_ultima_oferta_compra", "preco_ultima_oferta_venda",
    "preco_ajuste",
)

COLUNAS_CONTRATO_TAXA = (
    "data_referencia", "codigo_negociacao", "data_vencimento",
    "dias_uteis", "dias_corridos", "dv01", "contratos_abertos",
    "numero_negocios", "volume_negociado", "volume_financeiro",
    "preco_ajuste", "taxa_limite_minimo", "taxa_limite_maximo",
    "taxa_abertura", "taxa_minima", "taxa_maxima", "taxa_media",
    "taxa_fechamento", "taxa_ultima_oferta_venda",
    "taxa_ultima_oferta_compra", "taxa_ajuste", "taxa_forward",
)


def enriquecer(df: DataFrame, contrato: str) -> DataFrame:
    """FULL reference enrichment: raw B3 price-report frame (XML schema,
    e.g. ``sources.xml_report.read_price_report_xml``) → the published
    per-contract panel (pyield/futuro/historico.py:162-195):

    rename → prefix+6-char ticker filter → maturity from ticker (rolled
    to a business day) → dias_uteis/dias_corridos (expired rows drop) →
    rate contracts get the preco→taxa rename with INVERTED bid/ask and
    ALL taxa_* columns converted percent→decimal (Polars-parity scaled
    round at 10dp) → DV01 (DI1 only) → per-date forward curve (DI1 and
    DAP) → canonical column order → sort.

    Golden parity: tests/test_futuro_reference_goldens.py reproduces the
    reference's 24 futuro_YYYYMMDD_* golden parquets from its SPRD
    archives on every SPRD-carried and derived column.
    """
    from pyield_spark.functions.numbers import round_pl_expr

    contrato = contrato.upper()
    # the prefix is interpolated into a SQL string below — B3 contract
    # codes are strictly [A-Z0-9], so reject anything else before it
    # can act as a LIKE metacharacter ('_', '%') or break the quoting
    if not re.fullmatch(r"[A-Z0-9]+", contrato):
        raise ValueError(
            f"contrato must be alphanumeric (B3 ticker prefix): {contrato!r}"
        )
    # SQL-string column builders throughout the wide stages: each F.*
    # call is 1–3 py4j round trips and this pipeline touches ~22
    # columns several times — selectExpr/expr strings parse JVM-side
    # in ONE trip per column (the q_leiloes plan-build lever, PLANS.md)
    out = df.selectExpr(
        *[
            f"{src} AS {dst}"
            for src, dst in RENOMEAR_COLUNAS_PR.items()
            if src in df.columns
        ]
    ).where(
        f"startswith(codigo_negociacao, '{contrato}')"
        " AND length(codigo_negociacao) = 6"
    )
    out = with_vencimento(out, "codigo_negociacao", contrato)
    out = du_mod.contar(out, "data_referencia", "data_vencimento", alias="dias_uteis")
    out = out.withColumn(
        "dias_corridos",
        F.expr("CAST(datediff(data_vencimento, data_referencia) AS BIGINT)"),
    ).where("dias_corridos > 0")

    if contrato in RATE_CONTRACTS:
        out = out.withColumnsRenamed(
            {k: v for k, v in PRECO_PARA_TAXA.items() if k in out.columns}
        )
        out = out.withColumns(
            {
                c: round_pl_expr(f"{ident(c)} / 100.0D", 10)
                for c in out.columns
                if c.startswith("taxa_")
            }
        )
    if contrato == "DI1":
        out = out.withColumn(
            "dv01", dv01_expr("dias_uteis", "taxa_ajuste", "preco_ajuste")
        )
    if contrato in {"DI1", "DAP"}:
        out = out.withColumn(
            "taxa_forward",
            forwards_expr("dias_uteis", "taxa_ajuste", F.col("data_referencia")),
        )
    cols = (
        COLUNAS_CONTRATO_TAXA
        if contrato in RATE_CONTRACTS
        else COLUNAS_CONTRATO_PRECO
    )
    return out.select(*[c for c in cols if c in out.columns]).orderBy(
        "data_referencia", "data_vencimento"
    )


def di1_interpolar_taxas(
    historico: DataFrame,
    targets: DataFrame,
    tipo_taxa: str = "ajuste",
    data_ref: str = "data_referencia",
    du: str = "dias_uteis",
    target_du: str = "dias_uteis_alvo",
    extrapolar: bool = True,
    alias: str = "taxa_interpolada",
) -> DataFrame:
    """DI1 curve interpolation with the reference's rate-source knob
    (pyield/futuro/di1.py:118-236 ``interpolar_taxas``/``interpolar_taxa``,
    tests/test_di1.py).

    ``tipo_taxa="ajuste"`` (default) builds the per-reference-date
    flat-forward curve from ``taxa_ajuste``; ``"fechamento"`` uses the
    last traded rate instead — which may carry NULL vertices on
    untraded maturities: those vertices are DROPPED before
    interpolation (the reference's Polars curve cleaning), so a date
    whose chosen column has no usable vertex interpolates to null
    (reference: NaN). Any other value raises ``ValueError``, matching
    ``di1.interpolar_taxas``' validation.

    ``historico`` is the enriched DI1 panel (``data_referencia``,
    ``dias_uteis``, ``taxa_ajuste``, ``taxa_fechamento``);
    ``targets`` carries ``data_referencia`` + ``target_du``. One
    grouped-interpolar window shuffle, same engine core as
    q_interp_flat_forward.
    """
    if tipo_taxa not in ("ajuste", "fechamento"):
        raise ValueError(
            f"tipo_taxa must be 'ajuste' or 'fechamento', got {tipo_taxa!r}"
        )
    rate_col = "taxa_ajuste" if tipo_taxa == "ajuste" else "taxa_fechamento"
    curve = historico.select(
        data_ref, F.col(du).alias("_du_v"), F.col(rate_col).alias("_tx_v")
    ).filter(F.col("_tx_v").isNotNull() & ~F.isnan("_tx_v"))
    from pyield_spark.curves.interpolate import interpolar

    return interpolar(
        targets,
        curve,
        du_col=target_du,
        curve_du="_du_v",
        curve_rate="_tx_v",
        by=data_ref,
        extrapolar=extrapolar,
        alias=alias,
    )


def invert_bid_ask(df: DataFrame, bid: str, ask: str) -> DataFrame:
    """Price bid/ask become rate ask/bid on rate-quoted contracts
    (historico.py:15-28): highest price bid = lowest rate ask.
    pct_para_decimal semantics (Polars scaled half-to-even, round 10)."""
    from pyield_spark.functions.numbers import round_pl_expr

    return df.withColumns(
        {
            "taxa_compra": round_pl_expr(F.col(ask) / 100.0, 10),
            "taxa_venda": round_pl_expr(F.col(bid) / 100.0, 10),
        }
    )
