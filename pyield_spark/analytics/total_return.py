"""NTN-B total-return decomposition — the reference's article-level
analytics (/root/reference/docs/articles/ntnb_total_return/utils.py:13-118)
re-expressed as ONE columnar pipeline over the engine's own primitives.

The reference computation, per bond position (data_inicial, data_final,
data_vencimento):

1. coupon payment dates strictly after ``data_inicial`` and at-or-before
   ``data_final`` (utils.py obter_pagamentos_cupons: ``fluxos_caixa``
   filtered ``> inicial``/``<= final``);
2. the calculation-date ladder = inicial + those payments + final
   (``_gerar_datas_calculo``), consecutive pairs forming the periods;
3. every ladder date business-day-adjusted with ``deslocar(d, 0)``
   (``_ajustar_data``);
4. per period (``_calcular_componentes_periodo``): with
   ``c_i = cotacao(inicio, ven, taxa_inicio)``,
   ``c_f = cotacao(fim, ven, taxa_fim) + cupom``,
   ``c_h = cotacao(fim, ven, taxa_inicio) + cupom`` (base-1 quotes;
   ``cupom = 1.06^(1/2) - 1`` for every period except the one ending at
   ``data_final`` — the reference adds the reinvested coupon only where
   ``indice != 0`` in its reverse-date loop),

   - ``retorno_total     = (c_f·vna_fim)/(c_i·vna_inicio) − 1``
   - ``retorno_inflacao  = vna_fim/vna_inicio``
   - ``retorno_mm        = c_f/c_h``  (marcação a mercado)
   - ``retorno_real      = c_h/c_i``
   - consistency: ``mm·real·inflacao − 1`` must equal ``retorno_total``
     within 1e-4 (an algebraic identity — it only trips on data bugs);

5. coupon cash: ``valor_pagamento = vna(data_pagamento)·cupom`` with a
   backward as-of VNA lookup when the raw payment date has no
   publication (``_obter_vna_pagamento``'s <=-max fallback).

Spark-first shape: the ladder is an explode + per-bond lead window
(bounded partitions — one row per calc date), the date adjustments are
``du.deslocar`` broadcast joins, the VNA lookups are broadcast as-of
joins against the series, and the three quotes per period are ONE
``ntnb_cotacao`` explode-and-aggregate pass over a role-tagged frame
(no per-row Python anywhere).

Deviations from the reference, documented:

- when a coupon date coincides with ``data_final`` the reference's
  ladder holds a duplicate date and emits one extra zero-length
  all-ones period; the columnar ladder dedupes calc dates (keeping the
  coupon flag), so that identity row is omitted — every real period is
  identical.
- scaling: the article divides ``ntnb.cotacao(...)`` and the coupon
  flow by 100 (utils.py:62,128), which was written against the
  pre-0.40 base-100 API — the CURRENT reference ``cotacao`` already
  returns base 1 (ntnb.py cotacao docstring: "Fator de cotação em base
  1") and ``fluxos_caixa`` base-1 flows, so running the article
  verbatim today double-divides. This twin uses the coherent base-1
  reading throughout: quotes enter the ratios as-is and
  ``valor_pagamento = vna·0.02956301`` (the base-1 coupon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyield_spark import du as du_mod
from pyield_spark.bonds.cashflows import explode_payment_dates
from pyield_spark.bonds.pricing import NTNB_CUPOM, ntnb_cotacao
from pyield_spark.operators.asof import asof_join
from pyield_spark.operators.pinning import pin

#: semiannual reinvestment rate for received coupons: (1.06)^(1/2) − 1
#: (utils.py:9 TAXA_REINVESTIMENTO_CUPOM — the raw float, NOT the
#: STN-rounded NTNB_CUPOM constant used for the coupon FLOW)
TAXA_REINVESTIMENTO_CUPOM = (1.06) ** (1 / 2) - 1

#: consistency-check tolerance (utils.py:10)
TOLERANCIA_CHECAGEM = 0.0001


def decompor_retorno_ntnb(
    positions: DataFrame,
    vna: DataFrame,
    taxas: DataFrame,
    id_cols: list[str],
    data_inicial: str = "data_inicial",
    data_final: str = "data_final",
    data_vencimento: str = "data_vencimento",
    vna_data: str = "data",
    vna_col: str = "vna",
    taxa_data: str = "data",
    taxa_col: str = "taxa",
) -> DataFrame:
    """Per-period total-return decomposition of NTN-B positions.

    Args:
        positions: one row per position with ``id_cols`` +
            ``data_inicial`` < ``data_final`` < ``data_vencimento``.
        vna: daily VNA series ``(vna_data, vna_col)`` — must cover every
            business day in the position windows (lookups are backward
            as-of, so a sparse series degrades gracefully like the
            reference's ``_obter_vna_pagamento`` fallback).
        taxas: indicative-rate series ``(taxa_data, data_vencimento,
            taxa_col)`` keyed by (reference date, maturity) — exact-match
            equi-join at the adjusted period boundaries.
        id_cols: position key columns.

    Returns one row per (position, periodo) with the raw boundary dates,
    the adjusted (business-day) boundaries, ``cupom`` (the reinvestment
    add-on applied to the period-end quotes), ``valor_pagamento`` (cash
    received at a coupon-ending period, null otherwise), the four
    return components and ``checagem_ok``.
    """
    base = positions.select(
        *id_cols,
        F.to_date(data_inicial).alias("_ini"),
        F.to_date(data_final).alias("_fin"),
        F.to_date(data_vencimento).alias("_ven"),
    )
    # 1-2. ladder: inicial + coupons in (inicial, final] + final; dedupe
    # dates keeping the coupon flag (see module docstring deviation)
    coupons = explode_payment_dates(
        base, "_ini", "_ven", 6, "_dc"
    ).filter(F.col("_dc") <= F.col("_fin"))
    ladder = (
        base.select(*id_cols, "_ven", F.col("_ini").alias("_dc"),
                    F.lit(False).alias("_cup"))
        .unionByName(
            coupons.select(*id_cols, "_ven", "_dc", F.lit(True).alias("_cup"))
        )
        .unionByName(
            base.select(*id_cols, "_ven", F.col("_fin").alias("_dc"),
                        F.lit(False).alias("_cup"))
        )
        .groupBy(*id_cols, "_ven", "_dc")
        .agg(F.max("_cup").alias("_cup"))
    )
    # periods = consecutive ladder pairs; partitions are bounded (one
    # row per calc date — ≤ a few dozen), so the per-bond window is safe
    w = Window.partitionBy(*id_cols).orderBy("_dc")
    periods = (
        ladder.withColumn("_fim", F.lead("_dc").over(w))
        .withColumn("_fim_cup", F.lead("_cup").over(w))
        .withColumn("periodo", F.row_number().over(w))
        .filter(F.col("_fim").isNotNull())
        .withColumnRenamed("_dc", "_inicio")
    )
    # 3. business-day adjustment (deslocar 0 = forward roll) — four
    # broadcast calendar joins total
    periods = du_mod.deslocar(periods, "_inicio", 0, alias="_inicio_util")
    periods = du_mod.deslocar(periods, "_fim", 0, alias="_fim_util")

    # rate lookups at the adjusted boundaries: exact equi-join on
    # (date, maturity) against the indicative-rate series
    tx = taxas.select(
        F.to_date(taxa_data).alias("_txd"),
        F.to_date(data_vencimento).alias("_ven"),
        F.col(taxa_col).alias("_tx"),
    )
    periods = (
        periods.join(
            tx.withColumnRenamed("_txd", "_inicio_util")
            .withColumnRenamed("_tx", "_taxa_ini"),
            ["_inicio_util", "_ven"],
            "left",
        )
        .join(
            tx.withColumnRenamed("_txd", "_fim_util")
            .withColumnRenamed("_tx", "_taxa_fim"),
            ["_fim_util", "_ven"],
            "left",
        )
    )

    # VNA lookups: backward as-of against the (dimension-sized) series —
    # broadcast route, zero fact-side shuffles. Three lookups per
    # period (the two adjusted boundaries plus the RAW payment date for
    # coupon cash — the reference's _obter_vna_pagamento fallback
    # semantics), MELTED into one long frame so the as-of machinery is
    # constructed ONCE: three separate asof_join calls each rebuild the
    # broadcast interval plan (~1 s of py4j round trips apiece — the
    # query was build-dominated, 3× exec), while the melt costs one
    # cheap explode + a (ids, periodo)-keyed pivot on a frame of
    # 3×#periods rows.
    serie = vna.select(
        F.to_date(vna_data).alias("_vd"), F.col(vna_col).alias("_vv")
    )
    lookups = periods.select(
        *id_cols, "periodo",
        F.explode(
            F.array(
                F.struct(F.lit("i").alias("w"), F.col("_inicio_util").alias("d")),
                F.struct(F.lit("f").alias("w"), F.col("_fim_util").alias("d")),
                F.struct(F.lit("p").alias("w"), F.col("_fim").alias("d")),
            )
        ).alias("_l"),
    ).select(*id_cols, "periodo", F.col("_l.w").alias("_w"), F.col("_l.d").alias("_d"))
    matched = asof_join(
        lookups, serie, on="_d", right_on="_vd", strategy="backward",
        values=["_vv"], distribution="broadcast",
    )
    vnas = matched.groupBy(*id_cols, "periodo").agg(
        F.max(F.when(F.col("_w") == "i", F.col("_vv"))).alias("_vna_ini"),
        F.max(F.when(F.col("_w") == "f", F.col("_vv"))).alias("_vna_fim"),
        F.max(F.when(F.col("_w") == "p", F.col("_vv"))).alias("_vna_pag"),
    )
    periods = periods.join(vnas, [*id_cols, "periodo"])

    # The enriched periods frame feeds TWO consumers (the role explode
    # for quotes and the final join back) — without a checkpoint the
    # whole lineage above (ladder window, four deslocar calendar joins,
    # two rate joins, three as-ofs) re-executes per consumer; the frame
    # is one row per (position, period), so materializing it is cheap
    # at any scale (same pattern as q_vna_prorata's pubs and
    # interpolar's ungrouped route).
    periods = pin(periods, eager=False)

    # 4. three quotes per period in ONE ntnb_cotacao pass over a
    # role-tagged explode: i = (inicio, taxa_ini), f = (fim, taxa_fim),
    # h = (fim, taxa_ini) — the hybrid quote isolating rate marking
    roles = periods.select(
        *id_cols, "periodo", "_ven",
        F.explode(
            F.array(
                F.struct(F.lit("i").alias("r"),
                         F.col("_inicio_util").alias("liq"),
                         F.col("_taxa_ini").alias("tx")),
                F.struct(F.lit("f").alias("r"),
                         F.col("_fim_util").alias("liq"),
                         F.col("_taxa_fim").alias("tx")),
                F.struct(F.lit("h").alias("r"),
                         F.col("_fim_util").alias("liq"),
                         F.col("_taxa_ini").alias("tx")),
            )
        ).alias("_s"),
    ).select(
        *id_cols, "periodo",
        F.col("_s.r").alias("_r"),
        F.col("_s.liq").alias("_liq"),
        F.col("_s.tx").alias("_tx"),
        "_ven",
    )
    quoted = ntnb_cotacao(
        roles, [*id_cols, "periodo", "_r"],
        settlement="_liq", maturity="_ven", taxa="_tx",
    )
    cots = quoted.groupBy(*id_cols, "periodo").agg(
        F.max(F.when(F.col("_r") == "i", F.col("cotacao"))).alias("_cot_i"),
        F.max(F.when(F.col("_r") == "f", F.col("cotacao"))).alias("_cot_f"),
        F.max(F.when(F.col("_r") == "h", F.col("cotacao"))).alias("_cot_h"),
    )
    out = periods.join(cots, [*id_cols, "periodo"])

    cupom = F.when(
        F.col("_fim_cup"), F.lit(TAXA_REINVESTIMENTO_CUPOM)
    ).otherwise(F.lit(0.0))
    c_i = F.col("_cot_i")
    c_f = F.col("_cot_f") + F.col("cupom")
    c_h = F.col("_cot_h") + F.col("cupom")
    total = (c_f * F.col("_vna_fim")) / (c_i * F.col("_vna_ini")) - F.lit(1.0)
    inflacao = F.col("_vna_fim") / F.col("_vna_ini")
    mm = c_f / c_h
    real = c_h / c_i
    return (
        out.withColumn("cupom", cupom)
        .select(
            *id_cols,
            "periodo",
            F.col("_inicio").alias("data_inicio"),
            F.col("_fim").alias("data_fim"),
            F.col("_inicio_util").alias("data_inicio_util"),
            F.col("_fim_util").alias("data_fim_util"),
            "cupom",
            F.when(
                F.col("_fim_cup"), F.col("_vna_pag") * F.lit(NTNB_CUPOM)
            ).alias("valor_pagamento"),
            total.alias("retorno_total"),
            inflacao.alias("retorno_inflacao"),
            mm.alias("retorno_mm"),
            real.alias("retorno_real"),
            (
                F.abs(mm * real * inflacao - F.lit(1.0) - total)
                <= F.lit(TOLERANCIA_CHECAGEM)
            ).alias("checagem_ok"),
        )
    )
