"""Analytics-pipeline queries: futures enrichment (ticker dissection →
maturity roll → DV01 → forwards), COPOM probabilities, VNA pro-rata,
implied rates (K4 kernel), zero-curve bootstrap (K5 kernel), and the
pivot/rollup extensions.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyield_spark.analytics.futuro import enrich
from pyield_spark.analytics.selic import probabilities
from pyield_spark.bonds.bootstrap import implied_rates, ntnb_taxas_zero
from pyield_spark.bonds.pricing import price_coupon_bond
from pyield_spark.functions.numbers import pround_expr, truncar_expr
from pyield_spark.operators.asof import asof_join
from pyield_spark.operators.pinning import pin
from pyield_spark.queries import query, tables
from pyield_spark.queries.fixed_income import _CAL, _curve_df
from pyield_spark.queries.oracle_helpers import (
    bd_count_sql,
    pround_sql,
    trunc_decimal_sum_sql,
    trunc_sql,
)

DEC = "decimal(18,6)"


# === futures enrichment pipeline (§3.1 analogue) ==========================

_FUT_PANEL_SQL = """
panel AS (
  SELECT CAST(o_orderdate AS DATE) AS data_referencia,
         CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
              + TO_MONTHS(CAST(72 + (o_orderkey % 8) * 3 AS INT)) AS DATE) AS ven_raw,
         round(o_totalprice, 2) AS preco_ajuste,
         round(8 + (o_orderkey % 1000) / 100.0, 4) AS taxa_ajuste_pct,
         o_orderkey
  FROM orders
),
panel2 AS (
  SELECT *,
    concat('DI1', substr('FGHJKMNQUVXZ', month(ven_raw), 1),
           lpad(CAST(year(ven_raw) % 100 AS VARCHAR), 2, '0')) AS codigo_negociacao
  FROM panel
)"""


@query(
    "q_futures_enrich",
    oracle=f"""
    WITH {_CAL},
    {_FUT_PANEL_SQL.lstrip()},
    rolled AS (
      SELECT p.*, bf.data AS data_vencimento
      FROM panel2 p
      JOIN cal c ON c.data = p.ven_raw
      LEFT JOIN bdinv bf ON bf.regime = (CASE WHEN p.ven_raw < DATE '2023-12-26'
                                         THEN 'antigo' ELSE 'novo' END)
        AND bf.ordinal = (CASE WHEN p.ven_raw < DATE '2023-12-26'
                          THEN c.cum_ant ELSE c.cum_nov END)
    ),
    counted AS (
      SELECT r.*,
        CAST({bd_count_sql("r.data_referencia", "r.data_vencimento")} AS BIGINT) AS dias_uteis,
        datediff('day', r.data_referencia, r.data_vencimento) AS dias_corridos,
        round_even((r.taxa_ajuste_pct / 100.0) * 10000000000.0, 0) / 10000000000.0 AS taxa_ajuste
      FROM rolled r
      JOIN cal cs ON cs.data = r.data_referencia
      JOIN cal ce ON ce.data = r.data_vencimento
    ),
    flagged AS (
      SELECT *, COUNT(*) OVER (PARTITION BY data_referencia, dias_uteis) > 1 AS is_dup
      FROM counted
    ),
    valid AS (
      SELECT *, CASE WHEN is_dup THEN NULL ELSE taxa_ajuste END AS tx_valid,
             dias_uteis / 252.0 AS au
      FROM flagged
    ),
    lagged AS (
      SELECT *, LAG(tx_valid) OVER (PARTITION BY data_referencia ORDER BY dias_uteis) AS tx_j,
             LAG(au) OVER (PARTITION BY data_referencia ORDER BY dias_uteis) AS au_j,
             MIN(dias_uteis) OVER (PARTITION BY data_referencia) AS du_min
      FROM valid
    )
    SELECT o_orderkey, data_referencia, codigo_negociacao, data_vencimento,
      dias_uteis, CAST(dias_corridos AS INT) AS dias_corridos, taxa_ajuste, preco_ajuste,
      {pround_sql("0.0001 * (dias_uteis / 252.0) / (1 + taxa_ajuste) * preco_ajuste", 6)} AS dv01,
      {pround_sql("CASE WHEN dias_uteis = du_min THEN tx_valid ELSE power(power(1 + tx_valid, au) / power(1 + tx_j, au_j), 1.0 / (au - au_j)) - 1 END", 6)} AS taxa_forward
    FROM lagged
    """,
)
def q_futures_enrich(spark, sf_dir):
    od = tables(spark, sf_dir, "orders")
    # +72 months keeps every synthetic maturity in 20xx so the
    # reference's 2-digit-year "+2000" dissection rule round-trips
    ven_raw = F.add_months(
        F.date_trunc("month", "o_orderdate").cast("date"),
        F.lit(72) + (F.col("o_orderkey") % 8).cast("int") * 3,
    )
    panel = od.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("data_referencia"),
        F.round("o_totalprice", 2).alias("preco_ajuste"),
        F.round(F.lit(8) + (F.col("o_orderkey") % 1000) / 100.0, 4).alias(
            "taxa_ajuste_pct"
        ),
        F.concat(
            F.lit("DI1"),
            F.substring(F.lit("FGHJKMNQUVXZ"), F.month(ven_raw), 1),
            F.lpad((F.year(ven_raw) % 100).cast("string"), 2, "0"),
        ).alias("codigo_negociacao"),
        ven_raw.alias("_ven_hint"),
    )
    # dissect the ticker (string → maturity), roll, count, enrich; the
    # year hint disambiguates the 2-digit year exactly like the
    # reference's +2000 rule (all synthetic maturities are 20xx)
    out = enrich(
        panel,
        "DI1",
        data_ref="data_referencia",
        ticker="codigo_negociacao",
        preco_ajuste="preco_ajuste",
        taxa_ajuste_pct="taxa_ajuste_pct",
    )
    return out.select(
        "o_orderkey",
        "data_referencia",
        "codigo_negociacao",
        "data_vencimento",
        "dias_uteis",
        F.col("dias_corridos").cast("int").alias("dias_corridos"),
        "taxa_ajuste",
        "preco_ajuste",
        pround_expr("dv01", 6).alias("dv01"),
        pround_expr("taxa_forward", 6).alias("taxa_forward"),
    )


# === COPOM probabilities (W4 dense_rank + A2 window-sum + W5 cumsum) ======


@query(
    "q_copom_probs",
    oracle=f"""
    WITH opts AS (
      SELECT DISTINCT
        CAST(CAST(date_trunc('month', l_shipdate) AS DATE) + TO_MONTHS(1) AS DATE)
          AS data_expiracao,
        CAST((day(CAST(l_shipdate AS DATE)) - 15) * 25 AS INT) AS variacao_strike_bps
      FROM lineitem
    ),
    priced AS (
      SELECT *, round(100.0 * power(0.99, (variacao_strike_bps + 400) / 25.0), 6)
             AS preco_ajuste
      FROM opts
    ),
    weighted AS (
      -- B3 Manual 3.5 (round-6 review fix): weights are the DISCOUNTED
      -- SETTLEMENT PRICES themselves (factor 1 here - no DI curve in
      -- the synthetic panel, the reference's documented taxa=0
      -- fallback), NOT adjacent-strike differences
      SELECT *, CAST(preco_ajuste AS DECIMAL(28,12)) AS _w
      FROM priced
    ),
    totaled AS (
      SELECT *,
        CAST(SUM(_w) OVER (PARTITION BY data_expiracao) AS DOUBLE) AS _tot,
        CAST(SUM(_w) OVER (PARTITION BY data_expiracao ORDER BY variacao_strike_bps
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS _cum
      FROM weighted
    )
    SELECT data_expiracao, variacao_strike_bps, preco_ajuste,
           {pround_sql("CAST(_w AS DOUBLE) / _tot", 6)} AS prob,
           {pround_sql("_cum / _tot", 6)} AS prob_acumulada,
           CAST(DENSE_RANK() OVER (ORDER BY data_expiracao) AS BIGINT) AS rank_reuniao
    FROM totaled
    """,
)
def q_copom_probs(spark, sf_dir):
    li = tables(spark, sf_dir, "lineitem")
    opts = li.select(
        F.add_months(F.date_trunc("month", "l_shipdate").cast("date"), 1).alias(
            "data_expiracao"
        ),
        ((F.dayofmonth(F.to_date("l_shipdate")) - 15) * 25)
        .cast("int")
        .alias("variacao_strike_bps"),
    ).distinct()
    opts = opts.withColumn(
        "preco_ajuste",
        F.round(
            100.0 * F.pow(F.lit(0.99), (F.col("variacao_strike_bps") + 400) / 25.0), 6
        ),
    )
    out = probabilities(opts)
    return out.select(
        "data_expiracao",
        "variacao_strike_bps",
        "preco_ajuste",
        "prob",
        "prob_acumulada",
        F.col("rank_reuniao").cast("long").alias("rank_reuniao"),
    )


# === VNA pro-rata between monthly publications (J7 bracketing) ============


@query(
    "q_vna_prorata",
    oracle=f"""
    WITH pubs AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) + 14 AS data_pub,
             {pround_sql("1000 + CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 1000000.0", 6)}
               AS vna_pub
      FROM lineitem GROUP BY 1
    ),
    alvo AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS data FROM orders
    ),
    prev AS (
      SELECT a.o_orderkey, a.data, p.data_pub AS pub_prev, p.vna_pub AS vna_prev
      FROM alvo a ASOF LEFT JOIN pubs p ON a.data > p.data_pub
    ),
    nxt AS (
      SELECT pr.*, p.data_pub AS pub_next, p.vna_pub AS vna_next
      FROM prev pr ASOF LEFT JOIN
        (SELECT -datediff('day', DATE '1990-01-01', data_pub) AS nd, data_pub, vna_pub
         FROM pubs) p
        ON -datediff('day', DATE '1990-01-01', pr.data) > p.nd
    )
    SELECT o_orderkey, data, pub_prev, vna_prev, pub_next, vna_next,
      {trunc_sql(
          "vna_prev * power(vna_next / vna_prev, "
          "datediff('day', pub_prev, data) / CAST(datediff('day', pub_prev, pub_next) AS DOUBLE))",
          6,
      )} AS vna_prorata
    FROM nxt
    """,
)
def q_vna_prorata(spark, sf_dir):
    li, od = tables(spark, sf_dir, "lineitem", "orders")
    pubs = li.groupBy(
        F.date_add(F.date_trunc("month", "l_shipdate").cast("date"), 14).alias(
            "data_pub"
        )
    ).agg(
        pround_expr(
            F.lit(1000)
            + F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 1000000.0,
            6,
        ).alias("vna_pub")
    )
    # the two as-ofs reference pubs ~3x each; without materialization the
    # lineitem aggregation re-scans + re-shuffles the fact table on every
    # reference (measured: 4 lineitem scans in the plan). pubs is a tiny
    # monthly series — pin truncates the lineage so the
    # aggregation runs exactly once at any scale.
    pubs = pin(pubs, eager=False)
    alvo = od.select("o_orderkey", F.to_date("o_orderdate").alias("data"))
    # the publication series is dimension-sized (one row per month) →
    # the broadcast as-of route: zero fact-side shuffles for BOTH
    # bracketing lookups (the shuffle route costs 2 fact shuffles each)
    prev = asof_join(
        alvo,
        pubs.select(F.col("data_pub").alias("pub_prev"), F.col("vna_pub").alias("vna_prev")),
        on="data",
        right_on="pub_prev",
        strategy="backward",
        values=["pub_prev", "vna_prev"],
        allow_exact_matches=False,
        distribution="broadcast",
    )
    both = asof_join(
        prev,
        pubs.select(F.col("data_pub").alias("pub_next"), F.col("vna_pub").alias("vna_next")),
        on="data",
        right_on="pub_next",
        strategy="forward",
        values=["pub_next", "vna_next"],
        allow_exact_matches=False,
        distribution="broadcast",
    )
    frac = F.datediff(F.col("data"), F.col("pub_prev")) / F.datediff(
        F.col("pub_next"), F.col("pub_prev")
    )
    vna = truncar_expr(
        F.col("vna_prev") * F.pow(F.col("vna_next") / F.col("vna_prev"), frac), 6
    )
    return both.select(
        "o_orderkey", "data", "pub_prev", "vna_prev", "pub_next", "vna_next",
        vna.alias("vna_prorata"),
    )


# === K4: implied rate via bisection kernel ================================
# Oracle: the pricing round-trip must recover the input rate to 6dp —
# a closed-form check of the iterative kernel.


@query(
    "q_implied_rate",
    oracle="""
    SELECT o_orderkey, round(round(0.09 + (o_orderkey % 500) / 10000.0, 6), 6) AS taxa_implicita
    FROM orders WHERE o_orderkey % 37 = 0
      AND CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
          + TO_MONTHS(CAST(24 + (o_orderkey % 4) * 12 AS INT)) > CAST(o_orderdate AS DATE)
    """,
)
def q_implied_rate(spark, sf_dir):
    od = tables(spark, sf_dir, "orders")
    bonds = od.filter(F.col("o_orderkey") % 37 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("liq"),
        F.add_months(
            F.date_trunc("month", "o_orderdate").cast("date"),
            F.lit(24) + (F.col("o_orderkey") % 4).cast("int") * 12,
        ).alias("ven"),
        F.round(F.lit(0.09) + (F.col("o_orderkey") % 500) / 10000.0, 6).alias("taxa"),
    )
    priced = price_coupon_bond(
        bonds, ["o_orderkey"], settlement="liq", maturity="ven", taxa="taxa"
    )
    full = bonds.join(priced, "o_orderkey")
    implied = implied_rates(
        full, ["o_orderkey"], settlement="liq", maturity="ven", price="pu"
    )
    return implied.select(
        "o_orderkey", F.round("taxa_implicita", 6).alias("taxa_implicita")
    )


# === K5: sequential zero-curve bootstrap — the reference's taxas_zero
# semantics (ntnb.py:454-578) under a recursive-CTE DuckDB oracle =========


def _ntnb_panel(spark, sf_dir):
    """Synthetic NTN-B indicative-yield panel: one curve per ship month
    (settlement = month start), maturities on the 15th of Feb/May/Aug/Nov
    at odd 3-month chain positions (so even positions are pure coupon
    dates — the interesting bootstrap path), TIRs from discount
    aggregates. Chain alignment guarantees every bond's 6-month coupon
    dates land exactly on the 3-month payment grid."""
    li = tables(spark, sf_dir, "lineitem")
    grupo = F.date_trunc("month", "l_shipdate").cast("date")
    slot = (F.col("l_partkey") % 12).cast("int")
    # exact-integer rate synthesis: discounts are on the 0.01 grid, so
    # the half-away-rounded 6-decimal average is pure BIGINT arithmetic —
    # a double average can land exactly on the rounding half-boundary
    # where Spark and DuckDB disagree by one ulp (observed at sf0.01)
    base = (
        li.groupBy(grupo.alias("grupo"), slot.alias("slot"))
        .agg(
            F.sum(F.round(F.col("l_discount") * 100, 0).cast("long")).alias("_s"),
            F.count("*").alias("_n"),
        )
        .select(
            "grupo",
            "slot",
            (
                (
                    F.lit(40000)
                    + F.col("slot").cast("long") * 2000
                    + F.expr("(_s * 20000 + _n) DIV (2 * _n)")
                ).cast("double")
                / 1000000.0
            ).alias("taxa"),
        )
    )
    anchor = F.date_add(F.col("grupo"), 14)  # the 15th of the settlement month
    offm = F.pmod(F.lit(2) - F.month(anchor), F.lit(3))  # to month ≡ 2 (mod 3)
    # cache: this ~(#months × 12)-row dim feeds bootstrap/breakeven/
    # curva_pre pipelines that each reference it several times (grid
    # derivation, interpolation, solve, joins) — uncached, every use
    # re-runs the full lineitem aggregation (measured 10 parquet scans
    # in the curva_pre plan). One materialization, shared across queries
    # in the session by plan-equality. Same move at 100 TB: a bootstrap
    # input panel is a small aggregate you persist before iterating.
    return base.select(
        "grupo",
        "slot",
        "taxa",
        F.col("grupo").alias("liq"),
        F.add_months(anchor, offm + 3 + F.col("slot") * 6).alias("ven"),
    ).cache()


_NTNB_PANEL_SQL = """
bpanel AS (
  SELECT grupo, slot,
         CAST(40000 + slot * 2000 + (s * 20000 + n) // (2 * n) AS DOUBLE)
           / 1000000.0 AS taxa
  FROM (
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS grupo,
           CAST(l_partkey % 12 AS INT) AS slot,
           SUM(CAST(round(l_discount * 100, 0) AS BIGINT)) AS s,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2)
),
bonds AS (
  SELECT grupo, slot, taxa, grupo AS liq,
         CAST(anchor + TO_MONTHS(CAST(((2 - month(anchor)) % 3 + 3) % 3 + 3 + slot * 6 AS INT)) AS DATE) AS ven
  FROM (SELECT *, CAST(grupo + INTERVAL 14 DAY AS DATE) AS anchor FROM bpanel)
)"""


def _bootstrap_ctes() -> str:
    """CTE chain (after cal/bonds) replicating ntnb_taxas_zero: 3-month
    grid, flat-forward TIR interpolation, STN cotação, then the
    sequential solve as a recursive CTE over grid index with two
    parity accumulators (a bond's prior coupon dates are exactly the
    earlier same-parity grid rows)."""
    au = "(du / 252.0)"
    au_j = "(j_du / 252.0)"
    au_k = "(k_du / 252.0)"
    ladder = f"""CASE
        WHEN j_du = du THEN j_tx
        WHEN du < vmin_du THEN vmin_tx
        ELSE power(power(1 + j_tx, {au_j})
                   * power(power(1 + k_tx, {au_k}) / power(1 + j_tx, {au_j}),
                           ({au} - {au_j}) / ({au_k} - {au_j})),
                   1.0 / {au}) - 1
      END"""
    pv_sel = "CASE WHEN s.idx % 2 = 1 THEN pb.pv_odd ELSE pb.pv_even END"
    z_next = pround_sql(
        f"power(1.02956301 / (s.cot - {pv_sel}), 1.0 / s.anos) - 1", 10
    )
    return f"""
ggrp AS (
  SELECT grupo, MIN(liq) AS liq, MAX(ven) AS max_ven, MIN(ven) AS first_ven
  FROM bonds GROUP BY grupo
),
grid0 AS (
  SELECT g.grupo, g.liq, g.first_ven,
         CAST(g.max_ven - TO_MONTHS(CAST(3 * i AS INT)) AS DATE) AS dv
  FROM ggrp g, generate_series(0, 40) t(i)
  WHERE CAST(g.max_ven - TO_MONTHS(CAST(3 * i AS INT)) AS DATE) > g.liq
),
gdu AS (
  SELECT g.*, CAST({bd_count_sql("g.liq", "g.dv")} AS BIGINT) AS du
  FROM grid0 g JOIN cal cs ON cs.data = g.liq JOIN cal ce ON ce.data = g.dv
),
vdu AS (
  SELECT b.grupo, b.taxa, CAST({bd_count_sql("b.liq", "b.ven")} AS BIGINT) AS du
  FROM bonds b JOIN cal cs ON cs.data = b.liq JOIN cal ce ON ce.data = b.ven
),
gv AS (
  SELECT g.grupo, g.liq, g.first_ven, g.dv, g.du, v.taxa AS vtx
  FROM gdu g LEFT JOIN vdu v ON v.grupo = g.grupo AND v.du = g.du
),
ginterp AS (
  SELECT *,
    last_value(CASE WHEN vtx IS NOT NULL THEN du END IGNORE NULLS)
      OVER (PARTITION BY grupo ORDER BY du
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j_du,
    last_value(vtx IGNORE NULLS)
      OVER (PARTITION BY grupo ORDER BY du
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j_tx,
    first_value(CASE WHEN vtx IS NOT NULL THEN du END IGNORE NULLS)
      OVER (PARTITION BY grupo ORDER BY du
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS k_du,
    first_value(vtx IGNORE NULLS)
      OVER (PARTITION BY grupo ORDER BY du
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS k_tx,
    first_value(CASE WHEN vtx IS NOT NULL THEN du END IGNORE NULLS)
      OVER (PARTITION BY grupo ORDER BY du
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vmin_du,
    first_value(vtx IGNORE NULLS)
      OVER (PARTITION BY grupo ORDER BY du
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vmin_tx
  FROM gv
),
gtir AS (
  SELECT grupo, liq, first_ven, dv, du,
         {pround_sql(ladder, 10)} AS taxa_tir
  FROM ginterp
),
bflows AS (
  SELECT i.grupo, i.dv, i.liq, i.taxa_tir,
         CAST(i.dv - TO_MONTHS(CAST(6 * cj AS INT)) AS DATE) AS pay
  FROM gtir i, generate_series(0, 40) t(cj)
  WHERE CAST(i.dv - TO_MONTHS(CAST(6 * cj AS INT)) AS DATE) > i.liq
),
bvp AS (
  SELECT f.grupo, f.dv,
    round_even((CASE WHEN f.pay = f.dv THEN 1.02956301 ELSE 0.02956301 END)
      / power(1 + {trunc_sql("f.taxa_tir", 8)},
              {trunc_sql(f"({bd_count_sql('f.liq', 'f.pay')}) / 252.0", 14)}), 12) AS vp
  FROM bflows f JOIN cal cs ON cs.data = f.liq JOIN cal ce ON ce.data = f.pay
),
bcot AS (
  SELECT grupo, dv,
         {trunc_decimal_sum_sql("SUM(CAST(vp AS DECIMAL(28,12)))", 6)} AS cot
  FROM bvp GROUP BY grupo, dv
),
seq AS (
  SELECT i.grupo, i.dv, i.du, i.taxa_tir, c.cot,
         i.dv <= i.first_ven AS le_first,
         i.du / 252.0 AS anos,
         row_number() OVER (PARTITION BY i.grupo ORDER BY i.du) AS idx
  FROM gtir i JOIN bcot c ON c.grupo = i.grupo AND c.dv = i.dv
),
boot AS (
  SELECT grupo, idx, dv, du, taxa_tir, anos, z,
         CASE WHEN idx % 2 = 1 THEN 0.02956301 / power(1 + z, anos) ELSE 0.0 END AS pv_odd,
         CASE WHEN idx % 2 = 0 THEN 0.02956301 / power(1 + z, anos) ELSE 0.0 END AS pv_even
  FROM (
    SELECT s.*, CASE WHEN s.le_first THEN s.taxa_tir
                ELSE {pround_sql("power(1.02956301 / s.cot, 1.0 / s.anos) - 1", 10)}
                END AS z
    FROM seq s WHERE s.idx = 1
  )
  UNION ALL
  SELECT q.grupo, q.idx, q.dv, q.du, q.taxa_tir, q.anos, q.z,
         q.pv_odd + CASE WHEN q.idx % 2 = 1 THEN 0.02956301 / power(1 + q.z, q.anos) ELSE 0.0 END,
         q.pv_even + CASE WHEN q.idx % 2 = 0 THEN 0.02956301 / power(1 + q.z, q.anos) ELSE 0.0 END
  FROM (
    SELECT s.grupo, s.idx, s.dv, s.du, s.taxa_tir, s.anos,
           CASE WHEN s.le_first THEN s.taxa_tir ELSE {z_next} END AS z,
           pb.pv_odd, pb.pv_even
    FROM boot pb JOIN seq s ON s.grupo = pb.grupo AND s.idx = pb.idx + 1
  ) q
)""".strip()


@query(
    "q_bootstrap_zero",
    oracle=f"""
    WITH RECURSIVE {_CAL},
    {_NTNB_PANEL_SQL.lstrip()},
    {_bootstrap_ctes()}
    SELECT b.grupo, b.dv AS data_vencimento, b.du AS dias_uteis,
           b.taxa_tir, b.z AS taxa_zero
    FROM boot b JOIN bonds o ON o.grupo = b.grupo AND o.ven = b.dv
    """,
)
def q_bootstrap_zero(spark, sf_dir):
    bonds = _ntnb_panel(spark, sf_dir)
    return ntnb_taxas_zero(
        bonds, by="grupo", settlement="liq", maturity="ven", tir="taxa"
    )


# === clean spread / premio_limpo (ntnf.py:702-795 + _utils.py:262-348):
# STN price, DI flat-forward at flow dates, root-found spread. Oracle:
# same function, fixed-bracket bisection as a recursive CTE — the
# function is monotone in the spread, so both solvers converge to the
# same root; pround6 absorbs the 1e-12 tolerance =========================

_DI_CURVE_SQL = """
dicurve AS (
  SELECT grupo, CAST(60 + dslot * 160 AS BIGINT) AS du,
         CAST(55000 + dslot * 3000 + (s * 20000 + n) // (2 * n) AS DOUBLE)
           / 1000000.0 AS taxa_di
  FROM (
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS grupo,
           l_suppkey % 10 AS dslot,
           SUM(CAST(round(l_discount * 100, 0) AS BIGINT)) AS s,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2)
)"""

_PL_BONDS_SQL = """
pbonds AS (
  SELECT o_orderkey,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS grupo,
         CAST(o_orderdate AS DATE) AS liq,
         CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
              + TO_MONTHS(CAST(24 + (o_orderkey % 4) * 12 AS INT)) AS DATE) AS ven,
         round(0.09 + (o_orderkey % 500) / 10000.0, 6) AS taxa
  FROM orders
  WHERE o_orderkey % 37 = 0
    AND CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
        IN (SELECT DISTINCT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
            FROM lineitem)
)"""


def _di_curve_df(spark, sf_dir):
    """Synthetic nominal (DI-like) curve: per ship month, 10 vertices at
    du 60..1500 — twin of _DI_CURVE_SQL (exact-integer rate synthesis,
    see _ntnb_panel)."""
    li = tables(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("grupo"),
            (F.col("l_suppkey") % 10).alias("dslot"),
        )
        .agg(
            F.sum(F.round(F.col("l_discount") * 100, 0).cast("long")).alias("_s"),
            F.count("*").alias("_n"),
        )
        .select(
            "grupo",
            (F.lit(60) + F.col("dslot") * 160).cast("long").alias("du"),
            (
                (
                    F.lit(55000)
                    + F.col("dslot").cast("long") * 3000
                    + F.expr("(_s * 20000 + _n) DIV (2 * _n)")
                ).cast("double")
                / 1000000.0
            ).alias("taxa_di"),
        )
    )


def _premio_limpo_oracle() -> str:
    au, au_j, au_k = "(f.du_f / 252.0)", "(f.du_j / 252.0)", "(f.du_k / 252.0)"
    ladder = f"""CASE
        WHEN f.du_f IS NULL OR e.du_min IS NULL THEN NULL
        WHEN f.du_j = f.du_f THEN f.tx_j
        WHEN f.du_f < e.du_min THEN e.tx_min
        WHEN f.du_f > e.du_max THEN NULL
        ELSE power(power(1 + f.tx_j, {au_j})
                   * power(power(1 + f.tx_k, {au_k}) / power(1 + f.tx_j, {au_j}),
                           ({au} - {au_j}) / ({au_k} - {au_j})),
                   1.0 / {au}) - 1
      END"""
    return f"""
    WITH RECURSIVE {_CAL},
    {_DI_CURVE_SQL.lstrip()},
    {_PL_BONDS_SQL.lstrip()},
    pfl0 AS (
      SELECT b.*, CAST(b.ven - TO_MONTHS(CAST(6 * i AS INT)) AS DATE) AS pay
      FROM pbonds b, generate_series(0, 20) t(i)
      WHERE CAST(b.ven - TO_MONTHS(CAST(6 * i AS INT)) AS DATE) > b.liq
    ),
    pfl1 AS (
      SELECT f.o_orderkey, f.grupo, f.ven, f.taxa, f.pay,
             CAST({bd_count_sql("f.liq", "f.pay")} AS BIGINT) AS du_f,
             CASE WHEN f.pay = f.ven THEN 1048.80885 ELSE 48.80885 END AS cf
      FROM pfl0 f
      JOIN cal cs ON cs.data = f.liq JOIN cal ce ON ce.data = f.pay
    ),
    pext AS (
      SELECT grupo, MIN(du) AS du_min, MAX(du) AS du_max,
             MIN_BY(taxa_di, du) AS tx_min, MAX_BY(taxa_di, du) AS tx_max
      FROM dicurve GROUP BY grupo
    ),
    pflj AS (
      SELECT f.*, c.du AS du_j, c.taxa_di AS tx_j
      FROM pfl1 f ASOF LEFT JOIN dicurve c
        ON f.grupo = c.grupo AND f.du_f >= c.du
    ),
    pfljk AS (
      SELECT f.*, c.du AS du_k, c.taxa_di AS tx_k
      FROM pflj f ASOF LEFT JOIN
        (SELECT grupo, -du AS ndu, du, taxa_di FROM dicurve) c
        ON f.grupo = c.grupo AND -f.du_f >= c.ndu
    ),
    pflows AS (
      SELECT f.o_orderkey, f.du_f, f.du_f / 252.0 AS t, f.cf,
             {pround_sql(ladder, 10)} AS di
      FROM pfljk f LEFT JOIN pext e ON f.grupo = e.grupo
    ),
    pvp AS (
      SELECT f.o_orderkey,
        round_even(f.cf / power(1 + {trunc_sql("f.taxa", 8)},
                                {trunc_sql("f.du_f / 252.0", 14)}), 9) AS vp,
        f.taxa
      FROM pfl1 f
    ),
    pprecos AS (
      SELECT o_orderkey, MIN(taxa) AS taxa,
             {trunc_decimal_sum_sql("SUM(CAST(vp AS DECIMAL(28,12)))", 6)} AS preco
      FROM pvp GROUP BY o_orderkey
    ),
    proot AS (
      SELECT o_orderkey, CAST(-0.4 AS DOUBLE) AS lo, CAST(0.6 AS DOUBLE) AS hi,
             0 AS it
      FROM pprecos
      UNION ALL
      SELECT q.o_orderkey,
             CASE WHEN q.fmid > 0 THEN q.mid ELSE q.lo END,
             CASE WHEN q.fmid > 0 THEN q.hi ELSE q.mid END,
             q.it + 1
      FROM (
        SELECT pr.o_orderkey, pr.lo, pr.hi, pr.it, (pr.lo + pr.hi) / 2 AS mid,
          (SELECT SUM(ff.cf / power(1 + ff.di + (pr.lo + pr.hi) / 2, ff.t))
           FROM pflows ff WHERE ff.o_orderkey = pr.o_orderkey) - pc.preco AS fmid
        FROM proot pr JOIN pprecos pc ON pc.o_orderkey = pr.o_orderkey
        WHERE pr.it < 44
      ) q
    )
    SELECT r.o_orderkey, p.taxa, p.preco AS pu,
           {pround_sql("(r.lo + r.hi) / 2", 6)} AS premio_limpo,
           {pround_sql("(r.lo + r.hi) / 2 * 10000.0", 2)} AS premio_bps
    FROM proot r JOIN pprecos p ON p.o_orderkey = r.o_orderkey
    WHERE r.it = 44
    """


@query("q_premio_limpo", oracle=_premio_limpo_oracle())
def q_premio_limpo(spark, sf_dir):
    from pyield_spark.bonds.bootstrap import premio_limpo

    od = tables(spark, sf_dir, "orders")
    # both panels are tiny but fact-derived, and each is referenced 3+
    # times downstream (the semi join, the spread kernel, the repricing
    # arm, the meta join) — materialize once instead of re-scanning
    # lineitem/orders per reference (measured: 5 lineitem + 4 orders
    # scans in the plan before checkpointing)
    di_curve = pin(_di_curve_df(spark, sf_dir), eager=False)
    bonds = (
        od.filter(F.col("o_orderkey") % 37 == 0)
        .select(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("grupo"),
            F.to_date("o_orderdate").alias("liq"),
            F.add_months(
                F.date_trunc("month", "o_orderdate").cast("date"),
                F.lit(24) + (F.col("o_orderkey") % 4).cast("int") * 12,
            ).alias("ven"),
            F.round(
                F.lit(0.09) + (F.col("o_orderkey") % 500) / 10000.0, 6
            ).alias("taxa"),
        )
        .join(di_curve.select("grupo").distinct(), "grupo", "left_semi")
    )
    bonds = pin(bonds, eager=False)
    # price_alias: the solver's target IS the STN price at the TIR —
    # no second pricing lineage + join just to surface pu
    prem = premio_limpo(
        bonds,
        di_curve,
        id_cols=["o_orderkey"],
        by="grupo",
        settlement="liq",
        maturity="ven",
        taxa="taxa",
        price_alias="pu",
    )
    meta = bonds.select("o_orderkey", "taxa")
    return (
        meta.join(prem, "o_orderkey")
        .select(
            "o_orderkey",
            "taxa",
            "pu",
            pround_expr("premio_limpo", 6).alias("premio_limpo"),
            pround_expr(F.col("premio_limpo") * 10000.0, 2).alias("premio_bps"),
        )
    )


# === breakeven inflation / implicitas (ntnb.py:581-701): real zero
# curve via the faithful bootstrap, nominal curve flat-forward
# interpolated at the real vertices, breakeven = (1+nom)/(1+real) − 1 ===


def _breakeven_oracle() -> str:
    au, au_j, au_k = "(f.dias_uteis / 252.0)", "(f.du_j / 252.0)", "(f.du_k / 252.0)"
    ladder = f"""CASE
        WHEN f.dias_uteis IS NULL OR e.du_min IS NULL THEN NULL
        WHEN f.du_j = f.dias_uteis THEN f.tx_j
        WHEN f.dias_uteis < e.du_min THEN e.tx_min
        WHEN f.dias_uteis > e.du_max THEN NULL
        ELSE power(power(1 + f.tx_j, {au_j})
                   * power(power(1 + f.tx_k, {au_k}) / power(1 + f.tx_j, {au_j}),
                           ({au} - {au_j}) / ({au_k} - {au_j})),
                   1.0 / {au}) - 1
      END"""
    return f"""
    WITH RECURSIVE {_CAL},
    {_NTNB_PANEL_SQL.lstrip()},
    {_bootstrap_ctes()},
    {_DI_CURVE_SQL.lstrip()},
    bk0 AS (
      SELECT b.grupo, b.dv AS data_vencimento, b.du AS dias_uteis,
             o.taxa AS taxa_tir_real, b.z AS taxa_zero_real
      FROM boot b JOIN bonds o ON o.grupo = b.grupo AND o.ven = b.dv
    ),
    bext AS (
      SELECT grupo, MIN(du) AS du_min, MAX(du) AS du_max,
             MIN_BY(taxa_di, du) AS tx_min, MAX_BY(taxa_di, du) AS tx_max
      FROM dicurve GROUP BY grupo
    ),
    bkj AS (
      SELECT f.*, c.du AS du_j, c.taxa_di AS tx_j
      FROM bk0 f ASOF LEFT JOIN dicurve c
        ON f.grupo = c.grupo AND f.dias_uteis >= c.du
    ),
    bkjk AS (
      SELECT f.*, c.du AS du_k, c.taxa_di AS tx_k
      FROM bkj f ASOF LEFT JOIN
        (SELECT grupo, -du AS ndu, du, taxa_di FROM dicurve) c
        ON f.grupo = c.grupo AND -f.dias_uteis >= c.ndu
    ),
    bkn AS (
      SELECT f.grupo, f.data_vencimento, f.dias_uteis, f.taxa_tir_real,
             f.taxa_zero_real, {pround_sql(ladder, 10)} AS taxa_nominal
      FROM bkjk f LEFT JOIN bext e ON f.grupo = e.grupo
    )
    SELECT grupo, data_vencimento, dias_uteis, taxa_tir_real, taxa_zero_real,
           taxa_nominal,
           (1 + taxa_nominal) / (1 + taxa_zero_real) - 1 AS inflacao_implicita
    FROM bkn
    """


@query("q_breakeven", oracle=_breakeven_oracle())
def q_breakeven(spark, sf_dir):
    """Implied inflation per real vertex (reference output schema
    ntnb.py:617-624); nominal vertices beyond the DI curve yield nulls
    (extrapolar=False)."""
    from pyield_spark.curves.interpolate import interpolar

    bonds = _ntnb_panel(spark, sf_dir)
    # the bootstrap's taxa_tir at the kept maturities IS the input TIR
    # (flat-forward exact-hit at a vertex returns the vertex rate, and
    # the panel is duplicate-free by construction) — renaming it avoids
    # a join back to the panel that re-runs the lineitem aggregation
    zero = ntnb_taxas_zero(
        bonds, by="grupo", settlement="liq", maturity="ven", tir="taxa"
    ).withColumnRenamed("taxa_tir", "taxa_tir_real")
    di_curve = _di_curve_df(spark, sf_dir)
    out = interpolar(
        zero,
        di_curve,
        du_col="dias_uteis",
        curve_du="du",
        curve_rate="taxa_di",
        by="grupo",
        method="flat_forward",
        extrapolar=False,
        alias="_nom_raw",
        # window route: the targets here are the (tiny) zero vertices —
        # see the bootstrap grid note for the route trade-off
    ).withColumn("taxa_nominal", pround_expr("_nom_raw", 10))
    nom = F.col("taxa_nominal")
    zr = F.col("taxa_zero")
    return out.select(
        "grupo",
        "data_vencimento",
        "dias_uteis",
        "taxa_tir_real",
        zr.alias("taxa_zero_real"),
        "taxa_nominal",
        ((1 + nom) / (1 + zr) - 1).alias("inflacao_implicita"),
    )


# === pivot / rollup extensions (§2.4 beyond-reference surface) ============


@query(
    "q_pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_linestatus(spark, sf_dir):
    li = tables(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
    )


@query(
    "q_rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark, sf_dir):
    li = tables(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("revenue"),
    )


# === CPM option-ticker dissection + COPOM-calendar composition ============
# Reference: pyield/selic/cpm.py:286-341 (string dissection + calendar
# join + du count) over pyield/selic/copom.py:118-171 (ExpiryDate =
# next business day after EndDate). The densest string pipeline in the
# reference: option type at char 7, strike field chars 8-13 (//10 -
# 10000 bps), meeting month letter at char 4 via the B3 month-code
# alphabet, 2-digit year at chars 5-6 (+2000).

import datetime as _dt_cpm

from pyield_spark.queries.oracle_helpers import calendar_cte as _cal_cte_cpm

_CPM_CAL = _cal_cte_cpm(_dt_cpm.date(2024, 1, 1), _dt_cpm.date(2027, 1, 31))
_MONTH_ALPHABET = "FGHJKMNQUVXZ"
# 8 meetings per year (COPOM cadence); months 2 and 4 deliberately NOT
# in the calendar so some tickers exercise the left join's null path
_MEETING_MONTHS = (1, 3, 5, 6, 8, 9, 11, 12)
_TICKER_MONTHS = _MEETING_MONTHS + (2, 4)


def _cpm_month_case_sql() -> str:
    whens = " ".join(
        f"WHEN {i} THEN {m}" for i, m in enumerate(_TICKER_MONTHS)
    )
    return f"CASE CAST(o_orderkey % 10 AS INT) {whens} END"


_CPM_ORACLE = f"""
    WITH {_CPM_CAL},
    base AS (
      SELECT o_orderkey,
             {_cpm_month_case_sql()} AS mth,
             CAST(2024 + (o_orderkey % 3) AS INT) AS yr
      FROM orders WHERE o_orderkey % 29 = 0
    ),
    tick AS (
      SELECT o_orderkey,
             'CPM' || substr('{_MONTH_ALPHABET}', mth, 1)
               || lpad(CAST(yr - 2000 AS VARCHAR), 2, '0')
               || (CASE WHEN o_orderkey % 2 = 0 THEN 'C' ELSE 'P' END)
               || lpad(CAST((10000 + ((o_orderkey % 33) - 16) * 25) * 10
                            + (o_orderkey % 7) AS VARCHAR), 6, '0')
               AS codigo_negociacao,
             DATE '2024-01-02' AS data_referencia
      FROM base
    ),
    dis AS (
      SELECT o_orderkey, codigo_negociacao, data_referencia,
        CASE substr(codigo_negociacao, 7, 1)
          WHEN 'C' THEN 'call' WHEN 'P' THEN 'put' END AS tipo_opcao,
        CAST(CAST(substr(codigo_negociacao, 8, 6) AS BIGINT) // 10 - 10000 AS INT)
          AS variacao_strike_bps,
        CAST(instr('{_MONTH_ALPHABET}', substr(codigo_negociacao, 4, 1)) AS INT)
          AS _mes_reuniao,
        CAST(CAST(substr(codigo_negociacao, 5, 2) AS INT) + 2000 AS INT)
          AS _ano_reuniao
      FROM tick
    ),
    meetings AS (
      SELECT CAST(y AS INT) AS _ano_reuniao, CAST(m AS INT) AS _mes_reuniao,
             make_date(CAST(y AS INT), CAST(m AS INT),
                       CAST(10 + (m % 5) * 2 AS INT)) AS data_fim_reuniao
      FROM generate_series(2024, 2026) t(y),
           (VALUES {", ".join(f"({m})" for m in _MEETING_MONTHS)}) mm(m)
    ),
    meet_exp AS (
      SELECT mt._ano_reuniao, mt._mes_reuniao, mt.data_fim_reuniao,
             be.data AS data_expiracao
      FROM meetings mt
      JOIN cal c ON c.data = mt.data_fim_reuniao
      LEFT JOIN bdinv be ON be.regime = 'novo' AND be.ordinal = c.cum_nov + 1
    ),
    joined AS (
      SELECT d.*, m.data_fim_reuniao, m.data_expiracao
      FROM dis d
      LEFT JOIN meet_exp m
        ON d._mes_reuniao = m._mes_reuniao AND d._ano_reuniao = m._ano_reuniao
    )
    SELECT j.o_orderkey, j.codigo_negociacao, j.data_referencia,
           j.data_fim_reuniao, j.data_expiracao, j.tipo_opcao,
           j.variacao_strike_bps,
           {pround_sql("100.0 * power(0.99, (j.variacao_strike_bps + 400) / 25.0)", 6)}
             AS preco_ajuste,
           CAST(ce.cum_nov - cs.cum_nov AS INT) AS dias_uteis
    FROM joined j
    LEFT JOIN cal cs ON cs.data = j.data_referencia
    LEFT JOIN cal ce ON ce.data = j.data_expiracao
"""


@query("q_cpm_dissect", oracle=_CPM_ORACLE)
def q_cpm_dissect(spark, sf_dir):
    """CPM composite: synthetic 13-char tickers → pure-string dissection
    → COPOM-calendar left join → ExpiryDate = next business day after
    the meeting end → business-day count to expiry.

    Output schema mirrors pyield/selic/cpm.py:344-353 (the table that
    feeds pyield/selic/probabilities.py — the batch twin q_copom_probs
    consumes exactly these columns). All string work is JVM-side
    (substring/instr/lpad); both joins broadcast a tiny dimension.
    """
    from pyield_spark import du as _du

    od = tables(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 29 == 0)
    month_map = F.array(*[F.lit(m) for m in _TICKER_MONTHS])
    base = od.select(
        "o_orderkey",
        F.element_at(month_map, (F.col("o_orderkey") % 10).cast("int") + 1).alias("mth"),
        (F.lit(2024) + F.col("o_orderkey") % 3).cast("int").alias("yr"),
    )
    strike_field = (
        (F.lit(10000) + ((F.col("o_orderkey") % 33) - 16) * 25) * 10
        + F.col("o_orderkey") % 7
    )
    tick = base.select(
        "o_orderkey",
        F.concat(
            F.lit("CPM"),
            F.substring(F.lit(_MONTH_ALPHABET), F.col("mth"), F.lit(1)),
            F.lpad((F.col("yr") - 2000).cast("string"), 2, "0"),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("C")).otherwise(F.lit("P")),
            F.lpad(strike_field.cast("string"), 6, "0"),
        ).alias("codigo_negociacao"),
        F.lit(_dt_cpm.date(2024, 1, 2)).alias("data_referencia"),
    )
    # --- dissection: the query under test (cpm.py:286-311) ---
    dis = (
        tick.withColumn(
            "tipo_opcao",
            F.when(F.substring("codigo_negociacao", 7, 1) == "C", "call")
            .when(F.substring("codigo_negociacao", 7, 1) == "P", "put"),
        )
        .withColumn(
            "variacao_strike_bps",
            (
                F.floor(F.substring("codigo_negociacao", 8, 6).cast("bigint") / 10)
                - 10000
            ).cast("int"),
        )
        .withColumn(
            "_mes_reuniao",
            F.expr(
                f"instr('{_MONTH_ALPHABET}', substring(codigo_negociacao, 4, 1))"
            ).cast("int"),
        )
        .withColumn(
            "_ano_reuniao",
            (F.substring("codigo_negociacao", 5, 2).cast("int") + 2000).cast("int"),
        )
    )
    # --- COPOM meeting dimension (copom.py:118-171), expiry via deslocar ---
    meetings = (
        spark.range(2024, 2027)
        .select(F.col("id").cast("int").alias("_ano_reuniao"))
        .crossJoin(
            spark.range(len(_MEETING_MONTHS)).select(
                F.element_at(
                    F.array(*[F.lit(m) for m in _MEETING_MONTHS]),
                    F.col("id").cast("int") + 1,
                ).alias("_mes_reuniao")
            )
        )
        .withColumn(
            "data_fim_reuniao",
            F.make_date(
                F.col("_ano_reuniao"),
                F.col("_mes_reuniao"),
                (F.lit(10) + (F.col("_mes_reuniao") % 5) * 2).cast("int"),
            ),
        )
    )
    meetings = _du.deslocar(
        meetings, "data_fim_reuniao", 1, "forward", alias="data_expiracao"
    ).select("_ano_reuniao", "_mes_reuniao", "data_fim_reuniao", "data_expiracao")
    out = dis.join(
        F.broadcast(meetings), ["_mes_reuniao", "_ano_reuniao"], "left"
    )
    out = _du.contar(out, "data_referencia", "data_expiracao", alias="_du_raw")
    return out.select(
        "o_orderkey",
        "codigo_negociacao",
        "data_referencia",
        "data_fim_reuniao",
        "data_expiracao",
        "tipo_opcao",
        "variacao_strike_bps",
        pround_expr(
            100.0 * F.pow(F.lit(0.99), (F.col("variacao_strike_bps") + 400) / 25.0), 6
        ).alias("preco_ajuste"),
        F.col("_du_raw").cast("int").alias("dias_uteis"),
    )


# === Round-5: the FULL published futures panel through enriquecer =========
# q_futures_enrich covers the mathematical core (dissection, roll, day
# counts, DV01, forwards); this twin drives analytics.futuro.enriquecer
# — the golden-verified raw-PR → published-panel transform (all 22
# taxa-contract columns, PR rename map, inverted bid/ask, Polars-parity
# scaled percent→decimal) — against an oracle that recomputes every
# column. Scaled-round mirror: bround((x/100)·1e10, 0)/1e10 ==
# round_even((x/100.0) * 1e10, 0) / 1e10 (identical f64 op order).

_FUTP_RAW_SQL = """
fp0 AS (
  SELECT CAST(o_orderdate AS DATE) AS data_referencia,
         CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
              + TO_MONTHS(CAST(72 + (o_orderkey % 8) * 3 AS INT)) AS DATE) AS ven_raw,
         CAST(o_orderkey % 5000 AS BIGINT) AS contratos_abertos,
         CAST(o_orderkey % 300 AS BIGINT) AS numero_negocios,
         CAST(o_orderkey % 700 AS BIGINT) AS volume_negociado,
         round(o_totalprice, 2) AS volume_financeiro,
         round(o_totalprice, 2) AS preco_ajuste,
         round(8 + (o_orderkey % 1000) / 100.0, 4) AS p_tax,
         round(8 + (o_orderkey % 900) / 100.0, 4) AS p_abe,
         round(7.9 + (o_orderkey % 900) / 100.0, 4) AS p_min,
         round(8.1 + (o_orderkey % 900) / 100.0, 4) AS p_max,
         round(8.05 + (o_orderkey % 900) / 100.0, 4) AS p_med,
         round(8.02 + (o_orderkey % 900) / 100.0, 4) AS p_ult,
         round(8.5 + (o_orderkey % 900) / 100.0, 4) AS p_bid,
         round(8.6 + (o_orderkey % 900) / 100.0, 4) AS p_ask,
         round(9.0 + (o_orderkey % 900) / 100.0, 4) AS p_lmax,
         round(7.0 + (o_orderkey % 900) / 100.0, 4) AS p_lmin
  FROM orders
),
fp1 AS (
  SELECT *,
    concat('DI1', substr('FGHJKMNQUVXZ', month(ven_raw), 1),
           lpad(CAST(year(ven_raw) % 100 AS VARCHAR), 2, '0')) AS codigo_negociacao
  FROM fp0
)"""

_PCTPL = "round_even(({x} / 100.0) * 10000000000.0, 0) / 10000000000.0"


def futuro_pr_frame(od):
    """The synthetic raw B3-XML-schema frame (every SPRD PR column
    derived from an orders frame) that q_futuro_panel and the 100×
    scale smoke push through ``analytics.futuro.enriquecer``.

    Built with ``selectExpr`` SQL strings (D-suffixed literals force
    the same double arithmetic the Column form produced — a bare
    ``/ 100.0`` in Spark SQL is DECIMAL division, a different value):
    2 py4j round trips total vs ~120 for the Column form (PLANS.md
    plan-build lever)."""

    def pct(base, mod):
        return f"round({base!r}D + (o_orderkey % {mod}) / 100.0D, 4)"

    return od.selectExpr(
        "CAST(o_orderdate AS DATE) AS TradDt",
        "add_months(CAST(date_trunc('month', o_orderdate) AS DATE),"
        " 72 + CAST(o_orderkey % 8 AS INT) * 3) AS _ven_raw",
        "CAST(o_orderkey % 5000 AS BIGINT) AS OpnIntrst",
        "CAST(o_orderkey % 300 AS BIGINT) AS TradQty",
        "CAST(o_orderkey % 700 AS BIGINT) AS FinInstrmQty",
        "round(o_totalprice, 2) AS NtlFinVol",
        "round(o_totalprice, 2) AS AdjstdQt",
        f"{pct(8.0, 1000)} AS AdjstdQtTax",
        f"{pct(8.0, 900)} AS FrstPric",
        f"{pct(7.9, 900)} AS MinPric",
        f"{pct(8.1, 900)} AS MaxPric",
        f"{pct(8.05, 900)} AS TradAvrgPric",
        f"{pct(8.02, 900)} AS LastPric",
        f"{pct(8.5, 900)} AS BestBidPric",
        f"{pct(8.6, 900)} AS BestAskPric",
        f"{pct(9.0, 900)} AS MaxTradLmt",
        f"{pct(7.0, 900)} AS MinTradLmt",
    ).selectExpr(
        "* EXCEPT (_ven_raw)",
        "concat('DI1', substring('FGHJKMNQUVXZ', month(_ven_raw), 1),"
        " lpad(CAST(year(_ven_raw) % 100 AS STRING), 2, '0')) AS TckrSymb",
    )


@query(
    "q_futuro_panel",
    oracle=f"""
    WITH {_CAL},
    {_FUTP_RAW_SQL.lstrip()},
    fprolled AS (
      SELECT p.*, bf.data AS data_vencimento
      FROM fp1 p
      JOIN cal c ON c.data = p.ven_raw
      LEFT JOIN bdinv bf ON bf.regime = (CASE WHEN p.ven_raw < DATE '2023-12-26'
                                         THEN 'antigo' ELSE 'novo' END)
        AND bf.ordinal = (CASE WHEN p.ven_raw < DATE '2023-12-26'
                          THEN c.cum_ant ELSE c.cum_nov END)
    ),
    fpcounted AS (
      SELECT r.*,
        CAST({bd_count_sql("r.data_referencia", "r.data_vencimento")} AS BIGINT) AS dias_uteis,
        datediff('day', r.data_referencia, r.data_vencimento) AS dias_corridos,
        {_PCTPL.format(x="r.p_tax")} AS taxa_ajuste
      FROM fprolled r
      JOIN cal cs ON cs.data = r.data_referencia
      JOIN cal ce ON ce.data = r.data_vencimento
    ),
    fpflagged AS (
      SELECT *, COUNT(*) OVER (PARTITION BY data_referencia, dias_uteis) > 1 AS is_dup
      FROM fpcounted
    ),
    fpvalid AS (
      SELECT *, CASE WHEN is_dup THEN NULL ELSE taxa_ajuste END AS tx_valid,
             dias_uteis / 252.0 AS au
      FROM fpflagged
    ),
    fplagged AS (
      SELECT *, LAG(tx_valid) OVER (PARTITION BY data_referencia ORDER BY dias_uteis) AS tx_j,
             LAG(au) OVER (PARTITION BY data_referencia ORDER BY dias_uteis) AS au_j,
             MIN(dias_uteis) OVER (PARTITION BY data_referencia) AS du_min
      FROM fpvalid
    )
    SELECT data_referencia, codigo_negociacao, data_vencimento,
      dias_uteis, CAST(dias_corridos AS BIGINT) AS dias_corridos,
      {pround_sql("0.0001 * (dias_uteis / 252.0) / (1 + taxa_ajuste) * preco_ajuste", 6)} AS dv01,
      contratos_abertos, numero_negocios, volume_negociado,
      volume_financeiro, preco_ajuste,
      {_PCTPL.format(x="p_lmin")} AS taxa_limite_minimo,
      {_PCTPL.format(x="p_lmax")} AS taxa_limite_maximo,
      {_PCTPL.format(x="p_abe")} AS taxa_abertura,
      {_PCTPL.format(x="p_min")} AS taxa_minima,
      {_PCTPL.format(x="p_max")} AS taxa_maxima,
      {_PCTPL.format(x="p_med")} AS taxa_media,
      {_PCTPL.format(x="p_ult")} AS taxa_fechamento,
      {_PCTPL.format(x="p_bid")} AS taxa_ultima_oferta_venda,
      {_PCTPL.format(x="p_ask")} AS taxa_ultima_oferta_compra,
      taxa_ajuste,
      {pround_sql("CASE WHEN dias_uteis = du_min THEN tx_valid ELSE power(power(1 + tx_valid, au) / power(1 + tx_j, au_j), 1.0 / (au - au_j)) - 1 END", 6)} AS taxa_forward
    FROM fplagged
    """,
)
def q_futuro_panel(spark, sf_dir):
    """The reference-user flagship: a raw B3-XML-schema frame (every PR
    column synthesized from orders) through
    ``analytics.futuro.enriquecer`` — the same transform the 24
    real-archive goldens verify — producing the full 22-column
    taxa-contract panel with inverted bid/ask and scaled percent→
    decimal conversion."""
    from pyield_spark.analytics.futuro import enriquecer

    # widen: the whole enrichment (ticker dissection, 4 calendar joins,
    # 10 scaled-round percent conversions) is narrow work before the
    # first exchange — serial on a single-row-group scan without it
    from pyield_spark.functions.numbers import pround_expr

    od = tables(spark, sf_dir, "orders", widen=True)
    out = enriquecer(futuro_pr_frame(od), "DI1")
    return out.withColumns(
        {c: pround_expr(c, 6) for c in ("dv01", "taxa_forward")}
    )
