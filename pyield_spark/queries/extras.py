"""Remaining coverage: set-intersection (U3), approximate aggregates
(Spark-native extension), and the PRE-curve composition (§7 step 6 —
LTN points ∪ bootstrap output with an anti-join, the reference's
pyield/tpf/titulos/pre.py:53-100 shape).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyield_spark.queries import query, tables


# === U3: INTERSECT / EXCEPT ==============================================


@query(
    "q_intersect_except",
    oracle="""
    SELECT 'both' AS bucket, CAST(k AS BIGINT) AS partkey FROM (
      SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 48
      INTERSECT
      SELECT l_partkey FROM lineitem WHERE l_quantity < 2
    )
    UNION ALL
    SELECT 'only_high', CAST(k AS BIGINT) FROM (
      SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 48
      EXCEPT
      SELECT l_partkey FROM lineitem WHERE l_quantity < 2
    )
    """,
)
def q_intersect_except(spark, sf_dir):
    li = tables(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_quantity") > 48).select(F.col("l_partkey").alias("k"))
    lo = li.filter(F.col("l_quantity") < 2).select(F.col("l_partkey").alias("k"))
    both = hi.intersect(lo).select(
        F.lit("both").alias("bucket"), F.col("k").alias("partkey")
    )
    # subtract == set EXCEPT (exceptAll+distinct differs: a key with
    # leftover duplicates after bag-subtraction would survive)
    only_high = hi.subtract(lo).select(
        F.lit("only_high").alias("bucket"), F.col("k").alias("partkey")
    )
    return both.unionByName(only_high)


# === approximate aggregates, error-bound-checked under the hash gate ======
# Sketch values (HLL++, KLL) are estimator-specific, so raw outputs can
# never hash-match another engine. Instead the query emits the EXACT
# companions plus booleans asserting the sketches landed inside their
# published error bounds; the oracle emits the exact values and TRUE.
# A sketch drifting out of bounds flips a boolean and fails the gate —
# the bound check itself is driver-verified.


@query(
    "q_approx_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_parts_within_2pct,
           TRUE AS approx_median_within_decile
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_stats(spark, sf_dir):
    li = tables(spark, sf_dir, "lineitem")
    # split aggregations: countDistinct plans through an Expand that
    # would multiply every percentile buffer's input 3× (measured 24.5s
    # → 5.8s at sf0.1); the 3-row joins are free. Round 2: even pairing
    # countDistinct WITH approx_count_distinct re-introduces the Expand
    # (5.4s → 1.3s split), and the exact distinct is cheapest two-phase
    # (distinct pairs, then count — both map-side combinable).
    exact = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_parts"))
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("_approx_parts"),
    )
    counts = exact.join(approx, "l_returnflag")
    pcts = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("_approx_median"),
        # exact p45/p55 bracket for the approx median (rank error at
        # accuracy=1000 is ≤0.1% of ranks — a decile bracket is safe);
        # one array-percentile buffer instead of two scalar ones
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.45), F.lit(0.55))
        ).alias("_pcts"),
    )
    agg = counts.join(pcts, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        "_approx_parts",
        F.col("_approx_median").alias("_approx_median"),
        F.col("_pcts")[0].alias("_p45"),
        F.col("_pcts")[1].alias("_p55"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("_approx_parts") - F.col("exact_parts"))
            <= 0.02 * F.col("exact_parts")
        ).alias("approx_parts_within_2pct"),
        F.col("_approx_median").between(F.col("_p45"), F.col("_p55")).alias(
            "approx_median_within_decile"
        ),
    )


# === §7 step 6: PRE curve = LTN zero points ∪ bootstrap points,
# anti-joined on overlapping maturities (reference:
# pyield/tpf/titulos/pre.py:53-100) — SQL-expressible now that the
# bootstrap has a recursive-CTE oracle twin ================================

_LTN_ARM_SQL = """
lpanel AS (
  SELECT grupo, lslot,
         CAST(35000 + lslot * 1500 + (s * 20000 + n) // (2 * n) AS DOUBLE)
           / 1000000.0 AS taxa_zero
  FROM (
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS grupo,
           CAST(l_suppkey % 6 AS INT) AS lslot,
           SUM(CAST(round(l_tax * 100, 0) AS BIGINT)) AS s,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2)
),
ltn_arm AS (
  SELECT p.grupo, p.taxa_zero,
         CAST({bd} AS BIGINT) AS dias_uteis
  FROM (SELECT grupo, taxa_zero,
               CAST(anchor + TO_MONTHS(CAST(((2 - month(anchor)) % 3 + 3) % 3
                    + 3 * (lslot + 1) AS INT)) AS DATE) AS lven
        FROM (SELECT *, CAST(grupo + INTERVAL 14 DAY AS DATE) AS anchor FROM lpanel)) p
  JOIN cal cs ON cs.data = p.grupo
  JOIN cal ce ON ce.data = p.lven
)"""


def _curva_pre_oracle():
    from pyield_spark.queries.analytics import _NTNB_PANEL_SQL, _bootstrap_ctes
    from pyield_spark.queries.fixed_income import _CAL
    from pyield_spark.queries.oracle_helpers import bd_count_sql, pround_sql

    ltn = _LTN_ARM_SQL.format(bd=bd_count_sql("p.grupo", "p.lven"))
    return f"""
    WITH RECURSIVE {_CAL},
    {_NTNB_PANEL_SQL.lstrip()},
    {_bootstrap_ctes()},
    {ltn.lstrip()}
    SELECT grupo, dias_uteis, taxa_zero, 'LTN' AS fonte FROM ltn_arm
    UNION ALL
    SELECT b.grupo, b.du AS dias_uteis, b.z AS taxa_zero, 'NTN-B' AS fonte
    FROM boot b
    JOIN bonds o ON o.grupo = b.grupo AND o.ven = b.dv
    WHERE NOT EXISTS (SELECT 1 FROM ltn_arm l
                      WHERE l.grupo = b.grupo AND l.dias_uteis = b.du)
    """


@query("q_curva_pre", oracle=_curva_pre_oracle())
def q_curva_pre(spark, sf_dir):
    from pyield_spark.bonds.bootstrap import ntnb_taxas_zero
    from pyield_spark.functions.numbers import pround_expr
    from pyield_spark.queries.analytics import _ntnb_panel
    from pyield_spark import du as du_mod

    li = tables(spark, sf_dir, "lineitem")
    # LTN arm: zero-coupon by nature, the quoted rate IS the zero rate;
    # maturities live on the same Feb/May/Aug/Nov-15 chain as the NTN-B
    # panel so overlapping vertices collide on (grupo, dias_uteis)
    grupo = F.date_trunc("month", "l_shipdate").cast("date")
    lslot = (F.col("l_suppkey") % 6).cast("int")
    lpanel = (
        li.groupBy(grupo.alias("grupo"), lslot.alias("lslot"))
        .agg(
            F.sum(F.round(F.col("l_tax") * 100, 0).cast("long")).alias("_s"),
            F.count("*").alias("_n"),
        )
        .select(
            "grupo",
            "lslot",
            (
                (
                    F.lit(35000)
                    + F.col("lslot").cast("long") * 1500
                    + F.expr("(_s * 20000 + _n) DIV (2 * _n)")
                ).cast("double")
                / 1000000.0
            ).alias("taxa_zero"),
        )
    )
    anchor = F.date_add(F.col("grupo"), 14)
    offm = F.pmod(F.lit(2) - F.month(anchor), F.lit(3))
    lpanel = lpanel.withColumn(
        "lven", F.add_months(anchor, offm + (F.col("lslot") + 1) * 3)
    )
    # cache: the LTN arm is both a union branch and the anti-join's
    # build side — uncached its lineitem aggregation runs twice
    ltn = (
        du_mod.contar(lpanel, "grupo", "lven", alias="dias_uteis")
        .select("grupo", "dias_uteis", "taxa_zero", F.lit("LTN").alias("fonte"))
        .cache()
    )

    # bootstrap arm (the faithful taxas_zero kernel)
    boot = ntnb_taxas_zero(
        _ntnb_panel(spark, sf_dir),
        by="grupo",
        settlement="liq",
        maturity="ven",
        tir="taxa",
    ).select(
        "grupo", "dias_uteis", F.col("taxa_zero"), F.lit("NTN-B").alias("fonte")
    )
    # anti-join: bootstrap vertices an LTN point already covers drop out
    # (reference: pre.py:88-91)
    boot_only = boot.join(
        ltn.select("grupo", "dias_uteis"), ["grupo", "dias_uteis"], "left_anti"
    )
    return ltn.unionByName(boot_only)


# === bond-over-DI relative value (rentabilidade + premio, reference:
# pyield/tpf/titulos/ltn.py:200-258, _utils.py:51) ========================

from pyield_spark.queries.oracle_helpers import pround_sql


@query(
    "q_rentabilidade",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             round(0.08 + (o_orderkey % 1000) / 10000.0, 6) AS taxa_titulo,
             round(0.075 + (o_orderkey % 900) / 10000.0, 6) AS taxa_di
      FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT o_orderkey, taxa_titulo, taxa_di,
      {pround_sql("(power(1 + taxa_titulo, 1.0/252.0) - 1) / (power(1 + taxa_di, 1.0/252.0) - 1)", 9)}
        AS rentabilidade,
      {pround_sql("(taxa_titulo - taxa_di) * 10000.0", 4)} AS premio_bps
    FROM base
    """,
)
def q_rentabilidade(spark, sf_dir):
    from pyield_spark.bonds.pricing import premio_bps_expr, rentabilidade_expr
    from pyield_spark.functions.numbers import pround_expr

    od = tables(spark, sf_dir, "orders")
    base = od.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        F.round(F.lit(0.08) + (F.col("o_orderkey") % 1000) / 10000.0, 6).alias(
            "taxa_titulo"
        ),
        F.round(F.lit(0.075) + (F.col("o_orderkey") % 900) / 10000.0, 6).alias(
            "taxa_di"
        ),
    )
    return base.select(
        "o_orderkey",
        "taxa_titulo",
        "taxa_di",
        pround_expr(rentabilidade_expr("taxa_titulo", "taxa_di"), 9).alias(
            "rentabilidade"
        ),
        pround_expr(premio_bps_expr("taxa_titulo", "taxa_di"), 4).alias("premio_bps"),
    )


# === BCB repo auctions (compromissadas) silver pipeline ===================
# Reference: pyield/selic/compromissada.py:43-62 over the S7 OData CSV
# discipline (bc/_olinda.py): BR-number taxa parsing (taxa_br =
# float_br/100 round10, _internal/br_numbers.py:7-40), business-day term
# between settlement and return, zero-volume null-out/zero-out, sort
# keys (data_leilao, hora_inicio, tipo_oferta). The bronze strings are
# synthesized integer-exactly from orders so both engines parse the
# SAME text.

import datetime as _dt_comp

from pyield_spark import du as _du_comp
from pyield_spark.functions.numbers import br_num_expr, pround_expr
from pyield_spark.queries.fixed_income import _CAL as _CAL_COMP
from pyield_spark.queries.oracle_helpers import bd_count_sql, pround_sql


_COMP_TAXA_STR = (
    "concat(CAST((800 + o_orderkey % 700) // 100 AS VARCHAR), ',',"
    " lpad(CAST((800 + o_orderkey % 700) % 100 AS VARCHAR), 2, '0'))"
)
_COMP_PCT_STR = (
    "concat(CAST((o_orderkey % 10000) // 100 AS VARCHAR), ',',"
    " lpad(CAST((o_orderkey % 10000) % 100 AS VARCHAR), 2, '0'))"
)
_PARSE_BR = "CAST(replace(replace({s}, '.', ''), ',', '.') AS DOUBLE)"


@query(
    "q_compromissadas",
    oracle=f"""
    WITH {_CAL_COMP},
    bronze AS (
      SELECT o_orderkey,
        CAST(o_orderdate AS DATE) AS data_leilao,
        CASE WHEN o_orderkey % 2 = 0 THEN '09:00' ELSE '12:00' END AS hora_inicio,
        CAST(1 + o_orderkey % 120 AS BIGINT) AS prazo_dc,
        CASE WHEN o_orderkey % 5 = 0 THEN 'Tomador'
             ELSE concat('Compromissada ', CAST(1000 + o_orderkey % 100 AS VARCHAR))
        END AS tipo_oferta,
        CAST(CASE WHEN o_orderkey % 9 = 0 THEN NULL
                  ELSE 40000 + o_orderkey % 5000 END AS BIGINT) AS comunicado,
        CAST(CASE WHEN o_orderkey % 7 = 0 THEN 0
                  ELSE (o_orderkey * 37) % 1000000000 END AS BIGINT) AS volume_aceito,
        {_COMP_TAXA_STR} AS taxa_corte_str,
        {_COMP_PCT_STR} AS pct_corte_str
      FROM orders WHERE o_orderkey % 19 = 0
    ),
    dated AS (
      SELECT b.*,
        CAST(b.data_leilao + TO_DAYS(CAST(b.o_orderkey % 2 AS INT)) AS DATE)
          AS data_liquidacao,
        CAST(b.data_leilao + TO_DAYS(CAST(b.o_orderkey % 2 AS INT))
             + TO_DAYS(CAST(b.prazo_dc AS INT)) AS DATE) AS data_retorno
      FROM bronze b
    )
    SELECT d.o_orderkey, d.data_leilao, d.data_liquidacao, d.data_retorno,
      d.hora_inicio, d.prazo_dc,
      CAST({bd_count_sql("d.data_liquidacao", "d.data_retorno")} AS BIGINT)
        AS prazo_du,
      d.comunicado, d.tipo_oferta,
      1000.0 * d.volume_aceito AS financeiro_aceito,
      CASE WHEN d.volume_aceito = 0 THEN NULL
           ELSE {pround_sql(_PARSE_BR.format(s="d.taxa_corte_str") + " / 100.0", 10)}
      END AS taxa_corte,
      CASE WHEN d.volume_aceito = 0 THEN 0.0
           ELSE 100.0 - {_PARSE_BR.format(s="d.pct_corte_str")}
      END AS pct_aceito
    FROM dated d
    JOIN cal cs ON cs.data = d.data_liquidacao
    JOIN cal ce ON ce.data = d.data_retorno
    """,
)
def q_compromissadas(spark, sf_dir):
    """BCB repo-auction silver pipeline: bronze BR-formatted strings →
    typed columns, du term, zero-volume dispatch — the compromissada.py
    _processar_df single-select, Spark-first."""
    k = F.col("o_orderkey")
    od = tables(spark, sf_dir, "orders").filter(k % 19 == 0)
    cents_t = F.lit(800) + k % 700
    cents_p = k % 10000
    bronze = od.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("data_leilao"),
        F.when(k % 2 == 0, "09:00").otherwise("12:00").alias("hora_inicio"),
        (F.lit(1) + k % 120).alias("prazo_dc"),
        F.when(k % 5 == 0, F.lit("Tomador"))
        .otherwise(F.concat(F.lit("Compromissada "), (F.lit(1000) + k % 100).cast("string")))
        .alias("tipo_oferta"),
        F.when(k % 9 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.lit(40000) + k % 5000)
        .alias("comunicado"),
        F.when(k % 7 == 0, F.lit(0)).otherwise((k * 37) % 1000000000)
        .cast("bigint")
        .alias("volume_aceito"),
        F.concat(
            F.floor(cents_t / 100).cast("long").cast("string"),
            F.lit(","),
            F.lpad((cents_t % 100).cast("string"), 2, "0"),
        ).alias("taxa_corte_str"),
        F.concat(
            F.floor(cents_p / 100).cast("long").cast("string"),
            F.lit(","),
            F.lpad((cents_p % 100).cast("string"), 2, "0"),
        ).alias("pct_corte_str"),
    )
    dated = bronze.withColumn(
        "data_liquidacao", F.date_add("data_leilao", (k % 2).cast("int"))
    ).withColumn(
        "data_retorno",
        F.date_add(F.col("data_liquidacao"), F.col("prazo_dc").cast("int")),
    )
    dated = _du_comp.contar(dated, "data_liquidacao", "data_retorno", alias="prazo_du")
    vol0 = F.col("volume_aceito") == 0
    return dated.select(
        "o_orderkey",
        "data_leilao",
        "data_liquidacao",
        "data_retorno",
        "hora_inicio",
        "prazo_dc",
        "prazo_du",
        "comunicado",
        "tipo_oferta",
        (1000.0 * F.col("volume_aceito")).alias("financeiro_aceito"),
        F.when(vol0, F.lit(None).cast("double"))
        .otherwise(pround_expr(br_num_expr("taxa_corte_str") / 100.0, 10))
        .alias("taxa_corte"),
        F.when(vol0, F.lit(0.0))
        .otherwise(F.lit(100.0) - br_num_expr("pct_corte_str"))
        .alias("pct_aceito"),
    )


@query(
    "q_sketch_rollup",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS merged_within_2pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup — the 100 TB pre-aggregation pattern:
    distinct-count sketches built once per FINE group (returnflag ×
    linestatus, e.g. a daily partition job) then union-merged to the
    COARSE level without rescanning the fact table. Datasketches HLL
    (`hll_sketch_agg`/`hll_union_agg`) because, unlike
    approx_count_distinct's internal buffer, the sketch is a column —
    persistable to parquet and mergeable across jobs/days.

    Oracle: the q_approx_stats bounds-flag pattern (exact value + a
    TRUE flag the Spark side must reproduce by holding the ±2% error
    bound) — sketch binaries are engine-specific, estimates are not
    hash-comparable across engines.
    """
    li = tables(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey", F.lit(14)).alias("_sk")
    )
    merged = fine.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est")
    )
    exact = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_orders"))
    )
    return exact.join(merged, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_est") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= 0.02
        ).alias("merged_within_2pct"),
    )


@query(
    "q_theta_overlap",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_both,
           TRUE AS theta_within_5pct
    FROM (
      SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O'
      INTERSECT
      SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    )
    """,
)
def q_theta_overlap(spark, sf_dir):
    """Sketch-space set intersection — the audience-overlap pattern:
    how many orders have BOTH open and fulfilled lines, computed from
    two independently-built Theta sketches (`theta_sketch_agg` →
    `theta_intersection`) with NO join between the sides. HLL can only
    union; Theta's set algebra (intersect/difference) is why it is the
    overlap sketch at 100 TB — per-segment sketches persist and any
    pairwise overlap is answerable later in O(k).

    Oracle: exact INTERSECT count + the bounds flag (lgK=14 holds the
    estimate well inside ±5% at every driver SF)."""
    li = tables(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_linestatus").agg(
        F.theta_sketch_agg("l_orderkey", F.lit(14)).alias("_sk")
    )
    inter = sk.filter(F.col("l_linestatus").isin("O", "F")).agg(
        F.theta_sketch_estimate(F.theta_intersection_agg("_sk")).alias("_est")
    )
    o = li.filter(F.col("l_linestatus") == "O").select("l_orderkey")
    f = li.filter(F.col("l_linestatus") == "F").select("l_orderkey")
    exact = o.intersect(f).agg(F.count("*").alias("exact_both"))
    return exact.crossJoin(F.broadcast(inter)).select(
        "exact_both",
        (
            F.abs(F.col("_est") - F.col("exact_both")) / F.col("exact_both")
            <= 0.05
        ).alias("theta_within_5pct"),
    )


@query(
    "q_kll_quantiles",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS kll_median_within_decile
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_kll_quantiles(spark, sf_dir):
    """Mergeable quantiles: per-(returnflag, linestatus) KLL sketches of
    the extended price, union-merged per returnflag, median read off the
    merged sketch — the percentile twin of the HLL rollup (per-partition
    sketches persist, quantiles answerable after any regrouping without
    touching the fact table again).

    Oracle: q_approx_stats discipline — the merged-sketch median must
    land inside the exact p45..p55 bracket (KLL k=200 rank error is
    ~1.6%, a decile bracket is safe)."""
    li = tables(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("_sk")
    )
    merged = fine.groupBy("l_returnflag").agg(
        F.kll_sketch_get_quantile_double(
            F.kll_merge_agg_double("_sk"), F.lit(0.5)
        ).alias("_med")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.45), F.lit(0.55))
        ).alias("_pcts"),
    )
    return exact.join(merged, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        (
            (F.col("_med") >= F.col("_pcts")[0])
            & (F.col("_med") <= F.col("_pcts")[1])
        ).alias("kll_median_within_decile"),
    )


# === Count-Min heavy hitters (round 10) ==================================

from pyield_spark.queries.llm_data import _TOKS as _CM_TOKS  # noqa: E402


def _cm_toks() -> str:
    return _CM_TOKS


_CM_W, _CM_D = 1024, 4
_CM_H1 = "CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)"
_CM_H2 = "CAST(concat('0x', substr(md5(gram), 9, 8)) AS BIGINT)"
_CM_POS = ", ".join(
    f"(({_CM_H1} + {i} * (2 * {_CM_H2} + 1)) % {_CM_W})" for i in range(_CM_D)
)
# occurrence-stream trigrams: _GRAMS3 minus the list_distinct (Count-Min
# counts every instance; the dedup shingle set view would undercount)
_CM_NG3 = f"""
  list_transform(
    range(1, greatest(len({_CM_TOKS}) - 2, 0) + 1),
    i -> concat_ws(' ', {_CM_TOKS}[i], {_CM_TOKS}[i+1], {_CM_TOKS}[i+2]))
""".strip()


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH occ AS (
      SELECT unnest(list_concat({_CM_TOKS}, {_CM_NG3})) AS gram
      FROM documents
    ),
    tc AS (SELECT gram, CAST(count(*) AS BIGINT) AS exact_count
           FROM occ GROUP BY gram),
    pe AS (SELECT gram, exact_count,
                  unnest([{_CM_POS}]) AS pos,
                  unnest([{", ".join(str(i) for i in range(_CM_D))}]) AS row
           FROM tc),
    cm AS (SELECT row, pos, SUM(exact_count) AS cnt
           FROM pe GROUP BY row, pos),
    est AS (SELECT p.gram, p.exact_count,
                   CAST(MIN(c.cnt) AS BIGINT) AS est_count
            FROM pe p JOIN cm c ON c.row = p.row AND c.pos = p.pos
            GROUP BY p.gram, p.exact_count)
    SELECT gram, est_count, exact_count,
           CAST(est_count - exact_count AS BIGINT) AS overcount
    FROM est
    ORDER BY est_count DESC, gram ASC LIMIT 15
    """,
)
def q_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters over the mixed n-gram occurrence stream
    (unigrams ∪ trigrams — the count-based-LM counting job): top-15
    grams by ESTIMATED frequency read from a 4×1024 counter grid
    (`operators/sketch.py`; Cormode & Muthukrishnan 2005) instead of an
    unbounded per-gram count table.

    The mixed stream is the demonstration shape this flat synthetic
    corpus needs: ~31 heavy unigrams (hundreds-to-thousands of
    occurrences each) ride above a ~27k-item trigram tail that supplies
    genuine collision pressure, so the top-15 the sketch surfaces ARE
    the true heavy hitters, recovered within a few percent while the
    grid is ~7× smaller than the item domain. exact_count is the
    verification twin (what a sketchless engine pays a full groupBy
    for); overcount = est − exact ≥ 0 is the one-sided collision error
    the min estimator absorbed, bounded by e·N/w per row w.h.p.

    Unlike the bounds-flag HLL/Theta/KLL twins, the md5 double-hash
    grid replays bit-identically in DuckDB — even the collision noise
    is inside the value-hash gate. Top-15 by (est DESC, gram ASC) is a
    total order (grams unique after the groupBy)."""
    from pyield_spark.operators import sketch as sk
    from pyield_spark.operators.dedup import ngrams_expr
    from pyield_spark.operators.pinning import pin
    from pyield_spark.operators.text import tokens_expr

    docs = tables(spark, sf_dir, "documents")
    occ = docs.select(
        F.explode(
            F.concat(tokens_expr(F.col("text")), ngrams_expr(F.col("text"), 3))
        ).alias("gram")
    )
    # ONE corpus scan: the exact candidate table (needed anyway as the
    # verification twin) doubles as the build input via count_col — the
    # tokenize+explode subtree is never re-executed (review finding);
    # the lazy checkpoint cuts the shared subtree for the two consumers
    cand = pin(
        occ.groupBy("gram").agg(F.count("*").alias("exact_count")), eager=False
    )
    grid = sk.countmin_build(cand, "gram", _CM_W, _CM_D, count_col="exact_count")
    est = sk.countmin_estimate(cand, "gram", grid, _CM_W, _CM_D)
    return (
        est.select(
            "gram",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), F.col("gram").asc())
        .limit(15)
    )


# --- Count-Min rollup: fine per-source grids → coarse merge ---------------

_CMR_W, _CMR_D = 64, 3
_CMR_POS = ", ".join(
    f"(({_CM_H1.replace('shingle', 'gram')} + {i} * "
    f"(2 * {_CM_H2.replace('shingle', 'gram')} + 1)) % {_CMR_W})"
    for i in range(_CMR_D)
)


@query(
    "q_countmin_rollup",
    oracle=f"""
    WITH occ AS (
      SELECT unnest({_cm_toks()}) AS gram FROM documents
    ),
    tc AS (SELECT gram, CAST(count(*) AS BIGINT) AS exact_count
           FROM occ GROUP BY gram),
    pe AS (SELECT gram, exact_count,
                  unnest([{_CMR_POS}]) AS pos,
                  unnest([{", ".join(str(i) for i in range(_CMR_D))}]) AS row
           FROM tc),
    cm AS (SELECT row, pos, SUM(exact_count) AS cnt
           FROM pe GROUP BY row, pos)
    SELECT p.gram,
           CAST(MIN(c.cnt) AS BIGINT) AS est_count,
           p.exact_count,
           CAST(MIN(c.cnt) - p.exact_count AS BIGINT) AS overcount
    FROM pe p JOIN cm c ON c.row = p.row AND c.pos = p.pos
    GROUP BY p.gram, p.exact_count
    ORDER BY gram
    """,
)
def q_countmin_rollup(spark, sf_dir):
    """Mergeable-sketch rollup, hash-EXACT edition: the Spark side
    builds one Count-Min grid PER SOURCE (the fine per-partition/
    per-day job: `countmin_build(by=["source"])`), union-merges the 20
    grids to the coarse level (`countmin_merge` — no rescan of the
    corpus), and estimates every token; the DuckDB oracle builds the
    GLOBAL grid directly. The two agree bit-for-bit because Count-Min
    is linear (cell sums commute with grouping) — so, unlike
    `q_sketch_rollup`'s bounds-flag HLL twin, the MERGE STEP ITSELF is
    inside the value-hash gate: any cell the merge got wrong would
    shift a min and fail the driver compare.

    Unigram domain at a deliberately tight 3×64 grid (31 items vs 192
    counters: visible collision overcounts the min must fight)."""
    from pyield_spark.operators import sketch as sk
    from pyield_spark.operators.text import tokens_expr

    docs = tables(spark, sf_dir, "documents")
    occ = docs.select(
        "source", F.explode(tokens_expr(F.col("text"))).alias("gram")
    )
    fine = sk.countmin_build(occ, "gram", _CMR_W, _CMR_D, by=["source"])
    merged = sk.countmin_merge(fine.select("row", "pos", "cnt"))
    cand = occ.groupBy("gram").agg(F.count("*").alias("exact_count"))
    est = sk.countmin_estimate(cand, "gram", merged, _CMR_W, _CMR_D)
    return est.select(
        "gram",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).alias("overcount"),
    ).orderBy("gram")
