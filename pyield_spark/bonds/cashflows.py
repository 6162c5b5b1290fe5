"""Columnar bond cash-flow generation — explode, don't loop.

The reference walks back from maturity in a Python while-loop
(pyield/tpf/titulos/_utils.py:141-165 ``gerar_datas_pagamento``: dates at
``maturity - i*interval_months`` for i=0.. while date > settlement,
exclusive start / inclusive end). Here the same set is produced fully
columnar: ``sequence(0, n)`` → ``explode`` → ``add_months(maturity,
-i*interval)`` → filter — one narrow transform, no shuffle, scales with
the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pyield_spark.functions.sql import ident


def explode_payment_dates(
    df: DataFrame,
    settlement: str,
    maturity: str,
    interval_months: int = 6,
    alias: str = "data_pagamento",
) -> DataFrame:
    """One output row per payment date in (settlement, maturity] of the
    named date columns.

    Rows whose settlement >= maturity produce no output (empty flow set,
    matching the reference's empty frame). Built from parsed SQL: 4 py4j
    round trips instead of ~180.
    """
    if interval_months <= 0:
        raise ValueError("interval_months must be positive")
    liq_s = f"to_date({ident(settlement)})"
    ven_s = f"to_date({ident(maturity)})"
    iv = f"{float(interval_months)!r}D"
    # upper bound on #periods: months difference / interval, +1 slack;
    # the filter below trims exactly.
    return (
        df.withColumn(
            "_n_max",
            F.expr(
                "greatest(CAST(ceil(months_between("
                f"{ven_s}, {liq_s}) / {iv}) AS INT) + 1, 0)"
            ),
        )
        .withColumn("_i", F.expr("explode(sequence(0, _n_max))"))
        .withColumn(
            alias,
            F.expr(f"add_months({ven_s}, -_i * {interval_months})"),
        )
        .filter(F.expr(f"{ident(alias)} > {liq_s}"))
        .drop("_n_max", "_i")
    )


def _sql_value(v: float | str) -> str:
    return f"{float(v)!r}D" if isinstance(v, (int, float)) else f"({v})"


def coupon_flow_sql(
    pay_date: str,
    maturity: str,
    coupon_value: float | str,
    final_value: float | str,
) -> str:
    """Flow amount over SQL fragments: coupon everywhere,
    coupon+principal at maturity (reference:
    pyield/tpf/titulos/ntnf.py:268-276). Numbers become exact double
    literals via repr (shortest round-trip decimal); a ``str`` value is
    a fragment, so per-row coupon conventions ride along (NTN-C's 2031
    12% exception, pyield/tpf/titulos/ntnc.py:24-40)."""
    return (
        f"CASE WHEN {pay_date} = to_date({maturity})"
        f" THEN {_sql_value(final_value)} ELSE {_sql_value(coupon_value)} END"
    )


def amortization_flows(
    df,
    settlement: str,
    maturity: str,
    n_amort: int,
    alias: str = "data_pagamento",
    value_alias: str = "valor_amortizacao",
):
    """Monthly amortization schedule — NTN-B1 Renda+/Educa+ pattern
    (240 / 60 monthly payments ending at maturity,
    pyield/tpf/titulos/ntnb1.py:28-51,55-118).

    Payment values follow the reference exactly: each amortization is
    ``trunc8(1/n_amort)`` and the FINAL payment absorbs the truncation
    remainder (``1 − trunc8(1/n)·(n−1)``, ntnb1.py:34-51) so the base-1
    fractions sum to exactly 1. Payments before settlement have already
    been received by prior holders and drop out (the schedule itself
    always spans n_amort months back from maturity).
    """
    from pyield_spark.scalar import truncar as _truncar_py

    amort = _truncar_py(1.0 / n_amort, 8)
    final = 1.0 - amort * (n_amort - 1)
    out = explode_payment_dates(df, settlement, maturity, 1, alias)
    ven = F.to_date(F.col(maturity))
    first_pay = F.add_months(ven, -(n_amort - 1))
    return out.filter(F.col(alias) >= first_pay).withColumn(
        value_alias,
        F.when(F.col(alias) == ven, F.lit(final)).otherwise(F.lit(amort)),
    )
