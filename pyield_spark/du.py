"""Business-day arithmetic as broadcast-join DataFrame operations.

Reference semantics (pyield/du/core.py):
- ``contar(inicio, fim)``: business days in [inicio, fim) — start
  inclusive, end exclusive; negative when fim < inicio (core.py:154-157);
  the holiday regime (antigo/novo) is chosen per row from the *start*
  date vs the 2023-12-26 transition (core.py:20-25,116-119).
- ``deslocar(data, n, rolagem)``: roll the date to a business day first
  ("forward" → next, "backward" → previous; no-op if already a business
  day), then move |n| business days in the sign direction
  (core.py:324-346).
- ``eh_dia_util(data)``: weekday and not holiday (core.py:598-600).

Spark design: a ~40k-row business-day dimension is broadcast and each
operation is 1-2 broadcast hash joins plus pure column math — no UDFs, no
shuffles of the fact table, safe at 100 TB. Scalar convenience wrappers
run driver-side on the same generated calendar (mirroring the reference's
scalar/vector dual API, core.py:89-98).
"""

from __future__ import annotations

import bisect
import datetime as dt

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark import calendar_br as cal
from pyield_spark.functions.sql import ident

_TRANSITION = cal.TRANSITION_DATE


def _cal_sel(spark, date_alias: str, prefix: str, cols: tuple) -> DataFrame:
    # memoized per session, INCLUDING the narrow projection and the
    # broadcast hint: contar/deslocar run in most fixed-income queries,
    # and rebuilding the identical projection costs dozens of py4j
    # round-trips each time — query CONSTRUCTION overhead that scales
    # with suite size (DataFrames are immutable, reuse is safe)
    def build():
        c = cal.calendar_df(spark)
        return F.broadcast(
            c.select(
                F.col("data").alias(date_alias),
                *[F.col(n).alias(prefix + n) for n in cols],
            )
        )

    return cal.df_cache_get(spark, ("calsel", date_alias, prefix, cols), build)


def _inv_bd(spark) -> DataFrame:
    """(regime, ordinal) -> date inverse map, projected to deslocar's
    temp names and broadcast-hinted, memoized per session."""

    def build():
        return F.broadcast(
            cal.business_dates_df(spark).select(
                F.col("regime").alias("_du_regime"),
                F.col("ordinal").alias("_du_target"),
                F.col("data").alias("_du_result"),
            )
        )

    return cal.df_cache_get(spark, ("calinv",), build)


# SQL spelling of the regime transition (used in the parsed CASE
# expressions below — one py4j round trip where the when/otherwise
# Column chains cost ~60-80 each; same Literal/CaseWhen tree)
_TRANSITION_SQL = f"DATE'{_TRANSITION.isoformat()}'"


def _to_date_col(x: str | Column) -> Column:
    # parsed to_date over a NAMED column in one round trip; Column
    # inputs keep the (already-built) Column path
    if isinstance(x, str):
        return F.expr(f"to_date({ident(x)})")
    return F.to_date(x)


def contar(
    df: DataFrame,
    inicio: str | Column,
    fim: str | Column,
    alias: str = "dias_uteis",
) -> DataFrame:
    """Add a business-day-count column: [inicio, fim), regime by inicio.

    Implemented as two broadcast joins against the calendar dimension:
    count = cum[fim] - cum[inicio] on the regime selected by inicio.
    Null inicio/fim (or dates outside the 1990-2099 calendar) yield null.
    """
    spark = df.sparkSession
    df2 = df.withColumn("_du_ini", _to_date_col(inicio)).withColumn(
        "_du_fim", _to_date_col(fim)
    )
    cal_ini = _cal_sel(spark, "_du_ini", "_i_", ("cum_ant", "cum_nov"))
    cal_fim = _cal_sel(spark, "_du_fim", "_f_", ("cum_ant", "cum_nov"))
    out = (
        df2.join(cal_ini, "_du_ini", "left")
        .join(cal_fim, "_du_fim", "left")
        .withColumn(
            alias,
            # same Literal/CaseWhen tree as the old when/otherwise
            # Column chain, parsed in ONE py4j round trip (r11 build
            # optimization: du ops run in most fixed-income queries)
            F.expr(
                f"CASE WHEN _du_ini < {_TRANSITION_SQL}"
                " THEN _f_cum_ant - _i_cum_ant"
                " ELSE _f_cum_nov - _i_cum_nov END"
            ),
        )
    )
    return out.drop("_du_ini", "_du_fim", "_i_cum_ant", "_i_cum_nov", "_f_cum_ant", "_f_cum_nov")


def deslocar(
    df: DataFrame,
    data: str | Column,
    deslocamento: str | Column | int,
    rolagem: str = "forward",
    alias: str = "data_deslocada",
) -> DataFrame:
    """Add a business-day-shifted date column (roll first, then add n).

    Two broadcast joins: date → roll ordinal; (regime, ordinal+n) → date.
    """
    if rolagem not in ("forward", "backward"):
        raise ValueError("rolagem must be 'forward' or 'backward'")
    spark = df.sparkSession
    if isinstance(deslocamento, int):
        n = F.expr(f"CAST({deslocamento} AS BIGINT)")
    elif isinstance(deslocamento, str):
        n = F.expr(f"CAST({ident(deslocamento)} AS BIGINT)")
    else:
        n = deslocamento.cast("long")
    # forward-roll ordinal IS cum_* (own ordinal if a bd, next bd's
    # otherwise — by construction of the exclusive-end count), so only
    # the backward roll needs its own index columns
    idx = "cum_" if rolagem == "forward" else "idx_bwd_"
    df2 = df.withColumn("_du_data", _to_date_col(data)).withColumn("_du_n", n)
    cal_d = _cal_sel(spark, "_du_data", "_d_", (f"{idx}ant", f"{idx}nov"))
    # temp name + withColumn (REPLACE semantics, like contar): joining
    # the pre-aliased result column would leave TWO identically-named
    # columns when the input already carries `alias` — e.g. chained
    # shifts with the default alias → AMBIGUOUS_REFERENCE (review fix)
    out = (
        df2.join(cal_d, "_du_data", "left")
        .withColumn(
            "_du_regime",
            # same nested CaseWhen tree as the old when/otherwise chain,
            # parsed once (r11 build optimization)
            F.expr(
                "CASE WHEN _du_data IS NULL THEN CAST(NULL AS STRING)"
                f" ELSE CASE WHEN _du_data < {_TRANSITION_SQL}"
                " THEN 'antigo' ELSE 'novo' END END"
            ),
        )
        .withColumn(
            "_du_target",
            F.expr(
                f"(CASE WHEN _du_data < {_TRANSITION_SQL}"
                f" THEN _d_{idx}ant ELSE _d_{idx}nov END) + _du_n"
            ),
        )
        .join(_inv_bd(spark), ["_du_regime", "_du_target"], "left")
        .withColumn(alias, F.col("_du_result"))
    )
    return out.drop(
        "_du_data", "_du_n", "_du_regime", "_du_target", "_du_result",
        f"_d_{idx}ant", f"_d_{idx}nov",
    )


def eh_dia_util(df: DataFrame, data: str | Column, alias: str = "eh_dia_util") -> DataFrame:
    """Add a boolean business-day flag (regime selected by the date itself)."""
    spark = df.sparkSession
    df2 = df.withColumn("_du_data", _to_date_col(data))
    cal_d = _cal_sel(spark, "_du_data", "_d_", ("is_bd_ant", "is_bd_nov"))
    out = df2.join(cal_d, "_du_data", "left").withColumn(
        alias,
        F.expr(
            f"CASE WHEN _du_data < {_TRANSITION_SQL}"
            " THEN _d_is_bd_ant ELSE _d_is_bd_nov END"
        ),
    )
    return out.drop("_du_data", "_d_is_bd_ant", "_d_is_bd_nov")


# --- scalar fast path (driver-side, mirrors the reference's scalar API) ---


def _regime_of(d: dt.date) -> str:
    return "antigo" if d < _TRANSITION else "novo"


def _in_calendar(*dates: dt.date) -> bool:
    return all(cal.CAL_START <= d <= cal.CAL_END for d in dates)


def contar_scalar(inicio: dt.date | None, fim: dt.date | None) -> int | None:
    """Business days in [inicio, fim); None propagates (core.py:120-127).

    Dates outside the generated 1990-2099 calendar return None — the
    same answer the DataFrame twin gives (its calendar join misses).
    Counting on silently would treat every weekday out there as a
    business day (no holidays generated), a WRONG number rather than
    an absent one (review fix)."""
    if inicio is None or fim is None or not _in_calendar(inicio, fim):
        return None
    hol = cal.holidays(_regime_of(inicio))
    sign = 1
    a, b = inicio, fim
    if fim < inicio:
        a, b, sign = fim, inicio, -1
    # weekday count in [a, b)
    days = (b - a).days
    full_weeks, rem = divmod(days, 7)
    count = full_weeks * 5
    wd = a.weekday()
    for i in range(rem):
        if (wd + i) % 7 < 5:
            count += 1
    # subtract weekday holidays in [a, b)
    lo = bisect.bisect_left(hol, a)
    hi = bisect.bisect_left(hol, b)
    count -= sum(1 for h in hol[lo:hi] if h.weekday() < 5)
    return sign * count


def deslocar_scalar(
    data: dt.date | None, n: int | None, rolagem: str = "forward"
) -> dt.date | None:
    """Roll then add n business days, driver-side. Returns None outside
    the generated 1990-2099 calendar (the DataFrame twin's null) — and
    if the walk itself leaves the calendar, where holiday data ends."""
    if rolagem not in ("forward", "backward"):
        # match the DataFrame twin: a typo'd direction must not
        # silently roll backward (review fix)
        raise ValueError("rolagem must be 'forward' or 'backward'")
    if data is None or n is None or not _in_calendar(data):
        return None
    regime = _regime_of(data)
    step = dt.timedelta(days=1)
    d = data
    if not cal.is_business_day(d, regime):
        while not cal.is_business_day(d, regime):
            d = d + step if rolagem == "forward" else d - step
            if not _in_calendar(d):
                return None  # rolled past the calendar edge
    remaining = abs(n)
    direction = step if n >= 0 else -step
    while remaining > 0:
        d += direction
        if not _in_calendar(d):
            return None  # walked past the holiday data — no valid answer
        if cal.is_business_day(d, regime):
            remaining -= 1
    return d


def gerar_df(spark, inicio: dt.date, fim: dt.date) -> DataFrame:
    """Business days in [inicio, fim] as a DataFrame (core.py:546
    analogue — calendar generation, regime by inicio)."""
    regime = _regime_of(inicio)
    flag = "is_bd_ant" if regime == "antigo" else "is_bd_nov"
    c = cal.calendar_df(spark)
    return (
        c.filter(
            (F.col("data") >= F.lit(inicio))
            & (F.col("data") <= F.lit(fim))
            & F.col(flag)
        )
        .select("data")
    )


def ultimo_dia_util(df: DataFrame, data: str | Column, alias: str = "ultimo_dia_util") -> DataFrame:
    """Latest business day at-or-before the date (roll backward, n=0)."""
    return deslocar(df, data, 0, "backward", alias=alias)


def gerar(inicio: dt.date, fim: dt.date) -> list[dt.date]:
    """Business days in [inicio, fim], driver-side (core.py:546
    analogue). Truncates to the generated 1990-2099 calendar exactly
    like ``gerar_df`` — outside it holiday data does not exist, and an
    unguarded walk would report every weekday as a business day (the
    wrong-number-not-absent bug the scalar shift/count twins guard
    against; review fix)."""
    regime = _regime_of(inicio)
    out = []
    d = inicio
    while d <= fim:
        if _in_calendar(d) and cal.is_business_day(d, regime):
            out.append(d)
        d += dt.timedelta(days=1)
    return out
