"""Scalar-function semantics: truncation, BR numbers, date coalesce."""

import datetime as dt
import math

from pyspark.sql import functions as F

from pyield_spark.functions import (
    br_num_expr,
    bround_expr,
    converter_datas_expr,
    pct_para_decimal_expr,
    truncar_expr,
)


def test_truncar_toward_zero(spark):
    df = spark.createDataFrame(
        [(3.14159,), (-2.567,), (float("nan"),), (None,)], "x DOUBLE"
    )
    got = [r.t for r in df.select(truncar_expr("x", 3).alias("t")).collect()]
    assert got[0] == 3.141
    assert got[1] == -2.567  # toward zero, not floor
    import math

    assert math.isnan(got[2])
    assert got[3] is None


def test_truncar_negative_floor_vs_trunc(spark):
    df = spark.createDataFrame([(-2.5678,)], "x DOUBLE")
    got = df.select(truncar_expr("x", 2).alias("t")).collect()[0].t
    assert got == -2.56  # floor would give -2.57


def test_bround_half_even(spark):
    df = spark.createDataFrame([(2.5,), (3.5,)], "x DOUBLE")
    got = [r.b for r in df.select(bround_expr("x", 0).alias("b")).collect()]
    assert got == [2.0, 4.0]


def test_br_numbers(spark):
    df = spark.createDataFrame([("1.234,56",), ("12,5",), ("bogus",)], "s STRING")
    got = [r.v for r in df.select(br_num_expr("s").alias("v")).collect()]
    assert got[0] == 1234.56
    assert got[1] == 12.5
    assert got[2] is None


def test_pct_para_decimal(spark):
    df = spark.createDataFrame([(14.1234567891,)], "p DOUBLE")
    got = df.select(pct_para_decimal_expr("p").alias("d")).collect()[0].d
    assert got == 0.1412345679  # /100 rounded 10dp half-even


def test_multi_format_dates(spark):
    df = spark.createDataFrame(
        [("05-07-2024",), ("05/07/2024",), ("2024-07-05",), ("not a date",)], "s STRING"
    )
    got = [r.d for r in df.select(converter_datas_expr("s").alias("d")).collect()]
    assert got[:3] == [dt.date(2024, 7, 5)] * 3
    assert got[3] is None


def test_relogio_tz(spark):
    """F14: agora/hoje pin to America/Sao_Paulo on both the scalar and
    the Column path, regardless of the session timezone."""
    import datetime as dt

    from pyield_spark import relogio

    now = relogio.agora()
    assert str(now.tzinfo) == "America/Sao_Paulo"
    assert relogio.hoje() == now.date() or abs(
        (relogio.hoje() - now.date()).days
    ) <= 1

    row = spark.range(1).select(
        relogio.agora_expr().alias("agora"), relogio.hoje_expr().alias("hoje")
    ).collect()[0]
    # Spark returns naive wall-clock datetimes in the session tz; the
    # expression converts to the B3 wall clock, so it must be within
    # clock skew of the scalar twin's wall time
    skew = abs(row.agora - now.replace(tzinfo=None))
    assert skew <= dt.timedelta(minutes=2)
    assert row.hoje in (now.date(), now.date() - dt.timedelta(days=1),
                        now.date() + dt.timedelta(days=1))


def test_filtrar_periodo_temporal_modes(spark):
    """Replay of the reference fetch-APIs' temporal-mode contract
    (tests/tpf/test_leilao.py::test_leiloes_rejeita_modos_temporais_
    ambiguos + test_taxas.py inverted-interval): data xor inicio/fim,
    fim needs inicio, inicio <= fim; the surviving modes filter the
    frame."""
    import datetime as dt

    import pytest

    from pyield_spark.functions.dates import filtrar_periodo

    df = spark.createDataFrame(
        [(dt.date(2025, 10, d),) for d in (1, 15, 23, 28)], "d date"
    )
    with pytest.raises(ValueError, match="data não pode ser combinado"):
        filtrar_periodo(df, "d", data="23-10-2025", inicio="01-10-2025")
    with pytest.raises(ValueError, match="fim só pode ser usado"):
        filtrar_periodo(df, "d", fim="23-10-2025")
    with pytest.raises(ValueError, match="inicio deve ser menor"):
        filtrar_periodo(df, "d", inicio="24-10-2025", fim="23-10-2025")
    with pytest.raises(ValueError, match="inválido"):
        filtrar_periodo(df, "d", data="not-a-date")

    assert filtrar_periodo(df, "d").count() == 4
    assert filtrar_periodo(df, "d", data="23-10-2025").count() == 1
    assert filtrar_periodo(df, "d", inicio="15-10-2025").count() == 3
    assert (
        filtrar_periodo(df, "d", inicio="02-10-2025", fim="23-10-2025").count() == 2
    )


def test_vna_projetado_scalar_domain():
    """Reference tests/tpf/vna/test_vna.py: empty inputs → NaN;
    non-positive (post-trunc6) base and ≤-100% (post-bround2)
    projection raise — including the precision-boundary cases the raw
    values would miss."""
    import datetime as dt
    import math

    import pytest

    from pyield_spark.scalar import vna_projetado

    d = dt.date(2025, 3, 20)
    assert math.isnan(vna_projetado(None, 4000.0, 0.5))
    assert math.isnan(vna_projetado(d, None, 0.5))
    assert math.isnan(vna_projetado(d, 4000.0, None))
    with pytest.raises(ValueError, match="VNA-base"):
        vna_projetado(d, 0.0, 0.5)
    with pytest.raises(ValueError, match="VNA-base"):
        vna_projetado(d, 1e-9, 0.5)  # trunc6 -> 0, the reference's order
    with pytest.raises(ValueError, match="inflação"):
        vna_projetado(d, 4000.0, -100.0)
    with pytest.raises(ValueError, match="inflação"):
        vna_projetado(d, 4000.0, -99.996)  # bround2 -> -100.0
    # the valid path is untouched
    assert vna_projetado(d, 4000.0, 0.5) > 4000.0


def test_raw_maturity_sql_values(spark):
    """Ticker → unrolled maturity on valid, lowercase, malformed and
    short tickers: every month letter position decodes, and an invalid
    month (A, E), a non-digit year (2X), a short ticker, '' and NULL
    all give NULL on any session."""
    from pyspark.sql import functions as F

    from pyield_spark.analytics.futuro import raw_maturity_sql

    want_month_year = {
        "DI1F26": (2026, 1), "di1x31": (2031, 11), "DAPK27": (2027, 5),
        "DI1A25": None, "DI1F2X": None, "DI1": None, "": None, None: None,
        "DI1Q00": (2000, 8), "DI1G30": (2030, 2), "DI1Z29": (2029, 12),
        "DI1E25": None,
    }
    df = spark.createDataFrame([(t,) for t in want_month_year], "t string")
    for contrato, day in (("DI1", 1), ("DAP", 15)):
        got = {
            r["t"]: r["m"]
            for r in df.select(
                "t", F.expr(raw_maturity_sql("t", contrato)).alias("m")
            ).collect()
        }
        want = {
            t: dt.date(ym[0], ym[1], day) if ym else None
            for t, ym in want_month_year.items()
        }
        assert got == want, contrato


def test_round_pl_pround_truncar_values(spark):
    """round_pl_expr / pround_expr / truncar_expr on a grid-adversarial
    sample, pinned to fixed values through both input forms: a Column
    and a SQL fragment (one parse). The exact doubles differ from naive
    decimal division, so the D-suffixed literals are load-bearing."""
    from pyspark.sql import functions as F

    from pyield_spark.functions.numbers import pround_expr, round_pl_expr

    nan, inf = float("nan"), float("inf")
    # (x, round_pl(x/100, 10), pround(x, 6), truncar(x, 8),
    #  truncar(truncar(x, 8), 8)) — a list, since 0.0 == -0.0 as keys
    want = [
        (0.141446, 0.00141446, 0.141446, 0.141446, 0.141446),
        (-0.141446, -0.00141446, -0.141446, -0.141446, -0.141446),
        (808563725.6850001, 8085637.25685, 808563725.685, 808563725.685,
         808563725.685),
        (80856372568.49998, 808563725.6849998, 80856372568.49998,
         80856372568.49998, 80856372568.49998),
        (2.5, 0.025, 2.5, 2.5, 2.5),
        (-2.5, -0.025, -2.5, -2.5, -2.5),
        (0.105, 0.00105, 0.105, 0.105, 0.105),
        (-0.105, -0.00105, -0.105, -0.105, -0.105),
        (1e-12, 0.0, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.0, 0.0, 0.0),
        (-0.0, 0.0, -0.0, -0.0, -0.0),  # rint's -0.0 normalized by + 0.0
        (nan, nan, nan, nan, nan),
        # Spark's floor returns BIGINT, so pround saturates +inf at
        # Long.MAX_VALUE / 1e6; truncar keeps inf through its rint arm
        (inf, inf, 9223372036854.775, inf, inf),
        (123.456789, 1.23456789, 123.456789, 123.456789, 123.456789),
        (0.1234565, 0.001234565, 0.123457, 0.1234565, 0.1234565),
        (-1.0000004999, -0.010000005, -1.0, -1.00000049, -1.00000049),
        (3.14159265358979, 0.0314159265, 3.141593, 3.14159265, 3.14159265),
        (None, None, None, None, None),
    ]
    df = spark.createDataFrame(
        [(i, row[0]) for i, row in enumerate(want)], "i int, x double"
    )
    rows = df.select(
        "i",
        round_pl_expr(F.col("x") / 100.0, 10).alias("pl_col"),
        round_pl_expr("x / 100.0D", 10).alias("pl_sql"),
        pround_expr(F.col("x"), 6).alias("pa_col"),
        pround_expr("x", 6).alias("pa_sql"),
        truncar_expr(F.col("x"), 8).alias("tr_col"),
        truncar_expr("x", 8).alias("tr_sql"),
        truncar_expr(truncar_expr(F.col("x"), 8), 8).alias("tr2_col"),
        truncar_expr(truncar_expr("x", 8), 8).alias("tr2_sql"),
    ).collect()

    def same(a, b):
        if a is None or b is None:
            return a is b
        if math.isnan(b):
            return math.isnan(a)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)

    for r in rows:
        x, pl, pa, tr, tr2 = want[r["i"]]
        for name, w in (("pl", pl), ("pa", pa), ("tr", tr), ("tr2", tr2)):
            for form in ("col", "sql"):
                got = r[f"{name}_{form}"]
                assert same(got, w), (x, name, form, got, w)


def test_local_frame_is_an_exact_local_relation(spark):
    """Driver rows become a LocalTableScan, not a Python-worker RDD
    scan; 64-bit ids, NULLs, dates and arrays round-trip exactly; a row
    of the wrong width raises instead of being truncated."""
    import pytest

    from pyspark.sql.types import LongType, StructField, StructType

    from pyield_spark.functions.frames import local_frame

    rows = [
        (2**62 + 1, dt.date(2026, 2, 6), [1.5, None], "é"),
        (None, None, None, None),
    ]
    df = local_frame(spark, rows, "id long, d date, v array<double>, s string")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == rows

    empty = local_frame(spark, [], StructType([StructField("id", LongType())]))
    assert empty.schema == StructType([StructField("id", LongType())])
    assert empty.count() == 0

    with pytest.raises(Exception, match="Tuple size"):
        local_frame(spark, [(1, 2)], "id long")
