"""K4/K5 kernels and analytics pipelines: invariants and goldens."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pyield_spark.analytics.futuro import enrich, with_vencimento
from pyield_spark.analytics.selic import probabilities
from pyield_spark.bonds.bootstrap import implied_rates
from pyield_spark.bonds.pricing import price_coupon_bond


def test_implied_rate_roundtrip(spark):
    """K4: bisection recovers the pricing rate through the PU."""
    bonds = spark.createDataFrame(
        [
            (1, dt.date(2024, 5, 15), dt.date(2027, 1, 1), 0.10),
            (2, dt.date(2024, 5, 15), dt.date(2030, 1, 1), 0.1234),
        ],
        "id INT, liq DATE, ven DATE, taxa DOUBLE",
    )
    priced = price_coupon_bond(bonds, ["id"], settlement="liq", maturity="ven")
    full = bonds.join(priced, "id")
    got = {
        r.id: r.taxa_implicita
        for r in implied_rates(full, ["id"], settlement="liq", maturity="ven").collect()
    }
    assert got[1] == pytest.approx(0.10, abs=1e-7)
    assert got[2] == pytest.approx(0.1234, abs=1e-7)


_B_LIQ = dt.date(2024, 8, 16)
_B_VENS = [
    dt.date(2025, 5, 15),
    dt.date(2026, 8, 15),
    dt.date(2028, 8, 15),
    dt.date(2032, 8, 15),
]
_B_TIRS = [0.063893, 0.066, 0.0631, 0.0615]


def _bonds_fixture(spark):
    return spark.createDataFrame(
        [("g", _B_LIQ, v, t) for v, t in zip(_B_VENS, _B_TIRS)],
        "grupo STRING, liq DATE, ven DATE, taxa DOUBLE",
    )


def test_taxas_zero_scalar_parity(spark):
    """K5: the Spark pipeline matches the driver-side scalar replica of
    the reference's sequential loop (ntnb.py:554-574) vertex by vertex."""
    from pyield_spark import scalar
    from pyield_spark.bonds.bootstrap import ntnb_taxas_zero

    got = {
        r.data_vencimento: (r.dias_uteis, r.taxa_zero)
        for r in ntnb_taxas_zero(
            _bonds_fixture(spark), by="grupo", settlement="liq",
            maturity="ven", tir="taxa",
        ).collect()
    }
    expected = scalar.ntnb_taxas_zero(_B_LIQ, _B_VENS, _B_TIRS)
    assert len(got) == len(expected) == len(_B_VENS)
    for ven, du, z in expected:
        assert got[ven][0] == du
        assert got[ven][1] == pytest.approx(z, abs=1e-12)


def test_taxas_zero_first_vertex_is_tir(spark):
    """Reference rule (ntnb.py:560-563): vertices at or before the first
    input maturity take the interpolated TIR as their zero rate."""
    from pyield_spark.bonds.bootstrap import ntnb_taxas_zero

    got = {
        r.data_vencimento: r.taxa_zero
        for r in ntnb_taxas_zero(
            _bonds_fixture(spark), by="grupo", settlement="liq",
            maturity="ven", tir="taxa", include_coupons=True,
        ).collect()
    }
    assert got[_B_VENS[0]] == pytest.approx(_B_TIRS[0], abs=1e-10)
    # grid dates before the first maturity flat-extrapolate to its TIR
    assert got[dt.date(2024, 11, 15)] == pytest.approx(_B_TIRS[0], abs=1e-10)
    assert got[dt.date(2025, 2, 15)] == pytest.approx(_B_TIRS[0], abs=1e-10)


def test_taxas_zero_reprices_cotacao(spark):
    """K5 defining invariant (ntnb.py:567-572 rearranged): PV of each
    grid bond's actual coupon flows at the solved zeros plus the final
    flow at its own zero reproduces the STN cotação at its TIR."""
    from pyield_spark import scalar
    from pyield_spark.bonds.bootstrap import ntnb_taxas_zero

    rows = ntnb_taxas_zero(
        _bonds_fixture(spark), by="grupo", settlement="liq",
        maturity="ven", tir="taxa", include_coupons=True,
    ).collect()
    zmap = {r.data_vencimento: (r.dias_uteis, r.taxa_zero) for r in rows}
    tirmap = {r.data_vencimento: r.taxa_tir for r in rows}
    first_ven = min(v for v in zmap if v in set(_B_VENS))
    for ven in _B_VENS:
        if ven <= first_ven:
            continue
        coupons = scalar._payment_dates(_B_LIQ, ven, 6)
        pv = 0.0
        for d in coupons[:-1]:
            du, z = zmap[d]
            pv += scalar.NTNB_CUPOM / (1 + z) ** (du / 252.0)
        du_n, z_n = zmap[ven]
        pv += (1 + scalar.NTNB_CUPOM) / (1 + z_n) ** (du_n / 252.0)
        cot = scalar.ntnb_cotacao(_B_LIQ, ven, tirmap[ven])
        assert pv == pytest.approx(cot, abs=1e-7)


def test_premio_limpo_docstring_golden(spark):
    """Reference golden (ntnf.py:740-752): premio_limpo('23-08-2024',
    '01-01-2035', 0.116586, DI {2025/2030/2035-01-01: 0.10823/0.11594/
    0.11531}) → 12.13 bps."""
    from pyield_spark import du as du_mod
    from pyield_spark.bonds.bootstrap import premio_limpo

    liq = dt.date(2024, 8, 23)
    bonds = spark.createDataFrame(
        [(1, "g", liq, dt.date(2035, 1, 1), 0.116586)],
        "id INT, grupo STRING, liq DATE, ven DATE, taxa DOUBLE",
    )
    di = spark.createDataFrame(
        [
            ("g", du_mod.contar_scalar(liq, dt.date(2025, 1, 1)), 0.10823),
            ("g", du_mod.contar_scalar(liq, dt.date(2030, 1, 1)), 0.11594),
            ("g", du_mod.contar_scalar(liq, dt.date(2035, 1, 1)), 0.11531),
        ],
        "grupo STRING, du LONG, taxa_di DOUBLE",
    )
    [row] = premio_limpo(
        bonds, di, id_cols=["id"], by="grupo",
        settlement="liq", maturity="ven", taxa="taxa",
        price_alias="pu",
    ).collect()
    assert round(row.premio_limpo * 10_000, 2) == pytest.approx(12.13, abs=0.011)

    # price_alias parity: the solver's in-groupBy target must equal the
    # standalone pricing operator bit-for-bit (same STN chain)
    from pyield_spark.bonds.pricing import price_coupon_bond

    [priced] = price_coupon_bond(
        bonds, ["id"], settlement="liq", maturity="ven", taxa="taxa"
    ).collect()
    assert row.pu == priced.pu


def test_normalizar_contratos(spark):
    """Contract normalization (b3/_contratos.py:8-50): trim+upper,
    empties drop (expr: null), dedupe preserving order (scalar)."""
    from pyield_spark.analytics.futuro import (
        normalizar_contrato_expr,
        normalizar_contratos,
    )

    df = spark.createDataFrame(
        [(" di1f26 ",), ("DAP",), ("",), (None,), ("dap",)], "c STRING"
    )
    got = [r.n for r in df.select(normalizar_contrato_expr("c").alias("n")).collect()]
    assert got == ["DI1F26", "DAP", None, None, "DAP"]
    assert normalizar_contratos([" di1f26 ", "DAP", "", None, "dap"]) == [
        "DI1F26",
        "DAP",
    ]
    assert normalizar_contratos("dol") == ["DOL"]
    assert normalizar_contratos(None) == []


def test_vencimento_roll(spark):
    # DI1F25 → 2025-01-01 (holiday) rolls to 2025-01-02 (docstring golden:
    # pyield/futuro/contratos.py vencimento_expr examples)
    df = spark.createDataFrame([("DI1F25",), ("di1g25",)], "codigo_negociacao STRING")
    got = sorted(
        r.data_vencimento
        for r in with_vencimento(df, "codigo_negociacao", "DI1").collect()
    )
    assert got == [dt.date(2025, 1, 2), dt.date(2025, 2, 3)]


def test_probabilities_invariants(spark):
    opts = spark.createDataFrame(
        [
            (dt.date(2025, 12, 11), -50, 60.0),
            (dt.date(2025, 12, 11), -25, 35.0),
            (dt.date(2025, 12, 11), 0, 10.0),
            (dt.date(2026, 1, 29), -25, 80.0),
            (dt.date(2026, 1, 29), 0, 30.0),
        ],
        "data_expiracao DATE, variacao_strike_bps INT, preco_ajuste DOUBLE",
    )
    out = probabilities(opts).collect()
    by_meeting = {}
    for r in out:
        by_meeting.setdefault(r.data_expiracao, []).append(r)
    for rows in by_meeting.values():
        assert sum(r.prob for r in rows) == pytest.approx(1.0, abs=1e-5)
        assert max(r.prob_acumulada for r in rows) == pytest.approx(1.0, abs=1e-6)
    ranks = {r.data_expiracao: r.rank_reuniao for r in out}
    assert ranks[dt.date(2025, 12, 11)] == 1 and ranks[dt.date(2026, 1, 29)] == 2


def test_curva_pre_composition(spark, sf_dir):
    """§7 step 6: LTN ∪ bootstrap with anti-join — no duplicate vertices,
    short end sourced from LTN."""
    from pyield_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["q_curva_pre"](spark, sf_dir)
    rows = out.collect()
    seen = {}
    for r in rows:
        key = (r.grupo, r.dias_uteis)
        assert key not in seen, f"duplicate vertex {key}"
        seen[key] = r.fonte
    assert any(f == "LTN" for f in seen.values())
    assert any(f == "NTN-B" for f in seen.values())


def test_cpm_dissect_composition(spark):
    """Ticker dissection recovers the encoded fields; unmatched meeting
    months (2, 4) exercise the COPOM left join's null path; expiry is
    the next business day after the meeting end."""
    from pyield_spark.queries.analytics import q_cpm_dissect

    rows = q_cpm_dissect(spark, "/root/testdata/sf0.001").collect()
    assert rows
    matched = [r for r in rows if r.data_expiracao is not None]
    unmatched = [r for r in rows if r.data_expiracao is None]
    assert matched, "calendar join produced no matches"
    for r in rows:
        k = r.o_orderkey
        assert len(r.codigo_negociacao) == 13
        assert r.tipo_opcao == ("call" if k % 2 == 0 else "put")
        assert r.variacao_strike_bps == ((k % 33) - 16) * 25
    for r in matched:
        assert r.data_expiracao > r.data_fim_reuniao
        assert r.dias_uteis is not None and r.dias_uteis > 0
    for r in unmatched:
        # months 2 and 4 are not COPOM months in the synthetic calendar
        assert r.codigo_negociacao[3] in ("G", "J")
        assert r.dias_uteis is None


def test_cpm_ticker_parse_docstring_goldens(spark):
    """Reference _parse_ticker docstring tuples (selic/cpm.py:185-195):
    CPMZ25C099500 -> (12, 2025, call, 99.5, -50);
    CPMF25C100750 -> (1, 2025, call, 100.75, 75);
    CPMH25P100000 -> (3, 2025, put, 100.0, 0) — through the exact
    dissection expressions q_cpm_dissect runs."""
    from pyspark.sql import functions as F

    from pyield_spark.queries.analytics import _MONTH_ALPHABET

    df = spark.createDataFrame(
        [("CPMZ25C099500",), ("CPMF25C100750",), ("CPMH25P100000",)],
        "codigo_negociacao STRING",
    )
    out = df.select(
        "codigo_negociacao",
        F.expr(
            f"instr('{_MONTH_ALPHABET}', substring(codigo_negociacao, 4, 1))"
        ).cast("int").alias("mes"),
        (F.substring("codigo_negociacao", 5, 2).cast("int") + 2000).alias("ano"),
        F.when(F.substring("codigo_negociacao", 7, 1) == "C", "call")
        .when(F.substring("codigo_negociacao", 7, 1) == "P", "put")
        .alias("tipo"),
        (F.substring("codigo_negociacao", 8, 6).cast("bigint") / 1000.0).alias(
            "strike"
        ),
        (
            F.floor(F.substring("codigo_negociacao", 8, 6).cast("bigint") / 10)
            - 10000
        ).cast("int").alias("var_bps"),
    ).collect()
    got = {r.codigo_negociacao: (r.mes, r.ano, r.tipo, r.strike, r.var_bps) for r in out}
    assert got["CPMZ25C099500"] == (12, 2025, "call", 99.5, -50)
    assert got["CPMF25C100750"] == (1, 2025, "call", 100.75, 75)
    assert got["CPMH25P100000"] == (3, 2025, "put", 100.0, 0)


def test_di1_interpolar_taxas_tipo_taxa(spark):
    """Replay of the reference's tests/test_di1.py over the engine's
    DataFrame twin: 'ajuste' (default) reads the adjustment curve,
    'fechamento' the last-traded curve, a NULL fechamento vertex is
    dropped (sole-vertex date -> null result), and an invalid tipo_taxa
    raises ValueError naming the argument."""
    import datetime as dt

    import pytest

    from pyield_spark.analytics.futuro import di1_interpolar_taxas

    d = dt.date(2025, 1, 2)
    hist = spark.createDataFrame(
        [(d, 1, 0.10, 0.11), (d, 2, 0.20, 0.21)],
        "data_referencia date, dias_uteis long,"
        " taxa_ajuste double, taxa_fechamento double",
    )
    targets = spark.createDataFrame(
        [(d, 1), (d, 2)], "data_referencia date, dias_uteis_alvo long"
    )

    def got(df):
        return {
            r["dias_uteis_alvo"]: r["taxa_interpolada"] for r in df.collect()
        }

    # default = ajuste (exact vertex hits)
    assert got(di1_interpolar_taxas(hist, targets)) == {1: 0.10, 2: 0.20}
    # fechamento curve
    assert got(
        di1_interpolar_taxas(hist, targets, tipo_taxa="fechamento")
    ) == {1: 0.11, 2: 0.21}

    # a null fechamento on the only vertex -> no curve for the date ->
    # null (the reference's None/NaN)
    hist_null = spark.createDataFrame(
        [(d, 1, 0.10, None)],
        "data_referencia date, dias_uteis long,"
        " taxa_ajuste double, taxa_fechamento double",
    )
    one = spark.createDataFrame(
        [(d, 1)], "data_referencia date, dias_uteis_alvo long"
    )
    out = di1_interpolar_taxas(hist_null, one, tipo_taxa="fechamento").collect()
    assert len(out) == 1 and out[0]["taxa_interpolada"] is None
    # ...while ajuste still resolves on the same panel
    assert got(di1_interpolar_taxas(hist_null, one)) == {1: 0.10}

    with pytest.raises(ValueError, match="tipo_taxa"):
        di1_interpolar_taxas(hist, targets, tipo_taxa="media")


def test_copom_calendar_and_next_meeting(spark):
    """Replay of tests/copom/test_copom.py over the engine twins:
    calendar(start, end) bounds the END date (far-future start ->
    empty, not an error); next_meeting returns the single first
    meeting ending at-or-after the reference, empty past the
    calendar."""
    import datetime as dt

    from pyield_spark.analytics.selic import copom_calendar, next_meeting

    meetings = spark.createDataFrame(
        [(dt.date(2025, m, 15),) for m in (1, 3, 5, 6, 7, 9, 11, 12)]
        + [(dt.date(2026, 1, 28),)],
        "data_fim_reuniao date",
    )
    inside = copom_calendar(
        meetings, start=dt.date(2025, 1, 1), end=dt.date(2025, 12, 31)
    ).collect()
    assert len(inside) == 8
    assert all(
        dt.date(2025, 1, 1) <= r["data_fim_reuniao"] <= dt.date(2025, 12, 31)
        for r in inside
    )
    assert copom_calendar(meetings, start=dt.date(2099, 1, 1)).count() == 0
    # one-sided end works (unlike the auction fetch contract)
    assert copom_calendar(meetings, end=dt.date(2025, 3, 31)).count() == 2

    nxt = next_meeting(meetings, dt.date(2025, 1, 29)).collect()
    assert len(nxt) == 1 and nxt[0]["data_fim_reuniao"] == dt.date(2025, 3, 15)
    exact = next_meeting(meetings, dt.date(2025, 6, 15)).collect()
    assert exact[0]["data_fim_reuniao"] == dt.date(2025, 6, 15)  # at-or-after
    assert next_meeting(meetings, dt.date(2099, 1, 1)).count() == 0
