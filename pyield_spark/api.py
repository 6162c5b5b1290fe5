"""Reference-shaped public namespace — the "switch" surface.

A user of the reference toolkit (crdcj/PYield) imports ``pyield as yd``
and reaches ``yd.forwards_expr``, ``yd.interpolar``, ``yd.du.contar``,
``yd.ltn.pu``, ``yd.ntnb.taxas_zero``, … This module exposes the same
names (the reference's ``__init__.__all__``,
/root/reference/pyield/__init__.py:25-50) bound to the Spark-first
implementations, so the migration is::

    import pyield_spark.api as yd

Shape changes are the documented ones (MIGRATION.md): scalar
convenience functions keep their scalar signatures (parity-tested twins
in :mod:`pyield_spark.scalar`); panel operations take/return DataFrames
or Columns. HTTP fetch wrappers (``ptax``/``di_over``/``*.dados``) map
to the local readers + expressions that keep the parse/transform
semantics — transport is out of scope by design (see MIGRATION.md).
"""

from __future__ import annotations

from types import SimpleNamespace

from pyield_spark import du  # noqa: F401  — same module name as the reference
from pyield_spark import scalar
from pyield_spark.bonds import bootstrap as _bootstrap
from pyield_spark.bonds import cashflows as _cashflows
from pyield_spark.bonds import pricing as _pricing
from pyield_spark.bonds import vna as _vna
from pyield_spark.curves.forwards import forwards_expr
from pyield_spark.curves.interpolate import interpolar  # noqa: F401
from pyield_spark.relogio import agora, agora_expr, hoje, hoje_expr  # noqa: F401
from pyield_spark.sources.readers import read_sgs_json as ptax_serie  # noqa: F401

# forward/forwards: the reference's pair (scalar / series) collapses to
# one Column combinator — apply it in a select over a 2-row frame for
# the scalar case (MIGRATION.md top-level table).
forward = forwards = forwards_expr


class Interpolador:
    """Callable single-curve interpolator (reference
    pyield/interpolador.py): construct with the vertices, call with a
    business-day count. Scalar shape — the distributed path is
    :func:`interpolar` (multi-curve, one window shuffle)."""

    def __init__(
        self,
        dias_uteis: list[int],
        taxas: list[float],
        metodo: str = "flat_forward",
        extrapolar: bool = False,
    ) -> None:
        if metodo not in ("flat_forward", "linear"):
            raise ValueError(f"unknown metodo {metodo!r}")
        self._metodo = metodo
        # reference cleaning (interpolador.py:62-80): drop null/NaN
        # vertices, dedupe duplicate du keep='last' (later input wins)
        import math as _math

        clean: dict[int, float] = {}
        for d, t in zip(dias_uteis, taxas):
            if d is None or t is None:
                continue
            t = float(t)
            if _math.isnan(t):
                continue
            clean[int(d)] = t
        self._verts = sorted(clean.items())
        self._extrapolar = extrapolar

    def __call__(self, du_alvo: int) -> float:
        # reference: negative du -> NaN (interpolador.py:252-253)
        if du_alvo is not None and du_alvo < 0:
            return float("nan")
        out = scalar.interpolar_taxa(
            self._verts,
            du_alvo,
            method=self._metodo,
            extrapolar=self._extrapolar,
        )
        # the reference class returns NaN (not None) outside the curve
        return float("nan") if out is None else out


# --- bond-family namespaces (reference: pyield.tpf.titulos.*) -----------
# expr members are Column combinators; df members take/return DataFrames;
# bare names mirror the reference's scalar signatures.

ltn = SimpleNamespace(
    pu=scalar.ltn_pu,
    taxa=scalar.ltn_taxa,
    pu_expr=_pricing.ltn_pu_expr,
    taxa_expr=_pricing.ltn_taxa_expr,
    dv01_expr=_pricing.dv01_expr,
)

ntnf = SimpleNamespace(
    pu=scalar.ntnf_pu,
    price=_pricing.price_coupon_bond,
    datas_pagamento=_cashflows.explode_payment_dates,
    taxa=_bootstrap.implied_rates,
    premio_limpo=_bootstrap.premio_limpo,
    rentabilidade_expr=_pricing.rentabilidade_expr,
    premio_expr=_pricing.premio_bps_expr,
    taxas_zero=_bootstrap.ntnb_taxas_zero,  # hybrid path, MIGRATION.md
)

ntnb = SimpleNamespace(
    cotacao=scalar.ntnb_cotacao,
    cotacao_df=_pricing.ntnb_cotacao,
    pu=scalar.pu_from_vna,
    pu_expr=_pricing.pu_from_vna_expr,
    vna_projetado=scalar.vna_projetado,
    vna_projetado_expr=_vna.vna_projetado_expr,
    taxas_zero=_bootstrap.ntnb_taxas_zero,
    taxas_zero_scalar=scalar.ntnb_taxas_zero,
)

ntnb1 = SimpleNamespace(
    fluxos_caixa=_cashflows.amortization_flows,
)

ntnbp = SimpleNamespace(
    cotacao=scalar.ntnbp_cotacao,
    pu=scalar.ntnbp_pu,
    dv01=scalar.ntnbp_dv01,
    cotacao_expr=_pricing.ntnbp_cotacao_expr,
    dv01_expr=_pricing.ntnbp_dv01_expr,
)

ntnc = SimpleNamespace(
    cotacao_df=_pricing.ntnc_cotacao,
    coupon_sql=_pricing.ntnc_coupon_sql,
)

lft = SimpleNamespace(
    cotacao=scalar.lft_cotacao,
    taxa=scalar.lft_taxa,
    cotacao_expr=_pricing.lft_cotacao_expr,
    taxas=_bootstrap.lft_taxas,
    rentabilidade_expr=_pricing.rentabilidade_expr,
)

# --- submodule trees (reference pyield.{b3,futuro,ipca,selic,tpf}) ------
# Every name binds to a REAL implemented equivalent; fetch-only wrappers
# keep the parse/transform half and read local files (MIGRATION.md).
# Shape changes are the documented ones: panel ops take/return
# DataFrames; "intradia"/"historico" take the raw frame a reader
# produced instead of fetching it.

from pyield_spark.analytics import futuro as _futuro_mod
from pyield_spark.analytics import selic as _selic_mod
from pyield_spark.analytics.leiloes_bc import processar_leiloes as _bc_leiloes
from pyield_spark.analytics.leiloes_tpf import (
    processar_leiloes_tpf as _tpf_leiloes,
    read_leiloes_json as _read_leiloes_json,
)
from pyield_spark.bonds import benchmark as _benchmark_mod
from pyield_spark.sources import intradia_json as _ij
from pyield_spark.sources import mensal as _mensal_mod
from pyield_spark.sources import rmd as _rmd_mod
from pyield_spark.sources import tpf_intradia as _tpfi_mod
from pyield_spark.sources import xml_report as _xml_mod
from pyield_spark.sources.html_table import (
    imaq_estoque_silver as _imaq_silver,
    read_html_tables as _read_html,
)
from pyield_spark.sources.readers import (
    anbima_silver as _anbima_silver,
    read_anbima_csv_bronze as _anbima_bronze,
    read_fixed_width_rate as _di_over_reader,
    read_ibge_json as _ibge_reader,
)

# yd.futuro — enrichment is the semantics; the cached-PR fetch is
# transport (enriquecer(raw_pr, contrato) IS historico's transform,
# golden-verified against all 24 reference panels)
futuro = SimpleNamespace(
    enriquecer=_futuro_mod.enriquecer,
    historico=_futuro_mod.enriquecer,
    intradia=_ij.processar_intradia,
    vencimento=_futuro_mod.with_vencimento,  # df-op (needs the calendar)
    dv01_expr=_pricing.dv01_expr,
    contratos=SimpleNamespace(
        dv01_expr=_pricing.dv01_expr,
        normalizar=_futuro_mod.normalizar_contratos,
    ),
)
# yd.di1 — DI1-curve helpers (reference pyield/futuro/di1.py): the
# interpolation kernels ARE yd.interpolar / yd.Interpolador over the
# DI1 panel; exposed under the reference's names
import functools as _functools

di1 = SimpleNamespace(
    interpolar_taxas=interpolar,
    interpolar_taxa=scalar.interpolar_taxa,
    # the reference signature's tipo_taxa knob (ajuste/fechamento
    # source selection + null-vertex drop + validation) over the
    # enriched DI1 panel — di1.py:118-236 / tests/test_di1.py
    interpolar_historico=_futuro_mod.di1_interpolar_taxas,
    dados=_functools.partial(_futuro_mod.enriquecer, contrato="DI1"),
)

# yd.b3
b3 = SimpleNamespace(
    boletim=_xml_mod.read_price_report_xml,
    derivativos_intradia=_ij.read_derivativos_json,
)
di_over = _di_over_reader  # int/10^4 → 4dp rate (pyield/b3/di_over.py)
ptax = ptax_serie  # scalar fetch → series reader + as-of (MIGRATION.md)

# yd.selic — COPOM probability extraction + CPM chain (the full
# composite lives in queries/analytics.py::q_copom_probs/q_cpm_dissect)
selic = SimpleNamespace(
    probabilities=_selic_mod.probabilities,
    copom=SimpleNamespace(
        calendar=_selic_mod.copom_calendar,
        next_meeting=_selic_mod.next_meeting,
    ),
)

# yd.ipca — IBGE aggregate-API parse + VNA projection silver
ipca = SimpleNamespace(
    indices=_ibge_reader,
    taxas=_ibge_reader,
    projecao=_vna.ipca_projecao_silver,
)

# yd.tpf — bond families (same objects as the top level), auctions,
# benchmarks, ANBIMA taxas/IMA-Q, RMD, secondary market
from pyield_spark.functions.dates import filtrar_periodo as _filtrar_periodo

tpf = SimpleNamespace(
    lft=lft, ltn=ltn, ntnb=ntnb, ntnb1=ntnb1, ntnbp=ntnbp, ntnc=ntnc,
    ntnf=ntnf,
    leiloes=_tpf_leiloes,
    leiloes_bc=_bc_leiloes,
    # the fetch API's data/inicio/fim temporal-mode contract over a
    # local frame (reference leiloes()/taxas_historicas() validation)
    filtrar_periodo=_filtrar_periodo,
    ler_leiloes_json=_read_leiloes_json,
    benchmarks=SimpleNamespace(
        ler=_benchmark_mod.read_benchmarks_json,
        processar=_benchmark_mod.parse_benchmarks,
        vigentes=_benchmark_mod.benchmarks_vigentes,
    ),
    taxas=SimpleNamespace(bronze=_anbima_bronze, silver=_anbima_silver),
    estoque=SimpleNamespace(ler_html=_read_html, silver=_imaq_silver),
    rmd=SimpleNamespace(
        aba_1_3=_rmd_mod.read_rmd_13_xlsx,
        aba_1_3_csv=_rmd_mod.read_rmd_13_csv,
        aba_2_1=_rmd_mod.read_rmd_21_xlsx,
        aba_2_1_csv=_rmd_mod.read_rmd_21_csv,
    ),
    secundario=SimpleNamespace(
        mensal=_mensal_mod.mensal_gold,
        zip_para_silver=_mensal_mod.mensal_silver,
        ler_zip=_mensal_mod.mensal_silver,
        intradia=_tpfi_mod.tpf_intradia_silver,
    ),
)

__all__ = [
    "agora",
    "agora_expr",
    "b3",
    "di1",
    "di_over",
    "du",
    "forward",
    "forwards",
    "forwards_expr",
    "futuro",
    "hoje",
    "hoje_expr",
    "Interpolador",
    "interpolar",
    "ipca",
    "lft",
    "ltn",
    "ntnb",
    "ntnb1",
    "ntnbp",
    "ntnc",
    "ntnf",
    "ptax",
    "ptax_serie",
    "selic",
    "tpf",
]
