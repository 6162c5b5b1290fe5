"""The two genuinely sequential kernels, as Arrow-batched pandas UDFs.

Reference (SURVEY §2.9):
- K4 root finding: bracket-growth + bisection to tol 1e-12 / 100 iters
  (pyield/tpf/titulos/_utils.py:262-348) — implied rate from price.
  Embarrassingly parallel per bond → ``mapInPandas`` over pre-exploded
  cash-flow arrays (no shuffle beyond the flow aggregation).
- K5 zero-curve bootstrap: each vertex depends on previously solved ones
  (pyield/tpf/titulos/ntnb.py:454-578) → ``applyInPandas`` keyed by the
  curve group (reference date): sequential INSIDE a group (state ≤ ~140
  vertices), parallel ACROSS groups — the 100 TB axis is #dates.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pyield_spark import du as du_mod
from pyield_spark.bonds.cashflows import coupon_flow_sql, explode_payment_dates
from pyield_spark.functions.sql import ident
from pyield_spark.operators.pinning import pin

TOL = 1e-12
MAX_ITER = 200


def _pv(rate: float, cfs: list[float], aus: list[float]) -> float:
    return sum(cf / (1.0 + rate) ** au for cf, au in zip(cfs, aus))


def _bisect_rate(price: float, cfs: list[float], aus: list[float]) -> float:
    """Solve PV(rate) == price. PV is decreasing in rate; grow the
    bracket until it straddles, then bisect (reference contract:
    tol 1e-12, bounded iterations)."""
    lo, hi = -0.99, 1.0
    f_hi = _pv(hi, cfs, aus) - price
    it = 0
    while f_hi > 0 and hi < 1e6 and it < 60:  # price below PV(1.0) → grow
        hi *= 2
        f_hi = _pv(hi, cfs, aus) - price
        it += 1
    for _ in range(MAX_ITER):
        mid = (lo + hi) / 2.0
        if _pv(mid, cfs, aus) - price > 0:
            lo = mid
        else:
            hi = mid
        if hi - lo < TOL:
            break
    return (lo + hi) / 2.0


def implied_rates(
    df: DataFrame,
    id_cols: list[str],
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    price: str = "pu",
    coupon_value: float = 48.80885,
    final_value: float = 1048.80885,
    alias: str = "taxa_implicita",
) -> DataFrame:
    """Implied YTM per coupon bond (K4): explode flows columnar, then a
    vectorized bisection kernel over per-bond arrays."""
    flows = explode_payment_dates(df, settlement, maturity, 6, "data_pagamento")
    flows = du_mod.contar(flows, settlement, "data_pagamento", alias="_du")
    flows = flows.withColumn(
        "_cf",
        F.expr(
            coupon_flow_sql(
                "data_pagamento", ident(maturity), coupon_value, final_value
            )
        ),
    ).withColumn("_au", F.col("_du").cast("double") / 252.0)
    # ONE sorted struct list (premio_limpo's shape; review fix): two
    # parallel collect_lists summed the PV in partition-merge order
    # (run-to-run float jitter vs the reference's date-ordered sum) and
    # silently MISALIGNED cf/au pairs when one side carried a null
    # (collect_list skips nulls per column).
    packed = flows.groupBy(*id_cols).agg(
        F.first(price).alias("_price"),
        F.sort_array(
            F.collect_list(
                F.struct(F.col("_au").alias("au"), F.col("_cf").alias("cf"))
            )
        ).alias("_flows"),
    )

    # schema in id_cols order — the kernel emits columns in id_cols
    # order, so a caller passing ids in non-DataFrame order must not
    # silently bind values to the wrong names
    id_schema = ", ".join(
        f"{c} {packed.schema[c].dataType.simpleString()}" for c in id_cols
    )
    out_schema = f"{id_schema}, {alias} double"

    def _rate(p, fl):
        # input guards (review fix — lft_taxas' existing contract): a
        # null/NaN/non-positive price has no implied rate (the old
        # unguarded bisection returned a plausible-looking ~-0.99 for
        # NaN and ~1e6 for p<=0); a flow with a null year fraction
        # (payment date outside the calendar) likewise yields null.
        import math

        if p is None:
            return None
        pf = float(p)  # Decimal prices float-ize here, not mid-bisect
        if math.isnan(pf) or pf <= 0:
            return None
        cfs, aus = [], []
        for r in fl:
            if r["au"] is None or r["cf"] is None:
                return None
            aus.append(float(r["au"]))
            cfs.append(float(r["cf"]))
        return _bisect_rate(pf, cfs, aus)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates = [
                _rate(p, fl) for p, fl in zip(pdf["_price"], pdf["_flows"])
            ]
            yield pd.DataFrame({**{c: pdf[c] for c in id_cols}, alias: rates})

    return packed.mapInPandas(kernel, out_schema)


def _encontrar_raiz(f) -> float:
    """Faithful bracket-growth + bisection root finder
    (pyield/tpf/titulos/_utils.py:262-348): sweep upward from 0.01 with
    step 0.01 growing 1.6× (cap 10.0), then downward (floor -1.0); then
    bisect to tol 1e-12 / 100 iterations, early-exit on |f(mid)|<tol."""
    taxa_inicial, passo, fator, max_t = 0.01, 0.01, 1.6, 100
    taxa_min, taxa_max = -1.0, 10.0
    f0 = f(taxa_inicial)
    if abs(f0) == 0:
        return taxa_inicial

    bracket = None
    a, fa = taxa_inicial, f0
    b, passo_atual = taxa_inicial + passo, passo
    for _ in range(max_t):
        if b > taxa_max:
            break
        fb = f(b)
        if fa * fb < 0:
            bracket = (a, b)
            break
        a, fa = b, fb
        passo_atual *= fator
        b += passo_atual
    if bracket is None:
        a, fa = taxa_inicial, f0
        b, passo_atual = taxa_inicial - passo, passo
        for _ in range(max_t):
            if b < taxa_min:
                break
            fb = f(b)
            if fa * fb < 0:
                bracket = (b, a)
                break
            a, fa = b, fb
            passo_atual *= fator
            b -= passo_atual
    if bracket is None:
        return float("nan")

    a, b = bracket
    fa = f(a)
    if fa * f(b) > 0:
        return float("nan")
    for _ in range(100):
        mid = (a + b) / 2
        fmid = f(mid)
        if abs(fmid) < TOL or (b - a) / 2 < TOL:
            return mid
        if fmid * fa < 0:
            b = mid
        else:
            a, fa = mid, fmid
    return (a + b) / 2


def premio_limpo(
    bonds: DataFrame,
    di_curve: DataFrame,
    id_cols: list[str],
    by: list[str] | str,
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    taxa: str = "taxa",
    curve_du: str = "du",
    curve_rate: str = "taxa_di",
    coupon_value: float = 48.80885,
    final_value: float = 1048.80885,
    alias: str = "premio_limpo",
    price_alias: str | None = None,
) -> DataFrame:
    """Clean spread of an NTN-F over the DI curve — the reference's
    flagship relative-value number (pyield/tpf/titulos/ntnf.py:702-795).

    ``price_alias`` additionally returns the STN price at the TIR (the
    same number ``price_coupon_bond`` computes, already produced here as
    the solver's target) — callers that need both should use it instead
    of running a second pricing lineage and joining.

    Per bond: price it at its TIR with the full STN chain, flat-forward
    interpolate the DI curve at each coupon flow's business-day count,
    then root-find the spread ``p`` such that discounting every flow at
    ``(1 + di_j + p)^(du_j/252)`` recovers the price (bracket growth +
    bisection to 1e-12, _utils.py:262-348). The du/252 year fractions
    here are plain, NOT trunc14 — only the STN price uses trunc14
    (ntnf.py:783-790).

    Spark design: flows/interpolation/pricing are columnar; only the
    per-bond root search runs in ``mapInPandas`` over pre-packed flow
    arrays (embarrassingly parallel — no sequential cross-bond state,
    unlike the K5 bootstrap). Interpolated DI rates carry a portable
    10-decimal round so both engines feed the solver identical doubles.
    """
    from pyield_spark.curves.interpolate import interpolar
    from pyield_spark.functions.numbers import pround_expr

    by_cols = [by] if isinstance(by, str) else list(by)

    flows = explode_payment_dates(bonds, settlement, maturity, 6, "data_pagamento")
    flows = du_mod.contar(flows, settlement, "data_pagamento", alias="_du_f")
    # the DI panel is dimension-sized (vertices × dates) → broadcast
    # interval route: the exploded flow table never shuffles for the
    # interpolation
    flows = interpolar(
        flows,
        di_curve,
        du_col="_du_f",
        curve_du=curve_du,
        curve_rate=curve_rate,
        by=by_cols,
        method="flat_forward",
        alias="_di_raw",
        distribution="broadcast",
    ).withColumn("_di", pround_expr("_di_raw", 10))
    flows = flows.withColumn(
        "_cf",
        F.expr(
            coupon_flow_sql(
                "data_pagamento", ident(maturity), coupon_value, final_value
            )
        ),
    )
    # STN price in the SAME groupBy as the flow packing: the exploded
    # flow table already carries taxa/du/cf, so pricing does not need a
    # second explode+calendar-join lineage plus an equi-join back
    # (identical semantics to price_coupon_bond: vp bround9 on
    # (1+trunc8 taxa)^trunc14(du/252), decimal Σ, trunc6)
    from pyield_spark.bonds.pricing import anos_uteis_expr
    from pyield_spark.functions.numbers import trunc_decimal_sum_expr, truncar_expr

    _vp_price = F.bround(
        F.col("_cf")
        / F.pow(F.lit(1.0) + truncar_expr(F.col(taxa), 8), anos_uteis_expr("_du_f")),
        9,
    )
    packed = flows.groupBy(*id_cols).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_du_f").alias("du"),
                    F.col("_cf").alias("cf"),
                    F.col("_di").alias("di"),
                )
            )
        ).alias("_flows"),
        trunc_decimal_sum_expr(
            F.sum(_vp_price.cast("decimal(28,12)")), 6
        ).alias("_preco"),
    )

    id_schema = ", ".join(
        f"{c} {packed.schema[c].dataType.simpleString()}" for c in id_cols
    )
    out_schema = f"{id_schema}, {alias} double"
    if price_alias:
        out_schema += f", {price_alias} double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            prems = []
            for fl, preco in zip(pdf["_flows"], pdf["_preco"]):
                # null guard (review fix): a flow du beyond the DI
                # curve's last vertex interpolates to NULL di
                # (extrapolar=False — the oracle's 'du > du_max THEN
                # NULL' branch), and a payment date outside the
                # calendar has NULL du; the premium is NULL, not a
                # TypeError that kills the stage
                if preco is None or any(
                    r["cf"] is None or r["du"] is None or r["di"] is None
                    for r in fl
                ):
                    prems.append(None)
                    continue
                # ascending payment order (reference sums in date order)
                terms = [(r["cf"], r["du"] / 252.0, r["di"]) for r in fl]

                def diff(p, _terms=terms, _preco=float(preco)):
                    return (
                        sum(cf / (1.0 + di + p) ** t for cf, t, di in _terms)
                        - _preco
                    )

                prems.append(_encontrar_raiz(diff))
            out = {**{c: pdf[c] for c in id_cols}, alias: prems}
            if price_alias:
                out[price_alias] = [
                    float(p) if p is not None else None for p in pdf["_preco"]
                ]
            yield pd.DataFrame(out)

    return packed.mapInPandas(kernel, out_schema)


# ONE definition each (round-6 review fix — three copies invited
# silent divergence): the constants live in bonds.pricing, the portable
# round (NaN-passthrough) in scalar.
from pyield_spark.bonds.pricing import NTNB_CUPOM, NTNB_FINAL  # noqa: E402
from pyield_spark.scalar import _pround  # noqa: E402


def ntnb_taxas_zero(
    bonds: DataFrame,
    by: list[str] | str,
    settlement: str = "data_liquidacao",
    maturity: str = "data_vencimento",
    tir: str = "taxa",
    include_coupons: bool = False,
    alias: str = "taxa_zero",
) -> DataFrame:
    """Real zero rates from NTN-B indicative yields — the reference's
    sequential bootstrap, faithfully (pyield/tpf/titulos/ntnb.py:454-578).

    Semantics mirrored from ``ntnb.taxas_zero``:

    - payment grid: 3-month chain back from the last maturity, exclusive
      of settlement (``_criar_df_bootstrap`` → ``gerar_datas_pagamento``,
      _utils.py:141-165). NTN-B coupons are 6-month, so every bond's
      coupon dates are exactly the same-parity grid indices — the basis
      for the O(1)-state recursion below.
    - TIRs at grid dates: flat-forward interpolation over the input
      vertices (ntnb.py:397-402).
    - cotação per grid date at its interpolated TIR with the full STN
      rounding chain (ntnb.py:255-313: trunc8 rate, trunc14 year
      fraction, bround12 per flow, trunc6 sum).
    - sequential solve in ascending date order (ntnb.py:554-574):
      vertices at or before the first input maturity take the TIR;
      beyond it, ``z = (1.02956301/(cotação − PV_coupons))^(1/t) − 1``
      where PV_coupons discounts prior same-parity grid coupons at their
      solved zeros, unrounded (``calcular_pv``, _utils.py:200-260) and
      ``t = du/252`` (plain, NOT trunc14 — ntnb.py:417).

    Engine deviation (documented): interpolated TIRs and solved zeros
    are portably rounded to 10 decimals so the recursion consumes
    bit-identical doubles on any engine (JVM vs C libm pow differ in the
    last ulp); the perturbation is ~1e-10, invisible at the reference's
    6-decimal output precision.

    Spark design: everything up to the solve is columnar (one explode +
    calendar broadcast joins + one window shuffle for the interpolation
    + one groupBy for the cotação). The genuinely sequential recursion
    runs in ``applyInPandas`` keyed by the curve group: O(grid) time and
    O(1) state per group, parallel across groups — at 100 TB the axis is
    #curves (reference dates), not vertices per curve.

    ``settlement`` must be constant within each group (it defines the
    curve). Duplicate maturities within a group are deduped keep-max-TIR
    (same documented stand-in as curves/interpolate.py).
    """
    by_cols = [by] if isinstance(by, str) else list(by)

    liq = F.to_date(settlement)
    # clean (the deduped vertex panel) feeds three consumers — the grid
    # span, the TIR interpolation vertices, and the final maturity
    # semi-join. It is curve-sized (vertices, not facts), but its
    # lineage aggregates the INPUT panel — pin materializes
    # it once instead of re-running that aggregation per consumer
    # (same pattern as semantic_dedup's assignment reuse).
    # NaN rates drop BEFORE the keep-max dedupe (interpolate.py's own
    # cleaning order): Spark's max ranks NaN above every double, so one
    # NaN duplicate would otherwise evict a vertex with valid data from
    # the TIR curve (review fix). Nulls need no filter — max ignores
    # them.
    _tir_d = F.col(tir).cast("double")
    clean = pin(
        bonds.filter(F.to_date(maturity) > liq)
        .filter(_tir_d.isNull() | ~F.isnan(_tir_d))
        .groupBy(*by_cols, F.to_date(maturity).alias("_ven"))
        .agg(F.max(_tir_d).alias("_tir"), F.min(liq).alias("_liq")),
        eager=False,
    )
    grp = clean.groupBy(*by_cols).agg(
        F.min("_liq").alias("_liq"),
        F.max("_ven").alias("_max_ven"),
        F.min("_ven").alias("_first_ven"),
    )

    # 3-month payment grid (exclusive of settlement, inclusive of last
    # maturity) — the reference's gerar_datas_pagamento, columnar.
    grid = explode_payment_dates(grp, "_liq", "_max_ven", 3, "data_vencimento")
    grid = du_mod.contar(grid, "_liq", "data_vencimento", alias="dias_uteis")

    # input vertices (du, tir) for the flat-forward TIR interpolation
    vert = du_mod.contar(clean, "_liq", "_ven", alias="_du_v")
    from pyield_spark.curves.interpolate import interpolar
    from pyield_spark.functions.numbers import pround_expr

    # window route PINNED (not auto): the grid (targets) is grid-sized —
    # the same order as the vertex panel — so the broadcast interval
    # route buys nothing on the target side while paying to materialize
    # the fact-derived vertex lineage (measured 2.7s → 3.9s at sf0.1);
    # broadcast wins when targets outnumber vertices (premio_limpo flows)
    grid = interpolar(
        grid,
        vert,
        du_col="dias_uteis",
        curve_du="_du_v",
        curve_rate="_tir",
        by=by_cols,
        method="flat_forward",
        alias="_tir_raw",
        distribution="shuffle",
    ).withColumn("taxa_tir", pround_expr("_tir_raw", 10))

    # STN cotação at each grid date's interpolated TIR (columnar
    # explode-and-aggregate; trunc6-decimal output is engine-exact)
    from pyield_spark.bonds.pricing import ntnb_cotacao

    # dias_uteis/taxa_tir/_le_first ride along as extra group keys (they
    # are functions of (by, data_vencimento), so the group count is
    # unchanged) — joining precos back to grid would re-execute the
    # whole interpolation lineage a second time (measured 2× the
    # exchanges and ~1.9× the wall-clock at sf0.1)
    precos = ntnb_cotacao(
        grid.select(
            *by_cols,
            "_liq",
            "data_vencimento",
            "dias_uteis",
            "taxa_tir",
            (F.col("data_vencimento") <= F.col("_first_ven")).alias("_le_first"),
        ),
        id_cols=by_cols + ["data_vencimento", "dias_uteis", "taxa_tir", "_le_first"],
        settlement="_liq",
        maturity="data_vencimento",
        taxa="taxa_tir",
        alias="_cot",
    )
    full = precos.select(
        *by_cols, "data_vencimento", "dias_uteis", "taxa_tir", "_cot", "_le_first"
    )

    by_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in full.schema
        if f.name in by_cols
    )
    out_schema = (
        f"{by_schema}, data_vencimento date, dias_uteis long, "
        f"taxa_tir double, {alias} double"
    )

    def solve_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("dias_uteis").reset_index(drop=True)
        # pv[p] = Σ coupon/(1+z_j)^t_j over solved grid rows j ≡ p (mod 2):
        # exactly the prior coupon dates of the bond at the next index of
        # that parity (plain-float adds, ascending order — the oracle's
        # recursive CTE performs the identical sequence).
        pv = [0.0, 0.0]
        zeros: list[float] = []
        rows = zip(pdf["dias_uteis"], pdf["taxa_tir"], pdf["_cot"], pdf["_le_first"])
        for i, (du_i, tir_i, cot_i, le_first) in enumerate(rows, start=1):
            anos = float(du_i) / 252.0
            if le_first:
                z = float(tir_i)
            else:
                denom = float(cot_i) - pv[i % 2]
                # degenerate group guard (review fix): NaN cotação
                # (all-null TIR inputs) or a non-positive denominator
                # (garbage prices → complex root) degrade the vertex to
                # NaN — poisoning only its parity chain — instead of
                # crashing the whole applyInPandas stage
                if denom > 0:
                    z = _pround((NTNB_FINAL / denom) ** (1.0 / anos) - 1.0, 10)
                else:  # includes NaN (NaN > 0 is False)
                    z = float("nan")
            zeros.append(z)
            pv[i % 2] += NTNB_CUPOM / (1.0 + z) ** anos
        out = pdf[[*[c for c in pdf.columns if c in by_cols], "data_vencimento",
                   "dias_uteis", "taxa_tir"]].copy()
        out[alias] = zeros
        return out

    solved = full.groupBy(*by_cols).applyInPandas(solve_group, out_schema)

    if include_coupons:
        return solved
    # keep only the input maturities (reference: ntnb.py:576-577)
    keep = clean.select(*by_cols, F.col("_ven").alias("data_vencimento"))
    return solved.join(keep, on=by_cols + ["data_vencimento"], how="left_semi")


def lft_taxas(
    df: DataFrame,
    id_cols: list[str],
    du_col: str = "dias_uteis",
    vna: str = "vna",
    price: str = "pu",
    alias: str = "taxa_implicita",
) -> DataFrame:
    """Implied LFT rate from price — the reference's numeric inversion
    of the truncated pricing chain (pyield/tpf/titulos/lft.py:161-204):
    root of ``trunc6(vna·cotacao(taxa)) − pu`` via bracket sweep +
    bisection (encontrar_raiz), result trunc8.

    No closed form exists BECAUSE of the truncations (the chain is a
    step function; the solver converges onto the correct step), so this
    is a third K4-family kernel: business-day counts come in columnar
    (compute ``du_col`` with ``du.contar`` upstream — no calendar state
    in the workers), and the per-row solve is embarrassingly parallel
    ``mapInPandas``.
    """
    from pyield_spark.scalar import pu_from_vna, truncar

    cols = [*id_cols, du_col, vna, price]

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for row in pdf[cols].itertuples(index=False):
                *ids, du_v, vna_v, pu_v = row
                if pu_v is None or pu_v <= 0 or du_v is None:
                    out_rows.append((*ids, float("nan")))
                    continue
                au = truncar(float(du_v) / 252.0, 14)

                def diff(t: float) -> float:
                    cot = truncar(1.0 / (1.0 + truncar(t, 8)) ** au, 6)
                    return pu_from_vna(float(vna_v), cot) - float(pu_v)

                out_rows.append((*ids, truncar(_encontrar_raiz(diff), 8)))
            yield pd.DataFrame(out_rows, columns=[*id_cols, alias])

    id_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols
    )
    return df.select(*cols).mapInPandas(solve, f"{id_schema}, {alias} double")
