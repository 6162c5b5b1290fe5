"""Numeric semantics of the reference, as Column expressions.

- ``truncar_expr``: truncate toward zero at n decimals — the STN pricing
  rule (reference: pyield/_internal/numbers.py:15-45; used as trunc14 on
  year fractions, trunc6 on prices, trunc8 on rates —
  pyield/tpf/titulos/ltn.py:150-155,197).
- ``bround_expr``: half-to-even rounding — Polars ``round`` semantics
  (Spark's ``round`` is half-up; ``bround`` is the parity-correct one,
  SURVEY §4.3).
- BR-number parsing: '1.234,56' → 1234.56; percent → decimal rounded
  10dp (reference: pyield/_internal/br_numbers.py:10-53).

All pure built-ins — whole-stage-codegen friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def rint0_expr(col: Column) -> Column:
    """Bit-exact fast twin of ``F.bround(col, 0)`` on doubles.

    Spark's ``bround`` on a DOUBLE routes every value through
    ``BigDecimal.valueOf`` — a ``Double.toString`` parse + BigDecimal
    allocation per row (~1µs), which dominated the scaled-round hot
    paths (10 ``round_pl_expr`` columns cost ~2.5s of q_futuro_panel's
    5.6s at sf0.1). ``rint`` (IEEE round-half-to-even) is one codegen'd
    machine instruction and provably agrees at scale 0:

    - non-tie: the shortest decimal repr r of a double y parses back to
      y (y is the nearest double to r), so no representable ``m.5``
      boundary can lie strictly between r and y — if it did, that
      boundary (itself a double for |y| < 2^52) would be nearer to r
      than y is; for |y| >= 2^52 every double is already an integer;
    - tie: r == "m.5" iff y is exactly m.5 (the repr of an exactly
      representable decimal IS that decimal), and both sides then round
      half-to-even;
    - NaN/±Inf pass through both; ``+ 0.0`` normalizes rint's ``-0.0``
      (for y in (-0.5, -0.0]) to the ``+0.0`` BigDecimal produces.

    Pinned bitwise over 700k adversarial doubles (grid points, exact
    ties, shortest-repr near-halves, |y| straddling 2^52) in
    tests/test_numeric_properties.py.
    """
    return F.call_function("rint", col) + F.lit(0.0)


def truncar_expr(col: Column | str, decimals: int) -> Column:
    """Truncate toward zero at ``decimals`` places — DECIMAL-REPR-AWARE.

    The reference's ``truncar`` (pyield/_internal/numbers.py:15-45 via
    Polars) truncates the double's DECIMAL value: ``trunc8(0.141446)``
    stays ``0.141446`` even though ``0.141446 × 1e8`` floats to
    ``14144599.999999998`` (found by golden-replaying the reference's
    captured auction data — a naive float-floor loses one 1e-8 ulp on
    such grid points and shifts the whole downstream pricing chain).

    Implementation without string round-trips: if ``x`` IS the double
    closest to a grid decimal ``k·10^-d`` (checked by ``k/10^d == |x|``
    with ``k = rint(|x|·10^d)``), the truncation keeps ``k``; otherwise
    plain ``floor``. One extra multiply+compare per call. NaN/null pass
    through via signum (no explicit guard: a when(isnan) wrapper would
    re-reference the child and grow nested trunc chains 4× per level —
    measured as the dominant planning+eval cost in the composite
    pricing queries).

    A ``str`` is a SQL fragment and builds the same tree in one parse
    (the CASE branches coerce bigint→double exactly as when/otherwise
    does).
    """
    if decimals < 0:
        raise ValueError("decimals must be non-negative")
    if isinstance(col, str):
        s = f"{float(10 ** decimals)!r}D"
        y = f"(abs({col}) * {s})"
        k = f"(rint({y}) + 0.0D)"
        return F.expr(
            f"signum({col}) * (CASE WHEN {k} / {s} = abs({col})"
            f" THEN {k} ELSE CAST(floor({y}) AS DOUBLE) END) / {s}"
        )
    s = F.lit(float(10**decimals))
    a = F.abs(col)
    y = a * s
    k = rint0_expr(y)  # exact-integer compare below disambiguates
    t = F.when(k / s == a, k).otherwise(F.floor(y))
    return F.signum(col) * t / s


def pround_expr(col: Column | str, decimals: int) -> Column:
    """Portable round-half-away-from-zero in pure double arithmetic:
    sign(x)·floor(|x|·10^d + 0.5)/10^d.

    Spark's ``round``/``bround`` convert through the double's shortest
    string repr (BigDecimal.valueOf) while other engines scale in
    binary; the two disagree when the repr shows an exact halfway digit
    the binary value sits just under (observed flipping a DV01 at
    sf0.1). This formula is the same IEEE ops on both sides —
    bit-identical by construction. NaN/null pass through. A ``str`` is
    a SQL fragment and builds the same tree in one parse.
    """
    if decimals < 0:
        raise ValueError("decimals must be non-negative")
    if isinstance(col, str):
        s = f"{float(10 ** decimals)!r}D"
        return F.expr(f"signum({col}) * floor(abs({col}) * {s} + 0.5D) / {s}")
    s = F.lit(float(10**decimals))
    return F.signum(col) * F.floor(F.abs(col) * s + F.lit(0.5)) / s


def trunc_decimal_sum_expr(sum_col: Column, decimals: int = 6) -> Column:
    """Truncate a DECIMAL aggregate toward zero at ``decimals`` WITHOUT
    leaving the decimal domain first.

    Casting the sum to double before flooring is non-portable: decimal→
    double conversion differs across engines in the last ulp exactly
    when the sum lies on (or next to) the truncation grid — which
    decimal-accumulated STN PVs frequently do. Positive totals assumed.

    PRECONDITION: the incoming sum's scale must be ≤ 12. Spark rounds
    (half-up) when DOWN-scaling a decimal, so a scale-13+ sum just
    below the grid could be rounded ONTO it before the floor — the
    opposite of truncation. Every call site accumulates in
    decimal(·,12) or narrower; keep it that way.
    """
    s = 10**decimals
    narrowed = sum_col.cast("decimal(24,12)")
    return (F.floor(narrowed * F.lit(s)) / F.lit(float(s))).cast("double")


def bround_expr(col: Column | str, decimals: int) -> Column:
    """Half-to-even rounding of the EXACT decimal value (Spark bround /
    DuckDB round_even pairing — use in oracle-matched queries)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.bround(c, decimals)


def round_pl_expr(col: Column | str, decimals: int) -> Column:
    """Bit-exact Polars ``Expr.round`` parity (mode='half_to_even', the
    pinned >=1.39 default) for reference-golden pipelines.

    Polars rounds the SCALED double — round_ties_even(x·10^d)/10^d — so
    the f64 multiply error decides grid-adjacent cases, whereas Spark's
    ``bround`` rounds the exact decimal value of the double. They differ
    whenever x·10^d crosses the midpoint: the NegE202501 golden has
    1233000·655.769445 = 808563725.6850001 (above the .685 grid), but
    ·100 in f64 lands at 80856372568.49998… → Polars (and the golden)
    say …725.68 while plain bround says …725.69. ``rint0_expr``
    rounds y's exact value half-to-even (bit-identical to
    ``F.bround(y, 0)``, see its docstring — but codegen arithmetic,
    not a per-row BigDecimal), which equals Rust's round_ties_even,
    and the final divide is the same f64 op Polars performs. A ``str``
    is a SQL fragment and builds the same tree in one parse.
    """
    if decimals < 0:
        raise ValueError("decimals must be non-negative")
    if isinstance(col, str):
        s = f"{float(10 ** decimals)!r}D"
        return F.expr(f"(rint(({col}) * {s}) + 0.0D) / {s}")
    s = F.lit(float(10**decimals))
    return rint0_expr(col * s) / s


def br_num_expr(col: Column | str) -> Column:
    """Parse '1.234,56'-style Brazilian numbers to double (invalid → null).

    ``try_cast`` (not ``cast``) makes the null-on-malformed contract
    hold regardless of ``spark.sql.ansi.enabled`` — Spark 4 defaults
    ANSI ON, where a plain string→double cast of e.g. a header cell
    ('código título') throws CAST_INVALID_INPUT instead of yielding
    null (reference contract: strict=False casts,
    pyield/b3/boletim.py:306).
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.regexp_replace(F.trim(c), r"\.", ""), ",", ".")
    return cleaned.try_cast("double")


def br_int_expr(col: Column | str) -> Column:
    """Parse '1.234'-style Brazilian integers to long (invalid → null);
    ANSI-independent via ``try_cast`` (see :func:`br_num_expr`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(c), r"\.", "").try_cast("long")


def pct_para_decimal_expr(col: Column | str, decimals: int = 10) -> Column:
    """Percent → decimal, rounded (reference rounds 10dp at ingestion:
    pyield/_internal/br_numbers.py:10-16); ANSI-independent.

    ``round_pl_expr`` (scaled-double half-to-even — bit-exact Polars
    parity), NOT ``bround``: the two modes diverge on grid-adjacent
    values (see round_pl_expr), and the real connector paths
    (analytics/leiloes_bc.py::_taxa_br, sources/intradia_json.py) made
    the switch in round 5 — this exported helper was the last bround
    holdout (round-6 review fix). SQL twin: the ``_PCTPL`` pattern,
    ``round_even((x/100)*1e10, 0)/1e10``."""
    c = F.col(col) if isinstance(col, str) else col
    return round_pl_expr(c.try_cast("double") / 100.0, decimals)


def inteiro_br_expr(col: Column | str) -> Column:
    """BR number string → Int64 through the float parse
    (pyield/_internal/br_numbers.py:42-48: float_br(...).round(0)
    .cast(Int64)) — '1.234,00' is 1234, not 123400 (which a plain
    thousands-separator strip would produce)."""
    return rint0_expr(br_num_expr(col)).try_cast("long")


def inteiro_m_expr(col: Column | str) -> Column:
    """BR number expressed in thousands → integer units
    (pyield/_internal/br_numbers.py:51-53): parse '115.870,772' then
    ×1000 and Polars ``.round(0)`` — half-to-even on the scaled double
    (rint), the same mode as ``inteiro_br_expr``; ``F.round`` (half-up)
    flipped exact .5 ties one unit high (review fix)."""
    return rint0_expr(br_num_expr(col) * 1000).try_cast("long")
