"""Unit pin of the parse layer's null-on-malformed contract under a
forced-ANSI session (Spark 4 default) — the exact failure mode of the
round-5 driver red row: header cells like 'código título' reaching
``br_num_expr`` before the record-type filter ran.

The registry-wide materialization lap lives in
tests/test_vanilla_session.py; this file pins the individual
expressions with adversarial cells, so a future edit that swaps a
``try_cast`` back to ``cast`` fails HERE with a named input instead of
somewhere inside a connector plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyield_spark.functions.dates import converter_datas_expr
from pyield_spark.functions.numbers import (
    br_int_expr,
    br_num_expr,
    inteiro_br_expr,
    inteiro_m_expr,
    pct_para_decimal_expr,
)

# the r5 crash cell first; then the classic malformed shapes a real
# B3/ANBIMA/Tesouro capture can leak into a data column
MALFORMED = [
    "código título",
    "",
    "-",
    "--",
    "1.2.3,4,5",
    "abc",
    "12/13/2026",  # month 13 (for the date exprs)
    "N/D",
]

WELLFORMED_NUM = [("1.234,56", 1234.56), ("0,5", 0.5), ("-2,25", -2.25)]


@pytest.fixture(scope="module")
def ansi(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    return s


def _eval(session, expr_fn, cells):
    df = session.createDataFrame([(c,) for c in cells], "raw string")
    return [r["v"] for r in df.select(expr_fn(F.col("raw")).alias("v")).collect()]


@pytest.mark.parametrize(
    "expr_fn",
    [br_num_expr, br_int_expr, inteiro_br_expr, inteiro_m_expr,
     pct_para_decimal_expr, converter_datas_expr],
    ids=["br_num", "br_int", "inteiro_br", "inteiro_m", "pct", "datas"],
)
def test_malformed_yields_null_under_ansi(ansi, expr_fn):
    out = _eval(ansi, expr_fn, MALFORMED)
    assert out == [None] * len(MALFORMED), f"{expr_fn.__name__}: {out}"


def test_construction_time_aggregates_survive_ansi(ansi, monkeypatch):
    """The registry-wide vanilla lap re-forces ANSI only AFTER query
    construction, so work that executes EAGERLY inside the builders —
    the connected-components convergence checksum collect and the
    k-means seed/centroid collects — runs under the lenient conf
    ``tables()`` just set. Drive both operators directly on an ANSI-on
    session so the decimal(38,0) checksum and the kernel's mean
    aggregation are themselves proven ANSI-safe (a revert of either
    round-6 fix fails HERE even though the vanilla lap stays green).
    Connected components is forced onto the distributed loop, the
    route that computes the checksum."""
    from pyield_spark.operators import graph
    from pyield_spark.operators.semantic import kmeans_assign

    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", 0)

    assert ansi.conf.get("spark.sql.ansi.enabled") == "true"
    # string ids: xxhash64 values span the full long range, so a few
    # rows already overflow a LongType sum with high probability
    edges = ansi.createDataFrame(
        [(f"doc_{i}", f"doc_{i + 1}") for i in range(40)]
        + [("zzz_1", "zzz_2")],
        "id_a string, id_b string",
    )
    comp = graph.connected_components(edges).collect()
    assert len(comp) == 43
    assert ansi.conf.get("spark.sql.ansi.enabled") == "true"

    emb = ansi.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_assign(emb, "vec_id", "embedding", k=4, iters=3).collect()
    assert len(out) == 30
    assert ansi.conf.get("spark.sql.ansi.enabled") == "true"


def test_wellformed_still_parses_under_ansi(ansi):
    cells = [c for c, _ in WELLFORMED_NUM]
    out = _eval(ansi, br_num_expr, cells)
    assert out == [v for _, v in WELLFORMED_NUM]
    assert _eval(ansi, converter_datas_expr, ["06/02/2026"]) == [
        __import__("datetime").date(2026, 2, 6)
    ]
