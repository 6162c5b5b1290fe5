"""Treasury benchmark (on-the-run) selection.

Reference pipeline (pyield/tpf/benchmark.py:49-123): the Tesouro
Nacional auctions API returns ``{"registros": [{BENCHMARK, VENCIMENTO,
TÍTULO, INÍCIO, TERMINO}, ...]}``; processing selects/renames the five
columns (strings stripped, dates parsed ``strict=False``), drops rows
with any null, and then either

- ``incluir_historico=False`` (default): keeps only benchmarks whose
  vigency window contains "today" — ``hoje.is_between(data_inicio,
  data_fim)`` (benchmark.py:118) — sorted (titulo, data_vencimento); or
- ``incluir_historico=True``: keeps everything, sorted
  (data_inicio, titulo, data_vencimento);

plus an optional exact ``titulo`` filter (upper-cased).

Spark restatement: the vigency filter is a pure BETWEEN predicate
(pushed to the scan), the reference date is an explicit argument
(wall-clock state has no place in a distributed plan), and the sort is
presentation-only.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyield_spark.functions.frames import local_frame
from pyield_spark.functions.sql import ident

# API field → canonical column (pyield/tpf/benchmark.py:57-63)
_FIELD_MAP = [
    ("TÍTULO", "titulo"),
    ("VENCIMENTO", "data_vencimento"),
    ("BENCHMARK", "benchmark"),
    ("INÍCIO", "data_inicio"),
    ("TERMINO", "data_fim"),
]


def read_benchmarks_json(spark: SparkSession, path: str) -> DataFrame:
    """API payload file(s) → raw per-record frame (one row per
    ``registros`` element, original field names)."""
    raw = spark.read.option("multiLine", "true").json(path)
    if "registros" not in raw.columns:
        return local_frame(
            spark, [], ", ".join(f"{ident(orig)} string" for orig, _ in _FIELD_MAP)
        )
    return raw.select(F.explode("registros").alias("r")).select("r.*")


def parse_benchmarks(raw: DataFrame) -> DataFrame:
    """Typed benchmark table: strip + tolerant date parse + drop-nulls
    (pyield/tpf/benchmark.py:56-72)."""
    df = raw.select(
        F.trim(F.col("TÍTULO")).alias("titulo"),
        F.try_to_timestamp(F.col("VENCIMENTO")).cast("date").alias("data_vencimento"),
        F.trim(F.col("BENCHMARK")).alias("benchmark"),
        F.try_to_timestamp(F.col("INÍCIO")).cast("date").alias("data_inicio"),
        F.try_to_timestamp(F.col("TERMINO")).cast("date").alias("data_fim"),
    )
    cond = None
    for c in df.columns:
        n = F.col(c).isNotNull()
        cond = n if cond is None else cond & n
    return df.filter(cond)


def benchmarks_vigentes(
    df: DataFrame,
    hoje: dt.date,
    titulo: str | None = None,
    incluir_historico: bool = False,
) -> DataFrame:
    """Current-benchmark selection (pyield/tpf/benchmark.py:108-123).

    ``df`` carries (titulo, data_vencimento, benchmark, data_inicio,
    data_fim). Without history, keeps rows whose vigency window contains
    ``hoje`` and sorts (titulo, data_vencimento); with history keeps all
    rows sorted (data_inicio, titulo, data_vencimento). ``titulo``
    filters exactly (upper-cased) when given.
    """
    if incluir_historico:
        order = ["data_inicio", "titulo", "data_vencimento"]
    else:
        order = ["titulo", "data_vencimento"]
        # NB: Column.between treats bare strings as literal VALUES —
        # the bounds must be explicit columns
        df = df.filter(
            F.lit(hoje).cast("date").between(F.col("data_inicio"), F.col("data_fim"))
        )
    if titulo:
        df = df.filter(F.col("titulo") == titulo.upper())
    return df.orderBy(*order)
