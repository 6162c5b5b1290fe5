"""S6 — B3 DerivativeQuotation intradia JSON connector.

The reference polls ``cotacao.b3.com.br/mds/api/v1/DerivativeQuotation/
{contrato}`` and normalizes the nested payload with ``pl.json_normalize``
plus a dotted-path column map (pyield/b3/derivativos_intradia.py:51-77,
103-118): each ``(json path, canonical name, type)`` triple selects one
nested field, the maturity string parses tolerantly to a date, casts are
``strict=False`` (invalid → null), and only the paths PRESENT in the
payload are emitted (offer/option columns are optional).

Spark-first restatement: ``spark.read.json`` infers the nested struct,
``explode(Scty)`` turns the quote array into rows, and each dotted path
becomes a struct traversal — all columnar, no Python parsing, one file
or a whole directory of snapshot files in a single distributed scan
(the intended 100 TB shape: a day of 10-second snapshots is just a
directory of these payloads). Path availability is read off the
INFERRED schema, mirroring the reference's ``colunas_disponiveis``.
Casts use ``try_cast`` so the connector is session-ANSI independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StructType

from pyield_spark.functions.frames import local_frame

# (json_normalize path, canonical name, spark type) — mirrors
# COLUNAS_INTRADIA (pyield/b3/derivativos_intradia.py:51-77) including
# the trailing optional block (offers, option fields, side type).
INTRADIA_COLUMNS: list[tuple[str, str, str]] = [
    ("symb", "codigo_negociacao", "string"),
    ("desc", "descricao", "string"),
    ("asset.code", "codigo_ativo", "string"),
    ("mkt.cd", "codigo_mercado", "string"),
    ("asset.AsstSummry.mtrtyCode", "data_vencimento", "date"),
    ("SctyQtn.prvsDayAdjstmntPric", "preco_ajuste_anterior", "double"),
    ("SctyQtn.bottomLmtPric", "preco_limite_minimo", "double"),
    ("SctyQtn.topLmtPric", "preco_limite_maximo", "double"),
    ("SctyQtn.opngPric", "preco_abertura", "double"),
    ("SctyQtn.minPric", "preco_minimo", "double"),
    ("SctyQtn.maxPric", "preco_maximo", "double"),
    ("SctyQtn.avrgPric", "preco_medio", "double"),
    ("SctyQtn.curPrc", "preco_ultimo", "double"),
    ("SctyQtn.exrcPric", "preco_exercicio", "double"),
    ("asset.AsstSummry.opnCtrcts", "contratos_abertos", "bigint"),
    ("asset.AsstSummry.grssAmt", "volume_financeiro", "double"),
    ("asset.AsstSummry.tradQty", "numero_negocios", "bigint"),
    ("asset.AsstSummry.traddCtrctsQty", "volume_negociado", "bigint"),
    ("buyOffer.price", "preco_oferta_compra", "double"),
    ("sellOffer.price", "preco_oferta_venda", "double"),
    ("asset.SdTpCd.desc", "tipo_lado", "string"),
]

# preco_* → taxa_* rename for rate-quoted contracts
# (pyield/futuro/intradia.py:12-23)
PRECO_PARA_TAXA = {
    "preco_ajuste_anterior": "taxa_ajuste_anterior",
    "preco_limite_minimo": "taxa_limite_minimo",
    "preco_limite_maximo": "taxa_limite_maximo",
    "preco_abertura": "taxa_abertura",
    "preco_minimo": "taxa_minima",
    "preco_maximo": "taxa_maxima",
    "preco_medio": "taxa_media",
    "preco_ultimo": "taxa_ultima",
    "preco_oferta_compra": "taxa_oferta_compra",
    "preco_oferta_venda": "taxa_oferta_venda",
}

# preferred output column order (pyield/futuro/intradia.py:27-61)
ORDEM_COLUNAS = (
    "data_referencia", "horario_referencia", "codigo_negociacao",
    "data_vencimento", "dias_uteis", "dias_corridos", "contratos_abertos",
    "numero_negocios", "volume_negociado", "volume_financeiro", "dv01",
    "preco_ajuste_anterior", "preco_limite_minimo", "preco_limite_maximo",
    "preco_abertura", "preco_minimo", "preco_maximo", "preco_medio",
    "preco_ultimo", "preco_oferta_compra", "preco_oferta_venda",
    "taxa_forward", "taxa_ajuste_anterior", "taxa_limite_minimo",
    "taxa_limite_maximo", "taxa_abertura", "taxa_minima", "taxa_maxima",
    "taxa_media", "taxa_oferta_compra", "taxa_oferta_venda", "taxa_ultima",
)


def _has_path(schema, dotted: str) -> bool:
    """Whether a dotted path exists in an inferred struct schema."""
    cur = schema
    for part in dotted.split("."):
        if not isinstance(cur, StructType) or part not in cur.fieldNames():
            return False
        cur = cur[part].dataType
    return True


# the head of the column map every downstream consumer needs — emitted
# as typed nulls when a drifted payload lacks the path (the optional
# tail — quotes, offers, option fields — stays presence-based, the
# reference's colunas_disponiveis behavior)
_REQUIRED = {
    "codigo_negociacao", "descricao", "codigo_ativo",
    "codigo_mercado", "data_vencimento",
    # the DI1/DAP enrichment dereferences taxa_ultima (the renamed
    # preco_ultimo) unconditionally — drifted payloads must yield null
    # quotes, not an unresolved-column error
    "preco_ultimo",
}


def read_derivativos_json(spark: SparkSession, path: str) -> DataFrame:
    """B3 DerivativeQuotation payload(s) → canonical intradia frame.

    ``path`` may be one snapshot file or a directory/glob of them —
    every ``Scty`` array is exploded into quote rows tagged with their
    ``snapshot_file`` (so a directory of polls keeps per-snapshot
    identity — the forward curve in ``processar_intradia`` partitions
    on it). Required columns are always present (typed nulls on schema
    drift); the optional tail is emitted only when the payload carries
    it; the maturity string parses tolerantly and every cast is a
    ``try_cast``.
    """
    raw = spark.read.option("multiLine", "true").json(path)
    if "Scty" not in raw.columns or not isinstance(
        raw.schema["Scty"].dataType, ArrayType
    ):
        # "Quotation not available" responses / empty payloads →
        # empty frame with the full canonical schema
        fields = ", ".join(f"{n} {t}" for _, n, t in INTRADIA_COLUMNS)
        return local_frame(spark, [], fields + ", snapshot_file string")

    # full file PATH, not basename: a date-partitioned poll layout
    # (days/*/snap.json) re-uses file names across directories, and a
    # basename tag would collide those snapshots into one forward-curve
    # group (nulling every forward via the dup-vertex cascade)
    scty = raw.select(
        F.explode("Scty").alias("s"),
        F.col("_metadata.file_path").alias("snapshot_file"),
    )
    elem = raw.schema["Scty"].dataType.elementType
    return scty.select(*canonical_quote_columns(elem), "snapshot_file")


def canonical_quote_columns(elem=None) -> list:
    """The canonical column map over an exploded ``s`` struct — ONE
    definition shared by the batch reader and the streaming twin
    (streaming/intradia.py), so a transform fix cannot drift between
    them and break replay-equals-batch.

    ``elem``: the payload's Scty element type, used to emit typed nulls
    for absent required paths; ``None`` means every path is present by
    construction (the streaming source declares the full schema)."""
    cols = []
    for path_, name, typ in INTRADIA_COLUMNS:
        if elem is None or _has_path(elem, path_):
            c = F.col("s." + path_)
            if typ == "date":
                # str.to_date("%Y-%m-%d", strict=False): invalid → null
                c = F.try_to_timestamp(c.cast("string"), F.lit("yyyy-MM-dd"))
            cols.append(c.try_cast(typ).alias(name))
        elif name in _REQUIRED:
            cols.append(F.lit(None).cast(typ).alias(name))
    return cols


def processar_intradia(
    df: DataFrame,
    contrato: str,
    data_negociacao,
) -> DataFrame:
    """The reference's §3 intradia enrichment flow
    (pyield/futuro/intradia.py:143-172) on the snapshot shape:

    - keep the FUT market slice;
    - rate contracts: preco_* → taxa_* rename, percent → decimal;
    - drop null maturities; day counts (dias_corridos calendar,
      dias_uteis business) from the trade date; keep unexpired rows;
    - DI1/DAP: last price from the rate
      (100_000 / (1 + taxa)^(du/252), round 2) and the forward curve;
    - DI1: DV01.

    ``data_negociacao`` is explicit (the reference uses
    ``du.ultimo_dia_util()`` — wall-clock state has no place in a
    distributed plan; callers pass the trade date).

    When the input carries a ``snapshot_file`` column (a directory of
    poll snapshots read by ``read_derivativos_json``), the forward
    curve partitions on it — each snapshot is its own curve, so a
    multi-snapshot scan cannot collide duplicate maturities across
    polls (which would null every forward via the dup-vertex cascade).
    """
    from pyield_spark import du as du_mod
    from pyield_spark.analytics.futuro import RATE_CONTRACTS
    from pyield_spark.bonds.pricing import dv01_expr
    from pyield_spark.curves.forwards import forwards_expr

    contrato = contrato.upper()
    has_snapshot = "snapshot_file" in df.columns
    out = df.filter(F.col("codigo_mercado") == "FUT")
    is_rate = contrato in RATE_CONTRACTS
    if is_rate:
        out = out.withColumnsRenamed(
            {k: v for k, v in PRECO_PARA_TAXA.items() if k in out.columns}
        )
    out = out.filter(F.col("data_vencimento").isNotNull())
    out = out.withColumn("data_referencia", F.lit(data_negociacao).cast("date"))
    out = out.withColumn(
        "dias_corridos",
        F.datediff("data_vencimento", "data_referencia").cast("bigint"),
    )
    out = du_mod.contar(out, "data_referencia", "data_vencimento", alias="dias_uteis")
    out = out.filter(F.col("dias_corridos") > 0)
    if is_rate:
        # pct_para_decimal over every taxa_* column: truediv(100)
        # .round(10) in the reference (br_numbers.py:10-16) — Polars
        # scaled half-to-even, the same mode every other facade path
        # uses (review: no per-path rounding-mode split)
        from pyield_spark.functions.numbers import round_pl_expr

        out = out.withColumns(
            {
                c: round_pl_expr(F.col(c) / 100.0, 10)
                for c in out.columns
                if c.startswith("taxa_")
            }
        )
    if contrato in {"DI1", "DAP"}:
        anos_uteis = F.col("dias_uteis") / 252.0
        fwd_group = (
            F.struct("snapshot_file", "data_referencia")
            if has_snapshot
            else F.col("data_referencia")
        )
        out = out.withColumn(
            "preco_ultimo",
            F.round(
                F.lit(100_000.0) / F.pow(F.lit(1.0) + F.col("taxa_ultima"), anos_uteis),
                2,
            ),
        ).withColumn(
            "taxa_forward",
            forwards_expr("dias_uteis", "taxa_ultima", fwd_group),
        )
    if contrato == "DI1":
        out = out.withColumn(
            "dv01", dv01_expr("dias_uteis", "taxa_ultima", "preco_ultimo")
        )
    keep = [c for c in ORDEM_COLUNAS if c in out.columns]
    if has_snapshot:
        keep = ["snapshot_file", *keep]
    return out.select(*keep)
