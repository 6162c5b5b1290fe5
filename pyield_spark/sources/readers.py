"""Source connectors (§2.1) — the reference's 15 messy external feeds
re-expressed as Spark readers.

In this environment the driver's parquet tables stand in for the remote
endpoints (S1), but the parsing semantics the reference implements are
real and reusable:

- S2  headerless CSV with '#' comments and %d/%m/%Y dates
- S3  ANBIMA '@'-separated latin1 CSV, 2 header lines skipped, '--'→null,
      all-string parse then tolerant cast (pyield/anbima/taxas.py:98-166)
- S4/S14 zip-wrapped members via binaryFile + an Arrow-batched unzip
- S7  CSV with ''/'null' null markers (pyield/bc/_olinda.py:21-33)
- S8  JSON {data, valor} series with dd/MM/yyyy dates (pyield/bc/sgs.py)
- S12 fixed-width single-value text (int / 10^4, pyield/b3/di_over.py)
- S13 plain-text table slicing by marker lines (pyield/bc/lft.py:44-79)

All readers parse all-string first and cast tolerantly (ANSI off →
invalid → null), mirroring the reference's ``infer_schema=False`` +
``strict=False`` habit (§1.3). The bronze→silver naming the reference
uses for its monthly zips (pyield/tpf/secundario/_mensal.py:192-236) is
kept: ``*_bronze`` returns raw strings, ``*_silver`` the typed frame.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from pyield_spark.functions.dates import converter_datas_expr
from pyield_spark.functions.numbers import br_num_expr, round_pl_expr
from pyield_spark.functions.sql import ident


def read_holidays_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: headerless date-per-line CSV with '#' comments, dd/MM/yyyy."""
    raw = spark.read.csv(path, comment="#", schema="data_str STRING")
    return raw.select(
        F.try_to_date(F.trim("data_str"), "dd/MM/yyyy").alias("data")
    )


def read_anbima_csv_bronze(
    spark: SparkSession,
    path: str,
    skip_lines: int = 2,
    header_anchor: str | None = "Titulo",
) -> DataFrame:
    """S3 bronze: '@'-separated latin1 with meta lines before the header.

    Spark's CSV reader has no skip-rows option, so the file is read
    headerless/all-string, rows are numbered per file, the header row is
    fetched (one tiny driver action) and the meta+header rows dropped —
    the same all-string-then-cast discipline as the reference.

    The header row is located by ``header_anchor`` (the first row whose
    first field equals it — 'Titulo' anchors every ANBIMA taxas layout)
    rather than a raw line count alone: Spark's CSV reader silently
    drops blank/CR-only meta lines, so the reference's ``skip_lines=2``
    (which counts them) would land on the wrong row for files like the
    real 2026 download whose second line is a bare CR. ``skip_lines``
    remains the fallback when no anchor matches.
    """
    from pyspark.sql import Window

    # a wide all-string schema: schema inference would lock onto the
    # single-field meta line and drop every other column
    max_cols = 24
    wide = ", ".join(f"_c{i} STRING" for i in range(max_cols))
    raw = (
        spark.read.option("sep", "@")
        .option("encoding", "iso-8859-1")
        .option("nullValue", "--")
        .option("header", False)
        .option("mode", "PERMISSIVE")
        .schema(wide)
        .csv(path)
    )
    raw = raw.withColumn("_f", F.input_file_name()).withColumn(
        "_i", F.monotonically_increasing_id()
    )
    w = Window.partitionBy("_f").orderBy("_i")
    numbered = raw.withColumn("_rn", F.row_number().over(w))
    # Column NAMES come from one header row (ANBIMA taxas headers are
    # identical across files of a layout; the first anchored row wins).
    # The data CUTOFF, however, must be per file: layouts differ in how
    # many meta lines precede the header (pre/post-2026 downloads), so a
    # single global cutoff would leak deeper files' meta+header rows
    # into the data. Each file's own header _rn is computed and joined
    # back on _f (broadcast — one row per file); files where no anchor
    # matches fall back to the reference's skip_lines count.
    header_row = None
    if header_anchor is not None:
        anchored = numbered.filter(F.trim(F.col("_c0")) == header_anchor)
        header_row = anchored.orderBy("_f", "_rn").first()
    if header_row is None:
        # orderBy("_f"): deterministic column names when a directory
        # mixes files whose headers differ (review fix — .first() alone
        # returns whichever partition surfaces first)
        header_row = (
            numbered.filter(F.col("_rn") == skip_lines + 1)
            .orderBy("_f")
            .first()
        )
        # anchorless: the cutoff is one constant for every file — a
        # plain filter, no per-file aggregate/join needed (review fix)
        data = numbered.filter(F.col("_rn") > skip_lines + 1)
    else:
        # per-file cutoff (one row per file, broadcast back); files
        # where no anchor matched fall back to the skip_lines constant
        per_file = anchored.groupBy("_f").agg(F.min("_rn").alias("_hdr_rn"))
        data = numbered.join(F.broadcast(per_file), "_f", "left").filter(
            F.col("_rn") > F.coalesce(F.col("_hdr_rn"), F.lit(skip_lines + 1))
        )
    return data.select(
        *[
            F.col(f"_c{i}").alias(str(header_row[f"_c{i}"]))
            for i in range(max_cols)
            if header_row[f"_c{i}"] is not None
        ]
    )


def anbima_silver(bronze: DataFrame) -> DataFrame:
    """S3 silver: canonical names + tolerant typed casts (BR numbers,
    multi-format dates) following pyield/anbima/taxas.py:148-166."""
    cols = {c.lower().strip().replace(" ", "_"): c for c in bronze.columns}

    def has(name):
        return name in cols

    out = bronze
    rename = {
        "titulo": "titulo",
        "data_referencia": "data_referencia",
        "codigo_selic": "codigo_selic",
        "data_base/emissao": "data_base",
        "data_de_vencimento": "data_vencimento",
        "data_vencimento": "data_vencimento",
        "tx._compra": "taxa_compra",
        "tx._venda": "taxa_venda",
        "tx._indicativas": "taxa_indicativa",
        "pu": "pu",
        # full reference surface (pyield/anbima/taxas.py:149-166)
        "desvio_padrao": "desvio_padrao",
        "interv._ind._inf._(d0)": "taxa_intervalo_inf_d0",
        "interv._ind._sup._(d0)": "taxa_intervalo_sup_d0",
        "interv._ind._inf._(d+1)": "taxa_intervalo_inf_d1",
        "interv._ind._sup._(d+1)": "taxa_intervalo_sup_d1",
        "criterio": "criterio",
    }
    # two header spellings may map to one canonical name — first wins
    seen: set[str] = set()
    selected = []
    for src, dst in rename.items():
        if has(src) and dst not in seen:
            seen.add(dst)
            selected.append(F.col(ident(cols[src])).alias(dst))
    out = out.select(*selected) if selected else out
    casts = {}
    for c, t in [
        ("data_referencia", "date"),
        ("data_base", "date"),
        ("data_vencimento", "date"),
    ]:
        if c in out.columns:
            casts[c] = converter_datas_expr(c)
    taxa_cols = (
        "taxa_compra", "taxa_venda", "taxa_indicativa",
        "taxa_intervalo_inf_d0", "taxa_intervalo_sup_d0",
        "taxa_intervalo_inf_d1", "taxa_intervalo_sup_d1",
    )
    for c in (*taxa_cols, "pu", "desvio_padrao"):
        if c in out.columns:
            casts[c] = (
                round_pl_expr(br_num_expr(c) / 100.0, 10)
                if c in taxa_cols
                else br_num_expr(c)
            )
    if "codigo_selic" in out.columns:
        casts["codigo_selic"] = F.col("codigo_selic").try_cast("long")
    return out.withColumns(casts)


def read_zip_members(
    spark: SparkSession, path: str, member_suffix: str = ".csv", encoding: str = "latin1"
) -> DataFrame:
    """S4/S14: zip archives via binaryFile + Arrow-batched unzip —
    returns (source_file, member_name, line_idx, line) rows, parallel
    per archive. ``line_idx`` is the 0-based position within the member
    (Spark rows are unordered — downstream header/data splits need the
    explicit index).

    At scale: archives distribute across executors; no driver-side I/O.
    """
    bin_df = spark.read.format("binaryFile").load(path)

    def unzip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"source_file": [], "member_name": [], "line_idx": [], "line": []}
            for fname, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for member in zf.namelist():
                        if not member.lower().endswith(member_suffix):
                            continue
                        text = zf.read(member).decode(encoding, errors="replace")
                        for idx, line in enumerate(text.splitlines()):
                            out["source_file"].append(fname)
                            out["member_name"].append(member)
                            out["line_idx"].append(idx)
                            out["line"].append(line)
            if next(iter(out.values()), None):
                # all-empty batch: pandas would type the list column
                # float64 and Arrow can't cast that to array<string>;
                # yielding nothing is valid for mapInPandas
                yield pd.DataFrame(out)

    return bin_df.select("path", "content").mapInPandas(
        unzip, "source_file string, member_name string, line_idx long, line string"
    )


def read_semicolon_lines_silver(lines: DataFrame, min_cols: int = 2) -> DataFrame:
    """S14 silver step: ';'-separated lines → validated column arrays."""
    out = lines.withColumn("fields", F.split("line", ";"))
    return out.filter(F.size("fields") >= min_cols)


def read_sgs_json(spark: SparkSession, path: str) -> DataFrame:
    """S8: JSON list of {data, valor} with dd/MM/yyyy dates → typed."""
    raw = spark.read.json(path)
    return raw.select(
        F.try_to_date("data", "dd/MM/yyyy").alias("data"),
        F.col("valor").try_cast("double").alias("valor"),
    )


def read_fixed_width_rate(spark: SparkSession, path: str) -> DataFrame:
    """S12: single fixed-width integer value → value / 10^4 rounded 4dp
    (pyield/b3/di_over.py:31-47)."""
    raw = spark.read.text(path)
    return raw.select(
        F.round(F.trim("value").try_cast("long") / 10000.0, 4).alias("taxa")
    ).filter(F.col("taxa").isNotNull())


def slice_text_table(
    spark: SparkSession,
    path: str,
    start_marker: str,
    n_cols: int = 2,
    end_marker: str | None = "99999999*",
) -> DataFrame:
    """S13: plain-text report → rows after a marker line, whitespace-split
    (pyield/bc/lft.py:44-79 shape). Line order is made explicit with a
    TRULY per-file line index: a global monotonically_increasing_id
    with one global min marker would mix files on a multi-file path
    (file 2's pre-marker meta lines all sort after file 1's marker and
    leak as data; review finding) — each file resolves its OWN marker,
    like read_anbima_csv_bronze's per-file header cutoff.

    ``end_marker`` (round-6 review fix): the reference slices
    ``texto[find('EMISSAO'):find('99999999*')]`` — the real BCB report
    continues PAST the terminator, and without the cut every
    post-terminator line with ≥ n_cols fields leaked in as data. A
    file without the end marker keeps every post-start line (find()
    = -1 would slice to the last char; the tail-keep is the faithful
    lenient reading). A file missing the START marker contributes no
    rows — the reference's texto[-1:fim] degenerate slice; on a
    multi-file path this silently shrinks the panel, so validate file
    counts upstream when that matters. Output carries
    (source_file, _idx, fields)."""
    from pyspark.sql import Window

    raw = (
        spark.read.text(path)
        .withColumn("source_file", F.input_file_name())
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    raw = raw.withColumn(
        "_idx", F.row_number().over(Window.partitionBy("source_file").orderBy("_mid"))
    )
    marker_agg = [
        F.min(
            F.when(F.col("value").contains(start_marker), F.col("_idx"))
        ).alias("m")
    ]
    if end_marker is not None:
        marker_agg.append(
            F.min(
                F.when(F.col("value").contains(end_marker), F.col("_idx"))
            ).alias("e")
        )
    marker_idx = raw.groupBy("source_file").agg(*marker_agg)
    out = raw.join(F.broadcast(marker_idx), "source_file").filter(
        F.col("m").isNotNull() & (F.col("_idx") > F.col("m"))
    )
    if end_marker is not None:
        out = out.filter(F.col("e").isNull() | (F.col("_idx") < F.col("e")))
    out = out.withColumn("fields", F.split(F.trim("value"), r"\s+")).filter(
        F.size("fields") >= n_cols
    )
    return out.select("source_file", "_idx", "fields")


def read_odata_csv(spark: SparkSession, path: str) -> DataFrame:
    """S7: BCB OData CSV scan — NO type inference, the literal strings
    'null' and '' both normalize to SQL null (reference:
    pyield/bc/_olinda.py:29-33 ``read_csv(infer_schema=False,
    null_values=["null", ""])``).

    All columns come back as strings; typing is the silver layer's job
    (the reference's modules cast after this bronze read too).
    """
    raw = spark.read.csv(path, header=True, inferSchema=False)
    cleaned = [
        F.when(F.col(c).isin("null", ""), F.lit(None)).otherwise(F.col(c)).alias(c)
        for c in raw.columns
    ]
    return raw.select(*cleaned)


def read_ibge_json(spark: SparkSession, path: str) -> DataFrame:
    """S9: IBGE aggregate-API JSON → (periodo, valor) frame (reference:
    pyield/ipca/historico.py:37-54).

    The payload nests a dynamic-key dict at
    ``[0].resultados[0].series[0].serie`` ({ "YYYYMM": "value", ... }).
    Schema inference would explode that into one struct field per
    period, so the dict is extracted as a JSON string and parsed as a
    map — then exploded to rows. Fully distributed: one file per row in
    the text scan, no driver-side JSON parsing.
    """
    raw = spark.read.text(path, wholetext=True)
    serie = F.get_json_object(
        "value", "$[0].resultados[0].series[0].serie"
    ).alias("_serie")
    out = (
        raw.select(serie)
        .select(
            F.explode(F.from_json("_serie", "map<string,string>")).alias(
                "periodo", "valor"
            )
        )
        .select(
            F.col("periodo").try_cast("long").alias("periodo"),
            F.col("valor").try_cast("double").alias("valor"),
        )
    )
    return out
