"""Source-level guards over ``pyield_spark/``.

No Spark session: these read the package's own files so a regression
shows up as a named failure before any query runs.

- every backtick-quoted identifier spliced into SQL text goes through
  ``functions.sql.ident`` (which doubles inner backticks), never a raw
  ``f"`{name}`"`` splice that breaks on a name holding a backtick;
- each expression helper has one public entry point: the deleted
  Column/SQL-string twins stay deleted;
- every lineage cut goes through ``operators.pinning.pin``, the one
  place that picks ``localCheckpoint`` or reliable ``checkpoint``;
- every frame built from driver rows goes through
  ``functions.frames.local_frame`` (an Arrow ``LocalRelation``), never a
  ``createDataFrame`` over a Python list, which plans as a Python-worker
  RDD scan.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pyield_spark"
SOURCES = sorted(PKG.rglob("*.py"))

# a single backtick opening a brace splice; ``{ (reST literal) is prose
RAW_SPLICE = re.compile(r"(?<!`)`\{")

DELETED_TWINS = (
    "truncar_sql_spark",
    "pround_sql_spark",
    "round_pl_sql",
    "sq8_quant_expr",
    "sq8_dequant_expr",
    "coupon_flow_expr",
    "grid_pitch_expr",
    "raw_maturity_expr",
    "month_from_code_expr",
    "norm_sq_sql",
    "dot_sql",
)
DELETED_RE = re.compile(r"\b(" + "|".join(DELETED_TWINS) + r")\b")

LINEAGE_CUT = re.compile(r"\.(localCheckpoint|checkpoint)\(")
PIN_MODULE = PKG / "operators" / "pinning.py"

CREATE_DF = re.compile(r"\bcreateDataFrame\(")
FRAMES_MODULE = PKG / "functions" / "frames.py"


def _hits(pattern: re.Pattern, sources=SOURCES) -> list[str]:
    return [
        f"{path.relative_to(PKG.parent)}:{i}: {line.strip()}"
        for path in sources
        for i, line in enumerate(path.read_text().splitlines(), start=1)
        if pattern.search(line)
    ]


def test_sources_found():
    assert len(SOURCES) > 50


def test_no_raw_identifier_splice():
    bad = _hits(RAW_SPLICE)
    assert not bad, "quote spliced names with ident():\n" + "\n".join(bad)


def test_no_deleted_twin_names():
    bad = _hits(DELETED_RE)
    assert not bad, "deleted twin helper referenced:\n" + "\n".join(bad)


def test_lineage_cuts_go_through_pin():
    assert PIN_MODULE in SOURCES
    bad = _hits(LINEAGE_CUT, [p for p in SOURCES if p != PIN_MODULE])
    assert not bad, "cut lineage with pinning.pin():\n" + "\n".join(bad)


def test_driver_rows_go_through_local_frame():
    bad = _hits(CREATE_DF, [p for p in SOURCES if p != FRAMES_MODULE])
    assert not bad, "build driver-row frames with local_frame():\n" + "\n".join(bad)
    assert FRAMES_MODULE in SOURCES


def test_guards_catch_what_they_target():
    assert RAW_SPLICE.search('f"CAST(`{c}` AS DOUBLE)"')
    assert not RAW_SPLICE.search('``{"registros": [...]}``')
    assert not RAW_SPLICE.search('f"CAST({ident(c)} AS DOUBLE)"')
    assert DELETED_RE.search("F.expr(round_pl_sql(c, 10))")
    assert not DELETED_RE.search("sq8_quant_sql(vec, mn, mx)")
    assert LINEAGE_CUT.search("cur = cur.localCheckpoint(eager=False)")
    assert LINEAGE_CUT.search(").checkpoint()")
    assert not LINEAGE_CUT.search("cur = pin(cur, eager=False)")
    assert not LINEAGE_CUT.search("sc.setCheckpointDir(ckdir)")
    assert CREATE_DF.search("spark.createDataFrame([], PAYLOAD_DDL)")
    assert CREATE_DF.search("seg = spark.createDataFrame(")
    assert not CREATE_DF.search("local_frame(spark, rows, schema)")
