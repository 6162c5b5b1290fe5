"""Round-4 regression tests for the VERDICT/ADVICE latent-bug fixes:

- dead-session calendar-cache eviction (calendar_br.df_cache_get);
- mapInPandas id-column binding when callers pass ``id_cols`` in
  non-DataFrame order (bonds/bootstrap kernels);
- the ASCII payload assertion (operators/multimodal.ascii_payload_expr)
  failing loudly on non-ASCII text instead of silently desyncing the
  byte-histogram oracle;
- dedup_keep_best without the forced broadcast of the unbounded
  per-cluster aggregate (AQE picks the strategy).
"""

import pytest
from pyspark.sql import functions as F

from pyield_spark import calendar_br as cal


def test_df_cache_evicts_dead_session_entries(spark):
    dead_key = (("dead-app:0", "dead-sess"), "cal", "x", "y")
    cal._DF_CACHE[dead_key] = object()
    # any MISS purges entries keyed to a different CONTEXT token
    cal.df_cache_get(spark, ("evict-probe",), lambda: spark.range(1))
    assert dead_key not in cal._DF_CACHE
    live = [k for k in cal._DF_CACHE if k[0] == cal._session_token(spark)]
    assert live  # current-session entries survive


def test_df_cache_is_per_session_not_per_context(spark):
    """Two sessions over ONE SparkContext must not share memoized
    DataFrames: a frame built by session A registers temp views in A's
    catalog and carries A's confs, so handing it to B breaks B's
    ``spark.sql`` over views it believes it just registered (the
    q_sql_* vanilla-session regression)."""
    sib = spark.newSession()
    a = cal.df_cache_get(spark, ("sess-probe",), lambda: spark.range(2))
    b = cal.df_cache_get(sib, ("sess-probe",), lambda: sib.range(2))
    assert a.sparkSession is spark
    assert b.sparkSession is sib
    # sibling LIVE sessions on the same context never evict each other
    a2 = cal.df_cache_get(spark, ("sess-probe",), lambda: spark.range(2))
    assert a2 is a


def test_session_token_for_session_rejecting_attributes():
    """Without a JVM session UUID, the token comes from a weak side
    table of uuids: stable for a session object's lifetime, distinct
    between live sessions, never ``id()``-derived (CPython reuses
    addresses after GC), and it works on a session object that rejects
    attribute assignment without keeping that object alive."""
    import gc
    import weakref

    class _Ctx:
        applicationId = "app-probe"
        startTime = 1

    class _ReadOnlySession:
        sparkContext = _Ctx()
        _jsparkSession = None  # no sessionUUID(): the fallback path

        def __setattr__(self, name, value):
            raise AttributeError("read-only session")

    a, b = _ReadOnlySession(), _ReadOnlySession()
    ta, tb = cal._session_token(a), cal._session_token(b)
    assert ta == cal._session_token(a) == ("app-probe:1", ta[1])
    assert ta[1] != tb[1]
    assert str(id(a)) not in (ta[1], tb[1]) and str(id(b)) not in (ta[1], tb[1])
    ref = weakref.ref(a)
    del a
    gc.collect()
    assert ref() is None


def test_lft_taxas_id_cols_out_of_dataframe_order(spark):
    """Passing ids in NON-DataFrame order must bind values to the right
    columns (the r3 verdict's latent-bug class for mapInPandas schemas)."""
    from pyield_spark.bonds.bootstrap import lft_taxas

    df = spark.createDataFrame(
        [("A", "X", 252, 1000.0, 990.0), ("B", "Y", 504, 1000.0, 980.0)],
        "alpha STRING, beta STRING, dias_uteis BIGINT, vna DOUBLE, pu DOUBLE",
    )
    # id_cols reversed vs the DataFrame column order
    out = lft_taxas(df, id_cols=["beta", "alpha"]).collect()
    by_beta = {r["beta"]: r for r in out}
    assert set(by_beta) == {"X", "Y"}
    assert by_beta["X"]["alpha"] == "A"
    assert by_beta["Y"]["alpha"] == "B"
    assert all(r["taxa_implicita"] > 0 for r in out)


def test_implied_rates_id_cols_out_of_dataframe_order(spark):
    from pyield_spark.bonds.bootstrap import implied_rates

    df = spark.createDataFrame(
        [
            ("T1", "G1", "2024-01-02", "2025-01-01", 950.0),
            ("T2", "G2", "2024-01-02", "2026-01-01", 900.0),
        ],
        "titulo STRING, grp STRING, liq STRING, ven STRING, pu DOUBLE",
    ).select(
        "titulo",
        "grp",
        F.to_date("liq").alias("liq"),
        F.to_date("ven").alias("ven"),
        "pu",
    )
    out = implied_rates(
        df,
        id_cols=["grp", "titulo"],  # reversed vs DataFrame order
        settlement="liq",
        maturity="ven",
        price="pu",
    ).collect()
    by_grp = {r["grp"]: r for r in out}
    assert by_grp["G1"]["titulo"] == "T1"
    assert by_grp["G2"]["titulo"] == "T2"


def test_ascii_payload_expr_raises_on_non_ascii(spark):
    from pyield_spark.operators import multimodal as mm

    ok = spark.createDataFrame([("plain ascii",)], "text STRING").select(
        mm.ascii_payload_expr("text").alias("p")
    )
    assert ok.collect()[0]["p"] == b"plain ascii"

    bad = spark.createDataFrame([("café",)], "text STRING").select(
        mm.ascii_payload_expr("text", "ctx").alias("p")
    )
    with pytest.raises(Exception, match="non-ASCII|ctx|ASSERT"):
        bad.collect()


def test_dedup_keep_best_no_forced_broadcast(spark):
    """The per-cluster aggregate is unbounded at corpus scale — the
    operator must not force-broadcast it (AQE chooses)."""
    import inspect

    from pyield_spark.operators import graph

    src = inspect.getsource(graph.dedup_keep_best)
    assert "F.broadcast" not in src

    docs = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.7), (4, 0.1)],
        "doc_id BIGINT, quality DOUBLE",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    out = {r["doc_id"]: r for r in graph.dedup_keep_best(docs, pairs, "quality").collect()}
    assert out[1]["keep"] is True  # highest quality in the 1-2-3 cluster
    assert out[2]["keep"] is False
    assert out[3]["keep"] is False
    assert out[4]["keep"] is True  # singleton keeps itself


def test_extract_features_real_codec_seam(spark, monkeypatch):
    """Injecting a codec at the module seam (decode/featurize/sniff)
    must route extract_features through it (captured into the kernel
    closure at plan-build time) — a codec-richer deployment is a config
    change, not a code change. Payloads that the sniff does NOT claim
    stay on the deterministic fake path."""
    from pyield_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"abcd"), (2, b"xy")], "doc_id BIGINT, payload BINARY"
    )

    # fake path first (control): byte-histogram moments — these
    # payloads don't sniff as PNG/BMP, so the stdlib codec ignores them
    fake = {r["doc_id"]: r["features"] for r in
            mm.extract_features(df, "payload", "doc_id").collect()}

    def fake_decode(b):
        return b[::-1]  # "decoded image" = reversed bytes

    def fake_featurize(img):
        return [float(img[0])] * mm.FEATURE_DIM  # first byte of decoded img

    monkeypatch.setattr(mm, "decode_image", fake_decode)
    monkeypatch.setattr(mm, "featurize_image", fake_featurize)
    monkeypatch.setattr(mm, "sniff_format", lambda b: "fakefmt")
    real = {r["doc_id"]: r["features"] for r in
            mm.extract_features(df, "payload", "doc_id").collect()}

    assert real[1] == [float(ord("d"))] * mm.FEATURE_DIM
    assert real[2] == [float(ord("y"))] * mm.FEATURE_DIM
    assert real[1] != fake[1]
