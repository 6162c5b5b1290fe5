"""The env-gated durable pin (r10 verdict item 5) and the bounded
observation wait (r10 advice): cluster-durability escape hatches whose
DEFAULTS must stay byte-identical to localCheckpoint behavior."""

import datetime as dt
import glob
import os
import threading
import time

from pyspark.sql import functions as F
import pytest

from pyield_spark.operators import graph as gr
from pyield_spark.operators.pinning import pin


def test_pin_reliable_requires_checkpoint_dir(spark, monkeypatch):
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a checkpoint dir is already set on this context")
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "reliable")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = spark.range(3)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        pin(df)


def test_pin_rejects_unknown_mode(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "replicated")
    with pytest.raises(ValueError, match="local.*reliable"):
        pin(spark.range(3))


def test_pin_reliable_mode_connected_components(spark, monkeypatch, tmp_path):
    """The reliable route must produce the same labels as the default
    AND actually write RDD checkpoints into the configured directory
    (the recompute path an executor loss needs). Forced onto the
    distributed loop: the driver route pins nothing."""
    monkeypatch.setattr(gr, "LOCAL_MAX_EDGES", 0)
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in gr.connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
    }
    import glob
    import os

    assert glob.glob(os.path.join(ckdir, "**", "rdd-*"), recursive=True), (
        "reliable mode must persist RDD checkpoints under the dir"
    )


def _calendar(spark):
    from pyield_spark.calendar_br import calendar_df

    # a range no other test builds, so the per-session memo misses
    return calendar_df(spark, dt.date(1993, 2, 1), dt.date(1993, 3, 31))


def _interpolar_shuffle(spark):
    from pyield_spark.curves.interpolate import interpolar

    curve = spark.range(12).select(
        (F.col("id") * 50 + 10).alias("du"),
        (0.05 + F.col("id") * 0.001).alias("taxa"),
    )
    targets = spark.range(200).select(
        F.col("id").alias("tid"), (F.col("id") * 3).alias("du")
    )
    return interpolar(
        targets, curve, du_col="du", curve_du="du", curve_rate="taxa",
        distribution="shuffle",
    )


def _asof(spark):
    from pyield_spark.operators.asof import asof_join

    left = spark.range(40).select(F.col("id").alias("k"))
    right = spark.range(0, 40, 7).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return asof_join(left, right, on="k")


def _sq8_topk(spark):
    from pyield_spark.operators.similarity import sq8_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) + 1.0 for j in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    return sq8_topk(emb, query_pred=F.col("_vid") % 10 == 0, k=3, dim=8)


_SITES = {
    "calendar_df": _calendar,
    "interpolar": _interpolar_shuffle,
    "asof_join": _asof,
    "sq8_topk": _sq8_topk,
}


def _rdd_dirs(spark) -> set[str]:
    ck = spark.sparkContext.getCheckpointDir()
    if ck is None:
        return set()
    return set(glob.glob(os.path.join(ck.removeprefix("file:"), "rdd-*")))


@pytest.mark.parametrize("site", list(_SITES))
def test_pin_reliable_mode_reaches_site(spark, monkeypatch, tmp_path, site):
    """One site per family that used to cut lineage with a direct
    localCheckpoint: in reliable mode it must return the local-mode rows
    AND write RDD checkpoints (the recompute path an executor loss
    needs)."""
    build = _SITES[site]
    monkeypatch.delenv("SPARK_GRAFT_PIN_MODE", raising=False)
    # a sibling session keeps its own calendar memo, so the reliable
    # call below still builds the calendar afresh
    local = sorted(build(spark.newSession()).collect(), key=repr)

    monkeypatch.setenv("SPARK_GRAFT_PIN_MODE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    before = _rdd_dirs(spark)
    got = sorted(build(spark).collect(), key=repr)
    assert got == local
    assert _rdd_dirs(spark) - before, f"{site} wrote no reliable checkpoint"


def test_observed_chk_times_out_to_agg_fallback(spark):
    """When the Observation never yields (listener coupling broken),
    the bounded wait falls back to the explicit checksum — same value,
    no hang."""

    class _HangingObs:
        @property
        def get(self):
            time.sleep(30)
            return {}

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "node long, label long"
    )
    expect = labels.agg(
        F.sum(F.xxhash64("label").cast("decimal(38,0)")).alias("chk")
    ).collect()[0]["chk"]
    t0 = time.perf_counter()
    got, observed = gr._observed_chk(_HangingObs(), labels, timeout=0.5)
    assert got == expect
    assert not observed
    assert time.perf_counter() - t0 < 20


def test_cc_observation_wait_bounded_per_call(spark, monkeypatch):
    """After one Observation read times out, the rest of that
    connected_components call reads checksums with the explicit agg:
    one bounded wait per call, not one per round. Forced onto the
    distributed loop: the driver route reads no checksum."""
    import pyspark.sql

    monkeypatch.setattr(gr, "LOCAL_MAX_EDGES", 0)
    release = threading.Event()
    reads = []

    class _HangingObservation(pyspark.sql.Observation):
        @property
        def get(self):
            reads.append(self)
            release.wait(120)
            return {}

    monkeypatch.setattr(pyspark.sql, "Observation", _HangingObservation)
    monkeypatch.setattr(gr, "OBS_WAIT_S", 15.0)
    n = 5  # a path: five rounds to the fixpoint
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    stats: dict = {}
    t0 = time.perf_counter()
    try:
        got = {
            r["node"]: r["cluster_id"]
            for r in gr.connected_components(edges, stats=stats).collect()
        }
    finally:
        release.set()
    wall = time.perf_counter() - t0
    assert got == {i: 1 for i in range(1, n + 1)}
    assert stats["rounds"] >= 3
    assert len(reads) == 1
    assert wall < 2 * gr.OBS_WAIT_S
