"""MMR rerank: greedy invariants, λ degeneracy, output structure
(operators/similarity.py::mmr_rerank)."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from pyield_spark.operators import similarity as sim


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_structure_and_rank1(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = sim.mmr_rerank(emb, shortlist_n=10, k=5, lam=0.7).toPandas()
    short = sim.cosine_topk(emb, k=10).toPandas()
    for qid, grp in out.groupby("query_id"):
        assert sorted(grp.mmr_rank) == [1, 2, 3, 4, 5]
        assert grp.neighbor_id.is_unique
        sl = short[short.query_id == qid]
        # picks come from the shortlist; rank 1 is the relevance argmax
        assert set(grp.neighbor_id) <= set(sl.neighbor_id)
        top = sl.sort_values(["cosine", "neighbor_id"], ascending=[False, True])
        assert grp[grp.mmr_rank == 1].neighbor_id.iloc[0] == top.neighbor_id.iloc[0]


def test_lambda_one_degenerates_to_topk(spark, sf_dir):
    """λ=1 removes the redundancy term: MMR order must equal the plain
    cosine top-k order exactly."""
    emb = _emb(spark, sf_dir)
    out = sim.mmr_rerank(emb, shortlist_n=10, k=5, lam=1.0).toPandas()
    topk = sim.cosine_topk(emb, k=5).toPandas()
    got = out.sort_values(["query_id", "mmr_rank"])[
        ["query_id", "neighbor_id"]
    ].values.tolist()
    want = topk.sort_values(["query_id", "rnk"])[
        ["query_id", "neighbor_id"]
    ].values.tolist()
    assert got == want


def test_greedy_step_invariant(spark, sf_dir):
    """The rank-2 pick maximizes λ·rel − (1−λ)·sim(c, pick1) over the
    remaining shortlist — recomputed independently in pandas from the
    same pround'd cosines."""
    emb = _emb(spark, sf_dir)
    lam = 0.7
    out = sim.mmr_rerank(emb, shortlist_n=10, k=5, lam=lam).toPandas()
    short = sim.cosine_topk(emb, k=10).toPandas()
    # pairwise sims among shortlist members, via the operator's own
    # recipe (re-using cosine_topk against the full set would change
    # the rounding path): join vectors and fold in numpy mirrors the
    # expression fold only approximately, so read them from a tiny
    # Spark job instead.
    from pyield_spark.functions.numbers import pround_expr
    from pyield_spark.operators.similarity import dot_dec, norm_sq_dec

    base = emb.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
    ).withColumn("_n2", norm_sq_dec("_v"))
    a = base.select(
        F.col("_id").alias("a"), F.col("_v").alias("_av"), F.col("_n2").alias("_an")
    )
    b = base.select(
        F.col("_id").alias("b"), F.col("_v").alias("_bv"), F.col("_n2").alias("_bn")
    )
    ids = set(short.neighbor_id)
    sims_pd = (
        a.filter(F.col("a").isin(ids))
        .crossJoin(b.filter(F.col("b").isin(ids)))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            pround_expr(
                dot_dec("_av", "_bv")
                / (F.sqrt(F.col("_an")) * F.sqrt(F.col("_bn"))),
                6,
            ).alias("s"),
        )
        .toPandas()
    )
    smap = {(r.a, r.b): r.s for r in sims_pd.itertuples()}
    for qid, grp in out.groupby("query_id"):
        grp = grp.sort_values("mmr_rank")
        p1 = grp.neighbor_id.iloc[0]
        p2 = grp.neighbor_id.iloc[1]
        sl = short[short.query_id == qid]
        rel = dict(zip(sl.neighbor_id, sl.cosine))
        best, best_key = None, None
        for c in sorted(rel):
            if c == p1:
                continue
            mmr = lam * rel[c] - (1.0 - lam) * smap[(c, p1)]
            key = (-mmr, c)
            if best_key is None or key < best_key:
                best, best_key = c, key
        assert p2 == best, f"query {qid}: rank-2 pick {p2} != argmax {best}"
    assert isinstance(out, pd.DataFrame)


def test_explicit_shortlist_matches_default(spark, sf_dir):
    """Passing the brute shortlist explicitly reproduces the default
    path exactly — the seam the pruned ladder plugs into."""
    emb = _emb(spark, sf_dir)
    sl = sim.cosine_topk(emb, k=10)
    got = (
        sim.mmr_rerank(emb, shortlist=sl)
        .orderBy("query_id", "mmr_rank")
        .collect()
    )
    want = (
        sim.mmr_rerank(emb, shortlist_n=10)
        .orderBy("query_id", "mmr_rank")
        .collect()
    )
    assert got == want


def test_ragged_vector_maps_to_nan_not_crash(spark):
    """One shortlist member whose vector is shorter than the group's
    dimension maps to all-NaN (as a NULL vector does) instead of
    failing the ragged array build. Its similarity to the rank-1 pick
    is NaN, and NaN sorts above every score (Spark DESC order), so it
    is the rank-2 pick with a NaN score — which the pandas → Arrow hop
    delivers as NULL."""
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    sl = sim.cosine_topk(emb, query_pred=F.col("_vid") == 0, k=6)
    by_rank = {r["rnk"]: r["neighbor_id"] for r in sl.collect()}
    short_id = by_rank[3]
    ragged = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == short_id, F.slice("embedding", 1, 5))
        .otherwise(F.col("embedding")),
    )
    out = (
        sim.mmr_rerank(ragged, shortlist=sl, k=6, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r["mmr_rank"] for r in out] == [1, 2, 3, 4, 5, 6]
    assert sorted(r["neighbor_id"] for r in out) == sorted(by_rank.values())
    assert out[0]["neighbor_id"] == by_rank[1]
    assert not math.isnan(out[0]["mmr_score"])
    assert out[1]["neighbor_id"] == short_id
    assert out[1]["mmr_score"] is None


def test_rp_exhaustive_refine_matches_brute(spark, sf_dir):
    """refine ≥ corpus makes the projected shortlist irrelevant: the
    exact-refine rank must reproduce cosine_topk bit-for-bit."""
    emb = _emb(spark, sf_dir)
    n = emb.count()
    rp = (
        sim.rp_topk(emb, k=5, refine=n)
        .select("query_id", "neighbor_id", "cosine", "rnk")
        .orderBy("query_id", "rnk")
        .collect()
    )
    ex = (
        sim.cosine_topk(emb, k=5)
        .select("query_id", "neighbor_id", "cosine", "rnk")
        .orderBy("query_id", "rnk")
        .collect()
    )
    assert rp == ex


def test_rp_clustered_recall(spark):
    """On a clustered corpus (the regime real embeddings live in) the
    64→16 projection holds high recall with the default refine
    headroom (the PLANS.md envelope measures 1.000 at the tool's
    n=2000; this 500-vector twin has denser clusters, so the pin is
    ≥0.95 at refine=20 rather than exact)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from ann_recall import clustered_corpus

    emb = clustered_corpus(spark, n=500).localCheckpoint()
    ex = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(emb, k=5).collect()
    }
    rp = {
        (r.query_id, r.neighbor_id)
        for r in sim.rp_topk(emb, k=5, refine=20).collect()
    }
    assert len(rp & ex) / len(ex) >= 0.95
