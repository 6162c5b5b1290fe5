"""Suite-wide physical-plan guards.

These are the anti-pattern sweeps the scale design depends on, run
against EVERY registered query's executed plan so a regression in any
operator shows up as a named failure:

- no row-at-a-time Python (`BatchEvalPython`) anywhere — Python is
  allowed only Arrow-batched (mapInPandas / applyInPandas) and only in
  the designated kernels;
- exchange budgets on the flagship operators — the shuffle counts the
  100 TB story is built on, pinned so a refactor can't silently add
  one.
"""

import pytest

from pyield_spark.queries import QUERIES, load_all

load_all()

# queries whose plans legitimately contain Arrow-batched Python
# (mapInPandas / applyInPandas / applyInPandasWithState kernels)
ARROW_KERNELS = {
    "q_implied_rate",        # K4 bisection (mapInPandas)
    "q_lft_implied",         # K4 LFT step-chain inversion (mapInPandas)
    "q_bootstrap_zero",      # K5 sequential solve (applyInPandas)
    "q_curva_pre",           # composes the bootstrap
    "q_breakeven",           # composes the bootstrap (zero-curve leg)
    "q_premio_limpo",        # K4-style spread root finder
    "q_ntnb1_curva_zero",    # equivalent-IRR bisection
    "q_multimodal_features", # declared stub decode (mapInPandas)
    "q_frame_sample",        # fake frame decode (mapInPandas)
    "q_resize_payload",      # fake resize (mapInPandas)
    # round 6: Lloyd assignment is an Arrow-batched numpy argmin kernel
    # (fold-order-preserving, bit-exact vs the oracle) — the pure-column
    # HOF form was interpreted per element and 10-20× slower
    "q_kmeans_clusters",     # kmeans_assign (pandas_udf)
    "q_semantic_dedup",      # composes kmeans_assign
    # round 7: PQ encode is an Arrow-batched fold-order-preserving
    # kernel (mapInPandas) — same rationale/precedent as the Lloyd
    # argmin kernel above (interpreted HOF form ~10× slower)
    "q_ivfpq_topk",          # pq_encode (mapInPandas)
    # round 9: the trained-artifact serve path runs the same pq_encode
    # kernel (residual mode) against the pinned codebooks
    "q_ivfpq_trained",       # pq_encode (mapInPandas)
    # round 10 (optimization): the MMR greedy runs as ONE grouped
    # kernel per query_id (applyInPandas) instead of k-1 unrolled
    # barrier rounds — bit-exact recipe twin, oracle-gated; measured
    # 39 jobs -> 5 and >2x wall at sf0.1
    "q_mmr_rerank",          # mmr greedy (applyInPandas)
}

# stream queries execute eagerly inside queries() (memory-sink replay) —
# their batch twins carry the plan guarantees
STREAMING = {n for n in QUERIES if n.startswith("q_stream_")}

_BATCH = sorted(n for n in QUERIES if n not in STREAMING)


@pytest.mark.parametrize("name", _BATCH)
def test_no_rowwise_python_udf(spark, sf_dir, name):
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    if name not in ARROW_KERNELS:
        for marker in ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
            assert marker not in plan, f"{name} unexpectedly runs Python ({marker})"


EXCHANGE_BUDGETS = {
    # operator core: curve agg + one window shuffle
    "q_interp_flat_forward": 3,
    # broadcast-calendar business days: fact side never shuffles (the
    # only exchange is the tiny output sort)
    "q_bd_count": 1,
    # grouped as-of — r8: distribution='auto' resolves to the
    # broadcast-interval route here (the right agg fits the broadcast
    # threshold), so the FACT side now has ZERO data shuffles; the 3
    # permitted exchanges are all DIMENSION-side (the right-agg groupBy
    # and the interval-window partitionings over the orders-derived
    # series) — strictly cheaper at scale than the old 2-exchange
    # shuffle route whose window moved the fact table
    "q_asof_last_order": 3,
    # explode-and-aggregate pricing: one groupBy on the bond id
    "q_ntnf_pricing": 3,
    # one hash-groupBy
    "q_exact_dedup": 2,
    # round 4: registry distinct + presentation sort
    "q_benchmarks": 2,
    # round 4: snapshot groupBy + the one snapshot-sized forward window
    "q_intradia_enrich": 2,
    # round 4: one canonical-URL window shuffle
    "q_url_dedup": 1,
    # round 5: pruned tf groupBy + token df window + final doc agg +
    # the TakeOrdered's single-partition gather (corpus stats arrive
    # by broadcast; ONE explode pass — the df-by-join form re-planned
    # the whole explode lineage twice)
    "q_bm25_topk": 4,
}


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGETS))
def test_exchange_budget(spark, sf_dir, name):
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Count DATA shuffles: hash/range/single-partition exchanges (not
    # BroadcastExchange). Round-robin exchanges are excluded on purpose:
    # the only ones in the suite come from tables(widen=True)'s
    # row-group scan compensation, opted into by the per-row-heavy
    # parse queries because the driver's synthetic parquets are
    # single-row-group (serial scans); it is footer-gated to vanish on
    # production-shaped data — not part of the query's data-dependent
    # shuffle structure that these budgets pin.
    import re

    n = len(re.findall(r"\bExchange (?:hash|range|Single)", plan))
    budget = EXCHANGE_BUDGETS[name]
    assert n <= budget, f"{name}: {n} exchanges > budget {budget}\n{plan[:2000]}"


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Scale technique: with runtime bloom filters on, a selective
    predicate on the dimension side of a shuffle join injects a
    ``might_contain`` filter into the FACT side's scan stage — rows that
    cannot match are dropped before the shuffle, which at 100 TB is the
    difference between shuffling the whole fact table and shuffling the
    matching slice. Local thresholds are lowered to make the tiny test
    tables eligible; on a cluster the defaults (10MB creation side)
    trigger on any realistically-sized dimension filter."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:3000]
        assert "bloom_filter_agg" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_driver_collect_in_library_code():
    """Source sweep: ``.collect()`` must not appear in any non-test
    module. Allowed sites, each bounded by construction:

    - the 1-row-per-round convergence aggregate of the
      connected-components fixpoint (operators/graph.py) — standard
      for iterative algorithms, bounded by max_iter (its driver route
      reads at most ``LOCAL_MAX_EDGES + 1`` pairs with ``toArrow``);
    - the k-row-per-round centroid hop of Lloyd's k-means
      (operators/semantic.py, round 6) — k·dim doubles, the same
      driver-side hop Spark MLlib's KMeans makes every iteration, so
      assignment can be a single map-only Arrow stage;
    - the ks-row PQ codebook hop of IVF-PQ
      (operators/similarity.py::_pq_codebooks, round 7) — ks·dim
      doubles collected ONCE so encoding and ADC lookup tables are
      literal-array map-only stages (exactly how FAISS ships trained
      codebooks to workers); round 8 adds the ``train_codebooks``
      sample hop to the same file — ``sample``·dim doubles, bounded by
      parameter regardless of corpus size (the FAISS offline train
      step);
    - the ≤ m_bits/32-row Bloom word-table hop
      (operators/bloom.py::bloom_words, round 8) — ~1 KB at the
      default geometry, inlined as a literal so the corpus probe is a
      map-only scan stage;
    - the 1-row-per-iteration gradient hop of the logistic-regression
      trainer (operators/classifier.py::logreg_train, round 10) —
      n_features doubles per full-batch GD step, the same driver-side
      iterate Spark MLlib's LogisticRegression makes; serving is
      map-only expression arithmetic with pinned literal weights.

    Everything else (including the streaming foreachBatch demo, which
    now writes to a parquet sink) must stay executor-side.
    """
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pyield_spark"
    allowed = {
        "operators/graph.py",
        "operators/semantic.py",
        "operators/similarity.py",
        "operators/bloom.py",
        "operators/classifier.py",
    }
    offenders = []
    for py in pkg.rglob("*.py"):
        rel = py.relative_to(pkg).as_posix()
        if rel in allowed:
            continue
        for ln, line in enumerate(py.read_text().splitlines(), 1):
            if ".collect()" in line and not line.lstrip().startswith("#"):
                offenders.append(f"{rel}:{ln}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
