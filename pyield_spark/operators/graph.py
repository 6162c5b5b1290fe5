"""Connected components over a pair list — the final stage of a fuzzy
dedup pipeline (MinHash/LSH candidate pairs -> duplicate CLUSTERS ->
keep one canonical document per cluster).

The reference has no graph stage (its dedup surface is `unique`-style
keep-last — see SURVEY §2.4 A4); this operator is part of the
LLM-training-data extension set, where transitive closure over near-dup
pairs is what production pipelines (SlimPajama-, Dolma-, CCNet-style)
actually run before dropping duplicates.

Algorithm: iterative min-label propagation.

- labels START at the round-1 state (``label(u) = min(u, min
  neighbor)`` — one groupBy over the symmetrized edges, replacing the
  identity labeling's distinct-nodes shuffle and its useless
  checkpoint+checksum iteration); each step every node takes the min
  label among itself and its neighbors; converges when the label sum
  stops decreasing (labels only ever decrease, so the sum is a
  strictly-monotone convergence metric — one cheap observe() metric
  riding the checkpoint, no join against the previous state needed).
- Each step is ONE shuffle join (edges x labels) plus ONE groupBy —
  both on the node key, so AQE coalesces them back-to-back.
- ``pin`` after every round cuts the lineage: without it
  round k re-executes rounds 1..k-1 (the classic iterative-plan
  recompute trap) and the driver's plan grows unboundedly.

Rounds: plain propagation needs graph-diameter rounds (the min label
travels one hop per round). Near-dup clusters are LSH-bucket
near-cliques (diameter ~2-3), so that converges in a handful of rounds
on real dedup workloads — but an adversarial long-path component would
need diameter rounds, which at 100 TB is unbounded. The default
therefore ADAPTIVELY adds a POINTER-DOUBLING step after each
propagation once a few plain rounds haven't converged
(``label ← label(label)``, the classic shortcutting used by the
MapReduce CC literature — Kiveris et al., "Connected Components in
MapReduce and Beyond", and GraphFrames' alternating algorithm):
the pointer forest halves in depth every round, bounding rounds at
O(log diameter) for ONE extra label-sized join per round — while
shallow near-clique graphs converge before the doubling ever engages
and pay nothing. The fixpoint is unchanged (labels are still
component-min ids), so results are bit-identical to plain propagation
— the measured lap is in PLANS.md (chain diameter 100k: ~20 rounds
accelerated vs >max_iter plain).

Route: a graph small enough for the driver never enters the loop. One
bounded read, ``limit(LOCAL_MAX_EDGES + 1).toArrow()`` over the input
pairs, decides it: if at most ``LOCAL_MAX_EDGES`` pairs come back, the
driver labels every node by union-find (no rounds, no pins) and returns
the labels as an Arrow-backed ``LocalRelation`` (``functions.frames``;
a Python list would plan as a Python-worker RDD scan that costs more
per execution than the loop it replaces). Only integral and string ids
take this route, and only when both endpoint columns share the type:
there Python's ``<`` is Spark's order (strings compare by code point,
which is UTF-8 byte order). Floats (NaN, -0.0), decimals, dates,
timestamps, binary, collated strings and nested types go to the loop.
NULL endpoints keep the loop's semantics: a NULL never links its
neighbours (it matches no join key), the NULL node's label is the min
of its neighbours' labels, and ``(NULL, NULL)`` alone labels NULL.
Above the constant the read wastes at most ``LOCAL_MAX_EDGES + 1`` rows
and the loop runs unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from pyield_spark.functions.frames import local_frame
from pyield_spark.operators.pinning import pin

# Longest one connected_components call waits on an Observation: after
# the first timeout its remaining rounds read the checksum with an
# explicit agg, so the worst case is one wait per call, not per round.
OBS_WAIT_S = 60.0

# Most input pairs the driver route takes. At this size (graphs built
# from spark.range, local[4] on a 4-vCPU VM, end to end with a count of
# the labels) the driver route takes 4.1-7.1 s on 6-node near-cliques
# against 6.3-13.3 s for the loop's 3 rounds, and 7.1-7.5 s on
# 1000-node paths against 36-51 s for its 12 rounds.
LOCAL_MAX_EDGES = 1_000_000

# id types whose Python order is Spark's order (StringType() is the
# default UTF8_BINARY collation; a collated string type is not equal)
_DRIVER_ID_TYPES = (ByteType(), ShortType(), IntegerType(), LongType(), StringType())


def _chk_col():
    """The per-round convergence checksum, shared by the observe() fast
    path and the bounded-wait fallback below (a function, not a module
    constant: Column construction needs a live SparkContext)."""
    return F.sum(F.xxhash64("label").cast("decimal(38,0)")).alias("chk")


def _agg_chk(labels: DataFrame):
    """The checksum as an explicit ``agg().collect()`` over ``labels``."""
    return labels.agg(_chk_col()).collect()[0]["chk"]


def _observed_chk(obs, labels: DataFrame, timeout: float):
    """Read the round checksum from the Observation with a BOUNDED wait.

    ``Observation.get`` blocks indefinitely and relies on the eager
    checkpoint's action firing the QueryExecutionListener; if that
    coupling ever breaks (Spark Connect, future versions), every
    connected_components call would hang instead of degrading (review
    fix, r10 advice). The action has already completed when this runs —
    the listener normally posts within milliseconds — so on timeout we
    fall back to the pre-r10 explicit ``agg().collect()`` checksum over
    the already-checkpointed labels: one extra bounded pass, same value.

    Returns ``(checksum, observed)``; ``observed`` is False when the
    fallback ran, so the caller stops observing for the rest of its
    rounds.
    """
    import threading

    box: dict = {}

    def _read():
        try:
            box["v"] = obs.get.get("chk")
        except Exception as e:  # pragma: no cover - defensive
            box["e"] = e

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive() or "e" in box:  # metrics never arrived
        return _agg_chk(labels), False
    return box["v"], True


def _union_find_labels(us: list, vs: list) -> list[tuple]:
    """(node, component-min id) rows for the pairs ``zip(us, vs)``, with
    the loop's NULL semantics (see the module docstring)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    null_nbrs = []
    has_null = False
    for u, v in zip(us, vs):
        if u is None or v is None:
            has_null = True
            if u is not None or v is not None:
                x = v if u is None else u
                parent.setdefault(x, x)
                null_nbrs.append(x)
            continue
        ru, rv = find(parent.setdefault(u, u)), find(parent.setdefault(v, v))
        if ru != rv:  # the smaller root wins, so every root is its min
            parent[max(ru, rv)] = min(ru, rv)
    rows = [(x, find(x)) for x in parent]
    if has_null:
        rows.append((None, min((find(x) for x in null_nbrs), default=None)))
    return rows


def _driver_labels(edges: DataFrame, src: str, dst: str) -> DataFrame | None:
    """The (node, cluster_id) frame by union-find on the driver, or None
    when the pairs' id type or count sends them to the loop."""
    uv = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    id_type, dst_type = (f.dataType for f in uv.schema)
    if id_type != dst_type or id_type not in _DRIVER_ID_TYPES:
        return None
    pairs = uv.limit(LOCAL_MAX_EDGES + 1).toArrow()
    if pairs.num_rows > LOCAL_MAX_EDGES:
        return None
    rows = _union_find_labels(pairs["u"].to_pylist(), pairs["v"].to_pylist())
    schema = StructType(
        [StructField("node", id_type), StructField("cluster_id", id_type)]
    )
    return local_frame(edges.sparkSession, rows, schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
    accelerate: bool = True,
    accelerate_after: int = 3,
    stats: dict | None = None,
) -> DataFrame:
    """(node, cluster_id) for every node with at least one edge.

    ``cluster_id`` is the minimum node id reachable from the node —
    deterministic and engine-portable (an oracle can restate it as a
    recursive transitive closure + MIN).

    ``accelerate=True`` (default) interleaves pointer doubling with the
    min-label propagation once more than ``accelerate_after`` rounds
    have run — O(log diameter) rounds instead of O(diameter), same
    fixpoint. The delay is the adaptive part: real near-dup graphs are
    LSH-bucket near-cliques that converge in 2–3 plain rounds, and the
    doubling join (one labels-sized shuffle per round) would be pure
    overhead there (~+20% measured on q_dedup_clusters at sf0.1);
    deep components get the log-bound behavior from round
    ``accelerate_after``+1 on. ``stats`` (optional dict) receives the
    route taken: ``{"rounds": 0, "route": "driver"}`` or
    ``{"rounds": n, "route": "spark"}``.

    A graph of at most ``LOCAL_MAX_EDGES`` pairs with integral or
    string ids is solved on the driver (module docstring, "Route");
    ``max_iter``, ``accelerate`` and ``accelerate_after`` apply to the
    distributed loop only.

    Raises ``RuntimeError`` if the loop does not reach the fixpoint
    within ``max_iter`` rounds: a silent early stop would return labels
    that LOOK valid but split real components — the one failure mode a
    dedup pipeline must never hit quietly. With acceleration on,
    max_iter=40 covers any graph up to ~2^34 nodes of pure path.
    """
    local = _driver_labels(edges, src, dst)
    if local is not None:
        if stats is not None:
            stats.update(rounds=0, route="driver")
        return local
    und = pin(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # r10: labels START at the round-1 state — label(u) = min(u, min
    # neighbor) — computed with the same single groupBy shuffle a
    # propagation round costs, replacing BOTH the separate
    # distinct-nodes shuffle the identity initialization needed AND one
    # whole checkpoint+checksum iteration of the loop (the identity
    # labeling never converges on round 0, so checksumming it was pure
    # overhead). Fixpoint unchanged: this is exactly what one
    # propagation over identity labels produces.
    labels = (
        und.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(F.col("u").alias("node"), F.least("u", "_mv").alias("label"))
    )
    prev_sum = None
    rounds = 1
    converged = False
    observing = True
    from pyspark.sql import Observation

    for it in range(max_iter):
        # EAGER checkpoint, deliberately: an r10-optimization A/B
        # measured the "obvious" fuse — lazy
        # checkpoint materialized by the checksum job — at 2.8×
        # SLOWER on q_dedup_clusters (cold 2.6 s → 7.4 s) because the
        # un-persisted round output gets recomputed by the next
        # round's plan finalization; the eager job is what makes each
        # round's output reusable. Keep eager.
        #
        # convergence checksum: labels only ever DECREASE (min-label
        # propagation; doubling takes label-of-label ≤ label), so equal
        # consecutive checksums mean a fixpoint.
        # xxhash64 works for ANY id type — sum('label') on STRING ids is
        # null, which silently disabled the early exit and ran all
        # max_iter rounds of checkpoint+join (review-confirmed).
        # decimal(38,0) accumulation is overflow-free (n·2^63 needs only
        # ~19+len(n) digits) — a plain LongType sum throws
        # ARITHMETIC_OVERFLOW under ANSI mode (Spark 4 default).
        #
        # r10 optimization: the checksum rides the checkpoint job as an
        # observe() metric (CollectMetrics) instead of a separate
        # agg().collect() — one action per round instead of two, and at
        # scale one less full pass over the labels (guide §1.2/§2.4;
        # probe-verified identical value, 0 extra jobs).
        if observing:
            obs = Observation(f"cc_chk_{it}")
            labels = pin(labels.observe(obs, _chk_col()))
            cur, observing = _observed_chk(obs, labels, OBS_WAIT_S)
        else:  # an earlier round's Observation timed out
            labels = pin(labels)
            cur = _agg_chk(labels)
        if cur is None:
            # empty label set (no edges): the fixpoint is trivially the
            # empty frame. Without this branch the None checksum never
            # equals itself under the `is not None` guard and an empty
            # pair list — a perfectly normal "no near-dups found" input
            # — would burn max_iter rounds and then RAISE (round-7
            # self-review; the pre-r7 code silently spun all rounds too)
            rounds = 0  # the fused init propagated over nothing
            converged = True
            break
        if prev_sum is not None and cur == prev_sum:
            converged = True
            break
        prev_sum = cur
        # NOTE: exactly ONE propagation step per checkpoint, on purpose
        # — an r10 A/B of the "obvious" two-steps-per-checkpoint unroll
        # (halve the barriers) measured it ~1.5-2× SLOWER on the dedup
        # queries: the un-materialized first step is recomputed by the
        # second step's AQE stage materializations, the same iterative
        # recompute trap as the lazy-checkpoint fuse documented above.
        rounds += 1
        msgs = (
            und.select(F.col("u").alias("_src"), F.col("v").alias("node"))
            .join(
                labels.select(F.col("node").alias("_src"), "label"),
                "_src",
            )
            .select("node", "label")
        )
        labels = labels.unionByName(msgs).groupBy("node").agg(
            F.min("label").alias("label")
        )
        if accelerate and rounds > accelerate_after:
            # pointer doubling: label ← label(label). Every label value
            # is itself a node id present in `labels` (labels start as
            # node ids and only ever take mins of node ids), so the
            # lookup is total; the left join + coalesce is belt-and-
            # braces against that invariant ever breaking, not a
            # semantic branch. One label-sized shuffle join — cheap
            # next to the edge join, and it turns diameter-bound
            # convergence into log-bound.
            ptr = labels.select(
                F.col("node").alias("_pn"), F.col("label").alias("_pl")
            )
            labels = (
                labels.join(ptr, labels.label == ptr._pn, "left")
                .select("node", F.coalesce("_pl", "label").alias("label"))
            )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
            " — component diameter exceeds the iteration budget; raise"
            " max_iter (accelerate=True needs only log2(diameter)+2"
            " rounds)"
        )
    if stats is not None:
        stats.update(rounds=rounds, route="spark")
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_decisions(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-document dedup verdict from a near-dup pair list.

    Returns ``(id_col, cluster_id, keep)``: singletons are their own
    cluster and kept; inside a multi-document cluster only the minimum
    id (the canonical) survives. One broadcast-sized join against the
    component labels (the pair graph is tiny relative to the corpus —
    near-dup rates are single-digit percent at 100 TB, so `comp` is the
    small side; Spark broadcasts it under AQE automatically).
    """
    comp = connected_components(pairs, src, dst)
    return docs.select(id_col).join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        id_col,
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        (
            F.col("cluster_id").isNull()
            | (F.col(id_col) == F.col("cluster_id"))
        ).alias("keep"),
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Dedup verdict keeping the HIGHEST-QUALITY copy per cluster.

    Production pipelines rarely keep the min-id copy: near-dup clusters
    mix a clean original with truncated/boilerplate-wrapped mirrors, and
    the curated survivor should be the best-scoring one (SlimPajama and
    Dolma both pick a preferred copy by source/quality priority).
    Canonical = ``max_by(id, (quality, -id))`` per cluster — quality
    DESC with min-id as the deterministic tie-break — via one map-side
    combinable aggregate over the (tiny) clustered slice; singletons
    keep themselves without ever joining the aggregate.

    Returns ``(id_col, cluster_id, quality_col, keep)``.
    """
    comp = connected_components(pairs, src, dst)
    # scored feeds the per-cluster best aggregate AND the final verdict
    # join; quality_col is typically computed from document text, so an
    # unmaterialized frame re-runs that text pass per consumer
    # (plan-verified 2 full-text subtrees in the r10 baseline plan).
    # (id, quality, cluster_id) is three narrow columns — cheap to pin.
    scored = pin(
        docs.select(id_col, quality_col).join(
            comp.withColumnRenamed("node", id_col), id_col, "left"
        ),
        eager=False,
    )
    # min over (-quality, id) == quality DESC with id ASC tie-break in
    # ONE min_by struct. Negating QUALITY (numeric by contract) rather
    # than the id keeps the operator correct for any orderable id type
    # (string ids would fail the numeric negation under ANSI mode).
    best = (
        scored.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                F.col(id_col),
                F.struct((-F.col(quality_col)).alias("_nq"), F.col(id_col)),
            ).alias("_best_id")
        )
    )
    return (
        # no broadcast hint: ``best`` has one row per dup CLUSTER, which
        # grows with corpus size — a forced broadcast of an unbounded
        # aggregate risks OOM at 100 TB. AQE picks broadcast when the
        # cluster count is actually small and a shuffle join when not.
        scored.join(best, "cluster_id", "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            quality_col,
            (
                F.col("_best_id").isNull()
                | (F.col(id_col) == F.col("_best_id"))
            ).alias("keep"),
        )
    )
