"""Semantic clustering and SemDeDup-style embedding dedup.

K-means (Lloyd) with a fixed, deterministic setup — seed centroids are
the ``k`` lowest-id vectors, a fixed number of iterations — so the whole
computation is replayable bit-exactly by a SQL engine (the DuckDB
oracle): distances are sequential double folds (deterministic
association order), centroid means accumulate through DECIMAL (the
groupBy-sum order is arbitrary, decimal makes it exact), and every
argmin carries an id tie-break.

Scale design (100 TB): centroids hop to the driver between iterations
(k·dim doubles, bounded) and assignment is a map-only Arrow kernel
pass over the embeddings (no shuffle of the fact table); the only
shuffles are the per-(cluster, dim) mean (k·dim groups, map-side
combinable) and the final cluster-blocked self-join, whose
pair space is bounded by the cluster size — the SemDeDup trick: pick k
proportional to N/target_cluster_size so intra-cluster pairs stay
linear. (Real deployments run more Lloyd rounds and a sampled init;
the dataflow is identical — each extra round is one more broadcast
assignment + one more tiny aggregation.)

Reference anchor: this is an engine extension beyond PYield's surface
(SURVEY §7 step 10); the clustering restates Lloyd's algorithm, the
dedup rule follows SemDeDup (Abbas et al. 2023): within a cluster,
among pairs with cosine ≥ tau keep the lowest id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from pyield_spark.functions.sql import ident
from pyield_spark.operators.pinning import pin
from pyield_spark.operators.similarity import _as_double, dot_dec, norm_sq_dec


def sqdist_expr(a: Column, b: Column) -> Column:
    """Squared L2 distance — sequential double fold (deterministic
    association order on any engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sqdist_np(x: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """(n, k) squared distances, accumulated one DIMENSION at a time,
    left-to-right — the SQL fold's association order, so every value is
    the bit-identical IEEE double the column form produces (numpy
    vectorizes ACROSS rows/centroids, which commutes)."""
    acc = np.zeros((x.shape[0], cmat.shape[0]), dtype=np.float64)
    for i in range(cmat.shape[1]):
        d = x[:, i, None] - cmat[None, :, i]
        acc += d * d
    return acc


def _coarse_codebook(cmat: np.ndarray, n_lists: int, iters: int = 3):
    """Deterministic driver-side Lloyd over the k FINE centroids:
    coarse centers seeded from the first ``n_lists`` fine centroids
    (cid order), ties to the first index. Returns (coarse (C', dim),
    lists: list of index arrays — fine-centroid members per list).
    EMPTY lists (a stale center no fine centroid maps to — possible
    when seeds collide) are DROPPED together with their centers:
    probing one would yield zero candidates and silently misassign the
    row to cids[0] (review fix), so C' ≤ n_lists but every kept list
    is non-empty and the lists partition all k fine centroids."""
    coarse = cmat[:n_lists].copy()
    for _ in range(iters):
        assign = _sqdist_np(cmat, coarse).argmin(axis=1)
        for c in range(n_lists):
            members = cmat[assign == c]
            if len(members):
                coarse[c] = members.mean(axis=0)
        # empty lists keep their previous center during iteration
        # (deterministic); they are pruned below
    assign = _sqdist_np(cmat, coarse).argmin(axis=1)
    lists = [np.flatnonzero(assign == c) for c in range(n_lists)]
    keep = [c for c, members in enumerate(lists) if len(members)]
    return coarse[keep], [lists[c] for c in keep]


def _assign_udf(
    out_dt: StructType,
    cids: np.ndarray,
    cmat: np.ndarray,
    route: str = "exact",
    n_probe: int | None = None,
):
    """Arrow-batched argmin-assignment kernel over a closed-over
    centroid matrix (k, dim). See :func:`kmeans_assign` for the
    bit-exactness contract this implements.

    ``route="ivf"``: the k fine centroids are coarse-clustered ONCE on
    the driver into C ≈ √k lists; each vector scores the C coarse
    centers, probes its ``n_probe`` nearest lists, and argmins only
    over the fine centroids in those lists — O(N·(C + n_probe·k/C))
    flops instead of O(N·k), the cure for the measured superlinearity
    of k ∝ N SemDeDup (PLANS.md round-6 lap). Per-candidate distances
    use the same fold-order accumulation, so with ``n_probe == C`` the
    route is BIT-IDENTICAL to exact (parity-tested)."""
    if route not in ("exact", "ivf"):
        raise ValueError(f"unknown route: {route!r} (use 'exact' or 'ivf')")
    if n_probe is not None and n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    if route == "ivf" and cmat.shape[0] >= 4:
        n_lists = max(2, int(np.sqrt(cmat.shape[0])))
        coarse, lists = _coarse_codebook(cmat, n_lists)
        # empty-list pruning may shrink the codebook below n_lists
        probe = min(
            len(lists), n_probe if n_probe is not None else max(1, n_lists // 4)
        )
    else:  # route='ivf' with k < 4 falls back to exact (documented)
        coarse, lists, probe = None, None, None

    @F.pandas_udf(out_dt)
    def _assign(v: pd.Series) -> pd.DataFrame:
        n = len(v)
        if n == 0:
            return pd.DataFrame(
                {"_cid": pd.Series(dtype=object),
                 "_dist": pd.Series(dtype=np.float64)}
            )
        # a NULL array (whole-row null, distinct from null ELEMENTS)
        # becomes an all-NaN row: every distance is NaN → the total
        # order assigns the lowest cid with a null dist, matching the
        # replaced column form's null-propagation (review fix; a bare
        # np.asarray would raise on the ragged None)
        vals = [
            val if val is not None else [np.nan] * cmat.shape[1]
            for val in v.tolist()
        ]
        x = np.asarray(vals, dtype=np.float64)  # (n, dim)
        if coarse is None:
            acc = _sqdist_np(x, cmat)
            # NaN above every number (Spark/DuckDB total order); among
            # equal minima argmin keeps the FIRST = lowest cid
            sel = np.where(np.isnan(acc), np.inf, acc)
            idx = sel.argmin(axis=1)
            return pd.DataFrame(
                {"_cid": cids[idx], "_dist": acc[np.arange(n), idx]}
            )
        # IVF route: nearest `probe` coarse lists per row, then the
        # fine argmin restricted to their members. Merge order across
        # lists cannot affect the result: (dist, cid) comparison is a
        # total order and each candidate's dist is order-independent.
        dc = _sqdist_np(x, coarse)
        dc = np.where(np.isnan(dc), np.inf, dc)
        probed = np.argpartition(dc, probe - 1, axis=1)[:, :probe]
        best_d = np.full(n, np.inf)
        best_raw = np.full(n, np.nan)
        best_i = np.zeros(n, dtype=np.int64)
        seeded = np.zeros(n, dtype=bool)
        for c, members in enumerate(lists):
            rows = np.flatnonzero((probed == c).any(axis=1))
            if not len(rows) or not len(members):
                continue
            d = _sqdist_np(x[rows], cmat[members])
            dsel = np.where(np.isnan(d), np.inf, d)
            j = dsel.argmin(axis=1)
            rd = dsel[np.arange(len(rows)), j]
            ri = members[j]
            better = ~seeded[rows] | (rd < best_d[rows]) | (
                (rd == best_d[rows]) & (ri < best_i[rows])
            )
            upd = rows[better]
            best_d[upd] = rd[better]
            best_raw[upd] = d[np.arange(len(rows)), j][better]
            best_i[upd] = ri[better]
            seeded[upd] = True
        # A row with ANY NaN element has NaN distance to EVERY fine
        # centroid, so the exact route's argmin over the inf-replaced
        # matrix picks index 0 = the lowest cid. The probed-lists path
        # can't reproduce that on its own: with n_probe < C the
        # argpartition over all-inf coarse distances picks arbitrary
        # lists that need not contain cids[0] (ADVICE r6) — so NaN rows
        # short-circuit to the exact route's answer before returning.
        nan_rows = np.isnan(x).any(axis=1)
        if nan_rows.any():
            best_i[nan_rows] = 0
            best_raw[nan_rows] = np.nan
        return pd.DataFrame({"_cid": cids[best_i], "_dist": best_raw})

    return _assign


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    route: str = "exact",
    n_probe: int | None = None,
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd assignment.

    ``route="exact"`` (default — what every registered query and the
    oracle parity use) scores all k centroids per vector.
    ``route="ivf"`` coarse-clusters the k fine centroids into C ≈ √k
    lists on the driver and scores only the ``n_probe`` (default C/4)
    nearest lists per vector — O(N·(C + n_probe·k/C)) instead of
    O(N·k): the at-scale path when k follows the SemDeDup k ∝ N rule
    (the round-6 100× lap measured the exact route superlinear there,
    PLANS.md). With ``n_probe == C`` the route is bit-identical to
    exact (parity-tested); smaller probes are approximate Lloyd —
    standard for web-scale clustering.

    Returns (_vid, _v, _cid, _dist): each vector, its final cluster
    (named by the seed vector's id) and the squared L2 distance to the
    final centroid.

    Each assignment is MAP-ONLY: the k centroids are collected to the
    driver between iterations (k·dim doubles, bounded by construction
    — the same driver-side centroid hop Spark MLlib's KMeans does
    every Lloyd round) and closed over by ONE Arrow-batched
    ``pandas_udf`` that computes all k squared distances per vector
    with vectorized numpy and takes the (dist, cid) argmin — no N·k
    row expansion, no argmin shuffle, no broadcast exchange: the
    assignment plan is a single scan + ArrowEval stage.

    Bit-exactness contract (vs the DuckDB oracle's sequential-fold
    window argmin, and vs the pre-round-6 ``aggregate(zip_with(...))``
    column form): the kernel accumulates ``acc += (x_i - c_i)**2`` one
    DIMENSION at a time, left-to-right — the exact association order
    of the SQL fold — so every distance is the identical IEEE-double
    value (numpy vectorizes ACROSS rows/centroids, which commutes;
    Python floats round-trip the driver hop exactly). Ties pick the
    lowest cid (centroids sorted ascending, ``argmin`` keeps the first
    minimum) and NaN distances order above every number (matching
    Spark's and DuckDB's total order). Why not the pure column form:
    higher-order-function lambdas are interpreted per element on the
    JVM — measured ~2 s for 2000×32×64 at sf0.1 vs ~0.1 s Arrow-batched
    — and at 100 TB the Arrow kernel is the canonical shape anyway
    (tight numpy loops over columnar batches).

    Embedding arrays must be fixed-dimension; a NULL array yields the
    lowest cid with a null distance (the column form's behavior), and
    a null ELEMENT yields a NaN-family distance. NOTE the call is
    EAGER: the seed TakeOrdered and the iters−1 centroid-mean jobs run
    at call time (the driver hop), not at the consumer's action —
    construct the assignment only when you mean to run it.

    Input contract: ``id_col`` is a KEY (one row per id). The map-only
    shape emits one output row per input row — a frame with duplicated
    ids yields duplicated assignments (the pre-round-5 groupBy argmin
    collapsed them arbitrarily; dedup upstream if ids can repeat).
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    base = emb.select(
        F.col(id_col).alias("_vid"), _as_double(ident(vec_col)).alias("_v")
    )
    # seed centroids: the k lowest-id vectors — a bounded k-row collect
    # (TakeOrdered, no full sort)
    cents = [
        (r["_cid"], list(r["_c"]))
        for r in base.orderBy("_vid")
        .limit(k)
        .select(F.col("_vid").alias("_cid"), F.col("_v").alias("_c"))
        .collect()
    ]
    id_dt = base.schema["_vid"].dataType
    out_dt = StructType(
        [StructField("_cid", id_dt), StructField("_dist", DoubleType())]
    )
    assigned = None
    for it in range(iters):
        ordered = sorted(cents, key=lambda t: t[0])
        cids = np.asarray([cid for cid, _ in ordered], dtype=object)
        cmat = np.asarray([c for _, c in ordered], dtype=np.float64)

        assigned = base.withColumn(
            "_a", _assign_udf(out_dt, cids, cmat, route, n_probe)("_v")
        ).select(
            "_vid",
            "_v",
            F.col("_a")["_cid"].alias("_cid"),
            F.col("_a")["_dist"].alias("_dist"),
        )
        if it < iters - 1:
            # new centroid = per-dimension mean; decimal sum (exact,
            # order-independent), ONE double division at the end. k
            # rows come back to the driver (k·dim doubles, bounded).
            cents = [
                (r["_cid"], list(r["_c"]))
                for r in assigned.select(
                    "_cid", F.posexplode("_v").alias("_i", "_x")
                )
                .groupBy("_cid", "_i")
                .agg(
                    (
                        F.sum(F.col("_x").cast("decimal(27,12)")).cast("double")
                        / F.count("*")
                    ).alias("_m")
                )
                .groupBy("_cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_i", "_m"))),
                        lambda s: s["_m"],
                    ).alias("_c")
                )
                .collect()
            ]
    return assigned


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    tau: float = 0.2,
    route: str = "exact",
    n_probe: int | None = None,
) -> DataFrame:
    """SemDeDup keep/drop decision per vector.

    Clusters bound the pair space (blocking key); within a cluster any
    pair with cosine ≥ ``tau`` drops the higher id. Returns
    (vec_id, cluster, keep).

    NOTE: construction is EAGER — the underlying ``kmeans_assign`` runs
    its seed/centroid driver hops (Spark jobs) at CALL time, not at the
    consumer's first action (see the kmeans_assign docstring for why).
    """
    from pyield_spark.functions.numbers import pround_expr

    # The assignment feeds three consumers (both self-join sides + the
    # final keep-join). Without a checkpoint Spark does NOT reuse the
    # subplan (measured: 9 parquet scans, 15 exchanges, 0 ReusedExchange
    # — the full Lloyd lineage recomputes per consumer, a 3× recompute
    # of the clustering at 100 TB); pin materializes it
    # once. r4 measurement at sf0.1 (warm): eager=True 1.50s,
    # eager=False 1.60s, none 1.21s — the no-checkpoint local win is
    # small-data noise, the recompute is what hurts at scale. Same
    # pattern as graph.connected_components.
    assigned = pin(
        kmeans_assign(
            emb, id_col, vec_col, k=k, iters=iters,
            route=route, n_probe=n_probe,
        ).withColumn("_n2", norm_sq_dec("_v")),
        eager=True,
    )
    a = assigned.select(
        F.col("_vid").alias("_ida"), F.col("_v").alias("_va"),
        F.col("_n2").alias("_na"), "_cid",
    )
    b = assigned.select(
        F.col("_vid").alias("_idb"), F.col("_v").alias("_vb"),
        F.col("_n2").alias("_nb"), "_cid",
    )
    dropped = (
        a.join(b, "_cid")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn(
            "_cos",
            pround_expr(
                dot_dec("_va", "_vb")
                / (F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb"))),
                6,
            ),
        )
        # ~isnan: Spark's total order puts NaN above every double, so a
        # single NaN embedding component (NaN cosine for every pair it
        # touches) would otherwise pass `>= tau` and mass-drop its
        # cluster (review finding)
        .filter((F.col("_cos") >= tau) & ~F.isnan("_cos"))
        .select(F.col("_idb").alias("_vid"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("_drop", F.lit(True)), "_vid", "left")
        .select(
            F.col("_vid").alias(id_col),
            F.col("_cid").alias("cluster"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def intradoc_span_dedup(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
) -> DataFrame:
    """Within-document repetition removal: every repeated aligned span
    inside one document keeps only its FIRST occurrence, and the text is
    rebuilt in order (the transform behind Gopher-style repetition
    flags). Returns (id, n_spans, n_dropped, clean_text); docs without a
    complete span yield (0, 0, '').

    Scale shape: explode -> one (doc, span) groupBy with min(i)/count —
    map-side combinable, no window over the exploded set -> one groupBy
    per doc for the ordered rebuild. Both shuffles hash on uniform keys.
    """
    from pyield_spark.operators import text as tx

    sp = docs.select(
        id_col, F.posexplode(tx.spans_expr(text, span_tokens)).alias("i", "span")
    )
    firsts = sp.groupBy(id_col, "span").agg(
        F.min("i").alias("i"), F.count("*").alias("cnt")
    )
    agg = firsts.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("n_spans"),
        F.sum(F.col("cnt") - 1).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("i").alias("i"), F.col("span").alias("s"))
                    )
                ),
                lambda s: s["s"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return docs.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
