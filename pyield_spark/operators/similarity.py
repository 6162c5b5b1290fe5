"""Similarity search over embedding columns.

- ``cosine_topk``: brute-force top-k neighbors for a query subset —
  the exactness baseline. Dot products are sequential double folds
  (fixed association order — bit-identical across engines; see the
  note above ``norm_sq_dec``); the ``_dec`` suffixes are historical.
- ``lsh_bucket_expr``: random-hyperplane (sign-LSH) bucketing with a
  deterministic portable pseudo-hyperplane family — the 100 TB path:
  bucket-join candidates first, score only candidates.
- ``ivf_topk``: coarse inverted lists + exact in-list rescore — the
  indexed scale path when full vectors fit the scoring stage.
- ``pq_encode`` / ``ivfpq_topk``: the memory-bounded scale path —
  product-quantized codes at ingest, m-lookup ADC candidate scoring,
  exact refine of the ADC shortlist.
- ``hard_negatives``: different-label top-k mining over the same IVF
  machinery.

At scale the brute-force variant is O(Q·N); keep Q bounded (it's meant
for re-ranking LSH/IVF candidates, not full scans).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark.functions.frames import local_frame
from pyield_spark.functions.sql import ident
from pyield_spark.operators.pinning import pin


# The fold helpers below take SQL fragments (usually an internal column
# name; a user-supplied name goes through ``ident``) and build their
# expression in ONE F.expr parse instead of ~10-20 py4j round trips per
# call — they appear in every ANN query's build.


def _as_double_sql(vec: str) -> str:
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def _as_double(vec: str) -> Column:
    return F.expr(_as_double_sql(vec))


# Array folds evaluate LEFT-TO-RIGHT in both Spark (aggregate) and
# SQL engines (list_reduce) — a fixed association order — so plain
# double accumulation is already bit-deterministic across engines here,
# unlike groupBy sums (whose partial-aggregation order is arbitrary and
# does need decimal). Double folds are ~5× cheaper than decimal in the
# interpreted higher-order-function path.


def norm_sq_dec(vec: str) -> Column:
    """Σx² — sequential double fold (deterministic order)."""
    return F.expr(
        f"aggregate({_as_double_sql(vec)}, 0.0D, (acc, x) -> acc + x * x)"
    )


def dot_dec(a: str, b: str) -> Column:
    """Σaᵢbᵢ — sequential double fold over zipped arrays."""
    return F.expr(
        f"aggregate(zip_with({_as_double_sql(a)}, {_as_double_sql(b)},"
        " (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def cosine_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (brute force).

    Returns (query_id, neighbor_id, cosine, rnk); ties broken by
    neighbor id for determinism.
    """
    from pyspark.sql import Window

    base = emb.select(
        F.col(id_col).alias("_vid"), F.col(ident(vec_col)).alias("_vec")
    ).withColumn("_norm2", norm_sq_dec("_vec"))
    queries = base.filter(
        query_pred if query_pred is not None else (F.col("_vid") % 100 == 0)
    ).select(
        F.col("_vid").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm2").alias("_qnorm2"),
    )
    pairs = queries.crossJoin(base).filter(F.col("_vid") != F.col("query_id"))
    from pyield_spark.functions.numbers import pround_expr

    scored = pairs.withColumn(
        "cosine",
        pround_expr(
            dot_dec("_qvec", "_vec")
            / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_norm2"))),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        scored.filter(~F.isnan("cosine"))  # NaN sorts ABOVE all doubles
        # under desc — one NaN component would outrank every real
        # neighbor (review finding)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("_vid").alias("neighbor_id"),
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def lsh_bucket_expr(vec: str, n_planes: int = 8, dim: int = 64) -> Column:
    """Sign-LSH bucket id from deterministic pseudo-hyperplanes.

    Plane p weights component i by w(p,i) = ((1299721·p + 104729·i)
    mod 97) − 48 (a fixed, portable integer family ≈ centered uniform).
    Bucket = Σ_p 2^p·[⟨w_p, v⟩ > 0]. Same formula is expressible in the
    SQL oracle; at scale, equi-join on the bucket id prunes candidates.
    ``vec`` is a SQL fragment (a user column name goes through
    ``ident``).
    """
    v = _as_double(vec)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: x * (((F.lit(1299721 * p) + F.lit(104729) * i) % 97) - 48).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


class TrainedCodebooks:
    """Offline-trained IVF/PQ codebooks (the FAISS train/add/search
    split): ``coarse`` is the (C, dim) coarse-centroid list, ``pq[s]``
    the per-subspace codeword list. Produced by :func:`train_codebooks`
    ONCE per corpus from a bounded sample and then closed over by the
    ingest (``pq_encode``) and serve (``ivf_topk``/``ivfpq_topk``)
    paths — a few KB of driver state, broadcast-shipped, independent of
    corpus size. Coarse list ids are the training ranks 0..C-1 (trained
    centroids are synthetic points, not corpus vectors).

    ``rotation`` (OPQ — Ge et al., "Optimized Product Quantization",
    CVPR 2013) is an optional (dim, dim) orthogonal matrix learned by
    ``train_codebooks(opq_iters=...)``: vectors are rotated BEFORE
    subspace splitting so the PQ subspaces decorrelate, lifting the
    recall floor the fixed axis-aligned split leaves on correlated
    dims. Coarse centroids and codewords then live in ROTATED space;
    the serve path back-rotates them into original space at plan build
    (k·dim numpy, driver-side) so query expressions never change —
    ``dot(xR, c) == dot(x, cRᵀ)`` for orthogonal R.
    """

    def __init__(
        self,
        coarse: list[list[float]],
        pq: list[list[list[float]]] | None,
        by_residual: bool = False,
        rotation: list[list[float]] | None = None,
    ):
        self.coarse = coarse
        self.pq = pq
        self.by_residual = by_residual
        self.rotation = rotation

    @property
    def n_centroids(self) -> int:
        return len(self.coarse)

    @property
    def ks(self) -> int:
        return len(self.pq[0]) if self.pq else 0


def _lloyd_np(X, k: int, iters: int):
    """Deterministic driver-side Lloyd: seeds are the first ``k``
    sample rows (the sample is hash-ordered, so seeds are spread),
    ties to the first index, empty clusters keep their previous
    center. Pure numpy over a bounded sample — identical on every
    run/partitioning."""
    import numpy as np

    if not len(X):
        return X.reshape(0, X.shape[1] if X.ndim == 2 else 0)
    C = X[: min(k, len(X))].copy()
    for _ in range(iters):
        acc = np.zeros((len(X), len(C)))
        for i in range(X.shape[1]):
            d = X[:, i, None] - C[None, :, i]
            acc += d * d
        a = acc.argmin(axis=1)
        for c in range(len(C)):
            mem = X[a == c]
            if len(mem):
                C[c] = mem.mean(axis=0)
    return C


def train_codebooks(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int | None = 4,
    ks: int = 16,
    dim: int = 64,
    sample: int = 4096,
    iters: int = 8,
    by_residual: bool = False,
    opq_iters: int = 0,
) -> TrainedCodebooks:
    """Train IVF coarse centroids (and, with ``m``, per-subspace PQ
    codebooks) with deterministic Lloyd on a bounded corpus sample —
    the offline ``train`` step of the FAISS train/add/search split the
    untrained lowest-id codebooks stood in for (r7 VERDICT #1).

    Sampling: the ``sample`` lowest-``xxhash64(id)`` vectors — a
    TakeOrdered (top-k, no full sort) over a deterministic hash, so the
    sample is spread across the corpus, identical on every run and
    partitioning, and the driver hop is bounded at ``sample·dim``
    doubles REGARDLESS of corpus size (training cost is O(sample·k),
    never O(N) — the property that makes offline training viable at
    100 TB). NaN-containing and invalid vectors are excluded from
    training (they cannot move a mean meaningfully and would poison
    every centroid).

    ``by_residual=True`` trains the PQ codebooks on COARSE RESIDUALS
    (x − nearest coarse centroid) instead of raw vectors — the true
    FAISS IVFPQ encoding; pair it with ``pq_encode(..., codebooks=cb)``
    which reads the flag off the returned object.

    ``opq_iters > 0`` additionally learns an OPQ rotation (Ge et al.
    2013, the non-parametric alternating solver FAISS ships as
    ``OPQMatrix``): each round trains codebooks on the rotated sample,
    reconstructs it, and re-solves the orthogonal Procrustes problem
    ``min_R ‖XR − X̂‖_F`` via one SVD (R = UVᵀ of XᵀX̂) — all on the
    bounded driver-side sample, so train cost stays corpus-size-
    independent. The final codebooks are trained in the learned
    rotated space and shipped with ``rotation`` set; ``pq_encode`` and
    ``ivfpq_topk`` consume it transparently.

    Measured effect (tools/ann_recall.py, PLANS.md): on the synthetic
    near-orthogonal corpus the trained coarse quantizer balances list
    occupancy and the trained PQ codewords sit at the data's actual
    scale, lifting recall@5 off the untrained floor at equal n_probe.
    """
    import numpy as np

    if m is not None and dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    base = (
        emb.select(
            F.col(id_col).alias("_vid"),
            _as_double(ident(vec_col)).alias("_vec"),
        )
        .filter(F.col("_vec").isNotNull() & (F.size("_vec") == dim))
        .filter(~F.exists("_vec", lambda x: F.isnan(x) | x.isNull()))
    )
    rows = (
        base.orderBy(F.xxhash64("_vid").asc(), F.col("_vid").asc())
        .limit(sample)
        .select("_vec")
        .collect()
    )
    X = np.asarray([list(r["_vec"]) for r in rows], dtype=np.float64).reshape(
        -1, dim
    )

    def _coarse_assign(Xa, C):
        acc = np.zeros((len(Xa), len(C)))
        for i in range(dim):
            d = Xa[:, i, None] - C[None, :, i]
            acc += d * d
        return acc.argmin(axis=1)

    def _fit(Xa):
        """(coarse, pq_mats) trained on Xa; pq_mats is None when m is."""
        C = _lloyd_np(Xa, n_centroids, iters)
        if m is None:
            return C, None
        sub = dim // m
        T = Xa
        if by_residual and len(C):
            T = Xa - C[_coarse_assign(Xa, C)]
        mats = [
            _lloyd_np(
                np.ascontiguousarray(T[:, s * sub : (s + 1) * sub]), ks, iters
            )
            for s in range(m)
        ]
        return C, mats

    def _reconstruct(Xa, C, mats):
        """Quantize Xa with (C, mats) and return the reconstruction —
        codeword (+ coarse centroid in residual mode) per subspace."""
        sub = dim // m
        cass = _coarse_assign(Xa, C) if len(C) else np.zeros(len(Xa), int)
        T = Xa - C[cass] if (by_residual and len(C)) else Xa
        recon = C[cass].copy() if (by_residual and len(C)) else np.zeros_like(Xa)
        for s in range(m):
            cwm = mats[s]
            acc = np.zeros((len(Xa), len(cwm)))
            for i in range(sub):
                d = T[:, s * sub + i, None] - cwm[None, :, i]
                acc += d * d
            recon[:, s * sub : (s + 1) * sub] += cwm[acc.argmin(axis=1)]
        return recon

    rotation = None
    if opq_iters > 0:
        if m is None:
            raise ValueError("opq_iters requires PQ training (m is not None)")
        R = np.eye(dim)
        for _ in range(opq_iters):
            Xr = X @ R
            C, mats = _fit(Xr)
            if not len(X):
                break
            Xhat = _reconstruct(Xr, C, mats)
            # orthogonal Procrustes: min_R ||X R - Xhat||_F
            U, _, Vt = np.linalg.svd(X.T @ Xhat)
            R = U @ Vt
        X = X @ R
        rotation = [list(map(float, r)) for r in R]

    coarse, pq_mats = _fit(X)
    pq = (
        None
        if pq_mats is None
        else [[list(map(float, w)) for w in mat] for mat in pq_mats]
    )
    return TrainedCodebooks(
        [list(map(float, c)) for c in coarse], pq, by_residual, rotation
    )


def _trained_cents_frame(
    spark, codebooks: TrainedCodebooks
) -> DataFrame:
    """Materialize the trained coarse codebook as the same
    (_cid, _cvec, _cnorm2) frame ``_ivf_codebook`` yields — C literal
    rows, broadcast downstream. Norms accumulate left-to-right (python
    floats are exact doubles), the engines' fold order."""
    rows = []
    for i, c in enumerate(codebooks.coarse):
        n2 = 0.0
        for x in c:
            n2 += x * x
        rows.append((i, c, n2))
    return local_frame(spark, rows, "_cid long, _cvec array<double>, _cnorm2 double")


def _ivf_codebook(base: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic coarse codebook: the ``n_centroids`` lowest-id
    vectors (offline k-means would slot in here unchanged)."""
    return (
        base.orderBy("_vid")
        .limit(n_centroids)
        .select(
            F.col("_vid").alias("_cid"),
            F.col("_vec").alias("_cvec"),
            F.col("_norm2").alias("_cnorm2"),
        )
    )


def _ivf_nearest_lists(
    frame: DataFrame,
    cents: DataFrame,
    part_col: str,
    vec_col: str,
    norm_col: str,
    n: int,
    keep_dot: str | None = None,
) -> DataFrame:
    """Attach each row's ``n`` nearest list ids (``_cid``) in ONE
    broadcast codebook pass (cost rows·C, C small); every input column
    is preserved. Scores round to 6dp with cid tie-breaks so the
    assignment is bit-stable across engines. ``keep_dot`` additionally
    retains the RAW ⟨row, centroid⟩ dot product under that name — the
    residual-ADC term (dot(q, recon) = dot(q, c) + Σ LUT lookups)."""
    from pyspark.sql import Window

    from pyield_spark.functions.numbers import pround_expr

    score = pround_expr(
        dot_dec(ident(vec_col), "_cvec")
        / (F.sqrt(F.col(norm_col)) * F.sqrt(F.col("_cnorm2"))),
        6,
    )
    w = Window.partitionBy(part_col).orderBy(
        F.col("_cscore").desc(), F.col("_cid").asc()
    )
    out = frame.crossJoin(F.broadcast(cents)).withColumn("_cscore", score)
    if keep_dot is not None:
        out = out.withColumn(keep_dot, dot_dec(ident(vec_col), "_cvec"))
    return (
        out.withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") <= n)
        .drop("_cvec", "_cnorm2", "_cscore", "_crn")
    )


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    codebooks: TrainedCodebooks | None = None,
    candidate_pred: Column | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse codebook → inverted lists → probe → rescore.

    ``candidate_pred`` (a Column over ``emb``'s columns) enables
    FILTERED vector search: only index vectors satisfying the
    predicate are candidates — pre-filter semantics, i.e. the true
    top-k among matching vectors inside the probed lists (the vector-
    store "metadata filter" feature). The predicate evaluates at the
    corpus SCAN (pushed down with it — no extra join or shuffle), the
    shared codebook/lists are built from the FULL corpus so one index
    serves every filter, and queries need not satisfy the predicate.
    Selective filters thin the probed lists — raise ``n_probe`` to
    keep candidate counts (standard filtered-ANN practice).

    The default codebook is the ``n_centroids`` lowest-id vectors
    (deterministic on any engine — the oracle-expressible baseline);
    pass ``codebooks=train_codebooks(...)`` to serve from offline
    k-means-trained centroids instead (``n_centroids`` is then taken
    from the trained set; list ids are training ranks, requires an
    integer id column). Every vector is assigned to
    its nearest centroid in ONE broadcast pass (cost N·C, the standard
    IVF coarse quantization — C stays small). A query probes its
    ``n_probe`` nearest lists and rescores exactly ONLY inside them: the
    candidate join is an equi-join on the list id, so the pair space is
    ~N·n_probe/C per query instead of N — linear and shuffle-pruned at
    100 TB, with `cosine_topk` as the bounded exact rescorer.

    Scores are portably rounded (6dp) before ranking with id tie-breaks,
    so assignment, probing and the final top-k are bit-stable across
    engines.
    """
    from pyspark.sql import Window

    from pyield_spark.functions.numbers import pround_expr

    base = emb.select(
        F.col(id_col).alias("_vid"),
        F.col(ident(vec_col)).alias("_vec"),
        *([] if candidate_pred is None else [candidate_pred.alias("_cand")]),
    ).withColumn("_norm2", norm_sq_dec("_vec"))

    if codebooks is not None:
        if not codebooks.n_centroids:
            raise ValueError("trained codebooks are empty")
        cents = _trained_cents_frame(emb.sparkSession, codebooks)
    else:
        cents = _ivf_codebook(base, n_centroids)
    assigned = _ivf_nearest_lists(base, cents, "_vid", "_vec", "_norm2", 1)
    if candidate_pred is not None:
        # filter AFTER list assignment (the shared-index contract) but
        # the predicate itself evaluated at the scan projection
        assigned = assigned.filter(F.col("_cand")).drop("_cand")

    queries = base.filter(
        query_pred if query_pred is not None else (F.col("_vid") % 100 == 0)
    ).select(
        F.col("_vid").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm2").alias("_qnorm2"),
    )
    # Q·n_probe rows — materialized so the candidate join sees an
    # exactly-sized tiny build side (AQE broadcast; the corpus side
    # never shuffles) instead of planning against an unmaterialized
    # window subtree (same fix as ivfpq_topk, measured there)
    probes = pin(
        _ivf_nearest_lists(queries, cents, "query_id", "_qvec", "_qnorm2", n_probe),
        eager=False,
    )

    cand = probes.join(assigned, "_cid").filter(F.col("_vid") != F.col("query_id"))
    scored = cand.withColumn(
        "cosine",
        pround_expr(
            dot_dec("_qvec", "_vec")
            / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_norm2"))),
            6,
        ),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        scored.filter(~F.isnan("cosine"))  # NaN sorts ABOVE all doubles
        # under desc — one NaN component would outrank every real
        # neighbor (review finding)
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("_vid").alias("neighbor_id"),
            F.col("_cid").alias("list_id"),
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _sql_double(x: float) -> str:
    """Exact SQL double literal: repr(x) is the shortest roundtrip
    decimal, and Spark's ``<digits>D`` literal parses with
    Double.parseDouble — the same double back. Non-finite values take
    the cast spelling."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _sql_dmat(mat) -> str:
    """Nested array<array<double>> SQL literal for a codeword matrix."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(_sql_double(c) for c in w) + ")" for w in mat
        )
        + ")"
    )


def _cents_frame_from_head(spark, head, id_type) -> DataFrame:
    """The (_cid, _cvec, _cnorm2) coarse-codebook frame from
    already-collected ``(vid, vec)`` head rows — a LocalRelation twin
    of ``_ivf_codebook`` (same rows: the lowest-id vectors, _cid is
    the REAL vid), so the serve plan broadcasts a literal instead of
    re-running a scan+sort+limit subtree per consumer. Norms
    accumulate left-to-right (python floats are exact doubles), the
    ``norm_sq_dec`` fold order."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    rows = []
    for vid, vec in head:
        n2 = 0.0
        for x in vec:
            n2 += x * x
        rows.append((vid, vec, n2))
    schema = StructType([
        StructField("_cid", id_type),
        StructField("_cvec", ArrayType(DoubleType())),
        StructField("_cnorm2", DoubleType()),
    ])
    return local_frame(spark, rows, schema)


def _pq_codebooks_from_rows(vecs: list[list[float]], m: int, dim: int):
    """The pure slicing half of :func:`_pq_codebooks` over
    already-collected head vectors (python floats, exact doubles)."""
    sub = dim // m
    cb: list[list[list[float]]] = [[] for _ in range(m)]
    cbn: list[list[float]] = [[] for _ in range(m)]
    for vec in vecs:
        for s in range(m):
            sv = vec[s * sub : (s + 1) * sub]
            acc = 0.0
            for x in sv:
                acc += x * x
            cb[s].append(sv)
            cbn[s].append(acc)
    return cb, cbn


def _pq_codebooks(base: DataFrame, m: int, ks: int, dim: int):
    """Deterministic product-quantization sub-codebooks: the ``ks``
    lowest-id vectors, each sliced into ``m`` contiguous subvectors
    (offline k-means per subspace would slot in unchanged — the
    plumbing below is identical). One bounded driver hop of ks rows,
    the same collect class as the k-means centroid hop
    (``semantic.py``).

    Returns ``(cb, cbn)``: ``cb[s][j]`` = subvector (python floats,
    exact doubles), ``cbn[s][j]`` = its squared norm accumulated
    LEFT-TO-RIGHT — the same association order as the engine-side
    ``list_reduce``/``aggregate`` folds, so the value is bit-identical
    to what a SQL oracle computes from the same parquet cells.
    """
    rows = base.orderBy("_vid").limit(ks).select("_vec").collect()
    return _pq_codebooks_from_rows([list(r["_vec"]) for r in rows], m, dim)


def _pround_np(x, decimals: int = 6):
    """NumPy twin of ``pround_expr``: sign(x)·floor(|x|·10^d + 0.5)/10^d
    — the identical IEEE ops elementwise, so values are bit-equal to
    the column form (and to the SQL oracle's pround_sql)."""
    import numpy as np

    s = float(10**decimals)
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    codebooks: TrainedCodebooks | None = None,
    by_residual: bool | None = None,
    head: list | None = None,
) -> DataFrame:
    """The INGEST-TIME half of IVF-PQ: assign every vector to its
    coarse list and product-quantize it to ``m`` codeword indexes.

    ``head=`` (untrained path only) supplies the already-collected
    ``(vid, vec)`` lowest-id head rows so callers that need the same
    codebooks plan-side (``ivfpq_topk``) pay the bounded driver hop
    ONCE instead of once per consumer (r10 optimization).

    ``codebooks=`` serves trained centroids/codewords from
    :func:`train_codebooks` instead of the lowest-id head (list ids
    become training ranks; requires an integer id column).
    ``by_residual=True`` (default: the trained set's flag, else False)
    quantizes COARSE RESIDUALS x − c instead of raw vectors — true
    FAISS IVFPQ: codewords then only span the within-cell spread, so
    the same ``m·log2(ks)`` bits buy finer resolution; ``_pqn2``
    becomes the exact squared norm of the reconstruction c + r̂, so the
    serve-side ADC formula is unchanged in shape (it just adds the
    per-probe ⟨q, c⟩ term — see ``ivfpq_topk``).

    Returns the index frame ``(_vid, _vec, _norm2, _cid, _codes,
    _pqn2)`` that ``ivfpq_topk(index=...)`` serves from. In a real
    deployment this runs ONCE per corpus (or incrementally per
    partition at ingest) and is persisted — the per-query cost then
    excludes the encode entirely, exactly FAISS's train/add vs search
    split. The measured laps (PLANS.md) show why the split matters:
    encoding is the dominant one-off cost, while the serve path is
    m-lookup ADC over the probed lists.

    Execution: ONE bounded driver hop (the max(ks, n_centroids)
    lowest-id vectors — codebooks, same collect class as the k-means
    centroid hop) and then ONE map-only Arrow kernel pass over the
    corpus — ZERO exchanges; norms, coarse assignment and codes all
    accumulate one DIMENSION at a time, left-to-right, so every value
    is the bit-identical IEEE double the column-expression form (and
    the DuckDB oracle's ``list_reduce`` folds) produce — numpy
    vectorizes ACROSS rows/codewords, which commutes (same
    fold-order-preservation argument as the round-6 k-means kernel,
    ``semantic.py::_sqdist_np``). Ranking parity: coarse argmax /
    code argmin operate on 6dp-pround'd scores with first-index
    tie-breaks — identical to the expression path's (score, id)
    struct ordering; NaN scores are mapped to the ordering extremes
    the Spark sort would give them: a NaN COARSE score outranks every
    real score (NaN is greatest under DESC in both Spark and DuckDB,
    lowest-cid tie-break), a NaN CODE distance sorts last under ASC —
    so partial-NaN rows land exactly where the expression/oracle path
    puts them, and full-NaN vectors get list cids[0] / code 0.

    Codes quantize the RAW vectors (no-residual IVFPQ), so the index
    frame is reproducible from the corpus alone — see ``ivfpq_topk``
    for the determinism contract. The interpreted HOF expression form
    this kernel replaced cost ~10× more per vector (same bottleneck
    class as the round-6 Lloyd argmin finding, PLANS.md).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    base = emb.select(
        F.col(id_col).alias("_vid"), _as_double(ident(vec_col)).alias("_vec")
    ).filter(F.col("_vec").isNotNull() & (F.size("_vec") == dim))
    # ^ null / wrong-length embeddings are DROPPED from the index (they
    # cannot be quantized or served; np.stack on a ragged batch would
    # otherwise die with an obscure shape error). ivfpq_topk applies
    # the same predicate to its codebook base so the two construction
    # paths see identical codebooks.

    if codebooks is not None:
        if not codebooks.n_centroids or not codebooks.ks:
            raise ValueError("trained codebooks are empty")
        if by_residual is None:
            by_residual = codebooks.by_residual
        cmat = np.asarray(codebooks.coarse, dtype=np.float64).reshape(-1, dim)
        cid_arr = np.arange(cmat.shape[0], dtype=np.int64)
        n_cw = codebooks.ks
        cw = [
            np.asarray(codebooks.pq[s], dtype=np.float64).reshape(-1, sub)
            for s in range(m)
        ]
        rot = (
            np.asarray(codebooks.rotation, dtype=np.float64).reshape(dim, dim)
            if codebooks.rotation
            else None
        )
    else:
        rot = None
        by_residual = bool(by_residual)
        # one bounded driver hop: coarse centroids + PQ codebooks
        # (skipped when the caller already holds the head rows)
        if head is None:
            head = [
                (r["_vid"], list(r["_vec"]))
                for r in base.orderBy("_vid").limit(max(ks, n_centroids)).collect()
            ]
        ids = [vid for vid, _ in head]
        vecs = [list(v) for _, v in head]
        # reshape keeps the (0, dim) shape on an EMPTY corpus (np.asarray
        # of an empty list is 1-D and would break the per-dimension
        # folds); a corpus smaller than ks/n_centroids just yields
        # smaller codebooks
        cmat = np.asarray(vecs[:n_centroids], dtype=np.float64).reshape(-1, dim)
        cid_arr = np.asarray(ids[:n_centroids])
        n_cw = min(ks, len(vecs))
        cw = [
            np.asarray(
                [vecs[j][s * sub : (s + 1) * sub] for j in range(n_cw)],
                dtype=np.float64,
            ).reshape(-1, sub)
            for s in range(m)
        ]
    cn2 = np.zeros(cmat.shape[0])
    for i in range(dim):  # left-to-right fold, matches norm_sq_dec
        cn2 += cmat[:, i] * cmat[:, i]
    cwn = []
    for s in range(m):
        acc = np.zeros(n_cw)
        for i in range(sub):
            acc += cw[s][:, i] * cw[s][:, i]
        cwn.append(acc)

    id_type = base.schema["_vid"].dataType
    out_schema = StructType([
        StructField("_vid", id_type),
        StructField("_vec", ArrayType(DoubleType())),
        StructField("_norm2", DoubleType()),
        StructField("_cid", id_type),
        StructField("_codes", ArrayType(IntegerType())),
        StructField("_pqn2", DoubleType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["_vec"].to_numpy()).astype(np.float64, copy=False)
            n = X.shape[0]
            n2 = np.zeros(n)
            for i in range(dim):
                n2 += X[:, i] * X[:, i]
            # OPQ: quantization (assign/codes/recon) happens in ROTATED
            # space — output _vec/_norm2 stay original (the refine's
            # exact-cosine inputs); norms are rotation-invariant so the
            # original n2 serves the assignment score denominator too
            Xq = X @ rot if rot is not None else X
            dots = np.zeros((n, cmat.shape[0]))
            for i in range(dim):
                dots += Xq[:, i, None] * cmat[None, :, i]
            score = _pround_np(dots / (np.sqrt(n2)[:, None] * np.sqrt(cn2)[None, :]))
            # NaN → +inf so argmax picks the NaN-scoring column (first /
            # lowest-cid on ties): Spark's sort and the DuckDB oracle
            # both place NaN ABOVE every double under DESC, so a
            # partial-NaN score row (e.g. a zero-norm codebook vector
            # giving 0/0 in one column) must win the argmax exactly as
            # it wins the expression path's row_number (r7 ADVICE).
            # Full-NaN rows still land on cids[0] — same fixpoint.
            cass = np.where(np.isnan(score), np.inf, score).argmax(axis=1)
            # residual mode quantizes x − c (codes span the within-cell
            # spread); raw mode quantizes x itself (oracle-expressible)
            T = Xq - cmat[cass] if by_residual else Xq
            codes = np.empty((n, m), dtype=np.int32)
            pqn2 = np.zeros(n)
            for s in range(m):
                acc = np.zeros((n, n_cw))
                for i in range(sub):
                    d = T[:, s * sub + i, None] - cw[s][None, :, i]
                    acc += d * d
                dist = np.where(np.isnan(acc), np.inf, _pround_np(acc))
                cs = dist.argmin(axis=1)
                codes[:, s] = cs
                if not by_residual:
                    pqn2 += cwn[s][cs]  # Σ_s left-to-right over s
            if by_residual:
                # _pqn2 = ‖c + r̂‖² of the reconstruction, accumulated
                # per dimension left-to-right (same fold order) — keeps
                # the serve-side ADC denominator formula unchanged
                recon = cmat[cass].copy()
                for s in range(m):
                    recon[:, s * sub : (s + 1) * sub] += cw[s][codes[:, s]]
                pqn2 = np.zeros(n)
                for i in range(dim):
                    pqn2 += recon[:, i] * recon[:, i]
            yield pd.DataFrame({
                "_vid": pdf["_vid"],
                "_vec": list(X),
                "_norm2": n2,
                "_cid": cid_arr[cass],
                "_codes": list(codes),
                "_pqn2": pqn2,
            })

    return base.mapInPandas(kernel, out_schema)


def ivfpq_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    refine: int | None = None,
    dim: int = 64,
    index: DataFrame | None = None,
    codebooks: TrainedCodebooks | None = None,
    by_residual: bool | None = None,
) -> DataFrame:
    """IVF-PQ ANN: coarse inverted lists + product-quantized candidate
    scoring (ADC) + exact refine — the memory-bounded 100 TB scale path.

    Where ``ivf_topk`` rescans FULL vectors inside the probed lists,
    this variant scores candidates from ``m``-byte PQ codes via
    asymmetric distance computation (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011; the
    FAISS ``IVFPQ`` index family): each vector stores only its list id
    and ``m`` codeword indexes (here 4 codes ≈ 4 bytes vs 64 float64s —
    a 128× candidate-payload compression at scoring time), each query
    precomputes an ``m × ks`` dot-product lookup table against the
    broadcast sub-codebooks, and the candidate score is ``m`` table
    lookups — no dim-sized arithmetic per candidate. The ADC top-
    ``refine`` (default ``4·k``) then rescores EXACTLY and the final
    top-k ranks on the exact cosine, the standard refine step.

    Codes quantize the RAW vectors (FAISS ``by_residual=False`` — the
    no-residual IVFPQ variant), which keeps the codebooks
    list-independent and every stage oracle-expressible.

    Determinism: code assignment ranks the 6dp-rounded subspace L2
    distance with codeword-id tie-breaks; ADC and refine ranks round to
    6dp with neighbor-id tie-breaks; every reduction is a left-to-right
    fold. Bit-stable across engines (same contract as ``ivf_topk``).

    Pass ``index=`` a frame previously built by ``pq_encode`` (same
    corpus and parameters) to skip the ingest-time encode entirely —
    the serve-path contract; persisting that frame is how a real
    deployment amortizes the encode across query batches.

    Pass ``codebooks=train_codebooks(...)`` to serve from offline
    k-means-trained centroids/codewords (the FAISS train step; the
    lowest-id default is the oracle-expressible baseline), and/or
    ``by_residual=True`` for true residual IVFPQ — the ADC then adds
    the probed list's exact ⟨q, c⟩ term to the LUT sum (still zero
    extra passes: the dot rides the existing probe scoring). An
    ``index=`` frame must have been encoded with the SAME codebooks
    and residual flag — codes are meaningless under any other
    codebook. Both knobs default off, keeping every registered query
    oracle-exact; with ``n_probe == n_centroids`` and a corpus-sized
    ``refine`` the trained/residual routes remain bit-identical to
    brute force (the refine stage ranks on exact cosine — parity-
    pinned in tests/test_llm_ops.py).

    Recall contract (measured — PLANS.md "ANN recall envelope"): ADC
    resolves candidates to QUANTIZATION-CELL granularity, so size
    ``refine`` at least at the expected cell occupancy — the refine
    stage does the fine ranking the codes cannot. On a corpus with
    cluster structure the ladder recovers the exact top-k
    (test-pinned); on structure-free random vectors recall sits near
    the n_probe/C information floor whatever the refine — train real
    per-subspace codebooks offline for production corpora (they slot
    into ``_pq_codebooks`` unchanged).

    Returns (query_id, neighbor_id, list_id, adc_cosine, cosine, rnk)
    — ``adc_cosine`` the quantized score that selected the candidate,
    ``cosine``/``rnk`` the exact refine result.
    """
    from pyspark.sql import Window

    from pyield_spark.functions.numbers import pround_expr

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if refine is None:
        refine = 4 * k
    sub = dim // m

    base = (
        emb.select(
            F.col(id_col).alias("_vid"),
            _as_double(ident(vec_col)).alias("_vec"),
        )
        # same invalid-vector predicate as pq_encode — codebooks built
        # here (e2e mode) must match the ones a prebuilt index embeds
        .filter(F.col("_vec").isNotNull() & (F.size("_vec") == dim))
        .withColumn("_norm2", norm_sq_dec("_vec"))
    )

    # ingest-time half: coarse assignment + m codeword indexes per
    # vector (see pq_encode — all map-side, codes quantize raw vectors).
    # With a prebuilt index the codebooks derive from the INDEX frame
    # (same _vid/_vec/_norm2 columns, already materialized) — rebuilding
    # them from the raw corpus would re-run the norm folds over every
    # vector, the exact scan the index exists to amortize (measured:
    # ~2× the whole serve wall at the 100× lap).
    if codebooks is not None:
        # trained serve path: cents/codewords come from the trained
        # set (a prebuilt index, if given, must have been encoded with
        # the SAME codebooks — the codes are meaningless otherwise)
        if not codebooks.n_centroids or not codebooks.ks:
            raise ValueError("trained codebooks are empty")
        if by_residual is None:
            by_residual = codebooks.by_residual
        if codebooks.rotation:
            # OPQ serve: centroids/codewords live in ROTATED space —
            # back-rotate them into original space once at plan build
            # (dot(q, cRᵀ) == dot(qR, c) for orthogonal R), so the
            # probe scoring and the LUT keep reading the ORIGINAL
            # query vectors; effective codewords become dim-length
            # (R[:, s·sub:(s+1)·sub] @ w) and the LUT entry is a full
            # dim-dot instead of a subspace slice dot.
            import numpy as np

            Rm = np.asarray(codebooks.rotation, dtype=np.float64).reshape(
                dim, dim
            )
            c_back = (
                np.asarray(codebooks.coarse, dtype=np.float64).reshape(-1, dim)
                @ Rm.T
            )
            cents = _trained_cents_frame(
                emb.sparkSession,
                TrainedCodebooks([list(map(float, c)) for c in c_back], None),
            )
            cb_eff = [
                [
                    list(map(
                        float,
                        Rm[:, s * sub : (s + 1) * sub]
                        @ np.asarray(w, dtype=np.float64),
                    ))
                    for w in codebooks.pq[s]
                ]
                for s in range(m)
            ]
        else:
            cents = _trained_cents_frame(emb.sparkSession, codebooks)
            cb_eff = None
        cb = codebooks.pq
        assigned = (
            index
            if index is not None
            else pq_encode(
                emb, id_col, vec_col, n_centroids, m, ks, dim,
                codebooks=codebooks, by_residual=by_residual,
            )
        )
    elif index is not None:
        by_residual = bool(by_residual)
        cb_eff = None
        assigned = index
        cents = _ivf_codebook(index, n_centroids)
        cb, _cbn = _pq_codebooks(index, m, ks, dim)
    else:
        # single consumer downstream (the candidate join — the refine's
        # vector fetch reads `base`, not the encode output), so no
        # checkpoint: materializing the full wide index costs more than
        # it saves here (measured at the 100× lap — checkpointing
        # regressed end-to-end ~1.6× even pre-kernel). Callers who DO
        # want the index reused across calls pass ``index=`` instead.
        #
        # r10 optimization: ONE head collect serves all three codebook
        # consumers. pq_encode and _pq_codebooks each ran their own
        # TakeOrdered collect of the SAME max(ks, n_centroids)
        # lowest-id vectors, and _ivf_codebook added a third
        # scan+sort+limit subtree under every cents broadcast — one
        # bounded driver hop now feeds pq_encode (``head=``), the cb
        # slicing, and a literal cents LocalRelation (guide §1.2:
        # don't compute things twice). Values are reused verbatim;
        # cents norms accumulate left-to-right like norm_sq_dec.
        by_residual = bool(by_residual)
        cb_eff = None
        head = [
            (r["_vid"], list(r["_vec"]))
            for r in base.orderBy("_vid")
            .limit(max(ks, n_centroids))
            .select("_vid", "_vec")
            .collect()
        ]
        assigned = pq_encode(
            emb, id_col, vec_col, n_centroids, m, ks, dim,
            by_residual=by_residual, head=head,
        )
        cents = _cents_frame_from_head(
            emb.sparkSession, head[:n_centroids], base.schema["_vid"].dataType
        )
        cb, _cbn = _pq_codebooks_from_rows(
            [v for _, v in head[:ks]], m, dim
        )

    # --- queries: probe lists + the m×ks ADC lookup table -------------
    queries = base.filter(
        query_pred if query_pred is not None else (F.col("_vid") % 100 == 0)
    ).select(
        F.col("_vid").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm2").alias("_qnorm2"),
    )
    # len(cb[s]) — NOT ks — the codebooks hold min(ks, corpus_size)
    # codewords (a corpus or prebuilt index smaller than ks must not
    # IndexError at plan construction; codes from pq_encode are always
    # < len(cb[s]) by construction, so the LUT stays lookup-complete)
    if cb_eff is not None:
        # OPQ: dim-length back-rotated effective codewords — the LUT
        # entry is dot(full q, R[:, s_cols] @ w), no rotated query
        # column needed anywhere in the plan.
        # r10 optimization (here and below): the whole LUT is ONE
        # parsed SQL expression — codeword matrices as nested-array
        # literals, the per-codeword fold a transform() lambda — not
        # m·ks separate aggregate() Columns with per-component
        # F.lit()s. The old form cost ~2.5 s of pure py4j round-trips
        # per query BUILD (1024 lit calls + 128 lambda registrations,
        # measured); the parser takes ~30 ms and yields the identical
        # zip_with/aggregate fold tree → bit-identical LUT
        # (probe-verified equal on collect).
        lut = F.expr(
            "array(" + ", ".join(
                f"transform({_sql_dmat(cb_eff[s])}, w -> aggregate("
                "zip_with(_qvec, w, (x, c) -> x * c),"
                " 0.0D, (acc, x) -> acc + x))"
                for s in range(m)
            ) + ")"
        )
    else:
        lut = F.expr(
            "array(" + ", ".join(
                f"transform({_sql_dmat(cb[s])}, w -> aggregate("
                f"zip_with(slice(_qvec, {s * sub + 1}, {sub}), w,"
                " (x, c) -> x * c), 0.0D, (acc, x) -> acc + x))"
                for s in range(m)
            ) + ")"
        )
    # probes is Q·n_probe rows (bounded by the query batch) —
    # materialize it so (a) the candidate join sees an exactly-sized
    # tiny build side (AQE broadcast, the corpus never shuffles) and
    # (b) the per-query LUT folds compute once, not once per consumer.
    # Measured at the 100× lap: the serve wall drops ~4× (the
    # unmaterialized window subtree was dominating the whole path).
    probes = pin(
        _ivf_nearest_lists(
            queries.withColumn("_lut", lut), cents, "query_id", "_qvec",
            "_qnorm2", n_probe,
            # residual ADC needs the raw ⟨q, c⟩ of each probed list:
            # dot(q, c + r̂) = ⟨q, c⟩ + Σ_s LUT[s][code_s]
            keep_dot="_qcdot" if by_residual else None,
        ),
        eager=False,
    )

    # --- ADC scoring: m table lookups per candidate, no dim-sized work.
    # The candidate stream is CODES-ONLY: neither side's full vector
    # enters the join or the ranking exchange (the whole point of PQ —
    # candidate rows are (query_id, _vid, _cid, adc) ≈ 28 bytes, not
    # 64 doubles); the shortlist fetches vectors BY KEY afterwards.
    probe_cols = ["query_id", "_qnorm2", "_lut", "_cid"] + (
        ["_qcdot"] if by_residual else []
    )
    cand = (
        probes.select(*probe_cols)
        .join(assigned.select("_vid", "_cid", "_codes", "_pqn2"), "_cid")
        .filter(F.col("_vid") != F.col("query_id"))
    )
    adc_dot = F.col("_qcdot") if by_residual else F.lit(0.0)
    for s in range(m):
        adc_dot = adc_dot + F.get(F.get("_lut", s), F.get("_codes", s))
    scored = cand.withColumn(
        "adc_cosine",
        pround_expr(
            adc_dot / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_pqn2"))), 6
        ),
    ).select("query_id", "_vid", "_cid", "adc_cosine")
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_cosine").desc(), F.col("_vid").asc()
    )
    shortlist = (
        scored.filter(~F.isnan("adc_cosine"))  # NaN outranks under desc
        .withColumn("_arn", F.row_number().over(w_adc))
        .filter(F.col("_arn") <= refine)
    )

    # --- exact refine over the bounded shortlist: fetch the refine·Q
    # full vectors by key (AQE broadcasts the tiny shortlist, so the
    # corpus side never shuffles), then score exactly. Vector source:
    # the prebuilt index when given (already materialized — no raw
    # rescan), else BASE — not `assigned`, whose coarse-assignment
    # window would re-execute for this branch (column pruning drops
    # expressions, not exchanges; measured ~2× the e2e wall) ----------
    vec_src = assigned if index is not None else base
    refined = (
        shortlist
        .join(vec_src.select("_vid", "_vec", "_norm2"), "_vid")
        .join(
            queries.select("query_id", "_qvec", "_qnorm2"), "query_id"
        )
        .withColumn(
            "cosine",
            pround_expr(
                dot_dec("_qvec", "_vec")
                / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_norm2"))),
                6,
            ),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        refined.filter(~F.isnan("cosine"))
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("_vid").alias("neighbor_id"),
            F.col("_cid").alias("list_id"),
            "adc_cosine",
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def sq8_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
) -> DataFrame:
    """Scalar quantization (FAISS ``ScalarQuantizer`` QT_8bit /
    QT_4bit via ``bits``): per-DIMENSION corpus min/max train the
    affine code ``q_d = floor((x_d − mn_d) / (mx_d − mn_d) · levels +
    0.5)`` with ``levels = 2^bits − 1`` — each vector stores ``dim``
    ``bits``-wide codes instead of ``dim`` float64s (8× compression at
    QT_8bit, 16× at QT_4bit; the rungs between exact floats and the
    128× PQ codes — QT_8bit near-exact, QT_4bit trades recall floor
    for half the scan payload, see tools/ann_recall.py envelope).

    Execution: the (mn, mx) stats are ONE engine-side aggregate row
    (order-independent min/max — never collected to the driver)
    broadcast onto the corpus; the encode itself is a map-only
    expression. Returns (_vid, _vec, _norm2, _codes array<int>, _mn,
    _mx) — the serve frame ``sq8_topk(index=...)`` consumes; persist it
    once per corpus like the PQ index.

    Portability: quantize is ``floor(v·255 + 0.5)`` on non-negative
    spans and dequant is ``mn + (q · span) / 255`` — fixed IEEE op
    order, replayed exactly in the DuckDB oracle. NaN-containing and
    invalid vectors are dropped from the index (NaN cannot quantize;
    same predicate class as pq_encode/train_codebooks).
    """
    base = _sq_base(emb, id_col, vec_col, dim)
    if not 2 <= bits <= 8:
        raise ValueError(f"bits must be in [2, 8]: {bits}")
    mn_e, mx_e = _sq_stats_exprs(dim)
    stats = base.agg(mn_e.alias("_mn"), mx_e.alias("_mx"))
    enc = base.crossJoin(F.broadcast(stats))
    code = F.expr(
        sq8_quant_sql("_vec", "_mn", "_mx", levels=(1 << bits) - 1)
    )
    return enc.select(
        "_vid", "_vec", "_norm2", code.alias("_codes"), "_mn", "_mx"
    ).withMetadata("_codes", {"bits": bits})
    # ^ the code domain rides the SCHEMA (column metadata), so a serve
    # call with mismatched bits= fails loudly at plan build instead of
    # silently mis-dequantizing (review fix; best-effort — metadata
    # lost through an exotic rewrite just skips the check)


def _sq_stats_exprs(dim: int):
    """Per-dimension (min, max) stats arrays as ONE parsed SQL
    expression each. The Column form (dim F.min(F.get(...)) builds per
    array) cost ~0.3 s of py4j round-trips per call at dim=64 (r10
    optimization); ``_vec[d]`` is GetArrayItem — same null-on-OOB
    semantics as ``F.get``, and ``_sq_base`` pins size == dim so OOB
    never occurs. Values identical."""
    mn = F.expr(
        "array(" + ", ".join(f"min(_vec[{d}])" for d in range(dim)) + ")"
    )
    mx = F.expr(
        "array(" + ", ".join(f"max(_vec[{d}])" for d in range(dim)) + ")"
    )
    return mn, mx


def _sq_base(
    emb: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """The SQ index-side input contract, in ONE place so the
    add==rebuild bit-parity can never drift on the invalid-vector
    predicate (review fix): wrong-length/null vectors and any vector
    with a NaN/null component are dropped (NaN cannot quantize)."""
    return (
        emb.select(
            F.col(id_col).alias("_vid"), _as_double(ident(vec_col)).alias("_vec")
        )
        .filter(F.col("_vec").isNotNull() & (F.size("_vec") == dim))
        # parsed-SQL twin of ~F.exists(..., isnan | isNull) — same tree
        .filter(F.expr("NOT exists(_vec, x -> isnan(x) OR (x IS NULL))"))
        .withColumn("_norm2", norm_sq_dec("_vec"))
    )


def ivf_assign(index: DataFrame, n_centroids: int) -> DataFrame:
    """The ingest half of IVF serving: attach each index row's coarse
    list id ``_cid`` (nearest of the deterministic lowest-id
    ``n_centroids`` codebook) in one broadcast pass. Run ONCE per
    corpus and persist alongside the encode output —
    ``sq8_topk``/``hybrid_rrf`` detect the ``_cid`` column and skip
    the per-call N·C assignment, the term that otherwise dominates
    single-query / small-batch serves (a 1-query serve pays 16× the
    brute scan in assignment if rebuilt inline; measured in PLANS.md
    r10 hybrid rows). The serve call must pass the SAME
    ``n_centroids`` so its probe codebook matches this assignment."""
    cents = _ivf_codebook(index, n_centroids)
    return _ivf_nearest_lists(
        index, cents, "_vid", "_vec", "_norm2", 1
    ).withMetadata("_cid", {"n_centroids": n_centroids})
    # ^ recorded in the schema so a serve call probing a DIFFERENT
    # codebook size fails at plan build (review fix)


def sq8_quant_sql(
    vec: str, mn: str, mx: str, clamp: bool = False, levels: int = 255
) -> str:
    """``q_d = floor((x_d − mn_d) / (mx_d − mn_d) · levels + 0.5)``
    (0 on a degenerate span) over SQL fragments; ``levels = 2^bits −
    1`` (255 for QT_8bit, 15 for QT_4bit). ``clamp=True`` pins codes to
    [0, levels] — a no-op when x sits inside the trained span, REQUIRED
    when encoding a new batch against FROZEN stats (``sq8_index_add``),
    where an out-of-span value would otherwise produce an out-of-domain
    code."""
    lv = f"{float(levels)!r}D"
    raw = f"CAST(floor((x - s.mn) / (s.mx - s.mn) * {lv} + 0.5D) AS INT)"
    if clamp:
        raw = f"greatest(0, least({levels}, {raw}))"
    return (
        f"zip_with({vec}, zip_with({mn}, {mx},"
        " (a, b) -> struct(a AS mn, b AS mx)),"
        f" (x, s) -> CASE WHEN s.mx = s.mn THEN 0 ELSE {raw} END)"
    )


def sq8_index_add(
    index: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    drift: str = "warn",
    drift_tol: float = 0.0,
    n_centroids: int | None = None,
    bits: int = 8,
) -> DataFrame:
    """Append a new batch to a persisted SQ8 index with FROZEN
    per-dimension stats — the second half of FAISS's add-vs-search
    split (r9 VERDICT #4): ``sq8_encode`` trains+adds in one pass; an
    ingestion pipeline calls THIS per arriving batch so the stats (and
    codes of already-indexed vectors) never churn.

    The batch encodes against the index's ``_mn``/``_mx`` (one-row
    bounded hop) with codes CLAMPED to the [0, 2^bits − 1] domain
    (``bits`` must match the index build — the domain is cross-checked
    against the schema metadata ``sq8_encode`` records); if ``index`` is
    pre-assigned (``ivf_assign`` — has ``_cid``), pass the SAME
    ``n_centroids`` and the batch is assigned against the index's
    frozen lowest-id codebook too.

    Parity contract (test-pinned): when the batch stays inside the
    trained span (and introduces no ids below the codebook rows),
    ``sq8_index_add(sq8_encode(prefix), batch)`` is BIT-IDENTICAL to
    ``sq8_encode(prefix ∪ batch)`` — the clamp and the frozen stats
    are both no-ops then.

    Drift guard: one bounded aggregate over the batch (2·dim doubles
    to the driver) compares the batch's per-dim min/max against the
    frozen span widened by ``drift_tol``·span per side.
    ``drift="error"`` raises, ``"warn"`` (default) emits a
    ``UserWarning`` naming the worst dims, ``"ignore"`` skips the
    aggregate entirely. A drifted batch still encodes correctly (codes
    clamp; recall degrades gracefully as mass piles at 0/255) — the
    guard is the re-train signal, mirroring FAISS operational
    practice.
    """
    if drift not in ("error", "warn", "ignore"):
        raise ValueError(f"drift must be error|warn|ignore: {drift!r}")
    _check_index_meta(index, "_codes", "bits", bits, "SQ code domain")
    if "_cid" in index.columns and n_centroids is not None:
        _check_index_meta(
            index, "_cid", "n_centroids", n_centroids, "IVF codebook"
        )
    stats_row = index.select("_mn", "_mx").head()
    if stats_row is None:
        raise ValueError("sq8_index_add: empty index (no frozen stats)")
    batch = _sq_base(emb, id_col, vec_col, dim)
    if drift != "ignore":
        bmn_e, bmx_e = _sq_stats_exprs(dim)
        brow = batch.agg(bmn_e.alias("_bmn"), bmx_e.alias("_bmx")).head()
        mn, mx = stats_row["_mn"], stats_row["_mx"]
        drifted = []
        if brow["_bmn"] and brow["_bmn"][0] is not None:  # non-empty batch
            for d in range(dim):
                span = mx[d] - mn[d]
                lo, hi = mn[d] - drift_tol * span, mx[d] + drift_tol * span
                if brow["_bmn"][d] < lo or brow["_bmx"][d] > hi:
                    drifted.append(
                        (max(lo - brow["_bmn"][d], brow["_bmx"][d] - hi), d)
                    )
        if drifted:
            drifted.sort(reverse=True)
            msg = (
                f"sq8_index_add: batch exceeds the frozen stats span on "
                f"{len(drifted)}/{dim} dims (worst: "
                + ", ".join(f"d{d} by {by:.4g}" for by, d in drifted[:3])
                + ") — codes will clamp; re-train the index to recover "
                "resolution"
            )
            if drift == "error":
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, UserWarning, stacklevel=2)
    # r11 (the 860e84d literal recipe): the frozen stats are ALREADY on
    # the driver (stats_row head above) — ship them into the batch
    # encode as two parsed-SQL literal arrays (repr() round-trips each
    # double exactly) instead of a limit(1)+broadcast+crossJoin that
    # re-reads the index checkpoint at exec time. The batch encode
    # becomes map-only: one BroadcastExchange job and one index pass
    # fewer per add. Values identical — the literals ARE the values the
    # broadcast delivered. Falls back to the broadcast form iff a
    # hand-built index carries null stats elements (no literal
    # spelling distinguishes them portably).
    mn_v, mx_v = stats_row["_mn"], stats_row["_mx"]
    if (
        mn_v is not None
        and mx_v is not None
        and all(v is not None for v in mn_v)
        and all(v is not None for v in mx_v)
    ):
        mn_sql = "array(" + ", ".join(_sql_double(v) for v in mn_v) + ")"
        mx_sql = "array(" + ", ".join(_sql_double(v) for v in mx_v) + ")"
        code = F.expr(
            sq8_quant_sql(
                "_vec", mn_sql, mx_sql, clamp=True,
                levels=(1 << bits) - 1,  # must match the index build
            )
        )
        out = batch.select(
            "_vid", "_vec", "_norm2", code.alias("_codes"),
            F.expr(mn_sql).alias("_mn"), F.expr(mx_sql).alias("_mx"),
        )
    else:  # pragma: no cover - exotic hand-built index
        enc = batch.crossJoin(
            F.broadcast(index.select("_mn", "_mx").limit(1))
        )
        code = F.expr(
            sq8_quant_sql(
                "_vec", "_mn", "_mx", clamp=True, levels=(1 << bits) - 1
            )
        )
        out = enc.select(
            "_vid", "_vec", "_norm2", code.alias("_codes"), "_mn", "_mx"
        )
    if "_cid" in index.columns:
        if n_centroids is None:
            raise ValueError(
                "pre-assigned index (has _cid): pass the build-time "
                "n_centroids so the batch joins the same frozen codebook"
            )
        cents = _ivf_codebook(index, n_centroids)
        out = _ivf_nearest_lists(out, cents, "_vid", "_vec", "_norm2", 1)
    merged = index.unionByName(out)
    # re-stamp the recorded parameters (union metadata propagation is
    # not contractual across Spark versions)
    merged = merged.withMetadata("_codes", {"bits": bits})
    if "_cid" in index.columns and n_centroids is not None:
        merged = merged.withMetadata("_cid", {"n_centroids": n_centroids})
    return merged


def _check_index_meta(frame: DataFrame, col: str, key: str, want, what: str):
    """Plan-time build-vs-serve guard: compare a recorded index
    parameter (column metadata written by sq8_encode/ivf_assign)
    against the serve call's. Best-effort — absent metadata skips."""
    try:
        meta = frame.schema[col].metadata or {}
    except (KeyError, TypeError):
        return
    got = meta.get(key)
    if got is not None and got != want:
        raise ValueError(
            f"{what} mismatch: index recorded {key}={got}, "
            f"this call passed {key}={want} — codes/lists are "
            "meaningless under different parameters"
        )


def sq8_dequant_sql(codes: str, mn: str, mx: str, levels: int = 255) -> str:
    """``x̂_d = mn_d + (q_d · (mx_d − mn_d)) / levels`` over SQL
    fragments — the dequantized corpus vector the asymmetric SQ scorer
    reads (``levels = 2^bits − 1``). Fixed IEEE op order, replayed
    exactly in the DuckDB oracles; shared by ``sq8_topk``,
    ``hybrid_rrf(route="ivf_sq8")`` and the vocab coverage scorer."""
    lv = f"{float(levels)!r}D"
    return (
        f"zip_with({codes}, zip_with({mn}, {mx},"
        " (a, b) -> struct(a AS mn, b AS mx)),"
        f" (q, s) -> s.mn + (CAST(q AS DOUBLE) * (s.mx - s.mn)) / {lv})"
    )


def sq8_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
    refine: int | None = None,
    dim: int = 64,
    index: DataFrame | None = None,
    n_centroids: int | None = None,
    n_probe: int = 4,
    bits: int = 8,
) -> DataFrame:
    """Top-k cosine ANN over SQ codes: candidates score against the
    DEQUANTIZED corpus (``x̂_d = mn_d + (q_d · span_d) / levels``,
    ``levels = 2^bits − 1``; asymmetric: queries stay exact floats),
    the ``refine`` (default 4k) best rescore exactly, final rank on
    the exact cosine — the same shortlist→refine ladder as
    ``ivfpq_topk`` with a much finer compressed first stage (8× at
    the QT_8bit default, 16× at ``bits=4``). ``bits`` must match the
    index build (``sq8_encode(bits=...)``) when ``index=`` is passed —
    the code domain is not recorded in the frame.

    ``n_centroids=None`` (default) scans the whole compressed corpus
    per query — the exact-first-stage baseline. Passing an int
    composes the SAME IVF list pruning the PQ route uses (lowest-id
    coarse codebook, ``n_probe`` probed lists, equi-join candidates)
    with SQ8 scoring inside the lists — IVF-SQ8, FAISS's
    ``IVF<n>,SQ8`` index family: the compute path when the brute
    compressed scan is the wall (measured in PLANS.md).

    Scale shape: the candidate scan reads dim BYTES per corpus vector
    instead of dim float64s — at 100 TB that is the difference between
    an 800 GB and a 100 GB scan per query batch. Scores round to 6dp
    with id tie-breaks; bit-stable across engines.

    Returns (query_id, neighbor_id, sq_cosine, cosine, rnk) — IVF mode
    additionally carries ``list_id``.
    """
    from pyspark.sql import Window

    from pyield_spark.functions.numbers import pround_expr

    if refine is None:
        refine = 4 * k
    # e2e: the encode subtree has THREE consumers (stats agg inside
    # the encode, the scored corpus scan, the refine by-key fetch) and
    # Spark replays unshared subplans per consumer — one lazy
    # checkpoint scans the corpus once (measured: consistent ~8% at
    # sf0.1; the win grows with corpus size, and the 100× lap serves
    # from a persisted index= anyway)
    if index is not None:
        _check_index_meta(index, "_codes", "bits", bits, "SQ code domain")
        if n_centroids and "_cid" in index.columns:
            _check_index_meta(
                index, "_cid", "n_centroids", n_centroids, "IVF codebook"
            )
    assigned = (
        index
        if index is not None
        else pin(sq8_encode(emb, id_col, vec_col, dim, bits), eager=False)
    )
    deq = F.expr(
        sq8_dequant_sql("_codes", "_mn", "_mx", levels=(1 << bits) - 1)
    )
    # a pre-assigned index (ivf_assign output) carries _cid — keep it
    # so the n_centroids branch skips the per-call N·C assignment
    pre_cid = ["_cid"] if "_cid" in assigned.columns else []
    corpus = assigned.select(
        "_vid", "_vec", "_norm2", *pre_cid, deq.alias("_dq")
    ).withColumn("_dqn2", norm_sq_dec("_dq"))

    # tiny side: AQE broadcasts it, the corpus never shuffles (same
    # shape as ivf/ivfpq probes)
    queries = pin(
        assigned.filter(
            query_pred if query_pred is not None else (F.col("_vid") % 100 == 0)
        ).select(
            F.col("_vid").alias("query_id"),
            F.col("_vec").alias("_qvec"),
            F.col("_norm2").alias("_qnorm2"),
        ),
        eager=False,
    )
    if n_centroids:
        # IVF-SQ8: coarse lists over the index frame, probed-list
        # equi-join replaces the full cross product (same codebook /
        # probe helpers as ivf_topk/ivfpq_topk). A pre-assigned index
        # (ivf_assign, SAME n_centroids) already carries _cid and
        # skips this N·C pass.
        cents = _ivf_codebook(assigned, n_centroids)
        corpus_l = corpus if pre_cid else _ivf_nearest_lists(
            corpus, cents, "_vid", "_vec", "_norm2", 1
        )
        probes = pin(
            _ivf_nearest_lists(
                queries, cents, "query_id", "_qvec", "_qnorm2", n_probe
            ),
            eager=False,
        )
        cand = probes.join(corpus_l, "_cid").filter(
            F.col("_vid") != F.col("query_id")
        )
    else:
        cand = queries.crossJoin(corpus).filter(
            F.col("_vid") != F.col("query_id")
        )
    scored = cand.withColumn(
        "sq_cosine",
        pround_expr(
            dot_dec("_qvec", "_dq")
            / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_dqn2"))),
            6,
        ),
    )
    w_sq = Window.partitionBy("query_id").orderBy(
        F.col("sq_cosine").desc(), F.col("_vid").asc()
    )
    # the candidate stream entering the ranking window is
    # (query_id, _vid, sq_cosine) ≈ 24 bytes — neither side's vector
    # rides through the Q·N sort (measured at the 100× lap: carrying
    # the 512-byte query vector made the window sort the wall); the
    # refine fetches both vectors BY KEY over the tiny shortlist
    keep = ["query_id", "_vid", "sq_cosine"] + (["_cid"] if n_centroids else [])
    shortlist = (
        scored.select(*keep)
        .filter(~F.isnan("sq_cosine"))
        .withColumn("_srn", F.row_number().over(w_sq))
        .filter(F.col("_srn") <= refine)
    )
    refined = shortlist.join(
        corpus.select("_vid", "_vec", "_norm2"), "_vid"
    ).join(
        queries.select("query_id", "_qvec", "_qnorm2"), "query_id"
    ).withColumn(
        "cosine",
        pround_expr(
            dot_dec("_qvec", "_vec")
            / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_norm2"))),
            6,
        ),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        refined.filter(~F.isnan("cosine"))
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("_vid").alias("neighbor_id"),
            *(
                [F.col("_cid").alias("list_id")]
                if n_centroids
                else []
            ),
            "sq_cosine",
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def hard_negatives(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_pred: Column | None = None,
    k: int = 3,
    prune: str | None = "ivf",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe,
    the top-k most-cosine-similar vectors with a DIFFERENT label —
    near-misses the loss learns the most from (the standard dense-
    retrieval / embedding-training curation step).

    .. warning:: **Default changed (round 6):** ``prune`` now defaults
       to ``"ivf"`` (approximate, the at-scale path) where it used to
       be ``None`` (exact brute force). Callers that relied on the old
       default's exactness must now pass ``prune=None`` explicitly —
       or raise ``n_probe`` to ``n_centroids``, which makes the pruned
       route bit-identical to brute force (parity-pinned).

    ``prune``:
      - ``None`` (explicit exactness opt-out): brute-force baseline
        (unbounded crossJoin — a quadratic scale cliff on a large
        corpus) — bound the probe set via ``query_pred`` for anything
        beyond re-verification. With ``n_probe == n_centroids`` the
        default route is bit-identical to this anyway (parity-pinned),
        so reach for it only when the codebook build itself must go.
      - ``"ivf"`` (the DEFAULT — the 100 TB path, what
        ``q_hard_negatives`` uses): candidates come
        from the same coarse-codebook inverted lists as ``ivf_topk`` —
        every vector lands in one list, each probe searches its
        ``n_probe`` nearest lists, and only in-list different-label
        candidates are rescored exactly. Pair space ≈ Q·N·n_probe/C
        (linear, equi-join on the list id) instead of Q·N. With
        ``n_probe == n_centroids`` the search is exhaustive and
        bit-identical to brute force (the parity test pins this).
        Recall envelope (measured, tests/test_llm_ops.py): on a corpus
        WITH cluster structure the pruned route recovers brute force
        fully from 2 of 8 lists (hard negatives live near their
        probes); on structure-free uniform-random vectors recall
        degrades toward the information-free ``n_probe/C`` floor
        (~0.33 at 4/16 on the synthetic test table) — raise
        ``n_probe`` or go exhaustive for such inputs.

    Ties break on neighbor id for determinism. Returns (query_id,
    query_label, neighbor_id, neighbor_label, cosine, rnk).
    """
    from pyspark.sql import Window

    from pyield_spark.functions.numbers import pround_expr

    base = emb.select(
        F.col(id_col).alias("_vid"),
        F.col(label_col).cast("int").alias("_lbl"),
        F.col(ident(vec_col)).alias("_vec"),
    ).withColumn("_norm2", norm_sq_dec("_vec"))
    probes = (base.filter(query_pred) if query_pred is not None else base).select(
        F.col("_vid").alias("query_id"),
        F.col("_lbl").alias("query_label"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm2").alias("_qnorm2"),
    )
    if prune == "ivf":
        cents = _ivf_codebook(base, n_centroids)
        assigned = _ivf_nearest_lists(base, cents, "_vid", "_vec", "_norm2", 1)
        probed = _ivf_nearest_lists(
            probes, cents, "query_id", "_qvec", "_qnorm2", n_probe
        )
        if query_pred is not None:
            # Q·n_probe rows — broadcast-sized build side for the
            # candidate join (same fix as ivf_topk). Only when the
            # probe set is bounded: with query_pred=None probes are
            # CORPUS-sized and materializing n_probe copies of every
            # vector would trade a shuffle for an O(N·n_probe) pin.
            probed = pin(probed, eager=False)
        # equi-join on the list id — the pruning step; the self pair is
        # removed by the label filter (a vector shares its own label)
        pairs = probed.join(assigned, "_cid").filter(
            F.col("_lbl") != F.col("query_label")
        )
    elif prune is None:
        if query_pred is None:
            import warnings

            warnings.warn(
                "hard_negatives(prune=None) without query_pred builds an "
                "unbounded N x N crossJoin — exact, but quadratic in the "
                "corpus; bound the probe set or use the default "
                "prune='ivf' route",
                stacklevel=2,
            )
        pairs = probes.crossJoin(base).filter(
            F.col("_lbl") != F.col("query_label")
        )
    else:
        raise ValueError(f"unknown prune mode: {prune!r}")
    scored = pairs.withColumn(
        "cosine",
        pround_expr(
            dot_dec("_qvec", "_vec")
            / (F.sqrt(F.col("_qnorm2")) * F.sqrt(F.col("_norm2"))),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        scored.filter(~F.isnan("cosine"))  # NaN sorts ABOVE all doubles
        # under desc — one NaN component would outrank every real
        # neighbor (review finding)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "query_label",
            F.col("_vid").alias("neighbor_id"),
            F.col("_lbl").alias("neighbor_label"),
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def mmr_rerank(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    shortlist_n: int = 10,
    k: int = 5,
    lam: float = 0.7,
    shortlist: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998) of the cosine shortlist: greedily select k
    of the top-``shortlist_n`` neighbors per query, each step taking
    argmax over the remaining candidates of
    ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` — relevance traded
    against redundancy with what is already picked, the standard
    rerank between retrieval and a context window.

    Spark-first shape (r10 optimization): ONE shuffle — the shortlist
    (with vectors re-joined BY KEY) groups by ``query_id`` and a
    single Arrow-batched kernel runs the whole greedy trajectory per
    query. Per-query state is ≤ shortlist_n rows by construction (MMR
    applies after retrieval pruning), so the kernel is embarrassingly
    parallel across queries at any corpus size. This replaced the
    r10-build unrolled-DataFrame form, whose k−1 steps each cost a
    GLOBAL barrier round (anti-join + penalty join + window + a
    plan-capping localCheckpoint that AQE materializes eagerly):
    measured 39 Spark jobs / ~2.9 s at sf0.1, and k−1 sequential
    cluster-wide rounds at scale, versus 1 exchange +
    1 FlatMapGroupsInPandas here (guide §2.4 — remove shuffles
    outright; §4.2 — do the work batched inside the Python boundary).

    Portability: relevance and pairwise sims use the pround(cosine, 6)
    recipe of :func:`cosine_topk` (sequential-fold dot, one division);
    the MMR expression is products/subtraction of those identical
    doubles with λ as a double literal, so the per-step argmax (ties:
    id ASC) selects the same candidate in the DuckDB twin — the greedy
    trajectory, not just the final set, is inside the oracle gate.

    Returns (query_id, mmr_rank 1..k, neighbor_id, relevance,
    mmr_score); rank-1 score is λ·rel (empty-set penalty = 0).

    ``shortlist=None`` retrieves via the brute :func:`cosine_topk` —
    the by-contract exact baseline (measured 265 s of the 285 s 100×
    lap). At scale pass a PRUNED shortlist instead — any frame with
    (query_id, neighbor_id, cosine), e.g. ``sq8_topk(...,
    n_centroids=…, index=…)``'s output — and the MMR stage itself is
    the only cost (the pairwise sims still come exact from ``emb``).
    """
    short = (
        shortlist.select("query_id", "neighbor_id", "cosine")
        if shortlist is not None
        else cosine_topk(emb, id_col, vec_col, query_pred, k=shortlist_n)
    )
    base = emb.select(
        F.col(id_col).alias("_bid"), _as_double(ident(vec_col)).alias("_bvec")
    )
    cand = (
        short.select("query_id", "neighbor_id", F.col("cosine").alias("relevance"))
        .join(base, F.col("neighbor_id") == F.col("_bid"))
        .select("query_id", "neighbor_id", "relevance", "_bvec")
    )
    qt = cand.schema["query_id"].dataType.simpleString()
    nt = cand.schema["neighbor_id"].dataType.simpleString()
    out_schema = (
        f"query_id {qt}, mmr_rank int, neighbor_id {nt},"
        " relevance double, mmr_score double"
    )
    lam_f, one_m, kk = float(lam), 1.0 - float(lam), int(k)

    def _greedy(pdf):
        # Bit-exact twins of the expression recipe this kernel replaced
        # (every op below is the same IEEE double op the Column form
        # compiled to; CPython floats and numpy float64 ARE C doubles):
        # - dot/norm: sequential left-to-right fold (dot_dec/norm_sq_dec).
        #   r11: vectorized ACROSS pairs, not across dimensions — the
        #   d-loop accumulates `S += outer(V[:,d], V[:,d])` so every
        #   S[i,j] is the identical ((0+x0·y0)+x1·y1)+... sequential
        #   fold (numpy elementwise +/· are single IEEE ops; np.dot's
        #   pairwise/SIMD summation would NOT be — deliberately avoided).
        #   Guide §4.2: the O(n²·d) pairwise loop was the kernel's pure-
        #   Python cost. Measured per-group (300-trial byte-identical
        #   parity lap): flat at the registered shortlist n=10 (numpy
        #   per-call overhead ≈ the loop), ~13× at n=50, ~13–15× at
        #   n=200 — the win is for the large-shortlist deployments the
        #   operator documents, not the sf0.1 bench.
        # - pround6:  signum(x)·floor(|x|·1e6 + 0.5)/1e6 (pround_expr;
        #   copysign/where keeps ±0.0, floor's long result is exact in a
        #   double for |cosine| ≤ 1; NaN flows through floor as NaN)
        # - DESC sort: NaN above every double (Spark ordering), ties id ASC
        # - max penalty: NaN-dominant (Spark Greatest/Max semantics)
        # - null guard (r10 advice): a NULL vector element arrives as
        #   None and maps to NaN (np.float64 cast), mirroring SQL
        #   null-in-arithmetic → the cosine goes NaN instead of the
        #   whole query dying on float(None). A NULL vector, or one
        #   whose length differs from the group's d (the most common
        #   length, ties to the longer), maps to all-NaN the same way
        #   instead of failing the ragged np.array build.
        import math
        from collections import Counter

        import numpy as np
        import pandas as pd

        def pround6(x: float) -> float:
            if math.isnan(x):
                return x
            sg = math.copysign(1.0, x) if x != 0.0 else x
            return sg * float(math.floor(abs(x) * 1e6 + 0.5)) / 1e6

        def desc_key(v: float):
            # sort ASC by this key == Spark DESC with NaN first
            return (0, 0.0) if math.isnan(v) else (1, -v)

        ids = pdf["neighbor_id"].tolist()
        rels = [float(r) for r in pdf["relevance"]]
        raw = pdf["_bvec"].tolist()
        n = len(ids)
        lens = Counter(len(v) for v in raw if v is not None)
        d = max(lens.items(), key=lambda kv: (kv[1], kv[0]))[0] if lens else 0
        V = np.array(
            [v if v is not None and len(v) == d else [None] * d for v in raw],
            dtype=np.float64,
        )
        norm2 = np.zeros(n)
        S = np.zeros((n, n))
        for dd in range(d):
            col = V[:, dd]
            norm2 += col * col
            S += np.multiply.outer(col, col)
        with np.errstate(divide="ignore", invalid="ignore"):
            sq = np.sqrt(norm2)
            sim = S / np.multiply.outer(sq, sq)
        np.fill_diagonal(sim, 0.0)  # unused (i never in sel) — parity
        sg = np.where(sim != 0.0, np.copysign(1.0, sim), sim)
        with np.errstate(invalid="ignore"):
            sim = sg * np.floor(np.abs(sim) * 1e6 + 0.5) / 1e6
        qid = pdf["query_id"].iloc[0]
        remaining = list(range(n))
        out_rank, out_id, out_rel, out_score = [], [], [], []
        sel: list[int] = []
        for step in range(1, kk + 1):
            if not remaining:
                break
            best, best_key = None, None
            for i in remaining:
                if step == 1:
                    m = lam_f * rels[i]
                else:
                    pen = None
                    for s in sel:
                        v = sim[i][s]
                        if math.isnan(v):
                            pen = v
                            break
                        if pen is None or v > pen:
                            pen = v
                    m = lam_f * rels[i] - one_m * pen
                key = (desc_key(m), ids[i])
                if best_key is None or key < best_key:
                    best, best_key, best_m = i, key, m
            sel.append(best)
            remaining.remove(best)
            out_rank.append(step)
            out_id.append(ids[best])
            out_rel.append(rels[best])
            out_score.append(pround6(best_m))
        return pd.DataFrame(
            {
                "query_id": [qid] * len(out_rank),
                "mmr_rank": pd.Series(out_rank, dtype="int32"),
                "neighbor_id": out_id,
                "relevance": out_rel,
                "mmr_score": out_score,
            }
        )

    return cand.groupBy("query_id").applyInPandas(_greedy, out_schema)


# --- random-projection (Johnson–Lindenstrauss) rung ----------------------

RP_OUT_DIM = 16


def rp_project_expr(vec: str, out_dim: int = RP_OUT_DIM, in_dim: int = 64) -> Column:
    """Project to ``out_dim`` dims: y_p = Σ_i x_i·w(p,i), sequential
    fold in ascending i (the order is part of the cross-engine
    contract). w(p,i) = ((2750161·p + 611953·i) mod 101) − 50 is a
    fixed integer family ≈ centered uniform on [−50, 50] (the sign-LSH
    recipe with distinct primes, so the two families stay
    uncorrelated); any engine replays it exactly, and JL only needs a
    sub-gaussian family. Map-only — persist the projected corpus once (the
    ingest half) and the serve scan reads out_dim/in_dim of the
    floats. ``vec`` is a SQL fragment (a user column name goes through
    ``ident``)."""
    v = _as_double(vec)
    # r10 optimization: the weight family is a deterministic integer
    # formula, so the whole out_dim×in_dim matrix is computed in Python
    # (exact small integers → exact doubles) and shipped as ONE nested
    # array literal; one transform() lambda replaces out_dim separate
    # aggregate() Columns (the old form cost ~0.5 s of py4j round-trips
    # per build). Same per-element product x·w(p,i) and same ascending-i
    # fold → bit-identical projection.
    w_mat = [
        [float(((2750161 * p + 611953 * i) % 101) - 50) for i in range(in_dim)]
        for p in range(out_dim)
    ]
    return F.transform(
        F.lit(w_mat),
        lambda w: F.aggregate(
            F.zip_with(v, w, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def rp_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    k: int = 5,
    refine: int | None = None,
    out_dim: int = RP_OUT_DIM,
    in_dim: int = 64,
    index: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine ANN through a Johnson–Lindenstrauss random
    projection: candidates rank by cosine in the ``out_dim``-d
    projected space (out_dim/in_dim of the multiply-adds of the brute
    scan — the dimensionality-reduction rung of the ladder, orthogonal
    to the quantization rungs: SQ shrinks bytes per dim, RP shrinks
    DIMS), the ``refine`` (default 4k) best rescore exactly by key
    re-join, final rank on the exact cosine.

    ``index=`` takes a persisted projection (``rp_project_expr`` over
    the corpus — the ingest half); the default projects inline.
    Shortlist is slimmed to (query_id, id, score) before the ranking
    window — vectors re-join by key at the refine (the ivfpq/sq8
    discipline). Exact in the projected ordering; recall vs the brute
    scan is the JL distortion (see tools/ann_recall.py rows).

    Cites FAISS's ``PCAMatrix``/``RandomRotationMatrix`` pre-transform
    stage as the public precedent (a VectorTransform before the
    index); the fixed integer family replaces the stored float matrix
    so the oracle replays bit-exactly.
    """
    if refine is None:
        refine = 4 * k
    from pyield_spark.functions.numbers import pround_expr
    from pyspark.sql import Window

    if index is not None:
        base = index
    else:
        base = emb.select(
            F.col(id_col).alias("_vid"),
            F.col(ident(vec_col)).alias("_vec"),
            rp_project_expr(ident(vec_col), out_dim, in_dim).alias("_rvec"),
        ).withColumn("_rnorm2", norm_sq_dec("_rvec"))
    queries = base.filter(
        query_pred if query_pred is not None else (F.col("_vid") % 100 == 0)
    ).select(
        F.col("_vid").alias("query_id"),
        F.col("_rvec").alias("_qrvec"),
        F.col("_rnorm2").alias("_qrnorm2"),
        F.col("_vec").alias("_qvec"),
    )
    pairs = queries.select("query_id", "_qrvec", "_qrnorm2").crossJoin(
        base.select("_vid", "_rvec", "_rnorm2")
    ).filter(F.col("_vid") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "_vid",
        pround_expr(
            dot_dec("_qrvec", "_rvec")
            / (F.sqrt(F.col("_qrnorm2")) * F.sqrt(F.col("_rnorm2"))),
            6,
        ).alias("rp_cosine"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rp_cosine").desc(), F.col("_vid").asc()
    )
    short = (
        scored.filter(~F.isnan("rp_cosine"))
        .withColumn("_rr", F.row_number().over(wr))
        .filter(F.col("_rr") <= refine)
    )
    exact_side = emb.select(
        F.col(id_col).alias("_vid"), F.col(ident(vec_col)).alias("_evec")
    ).withColumn("_enorm2", norm_sq_dec("_evec"))
    qexact = queries.select(
        "query_id", F.col("_qvec").alias("_qevec")
    ).withColumn("_qenorm2", norm_sq_dec("_qevec"))
    refined = (
        short.join(exact_side, "_vid")
        .join(qexact, "query_id")
        .select(
            "query_id",
            "_vid",
            "rp_cosine",
            pround_expr(
                dot_dec("_qevec", "_evec")
                / (F.sqrt(F.col("_qenorm2")) * F.sqrt(F.col("_enorm2"))),
                6,
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("_vid").asc()
    )
    return (
        refined.filter(~F.isnan("cosine"))
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("_vid").alias("neighbor_id"),
            "rp_cosine",
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
