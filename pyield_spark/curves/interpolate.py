"""Multi-curve flat-forward / linear interpolation.

Reference semantics (pyield/interpolador.py:306-497, verified against its
docstrings and the edge-case ladder at :481-491):

- curve cleaning: tolerant casts, drop null/NaN, dedupe (grupo, du);
- j = last vertex with du <= target, k = first vertex with du > target
  (dual as-of join, :452-468);
- flat-forward: tx = (fa_j * (fa_k/fa_j)^ft)^(1/au) - 1 with
  fa_x = (1+tx_x)^(du_x/252), ft = (au-au_j)/(au_k-au_j);
- ladder: null du or empty curve group → null; exact hit → vertex rate;
  du < du_min → first rate (always); du > du_max → last rate if
  ``extrapolar`` else null.

Spark design: instead of two join_asof passes, ONE union + window pass
computes both neighbors (curve rows sort before targets at equal du, so
the backward window sees exact hits and the forward window yields the
strictly-next vertex — exact hits short-circuit in the ladder before the
forward value is consulted). The extreme arms are decided by the
neighbors' null-ness — no extremes aggregate or third window pass (see
_ladder's neighbors_only proof). Single shuffle on the group key; no
UDFs; scales to arbitrarily many curves (the 100 TB axis is #groups,
not vertices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyield_spark.functions.sql import ident
from pyield_spark.operators.pinning import pin

DAYS_PER_YEAR = 252.0


def interpolar(
    targets: DataFrame,
    curve: DataFrame,
    du_col: str = "dias_uteis",
    curve_du: str = "dias_uteis",
    curve_rate: str = "taxa",
    by: list[str] | str | None = None,
    method: str = "flat_forward",
    extrapolar: bool = False,
    alias: str = "taxa_interpolada",
    order_col: str | None = None,
    distribution: str = "auto",
) -> DataFrame:
    """Attach an interpolated-rate column to ``targets``.

    Args:
        targets: rows to interpolate; keeps all its columns.
        curve: known vertices (group keys + du + rate).
        by: group key(s) defining independent curves (e.g. reference
            date). None = single curve for all targets.
        method: "flat_forward" or "linear".
        extrapolar: long-end behavior (True → last rate, False → null).
        order_col: optional arrival-order column on ``curve`` (e.g. an
            ingestion timestamp). When given, duplicate (group, du)
            vertices resolve to the LATEST by this column — the
            reference's keep='last' on revised-vertex feeds. When None,
            the deterministic keep-max-rate stand-in applies (arrival
            order is undefined on a distributed table).
        distribution: "auto" (default — resolve to 'broadcast' when
            the CURVE's Catalyst size estimate is truly dimension-sized
            (under autoBroadcastJoinThreshold/32 — see
            ``operators.asof.auto_distribution`` for the measured
            crossover), else 'shuffle'; reference curve panels are
            tens of KB, so auto normally broadcasts them and the
            target side never shuffles),
            "auto-exact" (auto, plus ONE bounded count when the
            estimate is unbounded — the derived-curve case; the
            deduped panel is lazily checkpointed first so the probe
            pass is the same one the join consumes. DELIBERATELY still
            opt-in after the r10 promotion experiment: the r9 skew lap
            shows auto-exact ≈ best-of-four when the FACT side is huge
            (100×), but the r10 sf0.1 A/B measured the default flip
            costing +3.3 s across the seven affected queries
            (q_interp_flat_forward 0.60→1.84 s, q_breakeven
            2.63→4.58 s, min-of-3, idle box; PLANS.md r10) — the probe
            job plus the broadcast-interval route's ~10×-per-byte
            constant are NOT free when the fact side is small, and
            plan-time stats cannot see the fact side to pick per
            query. Opt in where the deployment knows its fact side
            dwarfs the panel),
            "shuffle" (union + dual window, one shuffle on the group
            key) or "broadcast" — when the WHOLE curve panel (all
            groups) is dimension-sized, consecutive vertex pairs become
            broadcast bracketing intervals exploded onto a per-group
            bucket grid and the match is ONE broadcast hash equi-join:
            the target side is never shuffled. Both bracketing
            neighbors AND the group extremes arrive in the same joined
            row, so the ladder below is shared verbatim. Routes are
            parity-pinned so the pick never changes values.
    """
    if method not in ("flat_forward", "linear"):
        raise ValueError("method must be 'flat_forward' or 'linear'")
    if distribution not in ("auto", "auto-exact", "shuffle", "broadcast"):
        raise ValueError(
            "distribution must be 'auto', 'auto-exact', 'shuffle' or"
            " 'broadcast'"
        )
    resolve_exact = distribution == "auto-exact"
    if distribution == "auto":
        from pyield_spark.operators.asof import auto_distribution

        distribution = auto_distribution(curve)
    by_cols = [by] if isinstance(by, str) else list(by or [])

    # parsed-SQL construction throughout this operator (r11 build
    # optimization): identical expression trees to the old Column
    # chains, a handful of py4j round trips instead of ~1600 — this
    # operator runs in every curve query's build.
    cur = curve.selectExpr(
        *[ident(c) for c in by_cols],
        f"CAST({ident(curve_du)} AS BIGINT) AS _du",
        f"CAST({ident(curve_rate)} AS DOUBLE) AS _tx",
        *([f"{ident(order_col)} AS _ord"] if order_col else []),
    ).filter(F.expr("_du IS NOT NULL AND _tx IS NOT NULL AND NOT isnan(_tx)"))
    # dedupe (group, du): keep='last' by order_col when provided
    # (max_by mirrors the reference's arrival-order semantics); else a
    # deterministic keep-max-rate stand-in — either way exactly one
    # vertex survives per (group, du).
    if order_col:
        # max_by SKIPS rows whose ordering value is null — a vertex
        # with a null order_col (timestamp-less backfill row) would
        # survive the groupBy with a NULL rate even when it is the only
        # row for its du (review fix). Wrap the order in a struct
        # (never null as a whole): null orders lose every tie but a
        # lone vertex keeps its rate.
        cur = cur.groupBy(*by_cols, "_du").agg(
            F.max_by(
                "_tx",
                F.struct(
                    F.col("_ord").isNotNull().alias("_p"),
                    F.col("_ord").alias("_o"),
                ),
            ).alias("_tx")
        )
    else:
        cur = cur.groupBy(*by_cols, "_du").agg(F.max("_tx").alias("_tx"))

    if resolve_exact:
        # auto-exact (r8 VERDICT #3): resolve on the DEDUPED panel —
        # the actual broadcast payload (shared resolver: free probe
        # first, checkpoint + bounded count only when unbounded)
        from pyield_spark.operators.asof import resolve_auto_exact

        cur, distribution = resolve_auto_exact(cur)
    elif not by_cols and distribution != "broadcast":
        # the ungrouped shuffle route consumes the deduped curve from
        # THREE subplans (union branch, percentile bounds, per-bucket
        # ghost aggregates — r11 dropped the global-extremes fourth)
        # and Spark does not reuse the subplan across them — measured
        # 7 scans of a fact-derived curve lineage per action (review
        # fix). One lazy checkpoint materializes it once; the
        # broadcast route already does this.
        cur = pin(cur, eager=False)

    if distribution == "broadcast":
        joined = _broadcast_brackets(targets, cur, by_cols, du_col)
        return _ladder(joined, targets.columns, method, extrapolar, alias)

    # ---- union + dual window ----
    tgt = targets.selectExpr(
        "struct(" + ", ".join(ident(c) for c in targets.columns) + ") AS _l",
        *[ident(c) for c in by_cols],
        f"CAST({ident(du_col)} AS BIGINT) AS _k",
        "1 AS _is_left",
    )
    cur_tagged = cur.select(
        F.lit(None).cast(tgt.schema["_l"].dataType).alias("_l"),
        *[F.col(c) for c in by_cols],
        F.col("_du").alias("_k"),
        F.lit(0).alias("_is_left"),
        F.expr("struct(_du, _tx) AS _v"),
    )
    tgt = tgt.withColumn("_v", F.lit(None).cast(cur_tagged.schema["_v"].dataType)).select(
        *cur_tagged.columns
    )
    unioned = cur_tagged.unionByName(tgt)

    if by_cols:
        # curve rows (tag 0) before targets (tag 1) at equal du: backward
        # sees exact hits; forward yields the strictly-greater vertex.
        # BOTH neighbors use GROWING frames (unbounded preceding →
        # current), which Spark streams in O(n); the forward side runs
        # over descending du — a shrinking current→unbounded-following
        # frame would rescan per row (O(n²), measured 2-4× slower at
        # sf0.1). Ties in the descending pass put targets first so
        # equal-du vertices stay excluded (strict >).
        #
        # r11: NO extremes pass. The ladder's extreme arms are pure
        # functions of the two neighbors' null-ness (below-min ⟺ _j
        # IS NULL with tx_min = _kk._tx, above-max ⟺ _kk IS NULL with
        # tx_max = _j._tx, empty group ⟺ both NULL — proof at
        # _ladder), so the whole-partition min/max/min_by/max_by
        # window that previously computed them was a third full pass
        # over every (fact + curve) row, and its inputs widened the
        # shuffle by three columns (guide §2.3/§2.4). Plan: 3 Window
        # nodes → 2, the exchange carries 5 columns instead of 8.
        part = ", ".join(ident(c) for c in by_cols)
        frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        joined = unioned.selectExpr(
            "_l",
            "_k",
            "_is_left",
            f"last(_v, true) OVER (PARTITION BY {part}"
            f" ORDER BY _k ASC NULLS LAST, _is_left {frame}) AS _j",
            f"last(_v, true) OVER (PARTITION BY {part}"
            f" ORDER BY _k DESC NULLS LAST, (1 - _is_left) {frame}) AS _kk",
        ).filter(F.expr("_is_left = 1"))
    else:
        # --- single curve, distributed: value-derived range buckets +
        # ghost stitch (same design as operators/asof.py ungrouped path;
        # a plain Window.partitionBy() would serialize at scale). Buckets
        # come from exact percentiles of the (small) curve's du,
        # broadcast to every row — bucket identity is a pure function of
        # the key, immune to AQE/exchange-reuse repartitioning. Each
        # bucket gets TWO ghost carrier rows: the last vertex from
        # earlier buckets (leads the ascending pass, _seq=0) and the
        # first vertex from later buckets (leads the descending pass,
        # _seq=2); each sorts LAST in the opposite pass, where only
        # no-op rows follow it. The ghosts also make _j/_kk global
        # neighbors, so no extremes aggregate is needed (see _ladder).
        try:
            n_buckets = int(
                unioned.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except (TypeError, ValueError):
            n_buckets = 32
        n_buckets = max(n_buckets, 2)
        fracs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
        bnds = cur.agg(F.percentile(F.col("_du").cast("double"), fracs).alias("_b"))
        kd = F.col("_k").cast("double")
        # additive comparison chain (codegen) — an array-filter HOF here
        # runs interpreted per element, 3× slower at 10× scale
        n_le = sum(
            (kd >= F.col("_b").getItem(i)).cast("int")
            for i in range(n_buckets - 1)
        )
        u2 = (
            unioned.crossJoin(F.broadcast(bnds))
            .withColumn(
                "_bkt",
                # NULL percentile bounds (empty curve) → hash-spread:
                # every target interpolates to null anyway, and a NULL
                # bucket would collapse the fact side into ONE window
                # partition (review fix, same as operators/asof.py)
                F.when(kd.isNull(), F.lit(-1)).otherwise(
                    F.coalesce(
                        n_le,
                        F.pmod(F.xxhash64(kd), F.lit(n_buckets)).cast("int"),
                    )
                ),
            )
            .drop("_b")
            .withColumn("_seq", F.lit(1))
        )
        verts = u2.filter(F.col("_is_left") == 0)
        per_b = verts.groupBy("_bkt").agg(
            F.max_by("_v", F.col("_k")).alias("_bv"),
            F.min_by("_v", F.col("_k")).alias("_fv"),
        )
        # static bucket domain 0..n_buckets-1 (pure function of the
        # broadcast percentiles): enumerating beats a distinct() that
        # shuffles every row and re-runs the whole input lineage; ghosts
        # in empty buckets are no-ops
        spine = (
            unioned.sparkSession.range(0, n_buckets)
            .select(F.col("id").cast("int").alias("_bkt"))
            .join(per_b, "_bkt", "left")
        )
        wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
        wf_ = Window.orderBy("_bkt").rowsBetween(1, Window.unboundedFollowing)
        carried = spine.select(
            "_bkt",
            F.last("_bv", ignorenulls=True).over(wb).alias("_gb"),
            F.first("_fv", ignorenulls=True).over(wf_).alias("_gf"),
        )
        null_l = F.lit(None).cast(u2.schema["_l"].dataType)

        def _ghost(col, seq):
            return carried.filter(F.col(col).isNotNull()).select(
                null_l.alias("_l"),
                F.lit(None).cast(dict(u2.dtypes)["_k"]).alias("_k"),
                F.lit(0).alias("_is_left"),
                F.col(col).alias("_v"),
                F.col("_bkt"),
                F.lit(seq).alias("_seq"),
            )

        u3 = u2.unionByName(_ghost("_gb", 0).select(*u2.columns)).unionByName(
            _ghost("_gf", 2).select(*u2.columns)
        )
        w = Window.partitionBy("_bkt")
        wo = w.orderBy(
            F.col("_seq").asc(), F.col("_k").asc_nulls_last(), F.col("_is_left")
        )
        back = F.last("_v", ignorenulls=True).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wo_desc = w.orderBy(
            F.col("_seq").desc(),
            F.col("_k").desc_nulls_last(),
            (1 - F.col("_is_left")),
        )
        fwd = F.last("_v", ignorenulls=True).over(
            wo_desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # r11: no global-extremes aggregate/crossJoin — the ghost
        # carriers make _j/_kk GLOBAL neighbors (the ascending pass sees
        # every earlier bucket's last vertex via _gb, the descending
        # pass every later bucket's first via _gf), so the neighbors'
        # null-ness encodes the extreme arms exactly as in the grouped
        # route (proof at _ladder). One pass over `cur` and one
        # broadcast fewer.
        joined = u3.select(
            "_l", "_k", "_is_left", back.alias("_j"), fwd.alias("_kk")
        ).filter(F.col("_is_left") == 1)

    return _ladder(
        joined, targets.columns, method, extrapolar, alias,
        neighbors_only=True,
    )


def _ladder(
    joined: DataFrame,
    target_cols: list[str],
    method: str,
    extrapolar: bool,
    alias: str,
    neighbors_only: bool = False,
) -> DataFrame:
    """The reference's edge-case ladder (interpolador.py:481-491) over a
    frame carrying (_l, _k, _j, _kk) — shared by the window and
    broadcast routes. Built as ONE parsed SQL expression (r11): the
    identical CaseWhen/pow tree the old Column chain produced, ~350
    py4j round trips fewer per call.

    ``neighbors_only=True`` (both window routes): the extreme arms are
    decided by the NEIGHBORS' null-ness instead of explicit
    _du_min/_du_max/_tx_min/_tx_max columns. Given _k non-null and a
    non-empty curve group, ``_j IS NULL`` ⟺ no vertex ≤ du ⟺
    du < du_min, and the first strictly-greater vertex _kk IS then the
    min-du vertex, so tx_min ≡ _kk._tx; symmetrically ``_kk IS NULL``
    ⟺ no vertex > du ⟺ du ≥ du_max, and du = du_max implies a vertex
    AT du (du_max is a vertex du) which the exact-hit arm already
    caught, so the remaining cases are du > du_max with
    tx_max ≡ _j._tx; an empty group ⟺ both neighbors NULL (any vertex
    is ≤ or > the target). Values identical to the extremes form —
    what it buys is dropping a whole-partition window pass (grouped
    route) / a global aggregate + broadcast (bucket route), guide
    §2.4. ``False`` (broadcast route): interval-join MISSES null both
    neighbors for below-min targets too, so that route still carries
    the explicit extremes columns to disambiguate from empty groups."""
    du = "CAST(_k AS DOUBLE)"
    du_j = "CAST(_j._du AS DOUBLE)"
    tx_j = "_j._tx"
    du_k = "CAST(_kk._du AS DOUBLE)"
    tx_k = "_kk._tx"

    if method == "flat_forward":
        au = f"({du} / 252.0D)"
        au_j = f"({du_j} / 252.0D)"
        au_k = f"({du_k} / 252.0D)"
        fa_j = f"power(1.0D + {tx_j}, {au_j})"
        fa_k = f"power(1.0D + {tx_k}, {au_k})"
        ft = f"(({au} - {au_j}) / ({au_k} - {au_j}))"
        mid = (
            f"power({fa_j} * power({fa_k} / {fa_j}, {ft}),"
            f" 1.0D / {au}) - 1.0D"
        )
    else:  # linear (reference: interpolador.py:77-101)
        mid = f"{tx_j} + ({du} - {du_j}) * ({tx_k} - {tx_j}) / ({du_k} - {du_j})"

    nulo = "CAST(NULL AS DOUBLE)"
    if neighbors_only:
        taxa = (
            "CASE WHEN (_k IS NULL OR (_j IS NULL AND _kk IS NULL)) THEN "
            + nulo
            + f" WHEN {du_j} = {du} THEN {tx_j}"
            + f" WHEN _j IS NULL THEN {tx_k}"
            + " WHEN _kk IS NULL THEN "
            + (tx_j if extrapolar else nulo)
            + f" ELSE {mid} END"
        )
    else:
        taxa = (
            "CASE WHEN (_k IS NULL OR _du_min IS NULL) THEN " + nulo
            + f" WHEN {du_j} = {du} THEN {tx_j}"
            + f" WHEN {du} < _du_min THEN _tx_min"
            + f" WHEN {du} > _du_max THEN "
            + ("_tx_max" if extrapolar else nulo)
            + f" ELSE {mid} END"
        )
    # NaN → null at the exit (reference: interpolador.py:497)
    taxa = f"CASE WHEN isnan({taxa}) THEN {nulo} ELSE {taxa} END"

    return joined.selectExpr("_l.*", f"{taxa} AS {ident(alias)}")


def _broadcast_brackets(
    targets: DataFrame,
    cur: DataFrame,
    by_cols: list[str],
    du_col: str,
) -> DataFrame:
    """Broadcast route: consecutive (deduped, sorted) vertex pairs are
    bracketing intervals [du_j, du_k) — exploded onto a per-group bucket
    grid with pitch ≈ span/n (O(n) exploded rows for any vertex
    distribution) and broadcast. Targets compute their bucket from the
    SAME per-group stats (attached by a broadcast join — no shuffle) and
    equi-join on (group, bucket) with the exact interval predicate in
    the join condition, so each target matches at most one interval.
    Both neighbors and the group extremes arrive in that single row:
    exact hits short-circuit in the ladder (du_j == du), below-minimum
    targets miss every interval and fall to the _du_min ladder arm,
    above-maximum targets clamp into the last (open-ended) interval and
    fall to the _du_max arm. The only windows/aggregations run over the
    dimension-sized curve panel."""
    # the curve lineage feeds THREE consumers (interval window, extreme
    # agg, target-side stats join); when the curve is derived from a
    # fact table, an unmaterialized lineage would re-execute per
    # consumer — checkpoint once (lazy: materializes on first use)
    cur = pin(cur, eager=False)
    _part = (
        "PARTITION BY " + ", ".join(ident(c) for c in by_cols)
        if by_cols
        else ""
    )
    iv = cur.selectExpr(
        *[ident(c) for c in by_cols],
        "_du AS _du_j",
        "_tx AS _tx_j",
        f"lead(_du, 1) OVER ({_part} ORDER BY _du) AS _du_k",
        f"lead(_tx, 1) OVER ({_part} ORDER BY _du) AS _tx_k",
    )
    ext = cur.groupBy(*by_cols).agg(
        F.expr("min(_du) AS _du_min"),
        F.expr("max(_du) AS _du_max"),
        F.expr("min_by(_tx, _du) AS _tx_min"),
        F.expr("max_by(_tx, _du) AS _tx_max"),
        F.expr("count(*) AS _n"),
    )
    if by_cols:
        exti = ext.select(
            *[F.col(c).alias(f"_x_{c}") for c in by_cols], "_du_min", "_du_max", "_n"
        )
        icond = None
        for c in by_cols:
            e = F.col(c).eqNullSafe(F.col(f"_x_{c}"))
            icond = e if icond is None else (icond & e)
        iv = iv.join(F.broadcast(exti), icond).drop(
            *[f"_x_{c}" for c in by_cols]
        )
    else:
        iv = iv.crossJoin(F.broadcast(ext))

    from pyield_spark.operators.asof import grid_pitch_sql

    g = grid_pitch_sql("_du_min", "_du_max", "_n")
    ivb = iv.selectExpr(
        *[ident(c) for c in by_cols],
        "_du_j",
        "_tx_j",
        "_du_k",
        "_tx_k",
        f"explode(sequence(floor(_du_j / {g}),"
        f" floor(coalesce(_du_k, _du_j) / {g}))) AS _rbkt",
    )

    tgt = targets.selectExpr(
        "struct(" + ", ".join(ident(c) for c in targets.columns) + ") AS _l",
        *[ident(c) for c in by_cols],
        f"CAST({ident(du_col)} AS BIGINT) AS _k",
    )
    # per-group stats by broadcast join (left side untouched); groups
    # absent from the curve get null stats → the ladder's null arm.
    # Null-safe equality: the window route co-partitions null group
    # keys, so a null-group curve must serve null-group targets here too
    if by_cols:
        exts = ext.select(
            *[F.col(c).alias(f"_e_{c}") for c in by_cols],
            "_du_min", "_du_max", "_tx_min", "_tx_max", "_n",
        )
        scond = None
        for c in by_cols:
            e = F.col(c).eqNullSafe(F.col(f"_e_{c}"))
            scond = e if scond is None else (scond & e)
        tgt = tgt.join(F.broadcast(exts), scond, "left").drop(
            *[f"_e_{c}" for c in by_cols]
        )
    else:
        tgt = tgt.crossJoin(F.broadcast(ext))
    # above-max targets clamp into the last, open-ended interval
    tgt = tgt.selectExpr(
        "_l",
        *[ident(c) for c in by_cols],
        "_k",
        "_du_min",
        "_du_max",
        "_tx_min",
        "_tx_max",
        "CASE WHEN _k IS NOT NULL THEN"
        f" least(floor(_k / {g}), floor(_du_max / {g})) END AS _bkt",
    )

    ivbs = ivb.selectExpr(
        *[f"{ident(c)} AS {ident('_r_' + c)}" for c in by_cols],
        "_rbkt", "_du_j", "_tx_j", "_du_k", "_tx_k",
    )
    cond_sql = (
        "_bkt = _rbkt AND _k >= _du_j"
        " AND (_du_k IS NULL OR _k < _du_k)"
    )
    for c in by_cols:
        cond_sql += f" AND {ident(c)} <=> {ident('_r_' + c)}"
    out = tgt.join(F.broadcast(ivbs), F.expr(cond_sql), "left")
    return out.selectExpr(
        "_l",
        "_k",
        "CASE WHEN _du_j IS NOT NULL THEN"
        " struct(_du_j AS _du, _tx_j AS _tx) END AS _j",
        "CASE WHEN _du_k IS NOT NULL THEN"
        " struct(_du_k AS _du, _tx_k AS _tx) END AS _kk",
        "_du_min",
        "_du_max",
        "_tx_min",
        "_tx_max",
    )
