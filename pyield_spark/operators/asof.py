"""As-of join — the engine's core custom operator.

Stock Spark has no DataFrame-level as-of join; the reference leans on
Polars ``join_asof`` (pyield/interpolador.py:452-468 grouped
backward+forward; pyield/futuro/di1.py:100-105 and
pyield/bc/leiloes.py:242-246 ungrouped backward).

Implementation: tag-and-union + ordered window:

1. union(right ∪ left); right rows carry their payload packed in ONE
   non-null struct (so genuinely-null payload values still count as a
   match), left rows carry a null struct;
2. one window per group ordered by (key, tag) where the tag places right
   rows before (backward) or after (forward) left rows at equal keys —
   this makes exact matches count (``allow_exact_matches`` flips it);
3. backward: ``last(payload_struct, ignorenulls=True)`` over rows
   unbounded preceding → current; forward: ``first`` over current →
   unbounded following;
4. keep left rows, unpack the matched struct.

Scale notes: the grouped operator is ONE shuffle (window partitioning by
the group key) — same cost as any grouped aggregation, AQE-skew-safe.
Left columns ride inside a struct so arbitrary schemas can't collide.

The UNGROUPED case (``by=None``) does NOT degrade to a single-partition
window: the union is range-partitioned on the ordering key, the window
runs per range bucket, and bucket boundaries are stitched with "ghost"
carrier rows — per bucket, the best right row from preceding (backward)
/ following (forward) buckets, computed from a tiny per-bucket aggregate
and a window over #buckets rows. Two shuffles total, both distributed;
``tests/test_bucketing.py`` asserts the plan contains no single-partition
Exchange. Null ordering keys never match (Polars ``join_asof`` parity).

When the right side is dimension-sized (a rate/PTAX/VNA series),
``distribution="broadcast"`` takes the second scale-out route: the
series becomes broadcast bracketing intervals exploded onto a coarse
bucket grid and the match is a broadcast hash equi-join — ZERO
fact-side shuffles (``tests/test_bucketing.py::
test_broadcast_asof_no_fact_shuffle``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window, functions as F

from pyield_spark.operators.pinning import pin

try:  # the JVM bridge's error family (absent under Spark Connect)
    from py4j.protocol import Py4JError as _Py4JError

    _PY4J_ERRORS: tuple[type[BaseException], ...] = (_Py4JError,)
except ImportError:  # pragma: no cover - Connect-only installs
    _PY4J_ERRORS = ()

try:  # pyspark re-wraps JVM exceptions into its own family
    from pyspark.errors import PySparkException as _PySparkException

    _PY4J_ERRORS = _PY4J_ERRORS + (_PySparkException,)
except ImportError:  # pragma: no cover - very old pyspark
    pass

_AUTO_STATS_ERRORS = (AttributeError, TypeError, ValueError) + _PY4J_ERRORS
_AUTO_STATS_WARNED = False


# The broadcast-interval route is NOT a plain broadcast hash join: it
# explodes each interval onto the ghost bucket grid (~8 rows shipped
# per series row), runs two window passes over the series, and builds a
# materially larger expression tree. Its effective cost relative to a
# plain broadcast is therefore ~an order of magnitude higher per byte —
# auto only takes it for a right side WELL under the broadcast
# threshold. 1/32 of the threshold (312 KB at the 10 MB default) is the
# measured crossover envelope: a 13 KB series (sf0.001 orders-day dim)
# is strictly faster broadcast; a 953 KB series with a small fact side
# (sf0.1 q_asof_last_order) measured broadcast 2.6 s vs shuffle 1.4 s;
# a huge fact side (100× skew lap) flips it back 3× in broadcast's
# favor — but left-side estimates are unusable for that signal (join
# stats are size PRODUCTS, inflated by orders of magnitude), so auto
# keys on the series alone and stays conservative in the middle.
AUTO_BROADCAST_COST_FACTOR = 32


def auto_distribution(right: DataFrame) -> str:
    """Pick 'broadcast' when the right side's CATALYST size estimate is
    truly dimension-sized — under ``autoBroadcastJoinThreshold /
    AUTO_BROADCAST_COST_FACTOR`` (see the factor's comment for the
    measured crossover) — else 'shuffle'. Plan-time only
    (optimizedPlan().stats — parquet-footer / propagated estimates, no
    job); an UNKNOWN size estimates as Long.Max and safely falls back
    to the shuffle route. Explicit ``distribution=`` always wins.

    Known conservatism (measured, PLANS.md r8 skew lap): an AGGREGATE
    derived from a large fact table inherits the child's size estimate,
    so a genuinely-small curve panel computed from a big scan resolves
    to shuffle — auto never broadcasts what it cannot bound; pass
    ``distribution="broadcast"`` explicitly when you KNOW the series is
    small and the fact side is large (the 90%-hot skew lap measured it
    3× faster there)."""
    try:
        spark = right.sparkSession
        raw = right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala BigInt to a Python int on recent versions;
        # older bridges hand back the object
        size = int(raw if isinstance(raw, int) else raw.toString())
        thr_conf = str(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        ).strip()
        if thr_conf.startswith("-"):  # broadcast disabled (-1)
            return "shuffle"
        thr = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(thr_conf)
        )
    except _AUTO_STATS_ERRORS as exc:
        # Connect sessions (no _jdf) / a renamed JVM API / stat-less
        # plans: shuffle is the safe route — but say so ONCE so a
        # silently-vanished broadcast fast path leaves a trace.
        global _AUTO_STATS_WARNED
        if not _AUTO_STATS_WARNED:
            _AUTO_STATS_WARNED = True
            warnings.warn(
                "asof auto_distribution: Catalyst stats probe failed "
                f"({type(exc).__name__}: {exc}); THIS call falls back to "
                "the shuffle route (later calls re-probe independently; "
                "further warnings are suppressed). Pass distribution= "
                "explicitly to silence.",
                RuntimeWarning,
                stacklevel=2,
            )
        return "shuffle"
    cap = thr // AUTO_BROADCAST_COST_FACTOR
    return "broadcast" if 0 < cap and 0 <= size <= cap else "shuffle"


# row cap for the auto-exact probe: the broadcast-interval route's
# measured crossover sits far above typical curve panels (the 100×
# skew lap's ~250 k-row panel runs 3× faster broadcast), and 256 k
# rows of (group, key, value) is single-digit MB on the driver. The
# EFFECTIVE cap also honors bytes: rows × schema defaultSize must fit
# the same threshold/32 envelope plain auto uses, so a wide right side
# (many `values` columns, array payloads) lowers the row cap instead
# of OOMing the driver at 256 k × hundreds of bytes.
AUTO_EXACT_MAX_ROWS = 262_144


def _broadcast_byte_cap(right: DataFrame) -> int | None:
    """threshold/32 in bytes, or None when broadcasting is disabled
    (negative threshold) / the conf is unreadable."""
    try:
        spark = right.sparkSession
        thr_conf = str(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        ).strip()
        if thr_conf.startswith("-"):
            return None
        thr = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(thr_conf)
        )
    except _AUTO_STATS_ERRORS:
        return None
    cap = thr // AUTO_BROADCAST_COST_FACTOR
    return cap if cap > 0 else None


def auto_distribution_exact(
    right: DataFrame, max_rows: int = AUTO_EXACT_MAX_ROWS,
    stats_probe: bool = True,
) -> str:
    """Resolve ``distribution="auto-exact"``: the free Catalyst probe
    first (a bounded-small estimate broadcasts, same as ``auto``);
    when the estimate cannot bound the side — the derived-curve case,
    where an aggregate inherits its big fact child's size estimate —
    spend ONE bounded ``count()``: ``limit(n + 1)`` stops the scan
    early, so the probe costs at most one pass of the right side's
    plan, never of the fact table it joins against.

    The effective row cap is ``min(max_rows, byte_cap / row_width)``
    with row width from the schema's Catalyst defaultSize, and the
    SAME bounded probe additionally measures the average ACTUAL row
    bytes (``octet_length(to_json(struct(*)))`` — a conservative
    over-estimate for any serialization) so a right side whose
    variable-length payloads dwarf defaultSize's fixed 20-byte string
    guess still resolves to 'shuffle' when ``n × measured_avg``
    exceeds the byte envelope. The bound is therefore best-effort
    exact on measured bytes, not just on the schema estimate — but it
    is still an estimate of broadcast wire size, so pathological
    schemas to_json cannot serialize fall back to defaultSize alone.
    A disabled broadcast threshold (-1) resolves straight to 'shuffle'
    with no job.

    Opt-in by contract (``auto`` never launches a job): callers should
    ``pin(right, eager=False)`` the right side FIRST so the pass
    the probe spends materializes the frame the join then reuses —
    ``asof_join``/``interpolar`` do exactly that, making the probe's
    marginal cost ≈ 0 on the plans where it matters (PLANS.md r9 skew
    lap: auto-exact ≈ broadcast, vs auto ≈ shuffle).
    """
    if stats_probe and auto_distribution(right) == "broadcast":
        return "broadcast"
    byte_cap = _broadcast_byte_cap(right)
    if byte_cap is None:  # broadcast disabled / conf unreadable
        return "shuffle"
    try:
        width = int(right._jdf.schema().defaultSize())
    except _AUTO_STATS_ERRORS:
        width = 0
    cap = min(max_rows, byte_cap // width) if width > 0 else max_rows
    if cap <= 0:
        return "shuffle"
    try:
        row = right.limit(cap + 1).agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(
                F.octet_length(F.to_json(F.struct(*right.columns)))
            ).alias("_avg_bytes"),
        ).head()
        n, avg_bytes = int(row["_n"]), row["_avg_bytes"]
    except _AUTO_STATS_ERRORS:
        # schema to_json can't serialize — defaultSize cap only
        n, avg_bytes = right.limit(cap + 1).count(), None
    if n > cap:
        return "shuffle"
    if avg_bytes is not None and n * float(avg_bytes) > byte_cap:
        return "shuffle"  # measured bytes burst the envelope even
        # though the defaultSize row cap admitted them
    return "broadcast"


def resolve_auto_exact(right: DataFrame) -> tuple[DataFrame, str]:
    """The shared ``distribution="auto-exact"`` resolution for
    ``asof_join``/``interpolar``: free Catalyst probe on the
    UN-checkpointed frame first (a lazy pin becomes a
    LogicalRDD whose stats hide a bounded estimate); only the
    unbounded case checkpoints and spends the bounded count, so the
    probe's pass materializes the exact frame the join consumes.
    Returns the (possibly checkpointed) frame and the route."""
    if auto_distribution(right) == "broadcast":
        return right, "broadcast"
    right = pin(right, eager=False)
    # stats_probe=False: the checkpointed LogicalRDD has no usable
    # estimate, so re-probing would only burn py4j round trips
    return right, auto_distribution_exact(right, stats_probe=False)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str | None = None,
    by: list[str] | str | None = None,
    strategy: str = "backward",
    values: list[str] | None = None,
    allow_exact_matches: bool = True,
    distribution: str = "auto",
) -> DataFrame:
    """Match each left row to the nearest right row at-or-before
    (backward) / at-or-after (forward) on the ordering key.

    Args:
        left/right: input DataFrames.
        on: ordering key column in ``left``.
        right_on: ordering key in ``right`` (defaults to ``on``).
        by: optional equality group key(s) present in both sides.
        strategy: "backward", "forward", or "nearest" (closer of the
            two; a distance tie takes the backward match — pandas
            ``merge_asof(direction='nearest')`` parity).
        values: right payload columns to attach (default: all right
            columns except keys). Unmatched rows get nulls.
        allow_exact_matches: whether an equal key counts as a match.
        distribution: "auto" (default — resolve to 'broadcast' when
            the right side's Catalyst size estimate is truly
            dimension-sized: under autoBroadcastJoinThreshold/32, the
            interval route's measured cost crossover — see
            ``auto_distribution``; else 'shuffle'), "auto-exact"
            (auto, plus one bounded count() when the estimate is
            unbounded — see ``auto_distribution_exact``; opt-in, it
            launches a job), "shuffle" (the window plan; grouped
            = one shuffle, ungrouped = range buckets + ghost stitch) or
            "broadcast" — for an as-of (grouped or not) whose WHOLE
            right panel is dimension-sized (a rate/PTAX/VNA series):
            the right side becomes broadcast bracketing intervals and
            the match is a broadcast hash equi-join on a coarse bucket
            key — the fact side is NEVER shuffled. This is the second
            scale-out route for J3/J5 (the one a 100 TB plan wants when
            the series fits in a broadcast). Routes are parity-pinned
            (tests/test_bucketing.py) so the pick never changes values.
    """
    if distribution not in ("auto", "auto-exact", "shuffle", "broadcast"):
        raise ValueError(
            "distribution must be 'auto', 'auto-exact', 'shuffle' or"
            " 'broadcast'"
        )
    if distribution == "auto":
        distribution = auto_distribution(right)
    elif distribution == "auto-exact":
        right, distribution = resolve_auto_exact(right)
    if strategy == "nearest":
        return _asof_nearest(
            left, right, on, right_on, by, values, allow_exact_matches,
            distribution,
        )
    if strategy not in ("backward", "forward"):
        raise ValueError("strategy must be 'backward', 'forward' or 'nearest'")
    if distribution == "broadcast":
        return _asof_broadcast(
            left, right, on, right_on or on, by, strategy, values,
            allow_exact_matches,
        )
    right_on = right_on or on
    by_cols = [by] if isinstance(by, str) else list(by or [])
    values = _payload_values(left, right, right_on, by_cols, values)

    # Null-payload struct types are derived from the INPUT schemas (one
    # cached analysis pass per input), not from the tagged projections —
    # each .schema on a derived frame re-analyzes its whole tree, and on
    # composite upstreams (q_leiloes-sized expression forests) those two
    # extra passes dominated the Python-side build time.
    from pyspark.sql.types import StructField, StructType

    lschema = left.schema
    rschema = right.schema
    key_t = lschema[on].dataType
    v_type = StructType(
        [StructField(v, rschema[v].dataType, True) for v in values]
    )
    l_type = StructType(
        [StructField(f.name, f.dataType, True) for f in lschema.fields]
    )

    right_tagged = right.select(
        F.col(right_on).cast(key_t).alias("_k"),
        *[F.col(c) for c in by_cols],
        F.lit(0).alias("_is_left"),
        F.struct(*[F.col(v) for v in values]).alias("_v"),
    )
    # carry left payload as a struct to avoid any column-name collisions
    left_tagged = left.select(
        F.struct(*left.columns).alias("_l"),
        F.col(on).cast(key_t).alias("_k"),
        *[F.col(c) for c in by_cols],
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(v_type).alias("_v"),
    )
    right_tagged = right_tagged.withColumn(
        "_l", F.lit(None).cast(l_type)
    ).select(*left_tagged.columns)

    unioned = right_tagged.unionByName(left_tagged)

    # Both strategies use GROWING frames (unbounded preceding → current):
    # Spark streams those in O(n), while a shrinking
    # current→unbounded-following frame rescans per row (O(n²)). Forward
    # therefore runs over DESCENDING keys. The tag order at equal keys
    # decides whether exact matches are visible.
    if strategy == "backward":
        right_first = allow_exact_matches  # right before left ⇒ equal key matches
        order = [F.col("_k").asc_nulls_last()]
    else:
        right_first = allow_exact_matches  # right before left (desc) ⇒ equal key matches
        order = [F.col("_k").desc_nulls_last()]
    tag_order = F.when(F.col("_is_left") == 0, F.lit(0 if right_first else 2)).otherwise(
        F.lit(1)
    )

    if by_cols:
        w = Window.partitionBy(*by_cols).orderBy(*order, tag_order)
        wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        matched = F.last("_v", ignorenulls=True).over(wf)
        matched = F.when(F.col("_k").isNotNull(), matched)
        out = unioned.select("_l", "_k", "_is_left", matched.alias("_m")).filter(
            F.col("_is_left") == 1
        )
    else:
        # --- distributed ungrouped as-of: value-derived range buckets +
        # ghost stitch. Bucket boundaries are EXACT percentiles of the
        # right-side keys (small: a rate series), broadcast to every row
        # — bucket identity is a pure function of the key value, so
        # re-computation, AQE coalescing, or exchange reuse cannot
        # misalign buckets. One hash shuffle for the bucketed window; the
        # stitch works on per-bucket aggregates (≤ #buckets rows). ---
        from pyspark.sql.types import StringType

        if isinstance(key_t, StringType):
            # cast-to-double of a string key is null: every row would
            # land in one bucket and the operator would silently
            # serialize — the exact degradation this route exists to
            # avoid (review fix; the broadcast route refuses these too)
            raise ValueError(
                "ungrouped as-of needs a numeric/date/timestamp ordering "
                f"key for range bucketing; got {key_t.simpleString()} — "
                "cast the key or supply a 'by' grouping"
            )
        try:
            n_buckets = int(
                unioned.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
        except (TypeError, ValueError):
            n_buckets = 32
        n_buckets = max(n_buckets, 2)

        def _numeric(c):
            return _numeric_key(c, key_t)

        fracs = F.array(
            *[F.lit(i / n_buckets) for i in range(1, n_buckets)]
        )
        bnds = right_tagged.agg(
            F.percentile(_numeric(F.col("_k")), fracs).alias("_b")
        )
        kn = F.col("_kn")
        # bucket = #boundaries ≤ key, as an ADDITIVE comparison chain:
        # whole-stage-codegen arithmetic. (An array filter/HOF here runs
        # interpreted per element — measured 3× slower over 1.5M rows.)
        n_le = sum(
            (kn >= F.col("_b").getItem(i)).cast("int")
            for i in range(n_buckets - 1)
        )
        u2 = (
            unioned.crossJoin(F.broadcast(bnds))
            .withColumn("_kn", _numeric(F.col("_k")))
            .withColumn(
                "_bkt",
                # n_le is NULL when the percentile boundaries are NULL
                # (empty right side / all-null right keys): every match
                # is null anyway, so ANY spread is valid — hash-spread
                # instead of collapsing the whole fact side into one
                # NULL-bucket window partition (review fix; the same
                # silent serialization the string-key guard refuses)
                F.when(kn.isNull(), F.lit(-1)).otherwise(
                    F.coalesce(
                        n_le,
                        F.pmod(F.xxhash64(kn), F.lit(n_buckets)).cast("int"),
                    )
                ),
            )
            .select("_l", "_k", "_kn", "_is_left", "_v", "_bkt")
            .withColumn("_seq", F.lit(1))
        )
        # best right row per bucket (right keys assumed unique, as in
        # every rate-series use; duplicate right keys pick an arbitrary
        # row, same as the base window's tie behavior)
        rights = u2.filter(F.col("_is_left") == 0)
        if strategy == "backward":
            per_b = rights.groupBy("_bkt").agg(
                F.max_by("_v", F.col("_kn")).alias("_pv")
            )
            wp = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
            carry = F.last("_pv", ignorenulls=True)
        else:
            per_b = rights.groupBy("_bkt").agg(
                F.min_by("_v", F.col("_kn")).alias("_pv")
            )
            wp = Window.orderBy("_bkt").rowsBetween(1, Window.unboundedFollowing)
            carry = F.first("_pv", ignorenulls=True)
        # bucket domain is statically 0..n_buckets-1 (a pure function of
        # the broadcast percentile array) — enumerating it avoids a
        # distinct() that would both shuffle every row AND re-execute the
        # whole left lineage a second time; ghosts for empty buckets are
        # harmless (_is_left=0 rows are filtered at the end)
        spine = (
            unioned.sparkSession.range(0, n_buckets)
            .select(F.col("id").cast("int").alias("_bkt"))
            .join(per_b, "_bkt", "left")
        )
        ghosts = (
            spine.select("_bkt", carry.over(wp).alias("_v"))
            .filter(F.col("_v").isNotNull())
            .select(
                F.lit(None).cast(l_type).alias("_l"),
                F.lit(None).cast(key_t).alias("_k"),
                F.lit(None).cast("double").alias("_kn"),
                F.lit(0).alias("_is_left"),
                F.col("_v"),
                F.col("_bkt"),
                F.lit(0).alias("_seq"),  # sorts before every real row
            )
        )
        u3 = u2.unionByName(ghosts.select(*u2.columns))
        w = Window.partitionBy("_bkt").orderBy(F.col("_seq").asc(), *order, tag_order)
        wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        matched = F.last("_v", ignorenulls=True).over(wf)
        matched = F.when(F.col("_k").isNotNull(), matched)
        out = u3.select("_l", "_k", "_is_left", matched.alias("_m")).filter(
            F.col("_is_left") == 1
        )

    left_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    return out.select(*left_cols, *[F.col(f"_m.{v}").alias(v) for v in values])


def grid_pitch_sql(mn: str, mx: str, n: str) -> str:
    """Bucket pitch ≈ span/(n-1) over SQL fragments, for the broadcast
    interval routes: guarantees the total exploded interval rows stay
    O(n) for ANY key distribution (Σ interval_len/g + n ≈ 2n). Shared
    by the as-of and interpolation broadcast routes so their bucket
    math cannot drift apart; both sides of each join derive it from the
    same broadcast 1-row stats, so float rounding is identical by
    construction."""
    return (
        f"CASE WHEN {mx} > {mn}"
        f" THEN CAST({mx} - {mn} AS DOUBLE) / greatest({n} - 1, 1)"
        " ELSE 1.0D END"
    )


def _numeric_key(c, key_t):
    # type-BASED dispatch (key_t is a DataType): a string compare
    # here once let date keys fall through to cast-to-double,
    # which yields NULL — every row landed in the null bucket and
    # the operator silently serialized (correct results, scale
    # property lost; test_bucketing now pins the date-key plan)
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    if isinstance(key_t, DateType):
        return F.datediff(c, F.lit("1970-01-01")).cast("double")
    if isinstance(key_t, (TimestampType, TimestampNTZType)):
        return F.unix_micros(c.cast("timestamp")).cast("double")
    return c.cast("double")


def _payload_values(
    left: DataFrame,
    right: DataFrame,
    right_on: str,
    by_cols: list[str],
    values: list[str] | None,
) -> list[str]:
    """Shared payload contract for all three as-of routes (review fix —
    the defaulting block was copy-pasted three times): default to every
    right column except the keys, require a non-empty payload, and
    REJECT aliases that collide with a left column — the final select
    emits both and the first downstream reference dies with
    AMBIGUOUS_REFERENCE far from the cause (pandas merge_asof suffixes
    _x/_y; this operator requires distinct names up front)."""
    if values is None:
        values = [c for c in right.columns if c != right_on and c not in by_cols]
    if not values:
        raise ValueError("right side has no payload columns to attach")
    clash = [v for v in values if v in left.columns]
    if clash:
        raise ValueError(
            f"as-of payload column(s) {clash} collide with left columns "
            "— alias them on the right side first"
        )
    return values


def _asof_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str,
    by,
    strategy: str,
    values: list[str] | None,
    allow_exact_matches: bool,
) -> DataFrame:
    """As-of as a broadcast hash join — zero fact-side shuffles, grouped
    or ungrouped (the WHOLE right panel, all groups together, must be
    dimension-sized).

    Each right row owns a half-open bracketing interval of its group's
    key line (backward: [kᵢ, kᵢ₊₁), forward: (kᵢ₋₁, kᵢ], boundary
    membership per ``allow_exact_matches``). Intervals are exploded onto
    a per-group coarse bucket grid with pitch ≈ span/n (so the exploded
    dimension stays O(n) rows), broadcast, and the fact side equi-joins
    on (group, clamped bucket) — the exact interval predicate rides in
    the join condition, so each left row matches at most one interval.
    Group equality is NULL-SAFE (the shuffle route co-partitions null
    group keys, so they must match here too). The only window/agg runs
    over the dimension-sized right side.

    Right keys are assumed unique per group (same contract as the
    bucketed path); duplicate keys are deduped arbitrarily.
    """
    by_cols = [by] if isinstance(by, str) else list(by or [])
    values = _payload_values(left, right, right_on, by_cols, values)

    from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

    key_t = left.schema[on].dataType
    # the route's bucket math needs a faithful numeric image of the key;
    # any other type would cast to null and silently match NOTHING (the
    # shuffle route orders by the native key and stays correct) — refuse
    # rather than degrade
    if not isinstance(
        key_t, (NumericType, DateType, TimestampType, TimestampNTZType)
    ):
        raise ValueError(
            f"distribution='broadcast' needs a numeric/date/timestamp key;"
            f" {on} is {key_t.simpleString()} — use distribution='shuffle'"
        )

    # the series lineage feeds the interval window AND the stats agg —
    # checkpoint once so a fact-derived series isn't re-executed per
    # consumer (lazy: materializes on first use)
    rs = pin(
        right.select(
            *[F.col(c) for c in by_cols],
            _numeric_key(F.col(right_on).cast(key_t), key_t).alias("_kn"),
            F.struct(*[F.col(v) for v in values]).alias("_v"),
        )
        .filter(F.col("_kn").isNotNull())
        .dropDuplicates(by_cols + ["_kn"]),
        eager=False,
    )
    # interval bounds: one window over the dimension-sized series
    w = (
        Window.partitionBy(*by_cols).orderBy("_kn")
        if by_cols
        else Window.orderBy("_kn")
    )
    if strategy == "backward":
        iv = rs.select(
            *by_cols,
            F.col("_kn").alias("_start"),
            F.lead("_kn").over(w).alias("_end"),
            "_v",
        )
    else:
        iv = rs.select(
            *by_cols,
            F.lag("_kn").over(w).alias("_start"),
            F.col("_kn").alias("_end"),
            "_v",
        )
    stats = rs.groupBy(*by_cols).agg(
        F.min("_kn").alias("_mn"),
        F.max("_kn").alias("_mx"),
        F.count("*").alias("_n"),
    )

    def _nullsafe_join(df, st, how="inner"):
        if not by_cols:
            return df.crossJoin(F.broadcast(st))
        sts = st.select(
            *[F.col(c).alias(f"_s_{c}") for c in by_cols],
            *[c for c in st.columns if c not in by_cols],
        )
        cond = None
        for c in by_cols:
            e = F.col(c).eqNullSafe(F.col(f"_s_{c}"))
            cond = e if cond is None else (cond & e)
        return df.join(F.broadcast(sts), cond, how).drop(
            *[f"_s_{c}" for c in by_cols]
        )

    # the pitch/clamp bounds are derived from the SAME per-group stats
    # broadcast on both sides (pure column math, no Python-side
    # collect), so the two bucket computations can never disagree
    iv = _nullsafe_join(iv, stats)
    g = F.expr(grid_pitch_sql("_mn", "_mx", "_n"))
    b_lo = F.floor(F.coalesce(F.col("_start"), F.col("_end")) / g)
    b_hi = F.floor(F.coalesce(F.col("_end"), F.col("_start")) / g)
    ivs = iv.select(
        *[F.col(c).alias(f"_r_{c}") for c in by_cols],
        "_start",
        "_end",
        "_v",
        F.explode(F.sequence(b_lo, b_hi)).alias("_rbkt"),
    )

    l_packed = _nullsafe_join(
        left.select(
            F.struct(*left.columns).alias("_l"),
            *[F.col(c) for c in by_cols],
            _numeric_key(F.col(on).cast(key_t), key_t).alias("_kn"),
        ),
        stats,
        how="left",  # groups absent from the series still keep their rows
    )
    g_l = F.expr(grid_pitch_sql("_mn", "_mx", "_n"))
    raw_bkt = F.floor(F.col("_kn") / g_l)
    if strategy == "backward":
        # targets above the last key still match the last (unbounded)
        # interval; targets below the first key match nothing
        clamped = F.least(raw_bkt, F.floor(F.col("_mx") / g_l))
    else:
        clamped = F.greatest(raw_bkt, F.floor(F.col("_mn") / g_l))
    l_packed = l_packed.select(
        "_l",
        *by_cols,
        "_kn",
        F.when(F.col("_kn").isNotNull(), clamped).alias("_bkt"),
    )

    k = F.col("_kn")
    if strategy == "backward":
        lo_ok = (k >= F.col("_start")) if allow_exact_matches else (k > F.col("_start"))
        hi_ok = F.col("_end").isNull() | (
            (k < F.col("_end")) if allow_exact_matches else (k <= F.col("_end"))
        )
    else:
        hi_ok = (k <= F.col("_end")) if allow_exact_matches else (k < F.col("_end"))
        lo_ok = F.col("_start").isNull() | (
            (k > F.col("_start")) if allow_exact_matches else (k >= F.col("_start"))
        )
    cond = (F.col("_bkt") == F.col("_rbkt")) & lo_ok & hi_ok
    for c in by_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_r_{c}"))
    out = l_packed.join(F.broadcast(ivs), cond, "left")
    left_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    return out.select(
        *left_cols, *[F.col(f"_v.{v}").alias(v) for v in values]
    )


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str | None,
    by,
    values: list[str] | None,
    allow_exact_matches: bool,
    distribution: str = "shuffle",
) -> DataFrame:
    """Nearest = the closer of the backward and forward matches (ties →
    backward). Composed from two passes of the directional operator —
    each pass is the documented one-shuffle plan, and the second pass
    reuses the first's output as its left side, so the total is the two
    window shuffles the direction pair costs anyway.

    The matched right key is attached internally to compute the
    distances, then dropped.
    """
    from pyspark.sql.types import StringType

    right_on = right_on or on
    by_cols = [by] if isinstance(by, str) else list(by or [])
    values = _payload_values(left, right, right_on, by_cols, values)

    key_t = left.schema[on].dataType
    if isinstance(key_t, StringType):
        # string subtraction casts to double → null distances, which
        # would silently hand EVERY row the forward match (review fix)
        raise ValueError(
            "strategy='nearest' needs a numeric/date/timestamp ordering "
            f"key to compare distances; got {key_t.simpleString()}"
        )

    # the matched right key is probed under an INTERNAL name so a
    # same-named right key (the right_on=None default!) cannot collide
    # with the left key in the intermediate selects (review-confirmed
    # AMBIGUOUS_REFERENCE crash)
    rk = "_asof_nearest_rk"
    right2 = right.withColumn(rk, F.col(right_on))
    probe = [rk] + [v for v in values if v != rk]
    bwd = asof_join(
        left, right2, on, right_on, by, "backward", probe, allow_exact_matches,
        distribution,
    )
    ren_b = bwd.select(
        *left.columns,
        *[F.col(v).alias(f"_b_{v}") for v in probe],
    )
    both = asof_join(
        ren_b, right2, on, right_on, by, "forward", probe, allow_exact_matches,
        distribution,
    ).select(
        *ren_b.columns,
        *[F.col(v).alias(f"_f_{v}") for v in probe],
    )

    kn = _numeric_key(F.col(on), key_t)
    d_b = F.abs(kn - _numeric_key(F.col(f"_b_{rk}"), key_t))
    d_f = F.abs(_numeric_key(F.col(f"_f_{rk}"), key_t) - kn)
    # backward wins when it exists and is at least as close
    take_b = F.col(f"_b_{rk}").isNotNull() & (
        F.col(f"_f_{rk}").isNull() | (d_b <= d_f)
    )
    out_cols = list(left.columns) + [
        F.when(take_b, F.col(f"_b_{v}")).otherwise(F.col(f"_f_{v}")).alias(v)
        for v in values
    ]
    return both.select(*out_cols)
