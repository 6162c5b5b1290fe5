"""Brazilian business-day calendar, generated algorithmically.

The reference ships ANBIMA's published national-holiday lists as static
data files with two regimes split at 2023-12-26 — the "novo" regime adds
Dia Nacional de Zumbi (Nov 20) from 2024 on
(``pyield/du/feriados/feriados_br.py:18-35``).

We do not copy the data files. The ANBIMA national calendar is fully
reproducible from public rules: eight fixed civil/religious holidays plus
four Easter-relative movable feasts (Carnival Monday/Tuesday, Good
Friday, Corpus Christi) via the anonymous Gregorian computus. Verified
against the reference lists: every weekday holiday matches except two
historical quirks in ANBIMA's own file (Good Friday 1990-04-13 and
Tiradentes/Good Friday 2000-04-21 are absent there), which we exclude
explicitly to preserve behavioral parity; the generated set additionally
contains holidays that fall on weekends, which ANBIMA omits and which are
irrelevant for business-day math.

The calendar is materialized once as a small dimension table
(~40k rows for 1990-2099) and broadcast — two hash joins give
O(1)-per-row business-day counts/offsets at any data scale.
"""

from __future__ import annotations

import datetime as dt
import uuid
import weakref
from functools import lru_cache

from pyield_spark.functions.frames import local_frame
from pyield_spark.operators.pinning import pin

# Regime transition: start dates before this use the "antigo" list
# (reference: pyield/du/core.py:20-25, feriados_br.py:18).
TRANSITION_DATE = dt.date(2023, 12, 26)

# Weekday dates ANBIMA's published file does not contain even though the
# generation rules produce them (data quirks in the official source).
_ANBIMA_EXCLUSIONS = frozenset({dt.date(1990, 4, 13), dt.date(2000, 4, 21)})

CAL_START = dt.date(1990, 1, 1)
CAL_END = dt.date(2099, 12, 31)


def easter_sunday(year: int) -> dt.date:
    """Gregorian Easter via the anonymous computus (public algorithm)."""
    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    f = (b + 8) // 25
    g = (b - f + 1) // 3
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    el = (32 + 2 * e + 2 * i - h - k) % 7
    m = (a + 11 * h + 22 * el) // 451
    month, day = divmod(h + el - 7 * m + 114, 31)
    return dt.date(year, month, day + 1)


@lru_cache(maxsize=4)
def holidays(regime: str = "novo", year_start: int = 1990, year_end: int = 2099) -> tuple[dt.date, ...]:
    """Brazilian national holidays for one regime, sorted.

    regime="antigo": pre-2023-12-26 list. regime="novo": adds Nov 20
    (Consciência Negra) from 2024 on.
    """
    if regime not in ("antigo", "novo"):
        raise ValueError(f"unknown regime: {regime!r}")
    out: set[dt.date] = set()
    for y in range(year_start, year_end + 1):
        fixed = [(1, 1), (4, 21), (5, 1), (9, 7), (10, 12), (11, 2), (11, 15), (12, 25)]
        if regime == "novo" and y >= 2024:
            fixed.append((11, 20))
        for m, d in fixed:
            out.add(dt.date(y, m, d))
        e = easter_sunday(y)
        for off in (-48, -47, -2, 60):  # Carnival Mon/Tue, Good Friday, Corpus Christi
            out.add(e + dt.timedelta(days=off))
    out -= _ANBIMA_EXCLUSIONS
    return tuple(sorted(out))


def is_business_day(d: dt.date, regime: str | None = None) -> bool:
    """Weekday and not a holiday (reference: pyield/du/core.py:598-600)."""
    if regime is None:
        regime = "antigo" if d < TRANSITION_DATE else "novo"
    return d.weekday() < 5 and d not in _holiday_set(regime)


@lru_cache(maxsize=4)
def _holiday_set(regime: str) -> frozenset[dt.date]:
    return frozenset(holidays(regime))


@lru_cache(maxsize=2)
def calendar_rows(start: dt.date = CAL_START, end: dt.date = CAL_END):
    """One row per calendar day with per-regime business-day bookkeeping.

    Columns (python tuples; see :func:`calendar_df` for the Spark view):
      data, is_bd_ant, is_bd_nov,
      cum_ant, cum_nov    -- business days in [start, data) per regime
                             (also the forward-roll ordinal: own if bd,
                             next bd's otherwise)
      idx_bwd_ant/nov     -- bd ordinal of `data` rolled backward

    ``cum`` gives counts: contar(a, b) = cum[b] - cum[a] (start inclusive,
    end exclusive — matches polars business_day_count used at
    pyield/du/core.py:82-86). ``idx`` gives offsets: deslocar(d, n, roll)
    = date_of_ordinal(idx_roll[d] + n) (pyield/du/core.py:273-346).
    """
    ha, hn = _holiday_set("antigo"), _holiday_set("novo")
    rows = []
    cum_a = cum_n = 0
    d = start
    one = dt.timedelta(days=1)
    while d <= end:
        bd_a = d.weekday() < 5 and d not in ha
        bd_n = d.weekday() < 5 and d not in hn
        # ordinal of this date rolled forward = cum (count before d) if d
        # is a bd else count before next bd == current cum value
        rows.append([d, bd_a, bd_n, cum_a, cum_n])
        if bd_a:
            cum_a += 1
        if bd_n:
            cum_n += 1
        d += one
    # second pass: backward roll ordinals per regime. There is NO
    # separate forward index: the forward-roll ordinal of any date
    # equals cum (own ordinal if a bd, next bd's ordinal otherwise — by
    # construction of the [start, d) count), so deslocar's forward path
    # reads cum_* directly and the broadcast dimension stays two
    # columns slimmer (review fix)
    n = len(rows)
    idx_bwd_a = [0] * n
    idx_bwd_n = [0] * n
    for i in range(n):
        _, bd_a, bd_n, c_a, c_n = rows[i]
        # backward roll: if bd, own ordinal; else previous bd ordinal (= cum - 1)
        idx_bwd_a[i] = c_a if bd_a else c_a - 1
        idx_bwd_n[i] = c_n if bd_n else c_n - 1
    return [
        (
            rows[i][0],
            rows[i][1],
            rows[i][2],
            rows[i][3],
            rows[i][4],
            idx_bwd_a[i],
            idx_bwd_n[i],
        )
        for i in range(n)
    ]


_CAL_SCHEMA = (
    "data DATE, is_bd_ant BOOLEAN, is_bd_nov BOOLEAN, "
    "cum_ant BIGINT, cum_nov BIGINT, "
    "idx_bwd_ant BIGINT, idx_bwd_nov BIGINT"
)

# per-session dimension cache: building ~40k rows driver-side is cheap
# once, but doing it per operator call serializes the whole table into
# every query — memoize, keyed by a session token that a NEW session
# cannot reuse. id(sparkContext) is unsafe: a stopped context's address
# can be re-allocated to a fresh one, serving plans bound to the dead
# session (applicationId carries a start timestamp in every master).
_DF_CACHE: dict = {}
_SESSION_TOKENS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session_token(spark) -> tuple[str, str]:
    """(context_token, session_token): the context half identifies the
    JVM SparkContext (dead-context eviction), the session half the
    SparkSession itself. One JVM can host several sessions over the
    same context (``newSession()`` — the driver's vanilla-session
    lap does exactly this), and a DataFrame is bound to the session
    that built it: handing session A's memoized frame to session B
    silently registers temp views in A's catalog and ignores B's
    confs, so the memo key MUST carry the session identity."""
    sc = spark.sparkContext
    try:
        ctx = f"{sc.applicationId}:{sc.startTime}"
    except Exception:  # pragma: no cover - startTime gone on some builds
        ctx = str(sc.applicationId)
    try:
        sess = str(spark._jsparkSession.sessionUUID())
    except Exception:  # Connect / renamed JVM API
        # NOT id(spark): CPython recycles addresses after GC, so a new
        # session could collide with a dead session's key and receive a
        # frame bound to the dead session (review fix). A weak side
        # table maps each live session object to a uuid — stable for
        # its lifetime, never reused, and it needs no attribute on the
        # session (which may reject assignment).
        sess = _SESSION_TOKENS.setdefault(spark, uuid.uuid4().hex)
    return ctx, sess


def df_cache_get(spark, subkey: tuple, builder):
    """Memoized per-SESSION DataFrame lookup with dead-context eviction.

    On a cache miss, entries keyed to a DIFFERENT SparkContext are
    purged: a long-lived process that starts/stops many contexts would
    otherwise accumulate DataFrame plans bound to dead JVM state
    forever (each carries a cached RDD handle). Entries from sibling
    live sessions on the SAME context are kept — evicting them would
    ping-pong the memo between alternating sessions. A miss only
    happens on the first use of a new (session, dimension) pair, so
    the sweep is rare.
    """
    ctx, sess = _session_token(spark)
    key = ((ctx, sess), *subkey)
    if key not in _DF_CACHE:
        for stale in [k for k in _DF_CACHE if k[0][0] != ctx]:
            del _DF_CACHE[stale]
        _DF_CACHE[key] = builder()
    return _DF_CACHE[key]


def calendar_df(spark, start: dt.date = CAL_START, end: dt.date = CAL_END):
    """The business-day dimension as a (broadcastable) Spark DataFrame.

    Built through Arrow (``local_frame``): a ``createDataFrame`` over a
    Python list is a Python-worker RDD scan, and building this table
    and ``business_dates_df`` that way took 1.3-1.7 s warm / 6.4 s
    cold against 0.5-0.7 / 4.3 s (local[4], 4-vCPU VM).
    Materialized via ``pin`` rather than ``cache``: the Arrow frame is
    a ~40k-row LocalRelation that a cache would leave in the LOGICAL
    plan of every consumer, so each analysis / checkpoint /
    plan-stringification in a calendar-joining query would walk (and
    ship) the whole table; the checkpoint truncates it to a LogicalRDD
    scan — a constant-size plan node — for a one-off materialization
    cost (round-7 build-time profile: q_leiloes plan construction
    −0.5 s, and every du-joining query sheds a slice).
    """
    return df_cache_get(
        spark,
        ("cal", start, end),
        lambda: pin(
            local_frame(spark, calendar_rows(start, end), _CAL_SCHEMA)
        ),
    )


def business_dates_df(spark, start: dt.date = CAL_START, end: dt.date = CAL_END):
    """Inverse map: (regime, ordinal) -> date, for business-day offsets."""

    def build():
        rows = []
        for r in calendar_rows(start, end):
            d, bd_a, bd_n, c_a, c_n = r[0], r[1], r[2], r[3], r[4]
            if bd_a:
                rows.append(("antigo", c_a, d))
            if bd_n:
                rows.append(("novo", c_n, d))
        # pin, not cache — same plan-size rationale as calendar_df above
        return pin(
            local_frame(spark, rows, "regime STRING, ordinal BIGINT, data DATE")
        )

    return df_cache_get(spark, ("bdinv", start, end), build)
