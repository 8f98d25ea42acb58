"""Event-stream product analytics: ordered funnels and cohort
retention — the two aggregate views a web-scale events table is asked
for after sessionization (operators in __spark_entry__._q_sessionize)
and attribution (operators/temporal.asof_join) are in place.

``funnel_counts`` answers "of the users who did step 1, how many went
on to do step 2 AFTER it, then step 3 after that" — strictly ordered,
first-touch semantics. The naive formulation self-joins the events
table K times on (user, ts range); here each step keeps ONE row per
user (the step's first qualifying timestamp), so every intermediate is
bounded by |users| regardless of how many raw events a hot user has —
the row-amplification bound that matters at 10^12 events.

``cohort_retention`` answers "of the users first seen on day D, how
many were active again k days later". One shuffle on user collapses
events to a per-user set of active DAYS (collect_set partials dedupe
map-side, and the set is bounded by the calendar span of the corpus,
not by event count — a 10^9-event bot user still carries at most one
entry per day); a second map-side-combinable aggregation produces the
(cohort, offset) matrix. No join, no distinct over the raw table.

Reference scope note: the reference service has no event analytics
(SURVEY §2 covers extraction only); this is engine surface the
training-data pipeline needs, same footing as sessionize/asof_join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .common import cut


def event_path_ngrams(
    events: DataFrame,
    n: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """``(step1..step{n}, n_paths)``: counts of length-``n`` consecutive
    event-type paths per user stream — the order-``n−1`` Markov
    generalization of :func:`event_transitions` (sequence mining for
    "what 3-step flows lead to purchase"). Same determinism contract
    ((ts, id) order) and the same scale shape: ONE user-keyed window
    shuffle, ``n−1`` lead()s evaluated in the same pass (no frame
    buffer beyond ``n−1`` rows of lookahead), one map-side-combinable
    count bounded by |types|^n — never event count. Filtering on the
    LAST lead alone is sufficient: lead(k) non-null within a partition
    implies every earlier lead is too."""
    if int(n) < 2:
        raise ValueError("n must be >= 2")
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    cols = [F.col(type_col).alias("step1")] + [
        F.lead(type_col, i).over(w).alias(f"step{i + 1}")
        for i in range(1, int(n))
    ]
    path = events.select(*cols).where(F.col(f"step{int(n)}").isNotNull())
    return path.groupBy(*[f"step{i + 1}" for i in range(int(n))]).agg(
        F.count("*").cast("long").alias("n_paths")
    )


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strictly-ordered first-touch funnel: ``(step, step_name,
    n_users)`` with one row per step in ``steps`` — n_users at step i
    is the count of users whose first step-i event happened strictly
    after their (recursively defined) first qualifying step-(i-1)
    event. Strict ``>`` means a simultaneous pair does not advance the
    funnel; deterministic and mirrored in the oracle.

    Scale shape: the scan filters to the funnel's event types first
    (predicate pushdown: non-funnel events never leave the source).
    Step 1 is one map-side-combinable min per user; each later step is
    one equi-join of the (|users|-bounded) previous frame against the
    filtered scan plus another combinable min. Every shuffle is keyed
    on the user column, and every intermediate holds at most one row
    per user. Steps that nobody reaches still emit a row (n_users 0)
    via the final left join from the literal step dimension — the
    explode-drops-rows lesson applied to aggregation. Step frames are
    cut (each is referenced twice: next step's join + the final
    union)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct")
    ev = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(type_col).alias("_et"),
    ).where(F.col("_et").isin(list(steps)))

    # each step frame is referenced TWICE (next step's join + the
    # union), with different downstream shapes: uncut, step i re-scans
    # the source i times and the K-step funnel costs O(K^2) scans
    # (measured 11 parquet scans for K=3 before the cut, K after)
    cur = cut(
        ev.where(F.col("_et") == steps[0])
        .groupBy("_u")
        .agg(F.min("_ts").alias("_t"))
    )
    reached = [cur.select(F.lit(1).cast("long").alias("step"), "_u")]
    for i, s in enumerate(steps[1:], start=2):
        cur = cut(
            ev.where(F.col("_et") == s)
            .join(cur.select("_u", F.col("_t").alias("_prev")), "_u")
            .where(F.col("_ts") > F.col("_prev"))
            .groupBy("_u")
            .agg(F.min("_ts").alias("_t"))
        )
        reached.append(
            cur.select(F.lit(i).cast("long").alias("step"), "_u")
        )
    per_user = reached[0]
    for r in reached[1:]:
        per_user = per_user.unionAll(r)
    counts = per_user.groupBy("step").agg(
        F.count("*").cast("long").alias("_n")
    )
    dim = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)],
        "step long, step_name string",
    )
    return (
        dim.join(F.broadcast(counts), "step", "left")
        .select(
            "step",
            "step_name",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_users"),
        )
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-grain cohort retention matrix: ``(cohort_day, offset_days,
    n_users)`` — users are cohorted by the calendar day of their first
    event, and each (cohort, k) cell counts the cohort's users active
    on cohort_day + k (offset 0 is the cohort size itself).
    ``cohort_day`` is a yyyy-MM-dd string (the latest_crawl date
    convention); counts are exact BIGINTs.

    Scale shape: ONE shuffle on user collapses raw events to
    ``collect_set(day)`` per user — the partial aggregate dedupes
    map-side, and the merged set is bounded by the corpus's calendar
    span, never by per-user event count. The per-user cohort is
    ``array_min`` of that same set (no second scan, no join back).
    Explode + one more map-side-combinable count finishes it. Total:
    two shuffles, zero joins, zero distinct over the raw table."""
    per_user = (
        events.select(
            F.col(user_col).alias("_u"),
            F.to_date(ts_col).alias("_day"),
        )
        .groupBy("_u")
        .agg(F.collect_set("_day").alias("_days"))
        .select(
            F.array_min("_days").alias("_cohort"),
            F.explode("_days").alias("_day"),
        )
    )
    return (
        per_user.groupBy(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("_day", "_cohort").cast("long").alias(
                "offset_days"
            ),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """``(event_type, next_type, n_transitions)``: counts of consecutive
    event-type pairs within each user's stream — the Markov transition
    matrix behind user-flow / Sankey views and next-event priors, the
    step-free counterpart to :func:`funnel_counts` (a funnel fixes the
    path; this measures ALL observed paths).

    Determinism: the stream order is (ts, event_id) — the sessionize
    tie-break, so simultaneous events have a stable successor and the
    oracle reproduces the exact counts. A user's LAST event has no
    successor and contributes nothing (no sentinel row — terminal mass
    is recoverable as row_count − Σ outgoing, and a sentinel would put
    a fabricated type in the key space).

    Scale shape: ONE shuffle — the lead() window keyed on user — then a
    map-side-combinable count by (event_type, next_type); the output is
    bounded by |types|², never by event count, and a 10^9-event bot
    user is one window partition streamed in sort order (bounded linear
    straggler, the documented window trade). The window needs no frame
    buffer (lead 1 = one row of lookahead)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    nxt = F.lead(type_col).over(w)
    return (
        events.select(F.col(type_col).alias("event_type"), nxt.alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("long").alias("n_transitions"))
    )


def activity_gapfill(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """``(user_id, day, n_events)``: one row per user per CALENDAR DAY
    between the user's first and last event, with that day's event
    count — gap days zero-filled. The timeseries resample/gap-fill
    primitive behind retention curves and activity heatmaps (dashboards
    need the zeros; SQL engines grow a calendar dimension for this).
    ``day`` is a yyyy-MM-dd string (the cohort_retention convention).

    Scale shape: raw events collapse map-side in ONE (user, day) count
    aggregation; the calendar expansion works on the per-user span
    relation (one row per user) via ``explode(sequence(d0, d1))`` —
    output state is bounded by users × corpus calendar span,
    independent of event count. The zero-fill is a left join keyed on
    (user, day) between two already-aggregated frames; a 10^9-event
    bot user costs one combiner-heavy aggregation, never a window
    buffer. A user active on one day yields exactly that one row
    (sequence(d, d) = [d])."""
    daily = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.to_date(ts_col).alias("_day"),
        )
        .groupBy("user_id", "_day")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("_day").alias("_d0"), F.max("_day").alias("_d1"))
        .select(
            "user_id",
            F.explode(F.sequence("_d0", "_d1")).alias("_day"),
        )
    )
    return (
        cal.join(daily, ["user_id", "_day"], "left")
        .select(
            "user_id",
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


def rate_anomalies(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    z: int = 3,
) -> DataFrame:
    """``(key, day, n_events, base_total, base_days, status)``: per-key
    daily event counts over the key's zero-filled calendar span, each
    day flagged ``spike`` / ``drop`` / ``normal`` by an EXACT integer
    Poisson z-test — the alerting primitive behind crawl/ingest
    monitoring. With per-day mean μ = s/nd (s = span total, nd = span
    days), the classic |n − μ| > z·√μ test cross-multiplies to pure
    integers: ``dev = n·nd − s``; anomalous iff ``dev² > z²·s·nd``
    (both sides exact — no float sqrt, engine-portable), signed by dev.
    A fixed percentage band would NOT work across scales: Poisson noise
    shrinks like 1/√μ, so any constant band is either dead at 10⁶
    events/day or always-on at 10 (measured on the sf ladder: daily
    deviations span ±120% at sf0.001 but ±12% at sf0.1) — the z-test is
    the statistic that binds at every scale.

    Zero-filled days matter: a key that stops emitting entirely is the
    headline incident, and it only exists as a row if the calendar span
    is generated (the activity_gapfill shape: explode(sequence) over
    the per-key span relation). ``daily`` is referenced three times
    (span, baseline, zero-fill join) and is cut — it is bounded by
    keys × span days, not event count.

    BIGINT bound: ``dev²`` requires |n·nd − s| < 3·10⁹ — per-key volume
    × span-days below ~3·10⁹ (e.g. 10⁶/day over 3 years). Beyond that,
    pre-scale the counts (flag on thousands) before calling; the test
    is scale-equivariant up to the rescaled resolution."""
    daily = cut(
        events.select(
            F.col(key_col).alias("key"),
            F.to_date(ts_col).alias("_day"),
        )
        .groupBy("key", "_day")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    base = daily.groupBy("key").agg(
        F.min("_day").alias("_d0"),
        F.max("_day").alias("_d1"),
        F.sum("n_events").cast("long").alias("base_total"),
    ).select(
        "key",
        "_d0",
        "_d1",
        "base_total",
        (F.datediff("_d1", "_d0") + 1).cast("long").alias("base_days"),
    )
    cal = base.select(
        "key",
        "base_total",
        "base_days",
        F.explode(F.sequence("_d0", "_d1")).alias("_day"),
    )
    dev = F.col("n_events") * F.col("base_days") - F.col("base_total")
    hot = dev * dev > F.lit(int(z) * int(z)) * F.col("base_total") * F.col(
        "base_days"
    )
    return (
        cal.join(daily, ["key", "_day"], "left")
        .select(
            "key",
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            "base_total",
            "base_days",
        )
        .select(
            "key",
            "day",
            "n_events",
            "base_total",
            "base_days",
            F.when(hot & (dev > 0), F.lit("spike"))
            .when(hot & (dev < 0), F.lit("drop"))
            .otherwise(F.lit("normal"))
            .alias("status"),
        )
    )


def rolling_daily_counts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """``(key, day, n_day, n_roll)``: per-key daily event counts with a
    trailing ``window_days``-day rolling sum — the moving-average /
    trend primitive of ingest and traffic monitoring. The frame is a
    RANGE frame over the integer epoch-day (``RANGE BETWEEN
    window_days−1 PRECEDING AND CURRENT ROW``), NOT a ROWS frame: a
    key silent for a week must contribute nothing to the window after
    the gap, and a ROWS frame would wrongly reach across missing days.
    Days with zero events emit no row (their absence is exactly what
    the RANGE frame handles); compose with ``activity_gapfill`` when
    the zeros themselves are wanted. ``day`` is the yyyy-MM-dd string
    convention.

    Scale shape: ONE map-side-combinable (key, day) count collapses
    the corpus to keys × calendar-span rows; the window then runs over
    that bounded table, partitioned by key — ≤ span rows per
    partition, no hot-key straggler possible because the window input
    is the aggregate (the majority_label discipline)."""
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    daily = (
        events.select(
            F.col(key_col).alias("key"),
            F.to_date(ts_col).alias("_day"),
        )
        .groupBy("key", "_day")
        .agg(F.count("*").cast("long").alias("n_day"))
        .withColumn(
            "_ed",
            F.datediff("_day", F.to_date(F.lit("1970-01-01"))).cast("long"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("_ed")
        .rangeBetween(-(int(window_days) - 1), 0)
    )
    return daily.select(
        "key",
        F.date_format("_day", "yyyy-MM-dd").alias("day"),
        "n_day",
        F.sum("n_day").over(w).cast("long").alias("n_roll"),
    )
