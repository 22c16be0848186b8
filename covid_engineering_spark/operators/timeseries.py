"""Time-series rollup (beyond-reference extension): the hypertable
downsample — raw events resampled to fixed buckets with
open/high/low/close/sum aggregates, the query shape behind every
metrics store and OHLC feed.

Scale shape: one groupBy on (bucket, type) with full partial
aggregation — the shuffle carries one row per bucket per type, so a
year of nanosecond events rolls up through a shuffle bounded by
buckets × types, not by raw rows. At 100 TB pair this with the
range-clustered layout (``write_range_sorted`` on ts) so the scan
side prunes to the requested time slice before aggregating.

Determinism: open/close use ``min_by``/``max_by`` on the event
timestamp; the synthetic feed's nanosecond timestamps are globally
unique (asserted in tests), so the selection is total-ordered without
a composite tiebreak (which the SQL oracle's ``arg_min`` cannot
express).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_engineering_spark.functions import dsum
from covid_engineering_spark.sources import read_table

EVERY = "hour"
#: Inactivity gap that closes a session. The synthetic feed's per-user
#: inter-arrival median is ~7.7 h, so 8 h yields a real mix of multi-
#: event and singleton sessions (~2 events/session at sf0.01) instead
#: of degenerating to one-event sessions.
SESSION_GAP = "INTERVAL 8 HOURS"


def resample(ev: DataFrame) -> DataFrame:
    """Downsample events to ``EVERY``-sized buckets per event_type:
    count, exact (decimal) sum, first/last value by event time, min
    and max.
    """
    return (
        ev.groupBy(
            F.date_trunc(EVERY, "ts").alias("bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
            F.min_by("value", "ts").alias("open_value"),
            F.max_by("value", "ts").alias("close_value"),
            F.min("value").alias("low"),
            F.max("value").alias("high"),
        )
    )


def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample(read_table(spark, sf_dir, "events"))


def sessionize(ev: DataFrame) -> DataFrame:
    """Assign every event a per-user ``session_id``: a new session
    starts when the gap to the previous event of the SAME user exceeds
    ``SESSION_GAP`` (a SQL interval literal). The batch complement of the
    ``stream_session`` windowed aggregate — this one labels the raw
    rows, which is what downstream per-session feature extraction
    joins against.

    Scale shape: two window passes over ONE shuffle on ``user_id``
    (lag, then the running flag sum reuse the same partitioning —
    Catalyst plans a single Exchange). The gap test is pure interval
    arithmetic on the event-time column: no epoch casts, so the exact
    same µs comparison runs in the SQL oracle. Per-user state never
    leaves its partition, so a 100 TB feed sessionizes with shuffle
    bounded by the raw rows of the largest single user.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_s = (
        prev.isNull() | (F.col("ts") > prev + F.expr(SESSION_GAP))
    ).cast("long")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        ev.withColumn("new_s", new_s)
        .withColumn("session_id", F.sum("new_s").over(run))
        .select("event_id", "user_id", "ts", "session_id")
    )


def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(read_table(spark, sf_dir, "events"))


def rollup_partial(ev: DataFrame) -> DataFrame:
    """Mergeable partial rollup: the OHLC aggregate of ``resample``
    with the merge keys carried — exact decimal sums (additive),
    first/last event times (so open/close stay selectable after a
    merge), min/max. The building block of incremental materialized
    rollups: partials from disjoint event batches combine via
    :func:`rollup_merge` into exactly the full recompute.
    """
    return (
        ev.groupBy(
            F.date_trunc(EVERY, "ts").alias("bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sum_dec"),
            F.min("ts").alias("_first_ts"),
            F.max("ts").alias("_last_ts"),
            F.min_by("value", "ts").alias("open_value"),
            F.max_by("value", "ts").alias("close_value"),
            F.min("value").alias("low"),
            F.max("value").alias("high"),
        )
    )


def rollup_merge(partials: DataFrame) -> DataFrame:
    """Combine partial rollups (a union of :func:`rollup_partial`
    outputs over disjoint batches) into the final OHLC frame. Every
    aggregate is mergeable: counts and decimal sums add; open/close
    re-select by the carried first/last event time; min/max nest.
    The shuffle carries one row per (bucket, type) PER BATCH — at
    100 TB this is how an hourly rollup absorbs a new day of events
    without rereading history (refresh cost = O(batch + touched
    buckets), never O(corpus)).
    """
    return (
        partials.groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("_sum_dec").cast("double"), 2).alias("sum_value"),
            F.min_by("open_value", "_first_ts").alias("open_value"),
            F.max_by("close_value", "_last_ts").alias("close_value"),
            F.min("low").alias("low"),
            F.max("high").alias("high"),
        )
    )


#: Deterministic hash-split for the incremental-rollup demonstration:
#: event_id % INC_ROLLUP_MOD == 0 is the "arriving batch".
INC_ROLLUP_MOD = 5


def incremental_rollup(ev: DataFrame) -> DataFrame:
    """Split the event log into a standing corpus and an arriving
    batch, partially roll up each side, and merge — ONE definition
    shared by the registered query and the example, so the split key
    cannot drift between them.
    """
    corpus = ev.filter(F.col("event_id") % INC_ROLLUP_MOD != 0)
    batch = ev.filter(F.col("event_id") % INC_ROLLUP_MOD == 0)
    return rollup_merge(
        rollup_partial(corpus).unionByName(rollup_partial(batch))
    )


def q_ts_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance, driver-PROVEN: the event log is
    hash-split into a standing corpus and an arriving batch, each side
    is partially rolled up, and the partials merge. The oracle IS the
    ``ts_resample`` twin — the full recompute over all events — so the
    driver hash-match is a proof that the merge is lossless: the
    mergeable-aggregate property every incremental materialized view
    stands on. Same unique-timestamp determinism contract as
    ``ts_resample``.
    """
    return incremental_rollup(read_table(spark, sf_dir, "events"))


#: Ordered funnel steps: a later step only counts if it happens
#: STRICTLY AFTER the user's earliest completion of the previous step.
FUNNEL_STEPS = ["view", "click", "purchase"]
#: The 5-step funnel of ``ts_funnel_steps`` — every event type in the
#: synthetic feed, in conversion order.
FUNNEL_STEPS_5 = ["signup", "view", "click", "purchase", "error"]


def funnel(ev: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-step conversion funnel: per user who completed
    ``steps[0]``, the earliest time each step completed GIVEN the
    previous step completed before it, plus the reached depth. The
    standard product-analytics query a metrics store runs over the raw
    event log.

    One shuffle regardless of step count: collect each user's
    (ts, type) events, sort, and fold left with an accumulator of
    per-step first-completion times — step i fires on the first event
    of its type that is STRICTLY AFTER the recorded step i-1 time. The
    fold is a pure JVM ``aggregate`` over an
    ``array_sort(collect_list(...))``, so a 20-step funnel costs one
    groupBy on ``user_id``, not one join per step.

    Scale shape: the fold holds each user's events in one array,
    bounded by that user's own event count (the same bound sessionize
    already carries); a pathological single user bounds one task, not
    the stage. Determinism: event timestamps are unique (asserted for
    the synthetic feed in tests), and the fold reads them in sorted
    order.
    """
    # The accumulator literal must carry the INPUT ts type: a plain
    # cast("timestamp") would coerce timestamp_ntz events to LTZ,
    # reinterpreting wall-clock times in any non-UTC session.
    ts_type = ev.schema["ts"].dataType.simpleString()
    init = F.array(*[F.lit(None).cast(ts_type) for _ in steps])

    def fold(acc, e):
        outs = []
        for i, s in enumerate(steps):
            cur = F.element_at(acc, i + 1)
            cond = cur.isNull() & (e["event_type"] == s)
            if i > 0:
                prev = F.element_at(acc, i)
                cond = cond & prev.isNotNull() & (e["ts"] > prev)
            outs.append(F.when(cond, e["ts"]).otherwise(cur))
        return F.array(*outs)

    t = F.aggregate(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))),
        init,
        fold,
    )
    agg = (
        ev.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .agg(t.alias("t"))
    )
    depth = sum(
        (
            F.element_at(F.col("t"), i + 1).isNotNull().cast("int")
            for i in range(len(steps))
        ),
        F.lit(0),
    )
    return agg.select(
        "user_id",
        *[
            F.element_at("t", i + 1).alias(f"t_{s}")
            for i, s in enumerate(steps)
        ],
        depth.alias("funnel_depth"),
    ).filter(F.col(f"t_{steps[0]}").isNotNull())


def q_ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(read_table(spark, sf_dir, "events"), FUNNEL_STEPS)


def q_ts_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(read_table(spark, sf_dir, "events"), FUNNEL_STEPS_5)


def cohort_retention(ev: DataFrame) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by the week of
    their FIRST event; each (cohort_week, activity_week) cell counts
    the distinct cohort members active that week, with the week offset
    for triangle-matrix rendering.

    Scale shape: first-touch is a partial-aggregated min per user; the
    cohort label rides back on a user_id equi-join (AQE broadcasts the
    per-user frame when it is small, and at 100 TB both sides already
    hash-partition on user_id so the join reuses one exchange); the
    matrix agg's shuffle carries one row per (cohort, week) pair —
    hundreds of rows for years of data. ``date_trunc('week', ...)`` is
    ISO-Monday in both engines.
    """
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.date_trunc("week", "ts").cast("date").alias("activity_week"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .withColumn(
            "week_offset",
            (
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            ).cast("long"),
        )
    )


def q_ts_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_retention(read_table(spark, sf_dir, "events"))


def gapfill_daily(ev: DataFrame) -> DataFrame:
    """Calendar densification: one row per user per calendar day
    between that user's first and last event, with the day's event
    count (0 on silent days). The spine every downstream
    interpolation / rolling-window consumer needs — W6 interpolates
    VALUES but assumes the rows exist; this op manufactures the rows.

    Scale shape: the spine is generated executor-side from each
    user's (min, max) day via ``sequence`` + ``explode`` — no driver
    loop, no cross join against a global calendar frame, and the
    per-user row count is bounded by that user's own span. Spine and
    daily counts both shuffle on ``user_id`` (the join key), so the
    whole op is two partial aggs and one co-partitioned join.
    """
    day = F.to_date("ts")
    span = ev.groupBy("user_id").agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gapfill_daily(read_table(spark, sf_dir, "events"))


#: Rolling-anomaly history: the trailing frame (in buckets) the
#: z-score baseline is computed over, and the minimum history before a
#: bucket is eligible to be flagged at all.
ANOMALY_FRAME = 24
ANOMALY_MIN_HIST = 8
#: |z| threshold — flagged when (x - mean)^2 > Z^2 * var_pop.
ANOMALY_Z = 3

#: Environment-proof cents derivation. ``floor(v*100 + 0.5)`` uses
#: only IEEE-754 double multiply/add (bit-specified) plus ``floor``
#: (exact on doubles), so Spark and any SQL oracle engine are
#: bit-identical by construction — unlike ``round(v*100)``, whose
#: half-way tie-breaking differs between Spark (HALF_UP on a decimal
#: rendering) and DuckDB (C-library rounding on the binary value), so
#: a half-cent boundary value hashes differently in the two engines.
#: Semantics: round-half-toward-+inf; values are non-negative in the
#: feed, where this coincides with round-half-away-from-zero.
CENTS_SQL = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def _cents() -> F.Column:
    return F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")


def _hourly_cents(ev: DataFrame) -> DataFrame:
    """The hourly per-type series every cents kernel below reads: one
    row per (``bucket`` = ``date_trunc(EVERY, ts)``, ``event_type``)
    with ``x_cents`` = the bucket's summed ``CENTS_SQL`` cents. The
    oracles spell the same ``GROUP BY date_trunc('hour', ts),
    event_type`` over ``SUM(CENTS_SQL)``, so the bucket grid and the
    cents rounding change here or nowhere.
    """
    return ev.groupBy(
        F.date_trunc(EVERY, "ts").alias("bucket"), "event_type"
    ).agg(F.sum(_cents()).alias("x_cents"))


def rolling_anomaly(ev: DataFrame) -> DataFrame:
    """Rolling z-score anomaly flags over the resampled feed: each
    (event_type, bucket) hourly value is compared against the mean and
    population variance of its own trailing ``ANOMALY_FRAME`` buckets
    (current bucket EXCLUDED — the baseline must not contain the point
    it judges), flagged when ``(x - mean)² > z²·var``. The metrics-
    store alerting query.

    Exactness: the whole test runs in integer cents — values enter as
    ``CAST(floor(value*100 + 0.5) AS BIGINT)`` (see ``CENTS_SQL`` for
    why floor, not round) and the flag inequality is
    cross-multiplied to clear divisions: with S = Σxᵢ, Q = Σxᵢ², n
    over the frame, ``(x-S/n)² > z²·(Q/n-(S/n)²)`` ⇔
    ``(n·x-S)² > z²·(n·Q-S²)``. No float enters, so Spark and the SQL
    oracle agree bit-for-bit. (At 100 TB magnitudes, swap the BIGINT
    carries for DECIMAL(38,0) — same exact algebra, wider headroom.)

    Scale shape: the resample agg partial-aggregates raw events down
    to one row per (type, bucket) before any window; the rolling frame
    then runs over that bucket-cardinality frame, partitioned by
    event_type — per-partition size is #buckets, bounded by the time
    span, never by raw rows. The one low-cardinality shuffle
    (#types keys) moves only the rolled-up rows.
    """
    bucketed = _hourly_cents(ev)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-ANOMALY_FRAME, -1)
    )
    n = F.count("x_cents").over(w)
    s = F.coalesce(F.sum("x_cents").over(w), F.lit(0).cast("long"))
    q = F.coalesce(
        F.sum(F.col("x_cents") * F.col("x_cents")).over(w),
        F.lit(0).cast("long"),
    )
    dev = n * F.col("x_cents") - s
    flag = (n >= ANOMALY_MIN_HIST) & (
        dev * dev > F.lit(ANOMALY_Z * ANOMALY_Z) * (n * q - s * s)
    )
    return (
        bucketed.withColumn("n_hist", n)
        .withColumn("s_hist", s)
        .withColumn("q_hist", q)
        .withColumn("is_anomaly", flag)
        .select(
            "event_type", "bucket", "x_cents",
            "n_hist", "s_hist", "q_hist", "is_anomaly",
        )
    )


def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_anomaly(read_table(spark, sf_dir, "events"))


#: Minimum OTHER members a seasonal cell needs before its points are
#: judged. Lower than the rolling form's ANOMALY_MIN_HIST by design:
#: a (dow, hour) cell accrues one member per WEEK, so a rolling-style
#: floor of 8 would need two months of history before the first flag
#: (the synthetic feeds span ~5 weeks and produced zero flags at any
#: scale — a vacuous flag column); 3 members ≈ one month of context,
#: the practical cold-start point for weekly seasonality.
SEASONAL_MIN_HIST = 3


def seasonal_anomaly(ev: DataFrame) -> DataFrame:
    """Seasonal z-score anomaly flags: each (event_type, bucket)
    hourly value is judged against the mean/variance of its OWN
    seasonal cell — all buckets sharing its (day-of-week,
    hour-of-day) — rather than a trailing window. Catches "unusual
    for a Tuesday 3 am" that ``rolling_anomaly`` normalizes away
    when the preceding 24 h were also night hours, and vice versa;
    metrics stores run both.

    Leave-one-out exactness: the cell aggregates (n, S=Σx, Q=Σx²)
    include the judged point, so the baseline subtracts it —
    n' = n−1, S' = S−x, Q' = Q−x² — and the flag inequality is the
    same cross-multiplied integer-cents algebra as the rolling form:
    ``(n'·x−S')² > z²·(n'·Q'−S'²)``, no float anywhere.

    Scale shape: the resample agg collapses raw events to
    (type, bucket) rows; the cell aggregate collapses those to at
    most types × 168 rows, joined back BY CELL KEY — one row to one
    broadcast-sized row, no fan-out. Two bounded shuffles total.
    """
    from covid_engineering_spark.functions import evicting_cache

    bucketed = _hourly_cents(ev)
    dow = F.pmod(
        F.datediff(F.to_date("bucket"), F.to_date(F.lit(DOW_ANCHOR))), 7
    )
    # Two branches read the cell frame (the per-point side and the
    # cell-stats aggregate); uncached, Catalyst clones the subtree and
    # the raw feed is SCANNED TWICE — at 100 TB that doubles the only
    # corpus-sized cost. The cached frame is bounded (buckets × types),
    # so this trades a tiny memory footprint for half the I/O.
    cells = evicting_cache(
        bucketed.select(
            "event_type",
            "bucket",
            "x_cents",
            dow.alias("dow"),
            F.hour("bucket").alias("hour"),
        ),
        "seasonal_cells",
    )
    stats = cells.groupBy("event_type", "dow", "hour").agg(
        F.count("*").alias("n_cell"),
        F.sum("x_cents").alias("s_cell"),
        F.sum(F.col("x_cents") * F.col("x_cents")).alias("q_cell"),
    )
    j = cells.join(stats, ["event_type", "dow", "hour"])
    n1 = F.col("n_cell") - 1
    s1 = F.col("s_cell") - F.col("x_cents")
    q1 = F.col("q_cell") - F.col("x_cents") * F.col("x_cents")
    dev = n1 * F.col("x_cents") - s1
    flag = (n1 >= SEASONAL_MIN_HIST) & (
        dev * dev > F.lit(ANOMALY_Z * ANOMALY_Z) * (n1 * q1 - s1 * s1)
    )
    return j.select(
        "event_type",
        "bucket",
        "x_cents",
        "dow",
        "hour",
        n1.cast("long").alias("n_base"),
        s1.cast("long").alias("s_base"),
        q1.cast("long").alias("q_base"),
        flag.alias("is_anomaly"),
    )


def q_ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seasonal_anomaly(read_table(spark, sf_dir, "events"))


#: Top event types kept per bucket in the trending rollup.
TRENDING_K = 3


def trending(ev: DataFrame) -> DataFrame:
    """Per-bucket top-``TRENDING_K`` event types by event count (count-desc,
    type-asc tiebreak) — the "trending now" feed. In Structured
    Streaming the same plan runs as a windowed agg + rank over the
    closed window (complete/update mode); the batch face here is the
    registered, hash-checked form.

    Scale shape: partial-aggregated groupBy to (bucket, type) rows,
    then the rank window partitioned by bucket — Catalyst plans a
    partial WindowGroupLimit below the exchange, so each map task
    ships at most ``TRENDING_K`` rows per bucket.
    """
    counts = ev.groupBy(
        F.date_trunc(EVERY, "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TRENDING_K)
    )


def q_ts_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trending(read_table(spark, sf_dir, "events"))


#: Rolling-activity window for WAU, in days (inclusive of the day
#: itself: day-6 .. day).
WAU_DAYS = 7


def active_users(ev: DataFrame) -> DataFrame:
    """Daily + rolling weekly active users (DAU/WAU): per calendar
    day, the count of distinct users active that day and the count of
    distinct users active in the trailing ``WAU_DAYS`` days — the
    engagement rollup every product dashboard reads.

    Scale shape: raw events first collapse to distinct (day, user_id)
    pairs — one partial-aggregated distinct whose output is bounded by
    users × days, not raw rows. WAU avoids a range join entirely:
    each pair EXPLODES to the ≤``WAU_DAYS`` target days it
    contributes to (``sequence`` + ``explode``, executor-side), then a
    count-distinct per target day — a fixed ×7 fan-out on the already-
    collapsed pairs, one shuffle, no O(days × pairs) join. The tiny
    observed-days frame (one row per calendar day) broadcasts to drop
    phantom days past the feed's end. At 100 TB the same plan holds
    with the count-distinct swapped for HLL (the ``a14`` pattern) when
    ±2% is acceptable.
    """
    from covid_engineering_spark.functions import evicting_cache

    # Three branches read the collapsed pairs (observed days, DAU,
    # WAU fan-out) — cache the bounded pairs table so raw events are
    # scanned and distinct-collapsed exactly once.
    pairs = evicting_cache(
        ev.select(F.to_date("ts").alias("day"), "user_id").distinct(),
        "active_users_pairs",
    )
    days = pairs.select("day").distinct()
    dau = pairs.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = pairs.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", WAU_DAYS - 1))
        ).alias("day_t"),
        "user_id",
    )
    wau = (
        contrib.join(
            F.broadcast(days.withColumnRenamed("day", "day_t")), "day_t"
        )
        .groupBy("day_t")
        .agg(F.count_distinct("user_id").alias("wau"))
        .withColumnRenamed("day_t", "day")
    )
    return dau.join(wau, "day").select("day", "dau", "wau")


def q_ts_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return active_users(read_table(spark, sf_dir, "events"))


#: A known Monday, anchoring the engine-independent day-of-week
#: formula (dow 0 = Monday): both Spark's and DuckDB's native
#: dayofweek functions disagree on numbering, so the profile derives
#: dow from date arithmetic instead.
DOW_ANCHOR = "2024-01-01"


def hourly_profile(ev: DataFrame) -> DataFrame:
    """Seasonality profile: the (day-of-week × hour-of-day) activity
    heatmap — events, distinct users, and exact value mass per cell.
    The feed behind every traffic-shape dashboard and the baseline for
    seasonal anomaly thresholds (pair with ``rolling_anomaly``).

    Scale shape: one partial-aggregated groupBy onto at most 7×24
    cells — the shuffle carries 168 rows regardless of feed size; the
    count-distinct adds its usual (cell, user) pre-aggregation, still
    bounded by users × 168. Value mass rides integer cents, exact
    under any partitioning.
    """
    dow = F.pmod(
        F.datediff(F.to_date("ts"), F.to_date(F.lit(DOW_ANCHOR))), 7
    )
    cents = _cents()
    return (
        ev.groupBy(dow.alias("dow"), F.hour("ts").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(cents).alias("sum_cents"),
        )
    )


def q_ts_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_profile(read_table(spark, sf_dir, "events"))


#: Truncated-EWMA window width (buckets). α = 1/2 with dyadic weights:
#: the newest bucket weighs 2^(W-1), each older one half that — so the
#: whole smoother is exact BIGINT algebra (weights are powers of two,
#: no float decay factor ever materializes).
EWMA_W = 16


def ewma(ev: DataFrame) -> DataFrame:
    """Truncated exponentially-weighted moving average per event_type
    over the resampled cents feed — the metrics-store smoother
    (Prometheus/Graphite `ewma`, pandas `ewm(alpha=.5)`) in EXACT
    integer form: weights are powers of two over a 16-bucket window,
    so the weighted numerator and denominator are BIGINTs and the
    smoothed value is one truncating division (Spark ``DIV`` ≡ DuckDB
    ``//`` on the non-negative sums — the pagerank convention).

    Truncation is the scale decision: a true infinite-history EWMA is
    a sequential recursion (s_t = (x_t + s_{t-1})/2) no parallel
    window can evaluate without a prefix pass, while the 16-bucket
    tail it drops carries < 2^-16 of the mass. The collect_list
    window rides the same event_type partitioning every other ts_*
    window uses, over the bucket-cardinality frame — never raw
    events.
    """
    bucketed = _hourly_cents(ev)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-(EWMA_W - 1), 0)
    )
    lst = F.collect_list("x_cents").over(w)
    num = F.expr(f"""
        aggregate(
            transform(sequence(1, size(lst)),
                j -> element_at(lst, j)
                     * shiftleft(cast(1 as bigint),
                                 {EWMA_W - 1} - size(lst) + j)),
            cast(0 as bigint), (a, x) -> a + x)
    """)
    den = F.expr(
        f"shiftleft(cast(1 as bigint), {EWMA_W})"
        f" - shiftleft(cast(1 as bigint), {EWMA_W} - size(lst))"
    )
    return (
        bucketed.withColumn("lst", lst)
        .select(
            "event_type",
            "bucket",
            "x_cents",
            num.alias("ewma_num"),
            den.alias("ewma_den"),
        )
        .withColumn("ewma_cents", F.expr("ewma_num DIV ewma_den"))
    )


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma(read_table(spark, sf_dir, "events"))


def _holt_coeffs() -> tuple[list[list[int]], list[list[int]]]:
    """Exact integer coefficient tables for the truncated Holt
    recursion with α = β = 1/2 (level l_t = (x_t + l_{t-1} +
    b_{t-1})/2, trend b_t = (l_t − l_{t-1} + b_{t-1})/2, init
    l_1 = x_1, b_1 = 0): the recursion is LINEAR, so over an n-bucket
    window l_n = Σ_j CL[n][j]·x_j / 4^(n−1) and likewise b_n with
    CB — every coefficient an exact integer (max |c| = 2^29 at
    n = 16), derived once with Fractions and folded into both
    engines' plans as literals.
    """
    from fractions import Fraction as Fr

    cl_all, cb_all = [], []
    for n in range(1, EWMA_W + 1):
        l = [Fr(0)] * n
        b = [Fr(0)] * n
        for t in range(1, n + 1):
            if t == 1:
                l = [Fr(1)] + [Fr(0)] * (n - 1)
                b = [Fr(0)] * n
            else:
                l_new = [(l[j] + b[j]) / 2 for j in range(n)]
                l_new[t - 1] += Fr(1, 2)
                b = [(l_new[j] - l[j] + b[j]) / 2 for j in range(n)]
                l = l_new
        den = 4 ** (n - 1)
        cl_all.append([int(c * den) for c in l])
        cb_all.append([int(c * den) for c in b])
    return cl_all, cb_all


def _floor_div(a: str, b: str) -> str:
    """Portable FLOOR division of BIGINTs as a SQL fragment: both
    engines' ``%`` is the truncated remainder (sign of the dividend),
    so ``((a % b) + b) % b`` is the canonical non-negative mod in
    both; after subtracting it the division is exact, making Spark's
    truncating ``DIV`` and DuckDB's flooring ``//`` agree even for
    NEGATIVE numerators (ewma ducks this by construction — Holt's
    trend numerator is negative whenever the series falls, so the
    convention must be pinned, not assumed)."""
    return f"(({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) DIV ({b})"


def holt(ev: DataFrame) -> DataFrame:
    """Truncated Holt linear-trend smoother per event_type over the
    resampled cents feed (Holt 1957 double exponential smoothing,
    α = β = 1/2) in EXACT integer form — the ewma discipline extended
    to a trend term: level, trend and the one-step forecast
    (level + trend) are integer-coefficient combinations of the same
    16-bucket window ewma rides (``_holt_coeffs``; the recursion no
    parallel window can evaluate is designed out by linearity, not
    truncated mid-flight), each emitted as numerator over 4^(n−1)
    with a portable FLOOR division (``_floor_div``).

    Exactness bound: |numerator| ≤ 16 · 2^29 · max|x_cents|, so
    BIGINT holds while per-bucket cents stay under ~2^29; past that
    (a 100 TB feed with multi-million-dollar buckets) the fold
    widens to DECIMAL(38,0) with identical semantics.

    Scale shape: identical to ``ewma`` — one partial-aggregated
    shuffle to the bucket-cardinality frame, one event_type window.
    """
    cl, cb = _holt_coeffs()
    arr = lambda rows: "array(" + ", ".join(  # noqa: E731
        "array(" + ", ".join(f"{c}L" for c in r) + ")" for r in rows
    ) + ")"
    bucketed = _hourly_cents(ev)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-(EWMA_W - 1), 0)
    )

    def num(table: list[list[int]]) -> str:
        return f"""
            aggregate(
                transform(sequence(1, size(lst)),
                    j -> element_at(element_at({arr(table)}, size(lst)), j)
                         * element_at(lst, j)),
                cast(0 as bigint), (a, x) -> a + x)
        """

    den = "shiftleft(cast(1 as bigint), 2 * (size(lst) - 1))"
    return (
        bucketed.withColumn("lst", F.collect_list("x_cents").over(w))
        .withColumn("_nl", F.expr(num(cl)))
        .withColumn("_nb", F.expr(num(cb)))
        .select(
            "event_type",
            "bucket",
            "x_cents",
            F.expr(_floor_div("_nl", den)).alias("holt_level_cents"),
            F.expr(_floor_div("_nb", den)).alias("holt_trend_cents"),
            F.expr(_floor_div("_nl + _nb", den)).alias(
                "holt_forecast_cents"
            ),
        )
    )


def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return holt(read_table(spark, sf_dir, "events"))


#: CUSUM drift threshold, in multiples of the per-type mean bucket
#: value: flag when the accumulated positive drift exceeds 4 average
#: buckets' worth of cents.
CUSUM_H_MEANS = 4


def cusum_changepoint(ev: DataFrame) -> DataFrame:
    """One-sided CUSUM drift detection per event_type — the classic
    changepoint statistic (Page 1954): s_t = max(0, s_{t-1} + (x_t −
    ref)). The textbook form is a sequential recursion; the engine
    uses the exact prefix identity ``s_t = cum_t − min(0, min_{i≤t}
    cum_i)`` where cum is the running sum of deviations — two plain
    window aggregates over ONE event_type shuffle, no recursion, no
    iteration, bit-equal to the sequential fold.

    All-integer: deviations are cents minus the per-type mean-floor
    (``total DIV n``, truncating division both engines share) minus a
    SLACK of half the mean — the textbook allowance k (set to half
    the shift worth detecting): without it, any seasonal series
    accumulates "drift" during every above-mean stretch and the flag
    is noise (the first cut flagged 61% of buckets; with slack, only
    sustained >1.5×-mean regimes accumulate). cum/runmin/s_t never
    touch a float. The drift flag compares s_t against CUSUM_H_MEANS
    per-type mean buckets. Windows run over the bucket-cardinality
    frame (buckets × types), never raw events.
    """
    bucketed = _hourly_cents(ev)
    wtype = Window.partitionBy("event_type")
    wcum = wtype.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_ref = (
        bucketed.withColumn("total", F.sum("x_cents").over(wtype))
        .withColumn("n_b", F.count("*").over(wtype))
        .withColumn("ref_cents", F.expr("total DIV n_b"))
        .withColumn("slack_cents", F.expr("ref_cents DIV 2"))
    )
    cum = F.sum(
        F.col("x_cents") - F.col("ref_cents") - F.col("slack_cents")
    ).over(wcum)
    return (
        with_ref.withColumn("cum", cum)
        .withColumn("runmin", F.least(F.lit(0), F.min("cum").over(wcum)))
        .select(
            "event_type",
            "bucket",
            "x_cents",
            "ref_cents",
            (F.col("cum") - F.col("runmin")).alias("cusum_cents"),
            (
                F.col("cum") - F.col("runmin")
                > F.lit(CUSUM_H_MEANS) * F.col("ref_cents")
            ).alias("drift_flag"),
        )
    )


def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum_changepoint(read_table(spark, sf_dir, "events"))


def snaive_backtest(ev: DataFrame) -> DataFrame:
    """Seasonal-naive forecast backtest — the capacity-planning
    baseline every forecasting pipeline is judged against (M4's
    sNaive): each (type, bucket) value is "forecast" by the value one
    season earlier (same hour, 7 days back), and the per-type error
    profile is emitted in exact cents: pair count, MAE numerator
    (Σ|actual − forecast|), bias numerator (Σ(actual − forecast)),
    and the truncating-division MAE (``DIV`` ≡ ``//``).

    The season lookup is a CALENDAR join (bucket − 7 days), not a
    168-row lag: the resampled feed only has buckets where events
    occurred, so a row-offset lag would silently compare misaligned
    hours across gaps. A self-join on the shifted bucket key is exact
    under gaps — missing seasonals simply drop the pair (INNER join;
    the error profile only judges aligned hours).

    Scale shape: both sides are the bucket-cardinality frame sharing
    one (event_type) exchange layout; the final agg is |types| rows.
    """
    bucketed = _hourly_cents(ev)
    prior = bucketed.select(
        F.col("event_type").alias("p_type"),
        (F.col("bucket") + F.expr("INTERVAL 7 DAYS")).alias("p_bucket"),
        F.col("x_cents").alias("forecast_cents"),
    )
    return (
        bucketed.join(
            prior,
            (F.col("event_type") == F.col("p_type"))
            & (F.col("bucket") == F.col("p_bucket")),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.abs(F.col("x_cents") - F.col("forecast_cents"))
            ).alias("abs_err_cents"),
            F.sum(F.col("x_cents") - F.col("forecast_cents")).alias(
                "bias_cents"
            ),
        )
        .withColumn("mae_cents", F.expr("abs_err_cents DIV n_pairs"))
    )


def q_ts_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return snaive_backtest(read_table(spark, sf_dir, "events"))


def autocorr(ev: DataFrame) -> DataFrame:
    """Lag-1 autocorrelation of the hourly feed per event type — the
    one-number answer to "is this metric momentum or noise": r near 1
    means load persists bucket-to-bucket (capacity planning regime),
    near 0 means white noise (alert on points, not trends). Computed
    over the OBSERVED bucket sequence (a gap pairs the buckets on
    either side — for calendar-strict lags, run ``gapfill`` first;
    documented contract, same as ``ts_resample``'s).

    Exactness: the a21 moment discipline on the time axis — pairs
    (x_t, x_{{t-1}}) come from one LAG over the bucket-cardinality
    frame, the five moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    BIGINTs from integer cents, and r assembles in ONE final double
    expression both engines compute identically. At 100 TB the moment
    sums promote to DECIMAL(38,0); the assembly is unchanged.

    Scale shape: raw events partial-aggregate to (type, bucket) rows
    before the window; the LAG and the moment agg both run at bucket
    cardinality partitioned by type — the shuffle moves rolled-up
    rows only, and the result is |types| rows.
    """
    from pyspark.sql import Window

    bucketed = _hourly_cents(ev)
    w = Window.partitionBy("event_type").orderBy("bucket")
    pairs = bucketed.withColumn(
        "prev_cents", F.lag("x_cents").over(w)
    ).filter(F.col("prev_cents").isNotNull())
    x, y = F.col("x_cents"), F.col("prev_cents")
    m = pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "event_type",
        "n_pairs",
        F.round(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("autocorr_lag1"),
    )


def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocorr(read_table(spark, sf_dir, "events"))


#: MAD flag threshold: a point is anomalous when
#: |x − median| > (MAD_NUM/MAD_DEN)·2·MAD in the doubled-integer
#: carries below — i.e. |x − median| > 5·MAD ≈ 3.4 robust sigmas
#: (MAD ≈ 0.6745σ for normal data). Calibrated non-vacuous on the
#: fixture feed at every SF (31/45/9 flags at sf0.001/0.01/0.1).
MAD_NUM = 5
MAD_DEN = 2


def mad_anomaly(ev: DataFrame) -> DataFrame:
    """Median/MAD robust anomaly flags over the resampled feed — the
    distribution-free complement to ``ts_anomaly``'s rolling z-score:
    mean/variance baselines are themselves dragged by the outliers
    they're meant to catch (one huge spike inflates σ and masks the
    next three), while the median and the Median Absolute Deviation
    have a 50% breakdown point. The robust-statistics alerting query
    (Hampel filter / robust z-score, Leys et al. 2013).

    Exactness: medians of integers interpolate to HALF-integers at
    even counts, so every carry is doubled into exact BIGINTs —
    ``med2 = 2·median(x_cents)``, per-row deviation
    ``dev = |2·x_cents − med2|`` (an integer: 2× the cent deviation),
    ``mad2 = 2·median(dev)`` (4× the MAD in cents) — and the flag is
    the cross-multiplied integer test ``MAD_DEN·dev > MAD_NUM·mad2``.
    The only float op is the percentile interpolation midpoint
    ``(a+b)/2``, exact in IEEE doubles for BIGINT-ranged inputs, so
    both engines recover the same integer after doubling.

    Scale shape: raw events partial-aggregate to (type, bucket) rows
    first; the two exact-median aggs then run at bucket cardinality
    partitioned by type, and the |types|-row median frames broadcast
    back. The bucketed frame is CACHED (evicting, the curate/shingle
    discipline): THREE plan branches read it (the median agg, the
    deviation join side, and through it the MAD agg + final join) and
    Catalyst clones shared subtrees — uncached, the raw scan ran four
    times. Exact ``percentile`` needs each group's values in one
    buffer — bounded here by buckets-per-type (time span, never raw
    rows); over raw-event groups at 100 TB swap in
    ``approx_percentile`` (t-digest, mergeable) with THIS query as the
    accuracy oracle (the a11/a18 pattern).
    """
    from covid_engineering_spark.functions import evicting_cache

    bucketed = evicting_cache(_hourly_cents(ev), "mad_bucketed")
    med = bucketed.groupBy("event_type").agg(
        (F.expr("2 * percentile(x_cents, 0.5)"))
        .cast("long")
        .alias("med2")
    )
    dev = bucketed.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.lit(2) * F.col("x_cents") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        (F.expr("2 * percentile(dev, 0.5)")).cast("long").alias("mad2")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "bucket",
            "x_cents",
            "med2",
            "mad2",
            (
                F.col("dev") * F.lit(MAD_DEN)
                > F.col("mad2") * F.lit(MAD_NUM)
            ).alias("is_anomaly"),
        )
    )


def q_ts_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_anomaly(read_table(spark, sf_dir, "events"))


def percentile_profile(ev: DataFrame) -> DataFrame:
    """Hour-of-day percentile bands per event type — the SLO band
    chart: for each (type, hour 0–23), the p50/p90 of that hour's
    bucket totals across all days. The "what does a normal 3pm look
    like" profile dashboards draw as shaded bands, and the baseline
    a static-threshold alert is replaced with.

    Exactness: percentiles interpolate over integer cents (the a11
    convention — exact ``percentile``, 4dp-rounded so both engines'
    interpolation agrees on the hashed grid). Exact percentile holds
    each cell's values in one buffer — bounded by days-per-hour-cell
    (the time span / 24), never raw events; at raw-scale groups swap
    in ``approx_percentile`` with this query as the accuracy oracle.

    Scale shape: raw events partial-aggregate to (type, bucket) rows,
    then one agg over ≤ |types|×24 cells. Two bounded shuffles.
    """
    bucketed = _hourly_cents(ev)
    return bucketed.groupBy(
        "event_type", F.hour("bucket").alias("hour")
    ).agg(
        F.count("*").alias("n_buckets"),
        F.round(F.expr("percentile(x_cents, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(x_cents, 0.9)"), 4).alias("p90"),
    )


def q_ts_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return percentile_profile(read_table(spark, sf_dir, "events"))


def downtime_gaps(ev: DataFrame) -> DataFrame:
    """Feed-freshness monitor: contiguous runs of MISSING buckets per
    event type — each type's calendar spine (min..max observed bucket,
    hourly) anti-joined against the observed buckets, then adjacent
    missing hours collapsed to (gap_start, gap_end, n_hours) intervals
    via gaps-and-islands (run id = hour index − row_number: constant
    exactly along a consecutive missing run). The "did the pipeline
    stop emitting" report every ingestion SLA dashboard runs — the
    reporting complement to ``ts_gapfill``, which FILLS these holes.

    A fully dense feed returns zero rows (the healthy answer, and the
    sf0.1 fixture's — sf0.001/sf0.01 have real gaps).

    Scale shape: observed buckets collapse to bucket×type cardinality
    at the first agg; the spine is sequence+explode per type (bounded
    by the time span, no driver loop); the anti-join and the one
    ranking window both run at spine cardinality partitioned by type.
    """
    observed = ev.groupBy(
        "event_type", F.date_trunc(EVERY, "ts").alias("bucket")
    ).agg(F.count("*").alias("_n"))
    span = observed.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = span.select(
        "event_type",
        F.explode(
            F.expr("sequence(lo, hi, interval 1 hour)")
        ).alias("bucket"),
    )
    missing = spine.join(
        observed, ["event_type", "bucket"], "left_anti"
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    # Hour index via timestampdiff from a fixed origin (tz-free: the
    # buckets are exact hours, so both engines count identical whole
    # hours) minus the row number: constant along a consecutive run.
    hour_idx = F.expr(
        "timestampdiff(HOUR, timestamp'2000-01-01 00:00:00', bucket)"
    )
    run = hour_idx - F.row_number().over(w)
    return (
        missing.withColumn("run", run)
        .groupBy("event_type", "run")
        .agg(
            F.min("bucket").alias("gap_start"),
            F.max("bucket").alias("gap_end"),
            F.count("*").alias("n_hours"),
        )
        .select("event_type", "gap_start", "gap_end", "n_hours")
    )


def q_ts_downtime_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return downtime_gaps(read_table(spark, sf_dir, "events"))


#: Half-width of the centered moving-average trend window (±3 days →
#: a 7-day window, one full weekly cycle, the classical choice for a
#: weekly-seasonal daily series).
DECOMP_HALF = 3
DECOMP_EVERY = "day"


def decompose(ev: DataFrame) -> DataFrame:
    """Classical additive decomposition (the moving-average method
    STL refines; Hyndman & Athanasopoulos, *FPP* §3.4) of the daily
    per-type cents series into trend + day-of-week seasonal index +
    residual — the series-shape audit run before anomaly thresholds
    or forecasts are tuned: trend answers "is the level moving",
    seasonal answers "how big is the weekly cycle", and the residual
    is what the anomaly detectors should actually be judging.

    Semantics: trend is the centered (2·DECOMP_HALF+1)-bucket moving average
    over each type's OBSERVED bucket sequence, NULL where the window
    is not full (series edges — the classical convention, and the
    one that keeps a partial window from faking a level shift);
    seasonal is the mean detrended value per (type, day-of-week) over
    full-window rows; residual = detrended − seasonal. A gapped
    series decomposes over its observed buckets — run the gap-filler
    first when calendar alignment matters.

    Exactness: cents in, integer division out — the trend divides by
    the constant window width and the seasonal mean by its cell count
    using the canonical-mod FLOOR division (the ts_holt convention:
    detrended values go negative, so the floor/truncate divergence
    between Spark ``div`` and DuckDB ``//`` must be pinned, not
    assumed). No float touches any emitted column.

    Scale shape: the resample agg collapses raw events to the
    (type, bucket) frame (the only corpus-sized pass); the trend
    window sorts per type within that bounded frame; the seasonal
    aggregate collapses it to ≤ types × 7 rows and joins back by
    cell key. One corpus shuffle, two bounded ones.
    """
    from covid_engineering_spark.functions import evicting_cache

    w = 2 * DECOMP_HALF + 1
    bucketed = ev.groupBy(
        F.date_trunc(DECOMP_EVERY, "ts").alias("bucket"), "event_type"
    ).agg(F.sum(_cents()).alias("x_cents"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-DECOMP_HALF, DECOMP_HALF)
    )
    staged = bucketed.select(
        "event_type",
        "bucket",
        "x_cents",
        F.sum("x_cents").over(win).alias("_s"),
        F.count("*").over(win).alias("_n"),
    )
    trended = evicting_cache(
        staged.select(
            "event_type",
            "bucket",
            "x_cents",
            F.when(
                F.col("_n") == w,
                F.expr(f"(_s - (((_s % {w}) + {w}) % {w})) div {w}"),
            ).alias("trend_cents"),
        )
        .withColumn(
            "detr_cents", F.col("x_cents") - F.col("trend_cents")
        )
        .withColumn(
            "dow",
            F.pmod(
                F.datediff(
                    F.to_date("bucket"), F.to_date(F.lit(DOW_ANCHOR))
                ),
                7,
            ),
        ),
        "decomp_base",
    )
    seas = trended.groupBy("event_type", "dow").agg(
        F.sum("detr_cents").alias("_sn"),
        F.count("detr_cents").alias("_sd"),
    )
    seasonal = F.when(
        F.col("_sd") > 0,
        F.expr("(_sn - (((_sn % _sd) + _sd) % _sd)) div _sd"),
    )
    return trended.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "bucket",
        "x_cents",
        "trend_cents",
        seasonal.alias("seasonal_cents"),
        (F.col("detr_cents") - seasonal).alias("resid_cents"),
    )


def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decompose(read_table(spark, sf_dir, "events"))


QUERIES = {
    "ts_resample": q_ts_resample,
    "ts_rollup_incremental": q_ts_rollup_incremental,
    "ts_sessionize": q_ts_sessionize,
    "ts_funnel": q_ts_funnel,
    "ts_funnel_steps": q_ts_funnel_steps,
    "ts_cohort": q_ts_cohort,
    "ts_gapfill": q_ts_gapfill,
    "ts_anomaly": q_ts_anomaly,
    "ts_seasonal_anomaly": q_ts_seasonal_anomaly,
    "ts_trending": q_ts_trending,
    "ts_active_users": q_ts_active_users,
    "ts_hourly_profile": q_ts_hourly_profile,
    "ts_ewma": q_ts_ewma,
    "ts_holt": q_ts_holt,
    "ts_changepoint": q_ts_changepoint,
    "ts_snaive_backtest": q_ts_snaive_backtest,
    "ts_autocorr": q_ts_autocorr,
    "ts_mad_anomaly": q_ts_mad_anomaly,
    "ts_percentile_profile": q_ts_percentile_profile,
    "ts_downtime_detect": q_ts_downtime_detect,
    "ts_decompose": q_ts_decompose,
}


def _decompose_oracle_sql() -> str:
    """SQL twin of ``decompose``: identical window framing, the same
    canonical-mod floor divisions, the same full-window NULL edges."""
    w = 2 * DECOMP_HALF + 1

    def fd(a: str, b: str) -> str:
        return (
            f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b})))"
            f" // ({b}) AS BIGINT)"
        )

    seasonal = f"CASE WHEN s.sd > 0 THEN {fd('s.sn', 's.sd')} END"
    return f"""
        WITH bucketed AS (
            -- DuckDB's date_trunc('day') yields DATE; Spark's yields
            -- TIMESTAMP — pin the hashed rendering to one type.
            SELECT CAST(date_trunc('{DECOMP_EVERY}', ts) AS TIMESTAMP)
                       AS bucket,
                   event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        ),
        wnd AS (
            SELECT event_type, bucket, x_cents,
                   CAST(SUM(x_cents) OVER win AS BIGINT) AS s,
                   COUNT(*) OVER win AS n
            FROM bucketed
            WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN {DECOMP_HALF} PRECEDING
                                    AND {DECOMP_HALF} FOLLOWING)
        ),
        tr AS (
            SELECT event_type, bucket, x_cents,
                   CASE WHEN n = {w} THEN {fd("s", str(w))} END
                       AS trend_cents,
                   ((CAST(bucket AS DATE) - DATE '{DOW_ANCHOR}') % 7 + 7)
                       % 7 AS dow
            FROM wnd
        ),
        dt AS (
            SELECT *, x_cents - trend_cents AS detr_cents FROM tr
        ),
        seas AS (
            SELECT event_type, dow,
                   CAST(SUM(detr_cents) AS BIGINT) AS sn,
                   COUNT(detr_cents) AS sd
            FROM dt GROUP BY 1, 2
        )
        SELECT d.event_type, d.bucket, d.x_cents, d.trend_cents,
               {seasonal} AS seasonal_cents,
               d.detr_cents - ({seasonal}) AS resid_cents
        FROM dt d JOIN seas s USING (event_type, dow)
    """


ORACLES = {
    "ts_downtime_detect": """
        WITH observed AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket
            FROM events GROUP BY 1, 2
        ),
        span AS (
            SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
            FROM observed GROUP BY event_type
        ),
        spine AS (
            SELECT event_type,
                   unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                       AS bucket
            FROM span
        ),
        missing AS (
            SELECT s.event_type, s.bucket FROM spine s
            ANTI JOIN observed o
              ON s.event_type = o.event_type AND s.bucket = o.bucket
        ),
        runs AS (
            SELECT event_type, bucket,
                   datediff('hour',
                            TIMESTAMP '2000-01-01 00:00:00', bucket)
                   - ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY bucket) AS run
            FROM missing
        )
        SELECT event_type,
               MIN(bucket) AS gap_start,
               MAX(bucket) AS gap_end,
               COUNT(*) AS n_hours
        FROM runs GROUP BY event_type, run
    """,
    "ts_percentile_profile": f"""
        WITH b AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(hour(bucket) AS INTEGER) AS hour,
               COUNT(*) AS n_buckets,
               ROUND(quantile_cont(x_cents, 0.5), 4) AS p50,
               ROUND(quantile_cont(x_cents, 0.9), 4) AS p90
        FROM b GROUP BY 1, 2
    """,
    "ts_mad_anomaly": f"""
        WITH b AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT event_type,
                   CAST(2 * quantile_cont(x_cents, 0.5) AS BIGINT)
                       AS med2
            FROM b GROUP BY event_type
        ),
        d AS (
            SELECT b.*, med2, abs(2 * x_cents - med2) AS dev
            FROM b JOIN m USING (event_type)
        ),
        md AS (
            SELECT event_type,
                   CAST(2 * quantile_cont(dev, 0.5) AS BIGINT) AS mad2
            FROM d GROUP BY event_type
        )
        SELECT event_type, bucket, x_cents, med2, mad2,
               dev * {MAD_DEN} > mad2 * {MAD_NUM} AS is_anomaly
        FROM d JOIN md USING (event_type)
    """,
    "ts_autocorr": f"""
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT event_type, x_cents,
                   LAG(x_cents) OVER (
                       PARTITION BY event_type ORDER BY bucket
                   ) AS prev_cents
            FROM bucketed
        ),
        m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(x_cents) AS BIGINT) AS sx,
                   CAST(SUM(prev_cents) AS BIGINT) AS sy,
                   CAST(SUM(x_cents * prev_cents) AS BIGINT) AS sxy,
                   CAST(SUM(x_cents * x_cents) AS BIGINT) AS sxx,
                   CAST(SUM(prev_cents * prev_cents) AS BIGINT) AS syy
            FROM pairs WHERE prev_cents IS NOT NULL
            GROUP BY 1
        )
        SELECT event_type, n_pairs,
               ROUND(
                   (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / sqrt(
                       (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                   ),
                   6
               ) AS autocorr_lag1
        FROM m
    """,
    "ts_snaive_backtest": f"""
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        )
        SELECT b.event_type, COUNT(*) AS n_pairs,
               CAST(SUM(ABS(b.x_cents - p.x_cents)) AS BIGINT)
                   AS abs_err_cents,
               CAST(SUM(b.x_cents - p.x_cents) AS BIGINT) AS bias_cents,
               CAST(CAST(SUM(ABS(b.x_cents - p.x_cents)) AS BIGINT)
                    // COUNT(*) AS BIGINT) AS mae_cents
        FROM bucketed b
        JOIN bucketed p
          ON b.event_type = p.event_type
         AND b.bucket = p.bucket + INTERVAL 7 DAY
        GROUP BY b.event_type
    """,
    "ts_ewma": f"""
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        ),
        lsts AS (
            SELECT event_type, bucket, x_cents,
                   list(x_cents) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN {EWMA_W - 1} PRECEDING AND CURRENT ROW
                   ) AS lst
            FROM bucketed
        )
        SELECT event_type, bucket, x_cents,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, len(lst)),
                       j -> lst[j] * (CAST(1 AS BIGINT)
                                      << ({EWMA_W - 1} - len(lst) + j)))),
                   (a, b) -> a + b) AS BIGINT) AS ewma_num,
               CAST((CAST(1 AS BIGINT) << {EWMA_W})
                    - (CAST(1 AS BIGINT) << ({EWMA_W} - len(lst)))
                    AS BIGINT) AS ewma_den,
               CAST(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, len(lst)),
                       j -> lst[j] * (CAST(1 AS BIGINT)
                                      << ({EWMA_W - 1} - len(lst) + j)))),
                   (a, b) -> a + b) AS BIGINT)
                   // ((CAST(1 AS BIGINT) << {EWMA_W})
                       - (CAST(1 AS BIGINT) << ({EWMA_W} - len(lst))))
                   AS BIGINT) AS ewma_cents
        FROM lsts
    """,
    "ts_changepoint": f"""
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        ),
        with_ref AS (
            SELECT event_type, bucket, x_cents,
                   CAST(CAST(SUM(x_cents) OVER (PARTITION BY event_type)
                             AS BIGINT)
                        // COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS ref_cents
            FROM bucketed
        ),
        cums AS (
            SELECT event_type, bucket, x_cents, ref_cents,
                   CAST(SUM(x_cents - ref_cents - (ref_cents // 2)) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM with_ref
        ),
        runs AS (
            SELECT event_type, bucket, x_cents, ref_cents, cum,
                   LEAST(CAST(0 AS BIGINT), MIN(cum) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )) AS runmin
            FROM cums
        )
        SELECT event_type, bucket, x_cents, ref_cents,
               CAST(cum - runmin AS BIGINT) AS cusum_cents,
               (cum - runmin) > {CUSUM_H_MEANS} * ref_cents AS drift_flag
        FROM runs
    """,
    "ts_hourly_profile": f"""
        SELECT ((CAST(ts AS DATE) - DATE '{DOW_ANCHOR}') % 7 + 7) % 7
                   AS dow,
               hour(ts) AS hour,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM({CENTS_SQL}) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY 1, 2
    """,
    "ts_anomaly": """
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events
            GROUP BY 1, 2
        ),
        rolled AS (
            SELECT event_type, bucket, x_cents,
                   COUNT(x_cents) OVER w AS n_hist,
                   CAST(COALESCE(SUM(x_cents) OVER w, 0) AS BIGINT)
                       AS s_hist,
                   CAST(COALESCE(SUM(x_cents * x_cents) OVER w, 0)
                        AS BIGINT) AS q_hist
            FROM bucketed
            WINDOW w AS (
                PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN {ANOMALY_FRAME} PRECEDING AND 1 PRECEDING
            )
        )
        SELECT event_type, bucket, x_cents, n_hist, s_hist, q_hist,
               (n_hist >= {ANOMALY_MIN_HIST} AND
                (n_hist * x_cents - s_hist) * (n_hist * x_cents - s_hist)
                  > {z2} * (n_hist * q_hist - s_hist * s_hist)
               ) AS is_anomaly
        FROM rolled
    """.format(ANOMALY_FRAME=ANOMALY_FRAME, ANOMALY_MIN_HIST=ANOMALY_MIN_HIST,
                z2=ANOMALY_Z * ANOMALY_Z, CENTS_SQL=CENTS_SQL),
    "ts_seasonal_anomaly": """
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events
            GROUP BY 1, 2
        ),
        cells AS (
            SELECT event_type, bucket, x_cents,
                   ((CAST(bucket AS DATE) - DATE '{DOW_ANCHOR}') % 7 + 7)
                       % 7 AS dow,
                   hour(bucket) AS hour
            FROM bucketed
        ),
        stats AS (
            SELECT event_type, dow, hour,
                   COUNT(*) AS n_cell,
                   CAST(SUM(x_cents) AS BIGINT) AS s_cell,
                   CAST(SUM(x_cents * x_cents) AS BIGINT) AS q_cell
            FROM cells GROUP BY 1, 2, 3
        )
        SELECT c.event_type, c.bucket, c.x_cents, c.dow, c.hour,
               CAST(n_cell - 1 AS BIGINT) AS n_base,
               CAST(s_cell - x_cents AS BIGINT) AS s_base,
               CAST(q_cell - x_cents * x_cents AS BIGINT) AS q_base,
               (n_cell - 1 >= {SEASONAL_MIN_HIST} AND
                ((n_cell - 1) * x_cents - (s_cell - x_cents))
                  * ((n_cell - 1) * x_cents - (s_cell - x_cents))
                  > {z2} * ((n_cell - 1) * (q_cell - x_cents * x_cents)
                            - (s_cell - x_cents) * (s_cell - x_cents))
               ) AS is_anomaly
        FROM cells c
        JOIN stats USING (event_type, dow, hour)
    """.format(CENTS_SQL=CENTS_SQL, DOW_ANCHOR=DOW_ANCHOR,
                SEASONAL_MIN_HIST=SEASONAL_MIN_HIST,
                z2=ANOMALY_Z * ANOMALY_Z),
    "ts_trending": f"""
        WITH counts AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        )
        SELECT bucket, event_type, n_events, n_users,
               CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT bucket, event_type, n_events, n_users,
                   ROW_NUMBER() OVER (PARTITION BY bucket
                                      ORDER BY n_events DESC, event_type)
                       AS rank
            FROM counts
        ) t WHERE rank <= {TRENDING_K}
    """,
    "ts_active_users": f"""
        WITH pairs AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        days AS (SELECT DISTINCT day FROM pairs),
        dau AS (SELECT day, COUNT(*) AS dau FROM pairs GROUP BY day),
        wau AS (
            SELECT d.day, COUNT(DISTINCT p.user_id) AS wau
            FROM days d
            JOIN pairs p
              ON p.day BETWEEN d.day - {WAU_DAYS - 1} AND d.day
            GROUP BY d.day
        )
        SELECT day, dau, wau FROM dau JOIN wau USING (day)
    """,
    "ts_funnel": """
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
            FROM events
        ),
        s1 AS (
            SELECT user_id, MIN(ts) AS t_view FROM ev
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t_click
            FROM ev JOIN s1 USING (user_id)
            WHERE ev.event_type = 'click' AND ev.ts > s1.t_view
            GROUP BY ev.user_id
        ),
        s3 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t_purchase
            FROM ev JOIN s2 USING (user_id)
            WHERE ev.event_type = 'purchase' AND ev.ts > s2.t_click
            GROUP BY ev.user_id
        )
        SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
               (1 + (s2.t_click IS NOT NULL)::INT
                  + (s3.t_purchase IS NOT NULL)::INT) AS funnel_depth
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    "ts_funnel_steps": """
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
            FROM events
        ),
        s1 AS (
            SELECT user_id, MIN(ts) AS t_signup FROM ev
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t_view
            FROM ev JOIN s1 USING (user_id)
            WHERE ev.event_type = 'view' AND ev.ts > s1.t_signup
            GROUP BY ev.user_id
        ),
        s3 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t_click
            FROM ev JOIN s2 USING (user_id)
            WHERE ev.event_type = 'click' AND ev.ts > s2.t_view
            GROUP BY ev.user_id
        ),
        s4 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t_purchase
            FROM ev JOIN s3 USING (user_id)
            WHERE ev.event_type = 'purchase' AND ev.ts > s3.t_click
            GROUP BY ev.user_id
        ),
        s5 AS (
            SELECT ev.user_id, MIN(ev.ts) AS t_error
            FROM ev JOIN s4 USING (user_id)
            WHERE ev.event_type = 'error' AND ev.ts > s4.t_purchase
            GROUP BY ev.user_id
        )
        SELECT s1.user_id, s1.t_signup, s2.t_view, s3.t_click,
               s4.t_purchase, s5.t_error,
               (1 + (s2.t_view IS NOT NULL)::INT
                  + (s3.t_click IS NOT NULL)::INT
                  + (s4.t_purchase IS NOT NULL)::INT
                  + (s5.t_error IS NOT NULL)::INT) AS funnel_depth
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        LEFT JOIN s4 USING (user_id) LEFT JOIN s5 USING (user_id)
    """,
    "ts_cohort": """
        WITH first AS (
            SELECT user_id,
                   date_trunc('week', MIN(CAST(ts AS TIMESTAMP)))
                       AS cohort_week
            FROM events GROUP BY user_id
        )
        SELECT cohort_week,
               date_trunc('week', CAST(ts AS TIMESTAMP)) AS activity_week,
               COUNT(DISTINCT user_id) AS n_active,
               CAST(date_diff('day', CAST(cohort_week AS DATE),
                              CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                                   AS DATE)) // 7 AS BIGINT) AS week_offset
        FROM events JOIN first USING (user_id)
        GROUP BY 1, 2
    """,
    "ts_gapfill": """
        WITH span AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS d0,
                   MAX(CAST(ts AS DATE)) AS d1
            FROM events GROUP BY user_id
        ),
        spine AS (
            SELECT user_id, CAST(unnest(generate_series(d0, d1,
                       INTERVAL 1 DAY)) AS DATE) AS day
            FROM span
        ),
        daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT spine.user_id, spine.day,
               COALESCE(daily.n, 0) AS n_events
        FROM spine LEFT JOIN daily USING (user_id, day)
    """,
    "ts_resample": """
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
               event_type,
               COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
                   AS sum_value,
               arg_min(value, CAST(ts AS TIMESTAMP)) AS open_value,
               arg_max(value, CAST(ts AS TIMESTAMP)) AS close_value,
               MIN(value) AS low,
               MAX(value) AS high
        FROM events
        GROUP BY 1, 2
    """,
    "ts_sessionize": """
        WITH flagged AS (
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                   CASE WHEN lag(CAST(ts AS TIMESTAMP))
                             OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR CAST(ts AS TIMESTAMP) >
                           lag(CAST(ts AS TIMESTAMP))
                             OVER (PARTITION BY user_id ORDER BY ts)
                           + INTERVAL 8 HOUR
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        )
        SELECT event_id, user_id, ts,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    """,
}

# The incremental rollup's oracle IS the full-recompute twin: one SQL
# definition, so the two can never diverge — and the shared text is
# precisely what makes the driver hash-match a losslessness proof.
ORACLES["ts_rollup_incremental"] = ORACLES["ts_resample"]


def _holt_oracle_sql() -> str:
    """SQL twin of ``holt``: the same literal coefficient tables, the
    same canonical-mod floor division (``//`` after the mod subtraction
    is exact, so it equals Spark's ``DIV`` there)."""
    cl, cb = _holt_coeffs()
    arr = lambda rows: "[" + ", ".join(  # noqa: E731
        "[" + ", ".join(f"CAST({c} AS BIGINT)" for c in r) + "]"
        for r in rows
    ) + "]"

    def num(table: list[list[int]]) -> str:
        return f"""CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, len(lst)),
                j -> ({arr(table)})[len(lst)][j] * lst[j])),
            (a, b) -> a + b) AS BIGINT)"""

    def fd(a: str, b: str) -> str:
        return f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b}) AS BIGINT)"

    den = "(CAST(1 AS BIGINT) << (2 * (len(lst) - 1)))"
    return f"""
        WITH bucketed AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   CAST(SUM({CENTS_SQL}) AS BIGINT) AS x_cents
            FROM events GROUP BY 1, 2
        ),
        lsts AS (
            SELECT event_type, bucket, x_cents,
                   list(x_cents) OVER (
                       PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN {EWMA_W - 1} PRECEDING AND CURRENT ROW
                   ) AS lst
            FROM bucketed
        ),
        nums AS (
            SELECT event_type, bucket, x_cents, lst,
                   {num(cl)} AS nl,
                   {num(cb)} AS nb
            FROM lsts
        )
        SELECT event_type, bucket, x_cents,
               {fd("nl", den)} AS holt_level_cents,
               {fd("nb", den)} AS holt_trend_cents,
               {fd("nl + nb", den)} AS holt_forecast_cents
        FROM nums
    """


ORACLES["ts_holt"] = _holt_oracle_sql()
ORACLES["ts_decompose"] = _decompose_oracle_sql()
