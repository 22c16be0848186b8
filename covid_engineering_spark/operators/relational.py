"""Relational core: scans, projections, filters, joins, aggregations,
sorts/top-k, set ops, scalar functions (SURVEY.md §2.1-2.3, 2.4, 2.6-2.8).

Each ``q_*`` function is a `(spark, sf_dir) -> DataFrame` callable wired
into ``__spark_entry__.queries()``; ``ORACLES`` holds the matching ANSI
SQL the DuckDB oracle runs on the same parquet. Column names are aliased
identically on both sides (driver hashes values sorted by column name).

Float discipline: per-row expressions are written with the same operator
tree on both sides (IEEE doubles are then bit-identical); aggregated
doubles go through ``dsum``/decimal accumulation so results are
accumulation-order independent (see functions/scalar.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from covid_engineering_spark.functions import dsum, missing_count
from covid_engineering_spark.sources import read_table

# ---------------------------------------------------------------------------
# Projections / filters (P1-P5; reference main.py:452-454, 249, 43-45, 241,
# 477-478)
# ---------------------------------------------------------------------------


def q_p1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — narrow projection. The scan must prune to the 5 columns
    (ReadSchema in the plan); reference parses all 10 cols of
    complete.csv then selects (main.py:452-454).
    """
    return read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"
    )


def q_p2_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — equality filter on a string key, pushed to the scan
    (reference: ``df[df['Country.Region'] == country]``, main.py:249).
    """
    return (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    )


def q_p3_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — closed-interval date predicate (main.py:43-45, 256-257)."""
    return (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1996-01-01", "1996-12-31"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


def q_p4_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — nullify-then-drop (the reference's ``errors='coerce'`` +
    ``dropna`` pattern, main.py:240-241): zero discounts become null,
    then null rows are dropped.
    """
    df = read_table(spark, sf_dir, "lineitem").withColumn(
        "disc_nn",
        F.when(F.col("l_discount") == 0.0, F.lit(None).cast("double")).otherwise(
            F.col("l_discount")
        ),
    )
    return df.na.drop(subset=["disc_nn"]).select(
        "l_orderkey", "l_linenumber", "disc_nn"
    )


def q_p5_masked_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — conditional masked assignment (main.py:477-478: zero-fill
    Deaths/Recovered where Confirmed==Active): zero the tax on open
    'N' lines, keep it elsewhere.
    """
    df = read_table(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (F.col("l_returnflag") == "N") & (F.col("l_linestatus") == "F"), 0.0
        )
        .otherwise(F.col("l_tax"))
        .alias("tax_fixed"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J2; main.py:296-300 scalar-lookup generalized)
# ---------------------------------------------------------------------------


def q_j1_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact ⨝ tiny dimension as an explicit broadcast hash join.
    The reference does this one country at a time with ``.iloc[0]``
    scalar lookups (main.py:296-300); the engine joins all keys at once
    and broadcasts the dimension so no shuffle of the fact side occurs.
    """
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


def q_j2_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that have at least one order."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_j3_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_j4_outer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + count, preserving zero-order customers.
    COUNT(column) skips nulls on both engines, so unmatched customers
    report 0.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


def q_j5_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: bucket part prices against an inline
    interval dimension. The interval table is broadcast, so this plans
    as BroadcastNestedLoopJoin over a 4-row build side — the right
    physical shape for banding joins at any fact-side scale.
    """
    part = read_table(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("low", 900.0, 925.0), ("mid", 925.0, 950.0), ("high", 950.0, 975.0), ("top", 975.0, 1000.0)],
        "bucket string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(buckets),
            (part.p_retailprice >= buckets.lo) & (part.p_retailprice < buckets.hi),
        )
        .select("p_partkey", "p_retailprice", "bucket")
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A10; main.py:457-462, 364, 352, 787-789, 67-72, 774,
# 778, 95/103, 142-145)
# ---------------------------------------------------------------------------


def q_a1_groupby_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — group-by max ×3: the reference's dedup of duplicate
    (country,date) province rows (main.py:457-462), re-shaped as
    per-order maxima. MAX of doubles is exact — no rounding needed.
    """
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max("l_quantity").alias("max_qty"),
            F.max("l_extendedprice").alias("max_price"),
            F.max("l_discount").alias("max_disc"),
        )
    )


def q_a2_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — multi-column group-by sum (main.py:364)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


def q_a3_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — mean per group (death-rate per continent, main.py:352):
    average account balance per nation, dimension broadcast.
    """
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
                / F.count("c_acctbal"),
                4,
            ).alias("avg_bal")
        )
    )


def q_a4_global_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — global totals (dashboard metrics, main.py:787-789)."""
    return read_table(spark, sf_dir, "orders").agg(
        dsum("o_totalprice").alias("total_sales"),
        F.count("*").alias("n_orders"),
    )


def q_a5_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — global means (parameter estimators μ̂,γ̂, main.py:67-72).
    Spark ``avg`` and the oracle's AVG both skip nulls — matching the
    reference's NaN-skipping ``mean()``.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
            / F.count("l_quantity"),
            6,
        ).alias("avg_qty"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
            / F.count("l_discount"),
            6,
        ).alias("avg_disc"),
    )


def q_a6_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — min/max bounds (date-picker bounds, main.py:774)."""
    return read_table(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


def q_a7_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — distinct values (dropdown domains, main.py:778,930)."""
    return read_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def q_a8_lsq_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/M2 — closed-form least squares through the origin as a pure
    aggregate: β̂ = Σ(x·y)/Σ(x²) (main.py:95,103). The x·y / x·x
    products are computed per-row in double (bit-identical to the
    oracle) then decimal-summed for order independence.
    """
    li = read_table(spark, sf_dir, "lineitem")
    xy = (F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(28,6)")
    xx = (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(28,6)")
    return li.agg(
        F.round(
            (F.sum(xy).cast("double") / F.sum(xx).cast("double")), 6
        ).alias("beta_hat")
    )


def q_a9_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — mean squared error between two series (simulation vs real,
    main.py:142-145): unit price vs retail price.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    err = (F.col("l_extendedprice") / F.col("l_quantity")) - F.col("p_retailprice")
    sq = (err * err).cast("decimal(28,6)")
    # part scales with SF (unlike nation/region) — no forced broadcast;
    # the size-based planner/AQE broadcasts it while it actually fits.
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(F.sum(sq).cast("double") / F.count("*"), 4).alias("mse")
        )
    )


def q_a10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (extension) — hierarchical rollup region→nation with counts
    (exact integers; the grand-total row carries nulls on both engines).
    """
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(F.count("*").alias("cnt"))


def q_a11_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (extension) — exact interpolated percentiles per group.
    Exact `percentile` needs the group's values together (a sort within
    the aggregation buffer); for 100 TB dashboards swap in
    `approx_percentile` (t-digest, mergeable, one pass) — kept exact
    here so the DuckDB `quantile_cont` oracle can hash-match.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
    )


def q_a12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (extension) — CUBE over (region, market segment): all four
    grouping combinations in one shuffle via the expand operator.
    """
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.cube("r_name", "c_mktsegment").agg(
        F.count("*").alias("cnt"),
        dsum("c_acctbal").alias("sum_bal"),
    )


def q_a13_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (extension) — skew-proof two-stage aggregation. l_returnflag
    has ~3 distinct values, so a direct groupBy at 100 TB lands each
    key's entire volume on one reducer. Stage 1 aggregates on
    (key, salt) spreading each hot key over 16 reducers; stage 2
    combines the 48 partials. Decimal accumulation keeps the result
    bit-equal to the unsalted plan, so the oracle is the plain GROUP BY.
    (AQE's skewJoin handles skewed *joins*; skewed *aggregation* needs
    this explicit salt.)
    """
    li = read_table(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", (F.col("l_orderkey") % 16).cast("int"))
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qty"),
            F.count("*").alias("_n"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("_qty").cast("double"), 2).alias("sum_qty"),
        F.sum("_n").alias("n_rows"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_col: str,
) -> DataFrame:
    """As-of join: attach to each left row the ``value_col`` of the
    latest right row with the same ``key`` and right.ts <= left.ts.

    Implemented as union + last(ignorenulls) over a (key, time) window:
    one shuffle, no range-join fanout, linear in input — the
    scale-correct shape (a range join here would fan out per pair).
    ``right`` must be unique per (key, ts); callers dedup first so tie
    handling is explicit.
    """
    l_tag = left.withColumns(
        {"_side": F.lit(1), "asof_value": F.lit(None).cast(right.schema[value_col].dataType)}
    )
    r_tag = right.select(
        key, ts, F.lit(0).alias("_side"), F.col(value_col).alias("asof_value")
    )
    # right rows with _side=0 sort before same-ts left rows, making the
    # match inclusive (right.ts <= left.ts).
    cols = [c for c in l_tag.columns]
    r_full = r_tag.select(
        *[
            F.col(c) if c in r_tag.columns else F.lit(None).cast(l_tag.schema[c].dataType).alias(c)
            for c in cols
        ]
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        l_tag.unionByName(r_full)
        .withColumn("asof_value", F.last("asof_value", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .drop("_side")
    )


def q_a14_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 (extension) — approx_count_distinct (HLL++) made
    oracle-checkable: the sketch value itself is engine-specific, so
    the query emits the exact distinct count plus a computed
    within-relative-error flag; the oracle expects the flag TRUE. A
    broken sketch (or a silently changed rsd) fails the hash-match.
    At 100 TB the approx path is one pass and mergeable — the exact
    countDistinct here exists to judge it.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_nd"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_nd",
            (
                F.abs(F.col("_approx") - F.col("exact_nd"))
                / F.col("exact_nd")
                <= 0.05
            ).alias("within_bound"),
        )
    )


def q_a19_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 (extension) — DataSketches HLL with explicit sketch UNION,
    oracle-checked via the a14 pattern: per-source sketches over the
    document content hashes are merged with ``hll_union_agg`` and the
    merged estimate is compared against (a) the one-shot global
    sketch and (b) the exact distinct count. The emitted flags — both
    estimates within 5% of exact, and union-vs-global within 5% of
    each other — are pinned TRUE by the oracle alongside the exact
    count. (The union and global estimates are NOT bit-equal by
    design: a small sketch answers from exact sparse/coupon mode,
    while the union gadget promotes to dense HLL mode — measured
    here: global said exactly 500 where the union estimated ~498 —
    so the mergeability contract is estimate-level, not
    register-level.)

    This is the 100 TB distinct-count architecture a14's
    ``approx_count_distinct`` hints at but doesn't expose: per-shard /
    per-day sketches persisted as binaries, unioned at query time —
    count-distinct over any date range without rescanning raw data.
    The sketches are deterministic (no RNG seed), so the flags are
    stable, and a silent estimator change fails the driver hash.
    """
    docs = read_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    per_src = docs.groupBy("source").agg(
        F.hll_sketch_agg(h).alias("sk"),
    )
    union_est = per_src.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias(
            "union_est"
        )
    )
    global_est = docs.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(h)).alias("global_est")
    )
    exact = docs.agg(F.count_distinct(h).alias("exact_nd"))
    one = (
        exact.join(F.broadcast(union_est))
        .join(F.broadcast(global_est))
    )
    def within(a, b):
        return F.abs(F.col(a) - F.col(b)) / F.col(b) <= 0.05

    return one.select(
        "exact_nd",
        within("union_est", "exact_nd").alias("union_within"),
        within("global_est", "exact_nd").alias("global_within"),
        within("union_est", "global_est").alias("merge_consistent"),
    )


def q_a20_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 (extension) — arg-max aggregate (``max_by``): per nation,
    the customer holding the maximum account balance, in ONE
    hash-aggregate pass — no rank window, no self-join back onto the
    group maxima (the two shapes it replaces, both of which shuffle
    the full row payload; ``max_by`` carries one candidate per group
    per partition through the partial/final merge). The reference's
    "row of the latest date" idiom (main.py:546-547 uses tail-after-
    sort) is this aggregate in relational form.

    Determinism: ``max_by`` is tie-nondeterministic, so the ordering
    value is a composite BIGINT — balance cents (exact
    ``floor(x*100 + 0.5)``, IEEE-identical in both engines, never at
    a .5 tie since inputs are 2dp) shifted by 2^32 with ``c_custkey``
    as tie-break. Monotonic for negative balances too (the +-999.99
    TPC-H floor), and collision-free while custkey < 2^32 — a 100 TB
    corpus passes; the cast overflows loudly, not silently, beyond
    cents > 2^31 dollars.
    """
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    ordkey = cents * F.lit(4294967296) + F.col("c_custkey")
    top = c.groupBy("c_nationkey").agg(
        F.max_by("c_name", ordkey).alias("top_customer"),
        F.max(cents).alias("max_acctbal_cents"),
    )
    return top.join(
        F.broadcast(n), top.c_nationkey == n.n_nationkey
    ).select("n_name", "top_customer", "max_acctbal_cents")


def q_a18_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 (extension) — approx_percentile (mergeable quantile sketch)
    made oracle-checkable, the a14 pattern: the sketch values are
    engine-specific, so the query emits the EXACT percentiles (which
    the DuckDB ``quantile_cont`` oracle hash-matches) plus computed
    within-relative-error flags for the approx values; the oracle
    expects the flags TRUE. At 100 TB the approx sketch is the only
    viable path — exact ``percentile`` sorts every group's values
    inside the aggregation buffer (A11 keeps the exact form precisely
    to judge this one); approx is single-pass, bounded-memory, and
    mergeable across partitions.
    """
    li = read_table(spark, sf_dir, "lineitem")
    exact50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact90 = F.expr("percentile(l_extendedprice, 0.9)")
    appr = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)"
    )
    # The flag compares the sketch against the UNROUNDED exact value
    # (judging against the 4dp-rounded emission would fail on sub-cent
    # data where the rounding error alone exceeds the bound), with an
    # absolute floor because a pure relative bound is undefined when
    # the exact percentile is 0.
    rel = lambda a, e: F.abs(a - e) <= F.greatest(  # noqa: E731
        0.01 * F.abs(e), F.lit(1e-9)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact50.alias("_e50"),
            exact90.alias("_e90"),
            appr.alias("_ap"),
        )
        .select(
            "l_returnflag",
            F.round("_e50", 4).alias("p50"),
            F.round("_e90", 4).alias("p90"),
            rel(F.element_at("_ap", 1), F.col("_e50")).alias("p50_within"),
            rel(F.element_at("_ap", 2), F.col("_e90")).alias("p90_within"),
        )
    )


def q_a15_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 (extension) — explicit GROUPING SETS: exactly the two
    groupings (priority) and (status), one expand + one shuffle, no
    cube over the full cross space.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


def q_a16_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 (extension) — PIVOT: yearly revenue spread wide across the
    three order statuses. Pivot values are declared explicitly
    (``["F","O","P"]``) — without them Spark runs an extra eager
    distinct-scan job over the whole table just to discover the column
    set, which at 100 TB is a full scan before the real query starts.
    With declared values the pivot compiles to one groupBy with three
    conditional decimal sums — single shuffle, partial-agg friendly.
    Empty cells stay null in both engines (pivot hole ≡ SUM(CASE)
    over zero rows).
    """
    orders = read_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy(F.year("o_orderdate").alias("yr"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                    "double"
                ),
                2,
            )
        )
    )
    return wide.select(
        "yr",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
        F.col("P").alias("rev_p"),
    )


def q_a17_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 (extension) — UNPIVOT (melt): a wide per-flag aggregate
    turned long, one (measure, value) row per source column. Spark's
    ``DataFrame.unpivot`` compiles to an Expand node — each input row
    is emitted N times map-side, no join and no shuffle beyond the
    aggregation that built the wide frame. The inverse of A16.
    """
    li = read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double"), 4
        ).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure",
        "value",
    )


def q_j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (extension) — as-of join: each 'click' event picks up the
    most recent prior-or-equal 'purchase' value for the same user.
    Right side deduped to one row per (user, ts) with max_by so tie
    handling matches DuckDB's ASOF JOIN oracle exactly.
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("p_value"))
    )
    return asof_join(
        clicks, purchases, key="user_id", ts="ts", value_col="p_value"
    ).select("event_id", "user_id", "ts", "value", "asof_value")


# ---------------------------------------------------------------------------
# Sort / top-k (O1-O2; main.py:243, 365-366)
# ---------------------------------------------------------------------------


def q_o1_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — ordered scan head. Catalyst plans TakeOrderedAndProject:
    a per-partition top-N + single merge, never a full global sort.
    Tie-broken on the primary key for determinism.
    """
    return (
        read_table(spark, sf_dir, "lineitem")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .limit(100)
    )


def q_o2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — top-5 groups by aggregate (top-5 counties by deaths,
    main.py:365-366). Ordering uses the *rounded* deterministic total
    plus the key as tie-break, so both engines pick the same rows.
    """
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("total_spend"))
        .orderBy(F.desc("total_spend"), "o_custkey")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Set operations (§2.7 — extension tier)
# ---------------------------------------------------------------------------


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.subtract(s)


# ---------------------------------------------------------------------------
# Scalar functions (F1-F8; main.py:71, 335, 350, 549-552, 561, 424,
# 421-433, 790-792)
# ---------------------------------------------------------------------------


def q_f1_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — column arithmetic chain (S = N−A−R−D and friends,
    main.py:71,298-300): the classic discounted+taxed charge. Same
    IEEE expression tree as the oracle → bit-identical doubles.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "revenue"
        ),
        (
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
        ).alias("charge"),
    )


def q_f2_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — round(x, n) (main.py:335)."""
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") / 1000.0, 1).alias("price_k")
    )


def q_f3_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — value replacement (``replace("", "Antartica")`` [sic],
    main.py:350) as a when/otherwise rewrite.
    """
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", "URGENT")
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
    )


def q_f4_clamp_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — eps clamp guarding division (``np.maximum(x, eps)``,
    main.py:549-552).
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / F.greatest(F.col("l_quantity"), F.lit(1e-6))).alias(
            "unit_price"
        ),
    )


def q_f5_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — slash-date string parse with null on failure (main.py:561,
    ``errors='coerce'``): round-trips o_orderdate through the county
    table's string format. Four-digit years on purpose: two-digit 'yy'
    century pivots differ between engines (Spark maps 95→2095, C's %y
    maps 95→1995) — a real M/d/yy source needs an explicit pivot rule.
    """
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "M/d/yyyy").alias("date_str"),
        F.to_date(F.date_format("o_orderdate", "M/d/yyyy"), "M/d/yyyy").alias("parsed"),
    )


def q_f6_null_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — row-wise missing-value count (main.py:424) over nullified
    columns.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("tax_nn", F.when(F.col("l_tax") == 0.0, None).otherwise(F.col("l_tax")))
        .withColumn(
            "disc_nn", F.when(F.col("l_discount") == 0.0, None).otherwise(F.col("l_discount"))
        )
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        missing_count("tax_nn", "disc_nn").alias("n_missing"),
    )


def q_f7_impute_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — accounting-invariant imputation (Confirmed = Active +
    Deaths + Recovered solved for the single missing field,
    main.py:421-433): a synthetic 3-way decomposition of l_quantity
    with one part nulled per line number, then recovered.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("total"),
        F.floor(F.col("l_quantity") * 0.5).cast("double").alias("x0"),
        F.floor(F.col("l_quantity") * 0.3).cast("double").alias("y0"),
    )
    li = li.withColumn("z0", F.col("total") - F.col("x0") - F.col("y0"))
    # introduce exactly-one-missing holes deterministically
    li = li.select(
        "l_orderkey",
        "l_linenumber",
        "total",
        F.when(F.col("l_linenumber") == 2, None).otherwise(F.col("x0")).alias("x"),
        F.when(F.col("l_linenumber") == 3, None).otherwise(F.col("y0")).alias("y"),
        F.when(F.col("l_linenumber") == 4, None).otherwise(F.col("z0")).alias("z"),
    )
    one_missing = missing_count("x", "y", "z") == 1
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "total",
        F.when(one_missing & F.col("x").isNull(), F.col("total") - F.col("y") - F.col("z"))
        .otherwise(F.col("x"))
        .alias("x_f"),
        F.when(one_missing & F.col("y").isNull(), F.col("total") - F.col("x") - F.col("z"))
        .otherwise(F.col("y"))
        .alias("y_f"),
        F.when(one_missing & F.col("z").isNull(), F.col("total") - F.col("x") - F.col("y"))
        .otherwise(F.col("z"))
        .alias("z_f"),
    )


def q_f8_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — human metric formatting ``f"{x:,}"`` (main.py:790-792).
    Rounding to 2dp before format_number keeps the second rounding
    tie-free (a 2-decimal double can't sit on a .5 boundary at 2dp).
    """
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.format_number(F.round(F.col("o_totalprice"), 2), 2).alias("price_fmt"),
    )


# ---------------------------------------------------------------------------
# JSON / regex (extension tier; events.props & documents surfaces)
# ---------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


def q_str_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.length("text").alias("text_len"),
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
    )


# ---------------------------------------------------------------------------
# Multi-operator composites (the reference's real query shapes)
# ---------------------------------------------------------------------------


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composite: scan → filter → wide aggregate (TPC-H Q1
    shape). Covers S1+P3+A2/A5+F1 in one plan; partial aggregation
    makes the shuffle carry 6 rows regardless of input scale.
    """
    # fan=True (guide §2.5 input skew): the sf parquet is a single
    # row group, so without it the 8-aggregate decimal map stage — the
    # whole query — runs as ONE task. Interleaved min-of-10 A/B after
    # deep JIT warm: 1.22s -> 1.03s min, 1.44 -> 1.23 med; identity at
    # scale (scan carries >= defaultParallelism splits).
    li = read_table(spark, sf_dir, "lineitem", fan=True).filter(
        F.col("l_shipdate") <= "2000-09-02"
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    # Pre-project the products and decimal casts ONCE per row: inside
    # the agg each expression is evaluated per aggregate invocation
    # (no CSE across aggregate buffers), which measured ~35% slower on
    # this 8-aggregate query. Values are bit-identical either way.
    pre = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,6)").alias("_qty"),
        F.col("l_extendedprice").cast("decimal(18,6)").alias("_price"),
        disc_price.cast("decimal(28,6)").alias("_disc_price"),
        charge.cast("decimal(28,6)").alias("_charge"),
        F.col("l_discount").cast("decimal(18,6)").alias("_disc"),
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("_qty").cast("double"), 2).alias("sum_qty"),
            F.round(F.sum("_price").cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum("_disc_price").cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum("_charge").cast("double"), 2).alias("sum_charge"),
            F.round(
                F.sum("_qty").cast("double") / F.count("_qty"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum("_disc").cast("double") / F.count("_disc"), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: selective join + aggregate + top-k (TPC-H Q3 shape).
    The customer filter is pushed below the join; the final top-10 is
    TakeOrderedAndProject.
    """
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # The filtered customer side is still O(SF) rows — broadcast is the
    # planner's call (size-based / AQE), not a pinned hint.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q2 shape — the correlated scalar subquery
    ("suppliers whose cost equals the minimum cost for that part"),
    expressed DECORRELATED: per-(part, supplier) average cost, a
    per-part min aggregate, and an equi-join back on the part key.
    This is the rewrite Catalyst itself applies to correlated
    subqueries where it can — written directly, the plan is two
    partial-agg groupBys and one join, all shuffling on l_partkey, so
    AQE reuses one exchange layout; a naive per-part subquery would be
    one aggregation per outer row. Ties keep every minimal supplier in
    both engines (deterministic: decimal-averaged cost, no argmin).
    """
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                / F.count("*")
            ).cast("double"),
            4,
        ).alias("cost")
    )
    minc = costs.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        costs.join(minc, "l_partkey")
        .filter(F.col("cost") == F.col("min_cost"))
        # part/supplier scale with SF: broadcast is the size-based
        # planner's decision, not a pinned hint.
        .join(part, costs.l_partkey == part.p_partkey)
        .join(supp, costs.l_suppkey == supp.s_suppkey)
        .select(
            "p_partkey", "p_name", "s_name", F.col("cost").alias("min_cost")
        )
    )


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q6 shape — the pushdown showcase. All three
    predicates (date range, discount band, quantity cap) reach the
    parquet reader as PushedFilters; the scan prunes to 4 columns; the
    aggregation is a single global decimal sum. At 100 TB this query
    is I/O-bound by exactly the bytes the pushed filters let through.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1995-01-01", "1995-12-31")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(28,6)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue_effect")
        )
    )


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q4 shape — the EXISTS decorrelation showcase.
    Orders placed in one quarter that have at least one late-shipping
    line item (the synthetic schema carries no commit/receipt dates,
    so "late" is l_shipdate > o_orderdate + 30 days — same correlated
    EXISTS structure as the TPC-H original), counted per priority.

    Plan: the date window pushes to the orders scan; the EXISTS is a
    LEFT SEMI join on the order key with the non-equi lateness
    predicate folded into the join condition — each order emits at
    most once no matter how many qualifying lines it has (no
    DISTINCT, no fan-out to collapse), which is why EXISTS-as-semi
    beats EXISTS-as-inner-join-plus-dedup at scale. The final agg
    shuffles 5 priority rows.
    """
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1997-01-01", "1997-03-31")
    )
    li = read_table(spark, sf_dir, "lineitem")
    # Timestamp-preserving add: F.date_add would truncate the
    # TimestampNTZ order date to a DATE before comparing, silently
    # diverging from the oracle's `+ INTERVAL 30 DAY` the moment an
    # order date carries a time component.
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: 5-way star join + per-group revenue (TPC-H Q5 shape).
    Dimensions broadcast; only lineitem⨝orders shuffles.
    """
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    # nation/region are fixed-cardinality (25/5 rows at every SF) —
    # always broadcast. customer scales with SF — planner's call.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H query-shape completion. The reference's analytical
# surface is groupBy/join/window over the COVID frames (main.py:452-650);
# these composites exercise the same relational algebra on the TPC-H-ish
# fixtures at the canonical benchmark shapes, so the engine's join
# strategies, pushdown, and decimal discipline are pinned on shapes every
# OLAP reader recognizes. Money sums ride decimals (order-independent);
# quantity/count algebra stays BIGINT; every emitted double is a single
# final ROUND(CAST(...)) both engines compute identically.
# ---------------------------------------------------------------------------


def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q7 shape — cross-border trade volume inside a
    4-nation bloc by ship year (both directions, domestic excluded —
    the fixture keys trade sparsely, so a single nation PAIR is empty
    at sf0.001; the bloc keeps the exact Q7 plan shape non-degenerate
    at every SF). The interesting plan property: nation is joined
    TWICE (supplier side and customer side) under different aliases,
    and the bloc/inequality predicate can only be applied after both
    joins. Both nation copies broadcast (25 rows at every SF);
    supplier is SF-scaled but small — planner's call; the only real
    shuffle is lineitem⨝orders on the order key.
    """
    trade_bloc = ["NATION_9", "NATION_10", "NATION_11", "NATION_12"]
    nation_s = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    nation_c = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    supp = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("cn_key"))
        .filter(
            F.col("supp_nation").isin(trade_bloc)
            & F.col("cust_nation").isin(trade_bloc)
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2
            ).alias("revenue")
        )
    )


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q10 shape — top-20 customers by revenue lost to
    returns in one quarter. Plan: the quarter predicate pushes to the
    orders scan and `l_returnflag = 'R'` to the lineitem scan BEFORE
    the join (the row-reduction that matters at 100 TB); the wide
    customer attributes ride the groupBy key list so no second join
    back is needed; TakeOrderedAndProject caps the sort at 20 rows per
    partition. Tie-determinism: revenue desc, then c_custkey.

    Revenue is emitted in exact BIGINT micro-units, not a rounded
    double: the sf0.01 fixture actually lands a customer on a
    half-cent tie (Σ = 307843.595000 exactly), where Spark's
    ``round(double)`` (BigDecimal.valueOf → shortest decimal repr →
    HALF_UP → .60) and DuckDB's ``round`` (on the binary double →
    .59) legitimately disagree — no 2-decimal emission of a tie is
    engine-independent, so the tie is never created: per-row
    ``floor(x*1e6+0.5)`` micros (both engines floor the SAME IEEE
    double) sum losslessly as BIGINT.
    """
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1996-03-31")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev_micros = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev_micros).alias("revenue_micros"))
        .orderBy(F.desc("revenue_micros"), "c_custkey")
        .limit(20)
    )


def q_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q13 shape — the order-count-per-customer
    histogram, the canonical OUTER-join-then-double-aggregate: the
    left outer join keeps zero-order customers (their count must land
    in the c_count=0 bucket, which an inner join silently drops), the
    non-urgent predicate lives in the JOIN CONDITION (not a WHERE,
    which would turn the outer join back into an inner), and the
    second aggregation collapses |customers| rows to a ~dozen-bucket
    histogram. Both shuffles are on low-skew keys (custkey, then the
    tiny count domain).
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (~orders.o_orderpriority.startswith("1-")),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q14 shape — promo revenue share for one month:
    100 * Σ(promo revenue) / Σ(revenue). Both sums accumulate as
    decimals in ONE aggregate pass (a conditional sum, not two scans),
    and the division happens exactly once on the two final decimal
    totals cast to double — so the emitted ratio is bit-identical
    regardless of partitioning. part⨝lineitem joins on the part key;
    part is SF-scaled, broadcast is the planner's size-based call.
    """
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-03-01", "1996-03-31")
    )
    revenue = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(28,6)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", revenue)).alias("_promo"),
            F.sum(revenue).alias("_total"),
        )
        .select(
            F.round(
                F.lit(100.0)
                * F.col("_promo").cast("double")
                / F.col("_total").cast("double"),
                4,
            ).alias("promo_pct")
        )
    )


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q15 shape — the supplier(s) with maximum
    quarterly revenue. The original is a VIEW + scalar subquery
    (`= (SELECT MAX(...) FROM revenue_view)`); decorrelated here the
    same way as Q2: one per-supplier partial-aggregated groupBy, a
    1-row global max broadcast back, equality filter keeps ALL tied
    maxima (deterministic — no argmax). The revenue frame is
    |suppliers| rows, so the max join is trivially broadcast.
    """
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1996-03-31")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2
        ).alias("total_revenue")
    )
    mx = per_supp.agg(F.max("total_revenue").alias("_mx"))
    return (
        per_supp.join(F.broadcast(mx), per_supp.total_revenue == F.col("_mx"))
        .join(F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q17 shape — revenue from small-quantity orders
    of one brand: lines with `l_quantity < 0.2 * avg(l_quantity)` for
    their part. The correlated AVG subquery decorrelates to a per-part
    aggregate joined back on the part key — both sides shuffle on
    l_partkey so AQE reuses one exchange layout. The threshold test is
    EXACT integer algebra: quantities are integral, so
    `qty < 0.2 * sum/n  ⇔  5 * qty * n < sum` — no float division
    enters the predicate (the cents discipline from the ts_* family
    applied to quantities).
    """
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    )
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(qty).alias("sum_qty"), F.count("*").alias("n_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("pp_key"))
        .filter(qty * F.col("n_qty") * 5 < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q18 shape — large-volume orders: orders whose
    total line quantity exceeds a threshold, with customer attributes.
    The original's `o_orderkey IN (SELECT ... HAVING SUM > t)` becomes
    a per-order BIGINT quantity rollup filtered by the HAVING, joined
    back to orders (the IN-as-join decorrelation); the qualifying set
    is tiny (~top 1% of orders at threshold 250), so both enrichment
    joins broadcast the qualifying side under AQE. Quantity algebra is
    all-BIGINT; o_totalprice passes through untouched (no float math).
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_okey"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == F.col("big_okey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


def q_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q19 shape — the disjunctive-predicate showcase:
    revenue over an OR of three (brand, size-band, quantity-band)
    conjunctions. What the plan must show: Catalyst factors the
    OR into a partial pushdown — the quantity bounds (l_quantity ≤ 30,
    the union of the bands) and size bounds reach the scans as
    PushedFilters even though the full predicate needs the join — and
    the residual OR evaluates post-join inside codegen. One decimal
    global sum; part side is prunable by p_size at the footer level.
    """
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(revenue.cast("decimal(28,6)")).cast("double"), 2
            ).alias("revenue")
        )
    )


def q_q22_global_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q22 shape — "global sales opportunity":
    customers in selected country codes with above-average positive
    balance and NO URGENT orders. Three classic pieces in one plan: a
    scalar aggregate (the average) computed once and broadcast back as
    a 1-row frame; the above-average test in EXACT cents algebra
    (`bal_cents * n > sum_cents` — no float division, the a20/ts
    cents discipline); and a LEFT ANTI join against the filtered
    orders for the NOT EXISTS. Two documented fixture adaptations:
    the schema has no phone column, so the country code is
    `c_nationkey % 5` (same substring-bucketing role as TPC-H's phone
    prefix), and every fixture customer has SOME order at every SF,
    so the anti-join target is the urgent-priority subset (same
    decorrelated NOT-EXISTS plan, non-degenerate complement).
    """
    cust = read_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.col("c_nationkey") % 5
    )
    urgent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    pool = cust.filter(F.col("cntrycode").isin(0, 1, 2))
    bal_cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    avg_frame = pool.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_cents).alias("sum_cents"), F.count("*").alias("n_pos")
    )
    return (
        pool.crossJoin(F.broadcast(avg_frame))
        .filter(bal_cents * F.col("n_pos") > F.col("sum_cents"))
        .join(urgent, pool.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(bal_cents) / 100.0, 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q8 shape — one nation's market share of a
    region's imports of one part type, by order year. The plan joins
    SEVEN tables (lineitem at the center; part and supplier on the
    line keys; orders→customer→nation→region on the demand side; a
    second nation copy on the supply side) and the share is a
    conditional-sum ratio: numerator and denominator accumulate in
    the SAME aggregate pass, so there is exactly one scan and one
    shuffle no matter how the ratio is framed. Revenue rides per-row
    BIGINT micros (the q10 discipline: both engines floor the same
    IEEE double, sums are order-independent), and the share is one
    BIGINT÷BIGINT double division rounded once — bit-identical
    across partitionings. Nation/region broadcast (25/5 rows); the
    part-type filter prunes the part side before its join.
    """
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation_s = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    nation_c = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    li = read_table(spark, sf_dir, "lineitem")
    rev_micros = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .join(F.broadcast(nation_s), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev_micros).otherwise(
                    F.lit(0)
                )
            ).alias("_nation"),
            F.sum(rev_micros).alias("_all"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_nation").cast("double") / F.col("_all").cast("double"),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q9 shape — profit by supplier nation and order
    year over a part-name pattern. Fixture adaptation (documented):
    the schema carries no partsupp table, so unit cost is
    ``p_retailprice`` (the only per-part money column) in place of
    ``ps_supplycost`` — the amount expression keeps the original's
    exact form: revenue minus cost·quantity. Per-row amounts floor to
    BIGINT micros before summing (negative amounts are legal — floor
    is identical in both engines on either sign), so the group sums
    are order-independent. The LIKE filter prunes part before its
    join; nation broadcasts; the center scan joins on the line keys.
    """
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    amount_micros = F.floor(
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity")
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount_micros).alias("profit_micros"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q11 shape — parts representing an outsized
    share of a nation bloc's traded value: a per-part aggregate
    HAVING-filtered against a scalar fraction of the global total.
    Fixture adaptation (documented): with no partsupp, "stock value"
    is the summed extended price of the bloc's lineitems per part.
    The original's scalar subquery decorrelates exactly like q22's
    average: a 1-row total broadcast back, and the threshold test is
    EXACT integer algebra — ``value_cents * 1000 > total_cents``
    (fraction 0.001) — no float division enters the predicate. Both
    groupBys partial-aggregate; the only full shuffle is on
    l_partkey.
    """
    supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(0, 1, 2)
    )
    li = read_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    bloc = li.join(
        F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left_semi"
    )
    per_part = bloc.groupBy("l_partkey").agg(
        F.sum(cents).alias("value_cents")
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "l_partkey")
    )


def q_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q12 shape — order-priority mix per shipping
    class for one year of late shipments. Fixture adaptations
    (documented): no l_shipmode column, so the class is
    ``l_returnflag`` (same small-domain categorical role); no
    commit/receipt dates, so "late" is l_shipdate > o_orderdate + 60
    days (the q4 lateness surrogate). The signature plan property
    survives intact: the priority split is a CONDITIONAL COUNT inside
    one aggregate pass (CASE WHEN folded into SUM), not two scans,
    and the year window pushes to the lineitem scan. All-BIGINT
    count algebra.
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01", "1997-12-31")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


def q_q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q16 shape — how many suppliers can furnish
    each (brand, type, size) bucket, excluding a supplier blocklist.
    Fixture adaptations (documented): the part↔supplier relation is
    the DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem
    (no partsupp table), and the blocklist is suppliers with negative
    account balance (no comment column to pattern-match). The
    signature pieces survive: a NOT-IN-subquery expressed as a LEFT
    ANTI join (never a filter on a collected list), and a COUNT
    DISTINCT per group over the deduplicated pair set. The pair
    distinct and the count-distinct both shuffle on the part key.
    """
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    pairs = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == bad_supp.s_suppkey,
            "left_anti",
        )
    )
    return (
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q20 shape — the nested semi-join chain:
    suppliers (in a nation bloc) who qualify on a per-part quantity
    condition over a name-filtered part subset and a one-year window.
    Fixture adaptation (documented): with no ps_availqty, the
    condition "availqty > half the shipped quantity" becomes "this
    supplier shipped more than half the part's total quantity in the
    window" — a dominance test with the same decorrelated structure:
    per-(part, supplier) sums, per-part totals joined back on the
    part key, and the threshold as EXACT integer algebra
    (``2 * supp_qty > total_qty``; quantities are integral). The
    qualifying (part, supplier) set reduces to a DISTINCT supplier
    list that LEFT SEMI joins supplier — each supplier emits once no
    matter how many parts qualify.
    """
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") < 8
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .join(part, F.col("l_partkey") == part.p_partkey, "left_semi")
    )
    qty = F.col("l_quantity").cast("long")
    per_pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty).alias("supp_qty")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum(qty).alias("total_qty")
    )
    dominant = (
        per_pair.join(per_part, per_pair.l_partkey == F.col("pp_key"))
        .filter(F.col("supp_qty") * 2 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_q21_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: TPC-H Q21 shape — suppliers who single-handedly held
    up multi-supplier orders. Fixture adaptation (documented): "late"
    is l_shipdate > o_orderdate + 60 days (no commit/receipt dates).
    The original's EXISTS (another supplier in the order) + NOT
    EXISTS (another LATE supplier) pair decorrelates into ONE
    per-order aggregate — distinct-supplier count, distinct-LATE-
    supplier count, and (via the a20 max_by discipline: MAX over a
    CASE) the sole late supplier key when that count is exactly 1 —
    followed by a filter ``n_supp > 1 AND n_late = 1``. One shuffle
    on the order key replaces two correlated subqueries; the blamed-
    supplier rollup then counts orders per supplier (all-BIGINT) and
    top-20s with full tie-break determinism.
    """
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    # Two-level aggregation (guide §2.3): the countDistinct pair
    # plans an Expand (3 projections per input row — one per
    # distinct-aggregate group plus the plain max) feeding TWO
    # exchanges (keys ⊕ gid, then key). Collapsing to distinct
    # (order, supplier) pairs first — with the per-pair late flag as a
    # plain max — computes the same three aggregates from one
    # partially-aggregated groupBy chain: n_supp = pairs per order,
    # n_late = pairs whose supplier shipped late, late_supp = max such
    # supplier. One explicit hash repartition on the order key lets
    # BOTH groupBys reuse the same exchange (HashPartitioning(order)
    # satisfies the (order, supp) clustering), so the plan carries one
    # Exchange where the Expand form carried two, and no 3x row
    # multiplication. count("l_suppkey")/when-count skip NULL supplier
    # keys exactly as countDistinct did.
    pairs = (
        joined.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("any_late"))
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count("l_suppkey").alias("n_supp"),
        F.count(F.when(F.col("any_late"), F.col("l_suppkey"))).alias(
            "n_late"
        ),
        F.max(F.when(F.col("any_late"), F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    blamed = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    return (
        blamed.groupBy("late_supp")
        .agg(F.count("*").alias("numwait"))
        .join(supp, F.col("late_supp") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def global_prefix_sum(
    df: DataFrame,
    sort_exprs: list,
    weight,
    out_col: str,
    total_col: str | None = None,
) -> DataFrame:
    """Distributed INCLUSIVE prefix sum of ``weight`` in a global sort
    order, with NO single-partition pass over the data — the shared
    scale primitive under ``global_ntile`` (weight = 1 ⇒ global rank)
    and ``pipe_weighted_sample`` (weight = size ⇒ the cumulative-mass
    axis systematic PPS sampling walks).

    Plan shape, all fully parallel:

    1. ``repartitionByRange`` on the sort expressions — each output
       partition holds a contiguous key range (sampled boundaries;
       boundary placement affects only WHERE a row sorts, never its
       prefix sum, so sampling nondeterminism cannot reach the
       output).
    2. Per-partition running sum — the window exchange is
       hash(partition id), so P tasks each sort N/P rows.
    3. Global prefix = local running sum + prefix-sum of
       per-partition totals. The totals frame is ≤P rows (P = shuffle
       partitions, NOT data size): the only ``Window.orderBy``
       without ``partitionBy`` in the plan runs over THAT, and it
       joins back as a broadcast. ``WindowExec`` logs its blanket
       "No Partition Defined" warning for this spec — here it is a
       false alarm (the frame is ≤P rows by construction, not data-
       sized), and it cannot be silenced in the plan: partitioning
       by a constant gets folded away by ``EliminateWindowPartitions``
       before execution. bench.py scopes that logger down so the
       artifact tail stays readable; the real guard is the window
       allowlist in ``tests/test_plans.py``, which verifies every
       unpartitioned window in every registered plan sits over a
       bounded frame.

    ``sort_exprs`` must be a TOTAL order (unique tiebreak column
    last): a running sum inside a range partition is only
    deterministic under a total order.

    LAZY localCheckpoint at the branch point: the per-partition
    totals branch and the window branch both consume ``part``, and
    SPARK_PARTITION_ID() is nondeterminism-tagged, which blocks
    exchange-reuse canonicalization — without the checkpoint each
    chained call re-executes its whole upstream once more for the
    totals branch (measured on rfm's 3 chained stages: ~1.7x wall at
    sf0.1, 2.2x at 100x). eager=False keeps query CONSTRUCTION
    job-free (the driver contract); the frame materializes once
    inside the first action, the same discipline as
    connected_components' CC rounds.
    """
    part = (
        df.withColumn("_gps_w", weight)
        .repartitionByRange(*sort_exprs)
        .withColumn("_gps_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = part.groupBy("_gps_pid").agg(
        F.sum("_gps_w").alias("_gps_cnt")
    )
    # Unpartitioned by design over the <=P-row totals frame; the
    # WindowExec warning this triggers is a false alarm (docstring
    # step 3) — a constant partition key would not help, Spark's
    # EliminateWindowPartitions folds it away.
    w_off = Window.orderBy("_gps_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_tot = Window.orderBy("_gps_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "_gps_pid",
        F.coalesce(F.sum("_gps_cnt").over(w_off), F.lit(0)).alias(
            "_gps_off"
        ),
        F.sum("_gps_cnt").over(w_tot).alias("_gps_tot"),
    )
    w_local = (
        Window.partitionBy("_gps_pid")
        .orderBy(*sort_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        part.withColumn("_gps_lsum", F.sum("_gps_w").over(w_local))
        .join(F.broadcast(offsets), "_gps_pid")
        .withColumn(out_col, F.col("_gps_off") + F.col("_gps_lsum"))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_gps_tot"))
    return out.drop(
        "_gps_pid", "_gps_w", "_gps_lsum", "_gps_off", "_gps_tot"
    )


def global_ntile(
    df: DataFrame,
    sort_exprs: list,
    n_buckets: int,
    out_col: str,
) -> DataFrame:
    """Exact global NTILE(k) with NO single-partition sort — the scale
    path for quantile segmentation over frames too large to funnel
    through ``Window.orderBy()`` (one task sorting everything).

    Global rank = ``global_prefix_sum`` of 1 (see its docstring for
    the range-repartition + pid-window + broadcast-offsets plan);
    bucket from (rank, n) with NTILE's exact arithmetic — the first
    n%k buckets take ceil(n/k) rows, the rest floor(n/k) — in pure
    BIGINT ops, bit-identical to ``F.ntile(k)`` and to DuckDB's NTILE
    (pinned by
    tests/test_relational.py::test_global_ntile_matches_window_ntile).

    ``sort_exprs`` must be a TOTAL order (unique tiebreak column
    last), exactly as with the window form.
    """
    ranked = global_prefix_sum(
        df,
        sort_exprs,
        F.lit(1).cast("long"),
        "_gnt_r",
        total_col="_gnt_n",
    )
    k = int(n_buckets)
    # Exact BIGINT arithmetic throughout (integral DIV, no doubles):
    # base = floor(n/k), rem = n%k; the first rem buckets hold base+1
    # rows. When n < k every rank satisfies r <= rem*(base+1) = n, so
    # the divide-by-base branch is unreachable; GREATEST(base, 1)
    # keeps the expression total anyway.
    bucket = F.expr(
        f"""CASE WHEN _gnt_r <= (_gnt_n % {k}) * (_gnt_n DIV {k} + 1)
             THEN (_gnt_r - 1) DIV (_gnt_n DIV {k} + 1)
             ELSE _gnt_n % {k}
                  + (_gnt_r - (_gnt_n % {k}) * (_gnt_n DIV {k} + 1) - 1)
                    DIV GREATEST(_gnt_n DIV {k}, 1)
             END + 1"""
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop(
        "_gnt_r", "_gnt_n"
    )


def _rfm_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RFM per-customer aggregate (one partial-aggregated shuffle
    collapsing orders to |customers| rows) — shared by the exact
    segmentation (``rfm_segments``) and the one-pass cut-point audit
    (``a25_quantile_cuts``)."""
    orders = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count("*").alias("n_orders"),
        F.sum(cents).alias("monetary_cents"),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    rollup (recency / frequency / monetary quintiles): one orders
    aggregate per customer, then three exact global quintile
    assignments with full deterministic ordering (metric, then
    custkey — ntile is a row-position function, so the tiebreak IS
    the determinism contract). Monetary rides exact cents; recency
    counts days to a fixed anchor date (no "now()" — the query must
    be replayable).

    Scale shape: the orders scan collapses to |customers| rows in one
    partial-aggregated shuffle; each quintile is then assigned by
    ``global_ntile`` — range-repartition + per-partition row_number +
    broadcast prefix-sum offsets — so NO stage sorts the full frame
    in one task (three ``Window.orderBy``-without-``partitionBy``
    windows die at ~10¹⁰ customers; this plan's parallelism grows
    with the data). The
    output is bit-identical to the NTILE(5) window form — the window
    form stays as this query's exactness oracle (DuckDB NTILE in the
    driver, ``F.ntile`` in
    tests/test_relational.py::test_rfm_matches_window_ntile_form).
    """
    per_cust = _rfm_per_customer(spark, sf_dir)
    # A NULL custkey group survives the aggregate (NULL FK rows are
    # legal input); Spark's ASC default is NULLS FIRST while DuckDB's
    # is NULLS LAST, so the tiebreak pins NULLS LAST on both sides.
    key = F.asc_nulls_last("o_custkey")
    scored = global_ntile(
        per_cust, [F.asc("recency_days"), key], 5, "r_score"
    )
    scored = global_ntile(
        scored, [F.desc("n_orders"), key], 5, "f_score"
    )
    scored = global_ntile(
        scored, [F.desc("monetary_cents"), key], 5, "m_score"
    )
    return (
        scored.select(
            F.col("o_custkey").alias("c_custkey"),
            "recency_days",
            "n_orders",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
            (
                F.col("r_score") * 100
                + F.col("f_score") * 10
                + F.col("m_score")
            ).alias("rfm_segment"),
        )
    )


def q_a25_quantile_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25 (extension) — ONE-PASS quantile cut-points for the RFM
    metrics via ``approx_percentile``, audited a14/a18-style: the
    mergeable sketch is the cheapest segmentation path at extreme
    scale (a single partial-aggregated pass, no rank machinery at
    all — cf. ``global_ntile``'s two extra exchanges), at the price
    of rank error ≤ n/accuracy. The emitted cut is the EXACT quintile
    boundary (hash-matched by the DuckDB ``quantile_cont`` twin); the
    flag audits the sketch in RANK space — the sketch's actual
    guarantee: the approx value's exact rank interval
    [#(value < a) + 1, #(value ≤ a)] must overlap the ±1% rank band
    around p·n. (A value-space band fails both ways: dense integer
    metrics put adjacent ranks >1% apart in VALUE, and sparse data
    collapses an interpolated p±0.01 band to a sliver between the
    same two data points that contains NO actual value — the
    adversarial pathological-data sweep caught exactly that.)
    accuracy=10000 ⇒ rank error ≤ 0.01% ≪ the 1% band, so the flag is
    deterministically TRUE and a silently degraded sketch fails the
    driver hash.

    The two registered quantile-segmentation forms are each other's
    cross-check: ``rfm_segments`` (exact row-position quintiles, two
    extra exchanges) and this (value-boundary quintiles, one pass;
    the rank audit adds one broadcast of the 12-row cuts frame and a
    re-aggregation of the metric rows — both trivial beside the
    scan).
    """
    per_cust = _rfm_per_customer(spark, sf_dir)
    m = per_cust.select(
        F.expr(
            "stack(3,"
            " 'frequency', CAST(n_orders AS DOUBLE),"
            " 'monetary',  CAST(monetary_cents AS DOUBLE),"
            " 'recency',   CAST(recency_days AS DOUBLE)"
            ") AS (metric, value)"
        )
    )
    ps = [0.2, 0.4, 0.6, 0.8]
    arr = lambda xs: "array(" + ",".join(map(str, xs)) + ")"  # noqa: E731
    agg = m.groupBy("metric").agg(
        F.expr(f"percentile(value, {arr(ps)})").alias("_e"),
        F.expr(f"approx_percentile(value, {arr(ps)}, 10000)").alias("_a"),
        F.count("value").alias("_n"),
    )
    z = F.posexplode(F.arrays_zip("_e", "_a"))
    qs = F.array(*[F.lit(p) for p in ps])
    cuts = agg.select("metric", "_n", z.alias("pos", "z")).select(
        "metric",
        "_n",
        F.element_at(qs, F.col("pos") + 1).alias("quantile"),
        F.round(F.col("z._e"), 4).alias("cut"),
        F.col("z._a").alias("_approx"),
    )
    ranked = (
        m.join(F.broadcast(cuts), "metric")
        .groupBy("metric", "quantile", "cut", "_n", "_approx")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("_approx"), 1).otherwise(0)
            ).alias("_le"),
            F.sum(
                F.when(F.col("value") < F.col("_approx"), 1).otherwise(0)
            ).alias("_lt"),
        )
    )
    band_lo = F.floor((F.col("quantile") - 0.01) * F.col("_n"))
    band_hi = F.ceil((F.col("quantile") + 0.01) * F.col("_n"))
    return ranked.select(
        "metric",
        "quantile",
        "cut",
        (
            (F.col("_le") >= band_lo) & (F.col("_lt") + 1 <= band_hi)
        ).alias("within_rank_band"),
    )


def q_w9_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 — the remaining ranking-window family in one pass: NTILE
    (equi-height bucketing), PERCENT_RANK ((rank−1)/(n−1)) and
    CUME_DIST (rank_last/n), partitioned by order priority and fully
    tie-broken (price, then key). All three ride ONE window exchange;
    the rank fractions are single divisions of the same integers in
    both engines, so the doubles agree bit-for-bit.

    Scale caveat (this is the ranking-family CAPABILITY demo, not a
    scale pattern): ``o_orderpriority`` has 5 values, so each window
    partition holds N/5 of the table — one task sorts it, the same
    regime as a global sort divided by five. At 100 TB a ranking
    window needs either a HIGH-cardinality partition key (so each
    partition fits a task) or, for global/low-cardinality quantile
    assignment, the ``global_ntile`` plan ``rfm_segments`` registers:
    range-repartition + per-partition row_number + broadcast
    prefix-sum offsets — no single-task sort at any cardinality.
    """
    orders = read_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("price_cents"), "o_orderkey"
    )
    return (
        orders.select(
            "o_orderkey", "o_orderpriority", cents.alias("price_cents")
        )
        .withColumn("quartile", F.ntile(4).over(w))
        .withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .withColumn("cume", F.round(F.cume_dist().over(w), 6))
    )


def q_a21_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — Pearson correlation and OLS slope per group via exact
    integer MOMENTS: built-in ``corr()`` accumulates running float
    means whose result depends on partition merge order, so the
    engine instead sums the five raw moments (Σx, Σy, Σxy, Σx², Σy²)
    as BIGINTs — quantity is integral, price enters as cents — and
    assembles r and β in ONE final double expression per group:

        r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))

    Both engines combine identical integers with the identical
    operator tree, so the doubles agree bit-for-bit — the same
    mergeable-moments trick as the a8/a9 least-squares aggregates,
    extended to the bivariate statistics. At 100 TB the moment sums
    promote to DECIMAL(38,0); the assembly expression is unchanged.
    (The final n·Σxy product is assembled in doubles deliberately:
    at sf0.1 it already exceeds BIGINT range — the moments stay
    exact, the assembly is one deterministic rounding.)
    """
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = nd * sxy - sx * sy
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    return m.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        "sxy",
        F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
        F.round(cov_n / var_x, 6).alias("beta_cents_per_qty"),
    )


def q_a22_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 — exact MODE per group (the most frequent quantity per
    return flag), as two partial-aggregated hash aggregates: count per
    (group, value), then ``max_by`` over a composite BIGINT ordering
    key — ``count·1000 − value`` — so ties on count break to the
    SMALLEST value deterministically (the a20 composite-key
    discipline; the key is collision-free because value < 1000).
    No window, no self-join back onto per-group maxima, no sort:
    the classic mode-via-argmax shape that scales as two shuffles
    whose row counts are |group × distinct-value| then |groups|.
    """
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    counts = li.groupBy("l_returnflag", qty.alias("q")).agg(
        F.count("*").alias("n")
    )
    key = F.col("n") * 1000 - F.col("q")
    return counts.groupBy("l_returnflag").agg(
        F.max_by("q", key).alias("mode_qty"),
        F.max_by("n", key).alias("mode_count"),
        F.count("*").alias("n_distinct_qty"),
    )


#: A user is a HEAVY HITTER for an event type when its count exceeds
#: HH_NUM/HH_DEN × the type's mean count per active user — a
#: self-calibrating bar (the pipe_source_gate discipline): a fixed
#: support fraction φ empties as user cardinality grows with the
#: corpus, while "1.5× the mean" keeps firing at every scale.
HH_NUM = 3
HH_DEN = 2


def q_a23_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 — per-group heavy hitters (frequent items): the users whose
    activity in an event type exceeds 1.5× that type's mean count per
    active user. Two partial-aggregated hash aggs — count per
    (type, user), then per-type totals — joined back and tested in
    the CROSS-MULTIPLIED integer form ``HH_DEN·c·n_users >
    HH_NUM·total`` (no division, no float boundary; the a22/
    pipe_source_gate discipline).

    Scale shape: the first shuffle carries |type × active-user| rows
    (partial agg collapses raw events map-side), the totals frame is
    |types| rows and broadcasts. This exact form is the ground truth
    the sketched path approximates — at streaming 100 TB swap in
    Misra-Gries/SpaceSaving per partition and merge summaries, with
    THIS query as its accuracy oracle (the a14/a18 sketch-vs-exact
    pattern). Overflow headroom: cnt·n_users·HH_DEN stays in BIGINT
    while cnt × users < ~4.6e18; past that promote the product to
    DECIMAL(38,0) (the a21 convention), comparison unchanged.
    """
    return _heavy_hitters(read_table(spark, sf_dir, "events"))


def _heavy_hitters(ev: DataFrame) -> DataFrame:
    """The exact heavy-hitter frame (shared by a23 and the a24 CMS
    point-query pass)."""
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("n_users"),
    )
    return (
        counts.join(F.broadcast(totals), "event_type")
        .filter(
            F.col("cnt") * F.col("n_users") * HH_DEN
            > F.col("total") * HH_NUM
        )
        .select("event_type", "user_id", "cnt", "total", "n_users")
    )


#: Count-Min Sketch geometry: CMS_D independent hash rows of CMS_W
#: counters each. Error bound: est ≤ exact + (e/CMS_W)·N with
#: probability 1 − (1/e)^CMS_D per query (Cormode & Muthukrishnan
#: 2005); the one INVARIANT guarantee — est ≥ exact, always — is
#: emitted as a checked column.
CMS_D = 3
CMS_W = 64


def _cms_bucket_rows() -> F.Column:
    """The per-row (d, bucket) CMS coordinates as an explodable array
    over the (event_type, user_id) key — shared by the sketch build
    and the point-query probes so the two sides can never hash apart."""
    from covid_engineering_spark.operators.dedup import portable_hash64

    key = F.concat(
        F.col("event_type"), F.lit(":"), F.col("user_id").cast("string")
    )
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(portable_hash64(key, d), F.lit(CMS_W)).alias(
                    "bucket"
                ),
            )
            for d in range(CMS_D)
        ]
    )


def q_a24_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24 — Count-Min Sketch frequency estimation, judged against
    the exact heavy hitters (the a14/a18 sketch-vs-exact pattern):
    build a per-type CMS over the event stream (CMS_D×CMS_W counters
    per type — fixed memory however many users arrive, each counter a
    plain SUM so partial aggregation merges sketches map-side: the
    mergeability that makes CMS the streaming/distributed frequency
    structure), then point-query it for every exact heavy hitter and
    emit exact count, estimate, overcount, and the guaranteed
    ``est ≥ exact`` invariant as a column the oracle checks.

    Hashing rides the md5-derived :func:`portable_hash64` family (the
    registered-sketch convention, dedup.py:241), so the generated SQL
    twin replays the exact counters and the driver hash-checks the
    whole sketch path — estimates included, not just bounds.

    Scale shape: the sketch build is one partial-aggregated hash agg
    at (type × CMS_D × CMS_W ≤ types×192)-row output; candidates come
    from the a23 exact pass; the point-query join touches CMS_D
    sketch rows per candidate against a broadcast sketch frame.
    """
    ev = read_table(spark, sf_dir, "events")
    rows = _cms_bucket_rows()
    sketch = (
        ev.select("event_type", F.explode(rows).alias("r"))
        .groupBy("event_type", "r.d", "r.bucket")
        .agg(F.count("*").alias("counter"))
    )
    heavy = _heavy_hitters(ev).select("event_type", "user_id", "cnt")
    probes = heavy.select(
        "event_type", "user_id", "cnt", F.explode(rows).alias("r")
    ).select("event_type", "user_id", "cnt", "r.d", "r.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["event_type", "d", "bucket"])
        .groupBy("event_type", "user_id", "cnt")
        .agg(F.min("counter").alias("est"))
    )
    return est.select(
        "event_type",
        "user_id",
        "cnt",
        "est",
        (F.col("est") - F.col("cnt")).alias("overcount"),
        (F.col("est") >= F.col("cnt")).alias("est_ge_exact"),
    )


#: Misra–Gries summary size (counters per event type) and the shard
#: fan-out of the distributed merge. Guarantee at k counters:
#: cnt − N/(k+1) ≤ mg_est ≤ cnt, and every item with cnt > N/(k+1)
#: survives the summary (Misra & Gries 1982; merge bound: Agarwal,
#: Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS
#: 2012).
MG_K = 8
MG_SHARDS = 4


def q_a26_mg_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26 — Misra–Gries/SpaceSaving heavy-hitter summary, the
    bounded-state sibling of the a23 exact pass and the a24 CMS
    (completing the frequency family: exact / hash-sketch /
    counter-summary). k=MG_K counters per event type, built the way a
    1000-executor deployment would: per-SHARD summaries reduced by
    the canonical MG decrement (subtract the (k+1)-th largest count,
    keep positives — at most k survive), then merged and reduced once
    more. Sharding hashes ``user_id`` (``portable_hash64``, the
    registered-sketch convention), so shard summaries have disjoint
    keys and the merge is a union + one re-reduction — exactly the
    Mergeable Summaries merge, whose theorem gives the DISTRIBUTED
    summary the same guarantee as a sequential pass:

        cnt − total/(k+1)  ≤  mg_est  ≤  cnt     (per survivor)

    and every item with cnt·(k+1) > total is guaranteed present.
    Both invariants are emitted as checked columns; the exact a23
    heavy-hitter verdict rides along (``is_exact_heavy``) so the
    summary is judged against ground truth in the same frame — the
    a14/a18 sketch-vs-exact pattern.

    Scale shape: one partial-aggregated shuffle to |type × user|
    count rows; the rank filter ``rn ≤ k+1`` plants a partial
    WindowGroupLimit BELOW the (type, shard) window exchange (each
    map task forwards at most k+1 rows per group — the emb_knn_graph
    discipline), the second-stage window sees ≤ SHARDS·k rows per
    type, and the per-type totals broadcast back. Deterministic
    given the counts (ties break to the smaller user_id), hence
    SQL-replayable: the oracle re-runs the identical reduction and
    the driver hash-checks estimates, not just bounds.
    """
    ev = read_table(spark, sf_dir, "events")
    s2, counts = mg_summary(ev, "event_type", "user_id")
    totals = counts.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_users")
    )
    err = F.col("cnt") - F.col("mg_est")
    return s2.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "user_id",
        "cnt",
        "mg_est",
        err.alias("mg_err"),
        (err * (MG_K + 1) <= F.col("total")).alias("err_within_bound"),
        (
            F.col("cnt") * F.col("n_users") * HH_DEN
            > F.col("total") * HH_NUM
        ).alias("is_exact_heavy"),
    )


def mg_summary(df: DataFrame, group_col: str, key_col: str):
    """The distributed Misra–Gries reduction on an arbitrary frame —
    returns ``(summary, counts)`` where ``summary`` holds per
    ``group_col`` at most ``MG_K`` rows ``(group, key, cnt, mg_est)``
    with the merged-summary guarantee (see ``q_a26_mg_heavy``), and
    ``counts`` is the exact per-(group, key) count frame both stages
    derive from (callers reuse it for totals). Library form so
    property tests can drive random streams through the exact
    registered reduction."""
    from covid_engineering_spark.operators.dedup import portable_hash64

    shard = F.pmod(
        portable_hash64(F.col(key_col).cast("string"), 26),
        F.lit(MG_SHARDS),
    )
    counts = df.groupBy(
        group_col, shard.alias("shard"), key_col
    ).agg(F.count("*").alias("cnt"))
    # stage 1: per-(group, shard) MG reduction to <=k counters
    w1 = Window.partitionBy(group_col, "shard").orderBy(
        F.desc("cnt"), F.asc(key_col)
    )
    top1 = counts.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") <= MG_K + 1
    )
    g1 = Window.partitionBy(group_col, "shard")
    t1 = F.coalesce(
        F.max(F.when(F.col("rn") == MG_K + 1, F.col("cnt"))).over(g1),
        F.lit(0),
    )
    s1 = (
        top1.withColumn("t1", t1)
        .filter((F.col("rn") <= MG_K) & (F.col("cnt") > F.col("t1")))
        .select(
            group_col,
            key_col,
            "cnt",
            (F.col("cnt") - F.col("t1")).alias("dec1"),
        )
    )
    # stage 2: shard keys are disjoint, so the merge is a union of
    # the <=shards*k survivors + one more canonical reduction
    w2 = Window.partitionBy(group_col).orderBy(
        F.desc("dec1"), F.asc(key_col)
    )
    top2 = s1.withColumn("rn2", F.row_number().over(w2)).filter(
        F.col("rn2") <= MG_K + 1
    )
    g2 = Window.partitionBy(group_col)
    t2 = F.coalesce(
        F.max(F.when(F.col("rn2") == MG_K + 1, F.col("dec1"))).over(g2),
        F.lit(0),
    )
    summary = (
        top2.withColumn("t2", t2)
        .filter((F.col("rn2") <= MG_K) & (F.col("dec1") > F.col("t2")))
        .select(
            group_col,
            key_col,
            "cnt",
            (F.col("dec1") - F.col("t2")).alias("mg_est"),
        )
    )
    return summary, counts


#: Quantile-summary geometry: shard fan-out, per-shard sample budget
#: (rank stride ⌈n/B⌉ ⇒ per-shard rank error ≤ stride−1), the
#: reported percentiles, and the shard-hash seed.
QS_SHARDS = 4
QS_B = 32
QS_PCTS = (25, 50, 75, 90)
QS_SEED = 27


def quantile_sketch(df: DataFrame, group_col: str, b: int = QS_B) -> DataFrame:
    """Deterministic mergeable quantile summary — the quantile member
    of the bounded-state sketch family (a23 exact / a24 CMS /
    a26 Misra–Gries counters / THIS): per (group, shard) keep every
    ⌈n/B⌉-th element of the locally SORTED stream plus the shard
    maximum, each sample weighted by the ranks it covers; merge the
    ≤ shards·(B+1) samples per group in value order and read the
    requested percentiles off the cumulative weights — the classic
    sorted-sample summary (the GK/KLL deployment shape without their
    adaptive compaction), built the way a 1000-executor job runs it:
    local sorts over 1/shards of each group, then a bounded merge.

    Guarantee, emitted as checked columns (the a26 discipline): the
    estimate's true rank interval [true_rank_lo, true_rank_hi]
    (tie-aware — lo counts strictly-smaller values +1, hi counts ≤)
    must intersect cw ± err_bound where err_bound = Σ_shards
    (stride_s − 1). Exact verification rides a second corpus pass
    against the broadcast ≤ groups·|pcts| estimate frame — the
    a14/a18 sketch-vs-exact pattern.

    Determinism: integer cents, total order (value, tiebreak) inside
    every shard, total merge order (value, shard, rank), smallest
    qualifying cumulative weight wins — SQL-replayable end to end
    where approx_percentile (a18) is an opaque engine sketch.

    Scale shape: the only corpus-sized work is one rank window per
    (group, shard) — a hot group splits across shards exactly like
    the salted-agg discipline — and the verification scan. Merge
    windows and the pick ride frames bounded by groups·shards·B.
    NULL values carry no rank and are excluded; a NULL group is its
    own group throughout (windows, not equi-joins, carry the totals,
    and the verify join is null-safe).
    """
    from covid_engineering_spark.functions import evicting_cache
    from covid_engineering_spark.operators.dedup import portable_hash64

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = evicting_cache(
        df.filter(F.col("value").isNotNull()).select(
            F.col(group_col).alias("g"),
            F.pmod(
                portable_hash64(F.col("event_id").cast("string"), QS_SEED),
                F.lit(QS_SHARDS),
            ).alias("shard"),
            cents.alias("x"),
            F.col("event_id").alias("tb"),
        ),
        "qsketch_base",
    )
    w_rank = Window.partitionBy("g", "shard").orderBy("x", "tb")
    w_cnt = Window.partitionBy("g", "shard")
    ranked = base.select(
        "g",
        "shard",
        "x",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_cnt).alias("n_sh"),
    ).withColumn("stride", F.expr(f"(n_sh + {b - 1}) div {b}"))
    kept = ranked.filter(
        (F.col("rn") % F.col("stride") == 0)
        | (F.col("rn") == F.col("n_sh"))
    )
    w_keep = Window.partitionBy("g", "shard").orderBy("rn")
    samples = kept.withColumn(
        "w",
        F.col("rn") - F.coalesce(F.lag("rn").over(w_keep), F.lit(0)),
    )
    w_m = Window.partitionBy("g").orderBy("x", "shard", "rn")
    w_t = Window.partitionBy("g")
    merged = (
        samples.withColumn("cw", F.sum("w").over(w_m))
        .withColumn("n_total", F.sum("w").over(w_t))
        .withColumn(
            "err_bound",
            F.sum(
                F.when(
                    F.col("rn") == F.col("n_sh"), F.col("stride") - 1
                ).otherwise(F.lit(0))
            ).over(w_t),
        )
    )
    cand = merged.select(
        "*",
        F.explode(F.array(*[F.lit(int(p)) for p in QS_PCTS])).alias("pct"),
    )
    hits = cand.filter(
        F.col("cw") >= F.expr("(pct * n_total + 99) div 100")
    )
    w_pick = Window.partitionBy("g", "pct").orderBy(
        "cw", "x", "shard", "rn"
    )
    est = (
        hits.withColumn("_pr", F.row_number().over(w_pick))
        .filter(F.col("_pr") == 1)
        .select(
            "g",
            "pct",
            F.col("x").alias("est_cents"),
            "n_total",
            F.col("cw").alias("cw_at_est"),
            "err_bound",
        )
    )
    j = base.alias("c").join(
        F.broadcast(est).alias("e"), F.expr("c.g <=> e.g")
    )
    lo = F.sum(
        F.when(F.col("c.x") < F.col("e.est_cents"), 1).otherwise(0)
    ) + F.lit(1)
    hi = F.sum(
        F.when(F.col("c.x") <= F.col("e.est_cents"), 1).otherwise(0)
    )
    out = j.groupBy(
        F.col("e.g").alias(group_col),
        "e.pct",
        "e.est_cents",
        "e.n_total",
        "e.cw_at_est",
        "e.err_bound",
    ).agg(
        lo.cast("long").alias("true_rank_lo"),
        hi.cast("long").alias("true_rank_hi"),
    )
    ok = (
        F.col("true_rank_hi") >= F.col("cw_at_est") - F.col("err_bound")
    ) & (F.col("true_rank_lo") <= F.col("cw_at_est") + F.col("err_bound"))
    return out.select(
        group_col,
        "pct",
        "est_cents",
        "n_total",
        "cw_at_est",
        "err_bound",
        "true_rank_lo",
        "true_rank_hi",
        ok.alias("err_within_bound"),
    )


def q_a27_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27 — mergeable rank-stride quantile summary over event value
    cents per type, with its rank-error guarantee verified in-frame."""
    return quantile_sketch(read_table(spark, sf_dir, "events"), "event_type")


def quantile_histogram(df: DataFrame, group_col: str) -> DataFrame:
    """EXACT percentiles via value-histogram collapse — the
    bounded-value-domain scale path for quantiles, and the lever the
    a27 depth probe names: when the value domain is bounded (cents,
    scores, durations — anything already quantized), collapsing the
    corpus to per-(group, value) counts makes the quantile EXACT with
    ONE partial-aggregated shuffle, no sampling, no error bound, and
    no sort of the corpus. Completes the quantile trio: a11/a18 (the
    engine aggregates — exact but memory-bound per group / approx),
    a27 (general-domain mergeable summary with a rank-error bound),
    THIS (bounded-domain exact).

    Estimate rule: the smallest value whose cumulative count reaches
    ⌈pct·n/100⌉ — the identical order statistic a27 targets, so the
    two agree exactly wherever a27's bound is zero (pinned in tests).

    Scale shape: the groupBy(group, value) partial agg collapses the
    corpus map-side to ≤ |groups|·|domain| rows — the ONLY
    corpus-sized pass; the cumulative window, totals window, and the
    percentile pick all ride that bounded frame. No joins anywhere
    (windows carry the totals), so a NULL group is its own group end
    to end. Precondition: |domain| bounded (cents of a bounded metric
    here); an unbounded-domain column belongs on a27 instead.

    NULL values carry no count and are excluded, the a27 convention.
    """
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hist = (
        df.filter(F.col("value").isNotNull())
        .select(F.col(group_col).alias("g"), cents.alias("x"))
        .groupBy("g", "x")
        .agg(F.count("*").alias("w"))
    )
    w_cw = Window.partitionBy("g").orderBy("x")
    w_t = Window.partitionBy("g")
    m = hist.withColumn("cw", F.sum("w").over(w_cw)).withColumn(
        "n_total", F.sum("w").over(w_t)
    )
    cand = m.select(
        "*",
        F.explode(F.array(*[F.lit(int(p)) for p in QS_PCTS])).alias("pct"),
    ).filter(F.col("cw") >= F.expr("(pct * n_total + 99) div 100"))
    w_pick = Window.partitionBy("g", "pct").orderBy("x")
    return (
        cand.withColumn("_pr", F.row_number().over(w_pick))
        .filter(F.col("_pr") == 1)
        .select(
            F.col("g").alias(group_col),
            "pct",
            F.col("x").alias("est_cents"),
            "n_total",
        )
    )


def q_a28_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 — exact per-type percentiles by value-histogram collapse."""
    return quantile_histogram(
        read_table(spark, sf_dir, "events"), "event_type"
    )


#: Fan-out factor of the explicit salted join — the number of
#: sub-partitions a hot key is spread across.
JOIN_SALT = 8


def q_j8_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — explicit skew-salted shuffle join, result bit-equal to the
    plain equi-join (which IS the oracle: salting is a physical-plan
    decision, invisible in the answer). The fact side (lineitem) gets
    a salt from a hash of its line number; the dim side (orders) is
    replicated across all JOIN_SALT salts via explode(sequence) —
    the join key becomes (orderkey, salt), so a hot order key's rows
    land in 8 different reduce tasks instead of one straggler.

    When: AQE's skew-join handles this adaptively when runtime stats
    see the skew; the explicit form is for layouts AQE can't touch —
    pre-bucketed tables (exchange reuse pins the partitioning),
    broadcast-disabled sides, or a key whose skew hides under the
    stats floor. Cost model: dim side ×SALT replication (broadcast-
    sized frames only), fact side untouched.
    """
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALT - 1)))
    )
    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "salt",
        F.pmod(F.xxhash64("l_linenumber"), F.lit(JOIN_SALT)).cast("int"),
    )
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.salt == orders.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


#: Incident-window sampling and width for the binned interval join:
#: every 97th event anchors a [ts, ts + 2h] incident window.
INTERVAL_ANCHOR_MOD = 97
INTERVAL_HOURS = 2


def binned_interval_join(
    points: DataFrame, intervals: DataFrame
) -> DataFrame:
    """Big-big interval join via time binning — the scale form of the
    range join. ``j5_range_join`` broadcasts its interval side (right
    whenever the intervals fit in memory); when BOTH sides are large —
    events against incident/maintenance/session windows — the raw
    range predicate degenerates to a nested loop over a shuffled side.
    The standard fix, re-expressed declaratively: EXPLODE each
    interval into the coarse time bins it covers (bounded fan-out:
    width/bin + 1 rows), bin each point ONCE, and equi-join on
    (key, bin) — a plain shuffled hash/sort-merge join Catalyst and
    AQE can reason about — then apply the exact containment filter.
    Because a point lives in exactly ONE bin and an interval is
    exploded to EVERY bin it covers, each true (point, interval) pair
    meets in exactly one task: no duplicate elimination, no distinct.

    ``points``: (event_id, event_type, ts); ``intervals``:
    (incident_id, itype, win_start, win_end) with win_end - win_start
    bounded (the bin width should be chosen ~ the typical interval
    width; here 1h bins over 2h windows → ≤3 bins/interval). Output:
    per-incident match counts — the monitoring rollup ("how many
    events landed inside each incident window").
    """
    bins = intervals.select(
        "incident_id",
        "itype",
        "win_start",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "win_start"),
                F.date_trunc("hour", "win_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bin"),
        "win_end",
    )
    pts = points.select(
        "event_id",
        "event_type",
        "ts",
        F.date_trunc("hour", "ts").alias("pbin"),
    )
    return (
        bins.join(
            pts,
            (bins.itype == pts.event_type) & (bins.bin == pts.pbin),
        )
        .filter(
            (F.col("ts") >= F.col("win_start"))
            & (F.col("ts") <= F.col("win_end"))
        )
        .groupBy("incident_id", "itype", "win_start")
        .agg(F.count("*").alias("n_events"))
        .select(
            "incident_id",
            F.col("itype").alias("event_type"),
            F.col("win_start").alias("window_start"),
            "n_events",
        )
    )


def q_j9_binned_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J9 — the binned big-big interval join over events: every 97th
    event (``INTERVAL_ANCHOR_MOD``) anchors a 2-hour incident window;
    count the same-type
    events inside each window. The anchor matches itself, so every
    incident reports ≥1."""
    ev = read_table(spark, sf_dir, "events")
    anchors = ev.filter(
        F.col("event_id") % INTERVAL_ANCHOR_MOD == 0
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("event_type").alias("itype"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr(f"INTERVAL {INTERVAL_HOURS} HOURS")).alias(
            "win_end"
        ),
    )
    return binned_interval_join(ev, anchors)


QUERIES = {
    "p1_project": q_p1_project,
    "p2_filter_eq": q_p2_filter_eq,
    "p3_date_range": q_p3_date_range,
    "p4_null_drop": q_p4_null_drop,
    "p5_masked_assign": q_p5_masked_assign,
    "j1_broadcast_lookup": q_j1_broadcast_lookup,
    "j2_semi": q_j2_semi,
    "j3_anti": q_j3_anti,
    "j4_outer_count": q_j4_outer_count,
    "j5_range_join": q_j5_range_join,
    "a1_groupby_max": q_a1_groupby_max,
    "a2_groupby_sum": q_a2_groupby_sum,
    "a3_groupby_avg": q_a3_groupby_avg,
    "a4_global_sums": q_a4_global_sums,
    "a5_global_avg": q_a5_global_avg,
    "a6_minmax": q_a6_minmax,
    "a7_distinct": q_a7_distinct,
    "a8_lsq_ratio": q_a8_lsq_ratio,
    "a9_mse": q_a9_mse,
    "a10_rollup": q_a10_rollup,
    "o1_sort_limit": q_o1_sort_limit,
    "o2_topk": q_o2_topk,
    "set_union": q_set_union,
    "set_intersect": q_set_intersect,
    "set_except": q_set_except,
    "f1_arithmetic": q_f1_arithmetic,
    "f2_round": q_f2_round,
    "f3_replace": q_f3_replace,
    "f4_clamp_div": q_f4_clamp_div,
    "f5_date_parse": q_f5_date_parse,
    "f6_null_count": q_f6_null_count,
    "f7_impute_invariant": q_f7_impute_invariant,
    "f8_format": q_f8_format,
    "json_extract": q_json_extract,
    "str_regex": q_str_regex,
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_top_orders": q_q3_top_orders,
    "q4_order_priority": q_q4_order_priority,
    "q5_region_revenue": q_q5_region_revenue,
    "q2_min_cost_supplier": q_q2_min_cost_supplier,
    "q6_forecast_revenue": q_q6_forecast_revenue,
    "q7_nation_volume": q_q7_nation_volume,
    "q10_returned_items": q_q10_returned_items,
    "q13_cust_distribution": q_q13_cust_distribution,
    "q14_promo_effect": q_q14_promo_effect,
    "q15_top_supplier": q_q15_top_supplier,
    "q17_small_quantity": q_q17_small_quantity,
    "q18_large_orders": q_q18_large_orders,
    "q19_disjunctive": q_q19_disjunctive,
    "q22_global_balance": q_q22_global_balance,
    "q8_market_share": q_q8_market_share,
    "q9_product_profit": q_q9_product_profit,
    "q11_important_stock": q_q11_important_stock,
    "q12_shipmode_priority": q_q12_shipmode_priority,
    "q16_parts_supplier": q_q16_parts_supplier,
    "q20_dominant_supplier": q_q20_dominant_supplier,
    "q21_suppliers_waiting": q_q21_suppliers_waiting,
    "rfm_segments": q_rfm_segments,
    "w9_ntile_cume": q_w9_ntile_cume,
    "j8_salted_join": q_j8_salted_join,
    "j9_binned_interval_join": q_j9_binned_interval_join,
    "a21_corr_moments": q_a21_corr_moments,
    "a22_mode": q_a22_mode,
    "a23_heavy_hitters": q_a23_heavy_hitters,
    "a24_cms_heavy": q_a24_cms_heavy,
    "a26_mg_heavy": q_a26_mg_heavy,
    "a27_quantile_sketch": q_a27_quantile_sketch,
    "a28_quantile_hist": q_a28_quantile_hist,
    "a25_quantile_cuts": q_a25_quantile_cuts,
    "a11_percentile": q_a11_percentile,
    "a12_cube": q_a12_cube,
    "a13_salted_agg": q_a13_salted_agg,
    "a14_approx_distinct": q_a14_approx_distinct,
    "a15_grouping_sets": q_a15_grouping_sets,
    "a16_pivot": q_a16_pivot,
    "a17_unpivot": q_a17_unpivot,
    "a18_approx_percentile": q_a18_approx_percentile,
    "a19_hll_union": q_a19_hll_union,
    "a20_max_by": q_a20_max_by,
    "j6_asof_join": q_j6_asof_join,
}

ORACLES = {
    "a20_max_by": """
        SELECT n_name,
               max_by(c_name,
                      CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                          * 4294967296 + c_custkey) AS top_customer,
               MAX(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                   AS max_acctbal_cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q2_min_cost_supplier": """
        WITH costs AS (
            SELECT l_partkey, l_suppkey,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                              / COUNT(*) AS DOUBLE), 4) AS cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        minc AS (
            SELECT l_partkey, MIN(cost) AS min_cost FROM costs GROUP BY l_partkey
        )
        SELECT p_partkey, p_name, s_name, cost AS min_cost
        FROM costs
        JOIN minc USING (l_partkey)
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE cost = minc.min_cost
    """,
    "q6_forecast_revenue": """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE), 2)
               AS revenue_effect
        FROM lineitem
        WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q7_nation_volume": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                   AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
          AND n1.n_name IN ('NATION_9','NATION_10','NATION_11','NATION_12')
          AND n2.n_name IN ('NATION_9','NATION_10','NATION_11','NATION_12')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_micros
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-03-31'
          AND l_returnflag = 'R'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue_micros DESC, c_custkey
        LIMIT 20
    """,
    "q13_cust_distribution": """
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority NOT LIKE '1-%'
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q14_promo_effect": """
        SELECT ROUND(100.0
               * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(28,6)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(28,6))) AS DOUBLE), 4) AS promo_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate BETWEEN '1996-03-01' AND '1996-03-31'
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(28,6))) AS DOUBLE), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "q17_small_quantity": """
        WITH per_part AS (
            SELECT l_partkey AS pp_key,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   COUNT(*) AS n_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
                   AS DOUBLE) / 7.0, 2) AS avg_yearly
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN per_part ON l_partkey = pp_key
        WHERE p_brand = 'Brand#13'
          AND CAST(l_quantity AS BIGINT) * n_qty * 5 < sum_qty
    """,
    "q18_large_orders": """
        WITH big AS (
            SELECT l_orderkey AS big_okey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               o_totalprice, sum_qty
        FROM orders
        JOIN big ON o_orderkey = big_okey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
    """,
    "q19_disjunctive": """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                   AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q8_market_share": """
        SELECT year(o_orderdate) AS o_year,
               ROUND(
                   CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                       THEN CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                           * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                       * 1000000 + 0.5) AS BIGINT)) AS DOUBLE),
                   6) AS mkt_share
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON n2.n_regionkey = r_regionkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
          AND o_orderdate BETWEEN '1996-01-01' AND '1997-12-31'
        GROUP BY 1 ORDER BY 1
    """,
    "q9_product_profit": """
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               CAST(SUM(CAST(FLOOR(
                   (l_extendedprice * (1.0 - l_discount)
                    - p_retailprice * l_quantity) * 1000000 + 0.5
               ) AS BIGINT)) AS BIGINT) AS profit_micros
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
    "q11_important_stock": """
        WITH bloc AS (
            SELECT l_partkey,
                   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS cents
            FROM lineitem
            WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier WHERE s_nationkey IN (0, 1, 2)
            )
        ),
        per_part AS (
            SELECT l_partkey, CAST(SUM(cents) AS BIGINT) AS value_cents
            FROM bloc GROUP BY l_partkey
        )
        SELECT l_partkey, value_cents
        FROM per_part
        WHERE value_cents * 1000 > (
            SELECT CAST(SUM(value_cents) AS BIGINT) FROM per_part
        )
        ORDER BY value_cents DESC, l_partkey
    """,
    "q12_shipmode_priority": """
        SELECT l_returnflag AS ship_class,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
                   AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
        GROUP BY 1 ORDER BY 1
    """,
    "q16_parts_supplier": """
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
            )
        )
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM pairs JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q20_dominant_supplier": """
        WITH li AS (
            SELECT l_partkey, l_suppkey,
                   CAST(l_quantity AS BIGINT) AS qty
            FROM lineitem
            WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'
              AND l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
              )
        ),
        per_pair AS (
            SELECT l_partkey, l_suppkey, CAST(SUM(qty) AS BIGINT) AS supp_qty
            FROM li GROUP BY 1, 2
        ),
        per_part AS (
            SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty
            FROM li GROUP BY 1
        )
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey < 8
          AND s_suppkey IN (
              SELECT pp.l_suppkey
              FROM per_pair pp JOIN per_part pt ON pp.l_partkey = pt.l_partkey
              WHERE pp.supp_qty * 2 > pt.total_qty
          )
        ORDER BY s_suppkey
    """,
    "q21_suppliers_waiting": """
        WITH joined AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS n_supp,
                   COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END)
                       AS n_late,
                   MAX(CASE WHEN is_late THEN l_suppkey END) AS late_supp
            FROM joined GROUP BY 1
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM per_order JOIN supplier ON late_supp = s_suppkey
        WHERE n_supp > 1 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "a25_quantile_cuts": """
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(DATE '2002-01-01' - MAX(CAST(o_orderdate AS DATE))
                        AS BIGINT) AS recency_days,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM orders GROUP BY o_custkey
        ),
        m AS (
            SELECT 'frequency' AS metric, CAST(n_orders AS DOUBLE) AS value
            FROM per_cust
            UNION ALL
            SELECT 'monetary', CAST(monetary_cents AS DOUBLE) FROM per_cust
            UNION ALL
            SELECT 'recency', CAST(recency_days AS DOUBLE) FROM per_cust
        ),
        agg AS (
            SELECT metric,
                   quantile_cont(value, 0.2) AS q1,
                   quantile_cont(value, 0.4) AS q2,
                   quantile_cont(value, 0.6) AS q3,
                   quantile_cont(value, 0.8) AS q4
            FROM m WHERE value IS NOT NULL GROUP BY metric
        )
        SELECT metric, CAST(0.2 AS DOUBLE) AS quantile, ROUND(q1, 4) AS cut,
               TRUE AS within_rank_band FROM agg
        UNION ALL
        SELECT metric, CAST(0.4 AS DOUBLE), ROUND(q2, 4), TRUE FROM agg
        UNION ALL
        SELECT metric, CAST(0.6 AS DOUBLE), ROUND(q3, 4), TRUE FROM agg
        UNION ALL
        SELECT metric, CAST(0.8 AS DOUBLE), ROUND(q4, 4), TRUE FROM agg
    """,
    "rfm_segments": """
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(DATE '2002-01-01' - MAX(CAST(o_orderdate AS DATE))
                        AS BIGINT) AS recency_days,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS monetary_cents
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey AS c_custkey, recency_days, n_orders,
               monetary_cents,
               NTILE(5) OVER wr AS r_score,
               NTILE(5) OVER wf AS f_score,
               NTILE(5) OVER wm AS m_score,
               NTILE(5) OVER wr * 100 + NTILE(5) OVER wf * 10
               + NTILE(5) OVER wm AS rfm_segment
        FROM per_cust
        WINDOW
            wr AS (ORDER BY recency_days, o_custkey NULLS LAST),
            wf AS (ORDER BY n_orders DESC, o_custkey NULLS LAST),
            wm AS (ORDER BY monetary_cents DESC, o_custkey NULLS LAST)
    """,
    "w9_ntile_cume": """
        SELECT o_orderkey, o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS price_cents,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (
            PARTITION BY o_orderpriority
            ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                     o_orderkey
        )
    """,
    "a23_heavy_hitters": f"""
        WITH c AS (
            SELECT event_type, user_id, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        t AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
                   COUNT(*) AS n_users
            FROM c GROUP BY event_type
        )
        SELECT event_type, user_id, cnt, total, n_users
        FROM c JOIN t USING (event_type)
        WHERE cnt * n_users * {HH_DEN} > total * {HH_NUM}
    """,
    "a27_quantile_sketch": f"""
        WITH base AS (
            SELECT event_type AS g,
                   ('0x' || substr(md5(CAST(event_id AS VARCHAR)
                        || ':{QS_SEED}'), 1, 15))::BIGINT % {QS_SHARDS}
                       AS shard,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
                   event_id AS tb
            FROM events WHERE value IS NOT NULL
        ),
        ranked AS (
            SELECT g, shard, x,
                   ROW_NUMBER() OVER (PARTITION BY g, shard
                                      ORDER BY x, tb) AS rn,
                   COUNT(*) OVER (PARTITION BY g, shard) AS n_sh
            FROM base
        ),
        kept AS (
            SELECT *, (n_sh + {QS_B - 1}) // {QS_B} AS stride
            FROM ranked
            WHERE rn % ((n_sh + {QS_B - 1}) // {QS_B}) = 0 OR rn = n_sh
        ),
        samples AS (
            SELECT g, shard, x, rn, n_sh, stride,
                   rn - COALESCE(LAG(rn) OVER (PARTITION BY g, shard
                                               ORDER BY rn), 0) AS w
            FROM kept
        ),
        merged AS (
            SELECT g, shard, x, rn, n_sh, stride, w,
                   CAST(SUM(w) OVER (PARTITION BY g
                                     ORDER BY x, shard, rn) AS BIGINT)
                       AS cw,
                   CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT)
                       AS n_total,
                   CAST(SUM(CASE WHEN rn = n_sh THEN stride - 1
                                 ELSE 0 END)
                        OVER (PARTITION BY g) AS BIGINT) AS err_bound
            FROM samples
        ),
        cand AS (
            SELECT m.*, p.pct FROM merged m
            CROSS JOIN (VALUES (25), (50), (75), (90)) AS p(pct)
        ),
        est AS (
            SELECT g, pct, x AS est_cents, n_total, cw AS cw_at_est,
                   err_bound
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY g, pct
                           ORDER BY cw, x, shard, rn) AS pr
                FROM cand
                WHERE cw >= (pct * n_total + 99) // 100
            ) t WHERE pr = 1
        )
        SELECT e.g AS event_type, CAST(e.pct AS INT) AS pct,
               e.est_cents, e.n_total, e.cw_at_est, e.err_bound,
               CAST(SUM(CASE WHEN c.x < e.est_cents THEN 1 ELSE 0 END)
                    + 1 AS BIGINT) AS true_rank_lo,
               CAST(SUM(CASE WHEN c.x <= e.est_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS true_rank_hi,
               (CAST(SUM(CASE WHEN c.x <= e.est_cents THEN 1 ELSE 0 END)
                     AS BIGINT) >= e.cw_at_est - e.err_bound
                AND CAST(SUM(CASE WHEN c.x < e.est_cents THEN 1 ELSE 0
                                  END) + 1 AS BIGINT)
                    <= e.cw_at_est + e.err_bound) AS err_within_bound
        FROM base c JOIN est e ON c.g IS NOT DISTINCT FROM e.g
        GROUP BY e.g, e.pct, e.est_cents, e.n_total, e.cw_at_est,
                 e.err_bound
    """,
    "a28_quantile_hist": f"""
        WITH hist AS (
            SELECT event_type AS g,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ),
        m AS (
            SELECT g, x,
                   CAST(SUM(w) OVER (PARTITION BY g ORDER BY x)
                        AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT)
                       AS n_total
            FROM hist
        ),
        cand AS (
            SELECT m.*, p.pct FROM m
            CROSS JOIN (VALUES {", ".join(f"({p})" for p in QS_PCTS)})
                AS p(pct)
            WHERE cw >= (pct * n_total + 99) // 100
        )
        SELECT g AS event_type, CAST(pct AS INT) AS pct,
               x AS est_cents, n_total
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY g, pct
                                         ORDER BY x) AS pr
            FROM cand
        ) t WHERE pr = 1
    """,
    "a26_mg_heavy": f"""
        WITH c AS (
            SELECT event_type, user_id,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                        || ':26'), 1, 15))::BIGINT % {MG_SHARDS} AS shard,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2, 3
        ),
        r1 AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY event_type, shard
                       ORDER BY cnt DESC, user_id NULLS FIRST) AS rn
            FROM c
        ),
        s1 AS (
            SELECT event_type, user_id, cnt, cnt - t1 AS dec1
            FROM (
                SELECT *, COALESCE(MAX(CASE WHEN rn = {MG_K + 1}
                               THEN cnt END) OVER (
                               PARTITION BY event_type, shard), 0) AS t1
                FROM r1 WHERE rn <= {MG_K + 1}
            )
            WHERE rn <= {MG_K} AND cnt > t1
        ),
        r2 AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY dec1 DESC, user_id NULLS FIRST) AS rn2
            FROM s1
        ),
        s2 AS (
            SELECT event_type, user_id, cnt, dec1 - t2 AS mg_est
            FROM (
                SELECT *, COALESCE(MAX(CASE WHEN rn2 = {MG_K + 1}
                               THEN dec1 END) OVER (
                               PARTITION BY event_type), 0) AS t2
                FROM r2 WHERE rn2 <= {MG_K + 1}
            )
            WHERE rn2 <= {MG_K} AND dec1 > t2
        ),
        t AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
                   COUNT(*) AS n_users
            FROM c GROUP BY event_type
        )
        SELECT event_type, user_id, cnt, mg_est,
               cnt - mg_est AS mg_err,
               (cnt - mg_est) * {MG_K + 1} <= total AS err_within_bound,
               cnt * n_users * {HH_DEN} > total * {HH_NUM}
                   AS is_exact_heavy
        FROM s2 JOIN t USING (event_type)
    """,
    "a22_mode": """
        WITH c AS (
            SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                   COUNT(*) AS n
            FROM lineitem GROUP BY 1, 2
        )
        SELECT l_returnflag,
               MAX_BY(q, n * 1000 - q) AS mode_qty,
               MAX_BY(n, n * 1000 - q) AS mode_count,
               COUNT(*) AS n_distinct_qty
        FROM c GROUP BY l_returnflag
    """,
    "a21_corr_moments": """
        WITH m AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS sy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                            * CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS sxy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                            * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                            * CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                   AS BIGINT)) AS BIGINT) AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n, sx, sy, sxy,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS corr_qty_price,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                     6) AS beta_cents_per_qty
        FROM m
    """,
    "j8_salted_join": """
        SELECT o_orderpriority, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "j9_binned_interval_join": f"""
        WITH anchors AS (
            SELECT event_id AS incident_id, event_type,
                   CAST(ts AS TIMESTAMP) AS window_start,
                   CAST(ts AS TIMESTAMP)
                       + INTERVAL {INTERVAL_HOURS} HOURS AS win_end
            FROM events WHERE event_id % {INTERVAL_ANCHOR_MOD} = 0
        )
        SELECT a.incident_id, a.event_type, a.window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM anchors a JOIN events e
          ON e.event_type = a.event_type
         AND CAST(e.ts AS TIMESTAMP) >= a.window_start
         AND CAST(e.ts AS TIMESTAMP) <= a.win_end
        GROUP BY 1, 2, 3
    """,
    "q22_global_balance": """
        WITH pool AS (
            SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
            FROM customer
            WHERE c_nationkey % 5 IN (0, 1, 2)
        ),
        avg_frame AS (
            SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_cents,
                   COUNT(*) AS n_pos
            FROM pool WHERE c_acctbal > 0.0
        )
        SELECT cntrycode, COUNT(*) AS numcust,
               -- CAST ... AS DOUBLE before the division: Spark SQL
               -- types the literal 100.0 as DECIMAL(4,1) (BIGINT /
               -- DECIMAL -> DECIMAL), DuckDB's `/` is always float —
               -- the explicit double keeps the twin portable.
               ROUND(CAST(CAST(SUM(bal_cents) AS BIGINT) AS DOUBLE) / 100.0, 2)
                   AS totacctbal
        FROM pool, avg_frame
        WHERE bal_cents * n_pos > sum_cents
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
    "a14_approx_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_nd,
               TRUE AS within_bound
        FROM lineitem GROUP BY l_returnflag
    """,
    "a15_grouping_sets": """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
    "a16_pivot": """
        SELECT year(o_orderdate) AS yr,
               ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE), 2) AS rev_f,
               ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'O'
                   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE), 2) AS rev_o,
               ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'P'
                   THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE), 2) AS rev_p
        FROM orders GROUP BY 1
    """,
    "a17_unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_price,
                   ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_disc
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
    "a11_percentile": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        FROM lineitem GROUP BY l_returnflag
    """,
    "a18_approx_percentile": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               TRUE AS p50_within,
               TRUE AS p90_within
        FROM lineitem GROUP BY l_returnflag
    """,
    "a19_hll_union": """
        SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_nd,
               TRUE AS union_within,
               TRUE AS global_within,
               TRUE AS merge_consistent
        FROM documents
    """,
    "a12_cube": """
        SELECT r_name, c_mktsegment, COUNT(*) AS cnt,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE (r_name, c_mktsegment)
    """,
    "a13_salted_agg": """
        SELECT l_returnflag,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "j6_asof_join": """
        WITH clicks AS (
            SELECT user_id, ts, event_id, value
            FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, ts, arg_max(value, event_id) AS p_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        )
        SELECT c.event_id, c.user_id, c.ts, c.value, p.p_value AS asof_value
        FROM clicks c
        ASOF LEFT JOIN purchases p
            ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "p1_project": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        FROM lineitem
    """,
    "p2_filter_eq": """
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
    "p3_date_range": """
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
    """,
    "p4_null_drop": """
        SELECT l_orderkey, l_linenumber, NULLIF(l_discount, 0.0) AS disc_nn
        FROM lineitem WHERE NULLIF(l_discount, 0.0) IS NOT NULL
    """,
    "p5_masked_assign": """
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_returnflag = 'N' AND l_linestatus = 'F'
                    THEN 0.0 ELSE l_tax END AS tax_fixed
        FROM lineitem
    """,
    "j1_broadcast_lookup": """
        SELECT c_custkey, c_name, n_name, r_name
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    """,
    "j2_semi": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
    "j3_anti": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    "j4_outer_count": """
        SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    "j5_range_join": """
        SELECT p_partkey, p_retailprice, bucket
        FROM part
        JOIN (VALUES ('low', 900.0, 925.0), ('mid', 925.0, 950.0),
                     ('high', 950.0, 975.0), ('top', 975.0, 1000.0))
             AS v(bucket, lo, hi)
          ON p_retailprice >= lo AND p_retailprice < hi
    """,
    "a1_groupby_max": """
        SELECT l_orderkey, MAX(l_quantity) AS max_qty,
               MAX(l_extendedprice) AS max_price, MAX(l_discount) AS max_disc
        FROM lineitem GROUP BY l_orderkey
    """,
    "a2_groupby_sum": """
        SELECT l_suppkey,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_price
        FROM lineitem GROUP BY l_suppkey
    """,
    "a3_groupby_avg": """
        SELECT n_name,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(c_acctbal), 4) AS avg_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "a4_global_sums": """
        SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_sales,
               COUNT(*) AS n_orders
        FROM orders
    """,
    "a5_global_avg": """
        SELECT ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(l_quantity), 6) AS avg_qty,
               ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(l_discount), 6) AS avg_disc
        FROM lineitem
    """,
    "a6_minmax": """
        SELECT MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date,
               MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        FROM orders
    """,
    "a7_distinct": "SELECT DISTINCT c_mktsegment FROM customer",
    "a8_lsq_ratio": """
        SELECT ROUND(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE),
                     6) AS beta_hat
        FROM lineitem
    """,
    "a9_mse": """
        SELECT ROUND(CAST(SUM(CAST(((l_extendedprice / l_quantity) - p_retailprice)
                                   * ((l_extendedprice / l_quantity) - p_retailprice)
                                   AS DECIMAL(28,6))) AS DOUBLE)
                     / COUNT(*), 4) AS mse
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    "a10_rollup": """
        SELECT r_name, n_name, COUNT(*) AS cnt
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "o1_sort_limit": """
        SELECT l_orderkey, l_linenumber, l_shipdate
        FROM lineitem
        ORDER BY l_shipdate, l_orderkey, l_linenumber
        LIMIT 100
    """,
    "o2_topk": """
        SELECT o_custkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_spend
        FROM orders GROUP BY o_custkey
        ORDER BY total_spend DESC, o_custkey
        LIMIT 5
    """,
    "set_union": """
        SELECT c_nationkey AS nk FROM customer
        UNION
        SELECT s_nationkey AS nk FROM supplier
    """,
    "set_intersect": """
        SELECT c_nationkey AS nk FROM customer
        INTERSECT
        SELECT s_nationkey AS nk FROM supplier
    """,
    "set_except": """
        SELECT c_nationkey AS nk FROM customer
        EXCEPT
        SELECT s_nationkey AS nk FROM supplier
    """,
    "f1_arithmetic": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS revenue,
               l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
        FROM lineitem
    """,
    "f2_round": """
        SELECT o_orderkey, ROUND(o_totalprice / 1000.0, 1) AS price_k FROM orders
    """,
    "f3_replace": """
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
                    ELSE o_orderpriority END AS priority
        FROM orders
    """,
    "f4_clamp_div": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice / GREATEST(l_quantity, 0.000001) AS unit_price
        FROM lineitem
    """,
    "f5_date_parse": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%-m/%-d/%Y') AS date_str,
               CAST(strptime(strftime(o_orderdate, '%-m/%-d/%Y'), '%m/%d/%Y') AS DATE) AS parsed
        FROM orders
    """,
    "f6_null_count": """
        SELECT l_orderkey, l_linenumber,
               CAST((CASE WHEN NULLIF(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END)
                  AS INTEGER) AS n_missing
        FROM lineitem
    """,
    "f7_impute_invariant": """
        WITH base AS (
            SELECT l_orderkey, l_linenumber, l_quantity AS total,
                   CAST(FLOOR(l_quantity * 0.5) AS DOUBLE) AS x0,
                   CAST(FLOOR(l_quantity * 0.3) AS DOUBLE) AS y0
            FROM lineitem
        ), holes AS (
            SELECT l_orderkey, l_linenumber, total,
                   CASE WHEN l_linenumber = 2 THEN NULL ELSE x0 END AS x,
                   CASE WHEN l_linenumber = 3 THEN NULL ELSE y0 END AS y,
                   CASE WHEN l_linenumber = 4 THEN NULL ELSE total - x0 - y0 END AS z
            FROM base
        )
        SELECT l_orderkey, l_linenumber, total,
               CASE WHEN (CASE WHEN x IS NULL THEN 1 ELSE 0 END
                        + CASE WHEN y IS NULL THEN 1 ELSE 0 END
                        + CASE WHEN z IS NULL THEN 1 ELSE 0 END) = 1
                         AND x IS NULL THEN total - y - z ELSE x END AS x_f,
               CASE WHEN (CASE WHEN x IS NULL THEN 1 ELSE 0 END
                        + CASE WHEN y IS NULL THEN 1 ELSE 0 END
                        + CASE WHEN z IS NULL THEN 1 ELSE 0 END) = 1
                         AND y IS NULL THEN total - x - z ELSE y END AS y_f,
               CASE WHEN (CASE WHEN x IS NULL THEN 1 ELSE 0 END
                        + CASE WHEN y IS NULL THEN 1 ELSE 0 END
                        + CASE WHEN z IS NULL THEN 1 ELSE 0 END) = 1
                         AND z IS NULL THEN total - x - y ELSE z END AS z_f
        FROM holes
    """,
    "f8_format": """
        WITH c AS (
            SELECT o_orderkey,
                   CAST(ROUND(ROUND(o_totalprice, 2) * 100) AS BIGINT) AS cents
            FROM orders
        )
        SELECT o_orderkey,
               CASE WHEN cents < 0 THEN '-' ELSE '' END
               || format('{:,}', ABS(cents) // 100)
               || '.' ||
               lpad(CAST(ABS(cents) % 100 AS VARCHAR), 2, '0')
               AS price_fmt
        FROM c
    """,
    "json_extract": """
        SELECT event_id,
               props->>'$.k' AS k_str,
               CAST(props->>'$.k' AS BIGINT) AS k_val
        FROM events
    """,
    "str_regex": """
        SELECT doc_id,
               regexp_extract(text, '([a-z]+)', 1) AS first_word,
               CAST(length(text) AS INTEGER) AS text_len,
               upper(substr(text, 1, 10)) AS head_upper
        FROM documents
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base_price,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_charge,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity), 6) AS avg_qty,
               ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_top_orders": """
        SELECT l_orderkey, o_orderdate,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                              AND TIMESTAMP '1997-03-31 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
    """,
    "q5_region_revenue": """
        SELECT r_name,
               ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
}


def _cms_oracle_sql() -> str:
    """Generated DuckDB twin of ``q_a24_cms_heavy``: the bucket ids
    come from the SAME md5-derived portable hash family, inlined per
    depth row, so the twin replays the exact counters (dedup.py's
    registered-sketch convention)."""
    from covid_engineering_spark.operators.dedup import (
        _portable_hash_sql,
    )

    key = "event_type || ':' || CAST(user_id AS VARCHAR)"
    bucket_rows = "\n            UNION ALL ".join(
        f"SELECT event_type, {d} AS d, "
        f"{_portable_hash_sql(key, d)} % {CMS_W} AS bucket FROM events"
        for d in range(CMS_D)
    )
    probe_rows = "\n            UNION ALL ".join(
        f"SELECT event_type, user_id, cnt, {d} AS d, "
        f"{_portable_hash_sql(key, d)} % {CMS_W} AS bucket FROM heavy"
        for d in range(CMS_D)
    )
    return f"""
        WITH sketch AS (
            SELECT event_type, d, bucket, COUNT(*) AS counter FROM (
            {bucket_rows}
            ) GROUP BY 1, 2, 3
        ),
        counts AS (
            SELECT event_type, user_id, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        totals AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
                   COUNT(*) AS n_users
            FROM counts GROUP BY event_type
        ),
        heavy AS (
            SELECT c.event_type, c.user_id, c.cnt
            FROM counts c JOIN totals t USING (event_type)
            WHERE cnt * n_users * {HH_DEN} > total * {HH_NUM}
        ),
        probes AS (
            {probe_rows}
        )
        SELECT p.event_type, p.user_id, p.cnt,
               CAST(MIN(s.counter) AS BIGINT) AS est,
               CAST(MIN(s.counter) - p.cnt AS BIGINT) AS overcount,
               MIN(s.counter) >= p.cnt AS est_ge_exact
        FROM probes p
        JOIN sketch s USING (event_type, d, bucket)
        GROUP BY 1, 2, 3
    """


ORACLES["a24_cms_heavy"] = _cms_oracle_sql()
