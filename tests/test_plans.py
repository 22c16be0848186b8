"""Physical-plan property tests: the 100 TB contract, enforced.

Each assertion here is a scale property the small-SF correctness runs
cannot see — pushdown, pruning, join strategy, shuffle count, codegen.
If a refactor silently turns a broadcast join into a shuffle or grows
an expression tree past what janino compiles, these fail before any
benchmark regresses.
"""

from covid_engineering_spark.plans import (
    broadcast_join_count,
    codegen_stage_count,
    has_cartesian,
    pushed_filters,
    read_schemas,
    shuffle_count,
    sort_merge_join_count,
)
from covid_engineering_spark.queries import registry

from tests.conftest import SF_SMOKE

REG = registry()


def q(spark, name):
    return REG[name](spark, SF_SMOKE)


def test_projection_prunes_scan(spark):
    schemas = read_schemas(q(spark, "p1_project"))
    assert len(schemas) == 1
    # 5 of lineitem's 16 columns — the scan must not decode the rest.
    assert schemas[0].count(":") == 5
    assert "l_comment" not in schemas[0]


def test_filter_pushed_to_parquet(spark):
    pf = pushed_filters(q(spark, "p2_filter_eq"))
    assert any("EqualTo(c_mktsegment,BUILDING)" in p for p in pf)


def test_date_range_pushed(spark):
    pf = pushed_filters(q(spark, "p3_date_range"))
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pf)
    assert any("LessThanOrEqual(o_orderdate" in p for p in pf)


def test_q6_all_three_predicates_pushed(spark):
    (pf,) = pushed_filters(q(spark, "q6_forecast_revenue"))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pf, (frag, pf)
    (schema,) = read_schemas(q(spark, "q6_forecast_revenue"))
    assert schema.count(":") == 4  # scan decodes only the 4 needed cols


def test_session_scale_configs(spark):
    # The engine contract configs (regression guard): AQE + its skew
    # and coalesce features on, non-ANSI nulls, UTC determinism.
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.ansi.enabled") == "false"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_broadcast_join_no_fact_shuffle(spark):
    df = q(spark, "j1_broadcast_lookup")
    assert broadcast_join_count(df) == 2
    assert sort_merge_join_count(df) == 0
    assert shuffle_count(df) == 0  # fact side never shuffles


def test_q5_star_join_single_shuffle(spark):
    # lineitem ⨝ orders shuffles once; all four dimensions broadcast.
    df = q(spark, "q5_region_revenue")
    assert broadcast_join_count(df) == 4
    assert shuffle_count(df) == 1


def test_topk_no_global_sort(spark):
    # orderBy+limit must plan TakeOrderedAndProject, not a full sort.
    from covid_engineering_spark.plans import simple_plan

    df = q(spark, "o2_topk")
    assert "TakeOrderedAndProject" in simple_plan(df)


def test_no_cartesian_anywhere(spark):
    for name in (
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_region_revenue",
        "j1_broadcast_lookup",
        "j5_range_join",
        "dedup_ngram_jaccard",
        "dedup_embedding",
        "ann_cosine_topk",
    ):
        assert not has_cartesian(q(spark, name)), name


def test_range_join_is_broadcast_nested_loop(spark):
    # Non-equi banding join: tiny interval dim must be the broadcast
    # build side of a nested-loop join, never a shuffled cross product.
    from covid_engineering_spark.plans import has_broadcast_nested_loop

    df = q(spark, "j5_range_join")
    assert has_broadcast_nested_loop(df)
    assert shuffle_count(df) == 0


def test_agg_is_partial_then_final(spark):
    from covid_engineering_spark.plans import simple_plan

    plan = simple_plan(q(spark, "a2_groupby_sum"))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_codegen_survives_wrangling_pipeline(spark):
    # The regression this guards: sequential withColumn imputation
    # chains exploded the expression tree until janino gave up and the
    # whole pipeline ran interpreted (~5x slower).
    df = q(spark, "wrangle_clean_complete")
    assert codegen_stage_count(df) >= 1


def test_codegen_on_relational_spine(spark):
    for name in ("q1_pricing_summary", "q5_region_revenue", "w6_interpolate"):
        assert codegen_stage_count(q(spark, name)) >= 1, name


def test_window_single_shuffle(spark):
    # One window spec -> exactly one hash-partitioning exchange.
    assert shuffle_count(q(spark, "w1_cumsum")) == 1


def test_asof_join_linear_no_range_fanout(spark):
    # The union+window as-of join: one shuffle for the right-side
    # (user, ts) dedup aggregation, one on the user key for the window
    # — and no join operator at all (hence no range-join row fanout).
    df = q(spark, "j6_asof_join")
    assert shuffle_count(df) == 2
    assert broadcast_join_count(df) == 0
    assert sort_merge_join_count(df) == 0
    assert not has_cartesian(df)


def test_salted_agg_two_stages(spark):
    # Salting must add exactly one extra exchange over a plain groupBy:
    # (key, salt) then key.
    assert shuffle_count(q(spark, "a13_salted_agg")) == 2


def test_country_fractions_generalized_path_is_partition_parallel(spark):
    # The generalized entry points must not funnel a multi-series
    # frame through one task: with series_cols set, the cumsum window
    # plans hashpartitioning, never an Exchange SinglePartition.
    from covid_engineering_spark.operators.covid import (
        country_fractions,
        synthetic_population,
    )
    from covid_engineering_spark.operators.wrangling import _synthetic_complete
    from covid_engineering_spark.plans import simple_plan

    df = _synthetic_complete(spark, SF_SMOKE)
    pop = synthetic_population(spark)
    plan = simple_plan(
        country_fractions(
            df, pop, "2024-01-01", "2024-12-31", series_cols=("country_region",)
        )
    )
    assert "SinglePartition" not in plan, plan
    # The reference's global day_wise IS one series — the default path
    # keeps the (semantically forced) single-partition window.
    global_plan = simple_plan(
        country_fractions(df.drop("country_region"), pop, "2024-01-01", "2024-12-31")
    )
    assert "SinglePartition" in global_plan


def test_transfer_simulation_plans_no_single_partition_window(spark):
    from covid_engineering_spark.operators.covid import (
        synthetic_population,
        transfer_simulation,
    )
    from covid_engineering_spark.operators.wrangling import (
        _synthetic_complete,
        clean_complete,
    )
    from covid_engineering_spark.plans import simple_plan

    cleaned = clean_complete(_synthetic_complete(spark, SF_SMOKE))
    df = transfer_simulation(cleaned, synthetic_population(spark), "C0", "C1")
    assert "SinglePartition" not in simple_plan(df)


def test_q2_decorrelated_min_join_shape(spark):
    """Q2's decorrelated argmin must stay two partial-agg groupBys +
    joins on the part key: no cartesian, bounded exchanges (the two
    aggs + at most one join layout — AQE may broadcast the dim sides
    at this size, which adds no exchange)."""
    df = q(spark, "q2_min_cost_supplier")
    assert not has_cartesian(df)
    assert shuffle_count(df) <= 4


def test_pivot_is_single_aggregation_pipeline(spark):
    """A16 with DECLARED pivot values must not run an eager distinct
    scan: the plan is aggregation-only (no join), bounded exchanges."""
    df = q(spark, "a16_pivot")
    assert not has_cartesian(df)
    assert broadcast_join_count(df) == 0
    assert sort_merge_join_count(df) == 0
    assert shuffle_count(df) <= 2  # pivot = two-phase aggregate


def test_unpivot_adds_no_exchange_beyond_the_agg(spark):
    """A17's Expand is map-side: the only shuffle is the aggregation
    that built the wide frame."""
    df = q(spark, "a17_unpivot")
    assert shuffle_count(df) <= 1
    assert not has_cartesian(df)


def test_assign_nearest_never_shuffles_the_scoring(spark):
    """ANN-ASSIGN: the centroid cross join must be broadcast (never a
    shuffled cartesian); the only corpus-sized exchange is the final
    per-vector argmax aggregation."""
    from covid_engineering_spark.plans import has_broadcast_nested_loop

    df = q(spark, "emb_assign_nearest")
    assert not has_cartesian(df)
    assert has_broadcast_nested_loop(df)


def test_semdedup_blocked_equijoin_no_cartesian(spark):
    """DD-SEMDEDUP: the intra-cell pair join must be an equi-join on
    the salted grid (the per-cell sizes frame broadcast onto both
    sides) — never a cartesian anywhere in the plan."""
    df = q(spark, "emb_semdedup")
    assert not has_cartesian(df)
    assert broadcast_join_count(df) >= 1  # the n_sub sizes broadcast


#: Registered queries whose plans legitimately contain Window specs
#: with NO partitionBy — each evaluated over a frame that is bounded
#: by CONSTRUCTION (never data-sized), so WindowExec's "No Partition
#: Defined" warning is a false alarm for them. This is the guard the
#: global_prefix_sum docstring points at: a NEW unpartitioned window
#: anywhere in the 224-query registry fails this test until it is
#: justified here. Value = max allowed unpartitioned specs.
BOUNDED_GLOBAL_WINDOWS = {
    # global_prefix_sum offsets: <=P rows (P = shuffle partitions).
    "rfm_segments": 2,
    "pipe_weighted_sample": 2,
    # deterministic codebook seeds: <=K rows after TakeOrdered.
    "ann_ivf_topk": 2,
    "ann_recall_eval": 2,
    # iterated k-means: the same md5-rank seed draw over <=K rows
    # (the Lloyd rounds themselves carry no window at all).
    "emb_kmeans_lloyd": 2,
    "ann_ivf_kmeans_topk": 2,
    # PQ codebook seeds per subspace: <=K rows each.
    "emb_pq_codes": 1,
    "ann_pq_adc_topk": 2,
    "ann_ivfpq_topk": 4,
    # mixture plan: ranks the <=|sources| summary frame.
    "pipe_mixture_plan": 2,
    # curriculum: the global_ntile offsets window (<=P rows); the
    # chained prefix sum's own offsets window sits behind the lazy
    # localCheckpoint boundary, exactly like rfm's later stages.
    "pipe_curriculum_order": 1,
    # two-stage rerank: inherits the ADC stage's md5-rank PQ seed
    # draw (<=K rows after TakeOrdered), same pair as ann_pq_adc_topk.
    "ann_rerank_topk": 2,
    # SIRD transfer: the single shared 30-day date spine.
    "x2_sird_transfer": 8,
}


def test_every_unpartitioned_window_is_on_the_bounded_allowlist(spark):
    """Scale guard: an unpartitioned Window funnels its whole input
    through ONE task — the single worst operator to ship at 100 TB.
    Walk EVERY registered query's optimized LOGICAL PLAN (the actual
    Window nodes via the JVM API — ``partitionSpec.isEmpty`` — not a
    regex over the plan string, which a format change or an ' ASC' in
    a partition expression name could silently mis-count) and assert
    the only unpartitioned window specs are the allowlisted
    bounded-frame ones (and no allowlisted query grew more of them).

    Sentinel: the walk must see a healthy number of window
    expressions across the registry — if a Spark upgrade renames the
    node or the traversal breaks, the count collapses and this fails
    LOUDLY instead of silently allowlisting everything.
    """
    from covid_engineering_spark.queries import SIDE_EFFECTING

    import json

    def window_nodes(obj, out):
        # one toJSON round trip per query instead of one py4j call per
        # plan node (a per-node traversal spent ~45s of pure socket
        # round-trips across the registry); the JSON tree embeds
        # subquery plans as ordinary fields, so the walk still covers
        # windows inside subquery expressions (none today, but a
        # regression here must not hide)
        if isinstance(obj, dict):
            if str(obj.get("class", "")).endswith(
                ".catalyst.plans.logical.Window"
            ):
                out.append(obj)
            for v in obj.values():
                window_nodes(v, out)
        elif isinstance(obj, list):
            for v in obj:
                window_nodes(v, out)
        return out

    def count_specs(df):
        plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
        unpartitioned = total = 0
        for w in window_nodes(plan, []):
            k = len(w["windowExpressions"])
            total += k
            if not w["partitionSpec"]:
                unpartitioned += k
        return unpartitioned, total

    offenders = {}
    counts = {}

    # pure plan analysis per query — hundreds of independent py4j
    # tree walks whose wall time is socket round-trips, overlapped in
    # a thread pool (§2.6; the GIL releases during py4j IO)
    def walk(name):
        counts[name] = count_specs(REG[name](spark, SF_SMOKE))

    from tests.conftest import parallel_sweep

    errors = parallel_sweep(
        [n for n in REG if n not in SIDE_EFFECTING], walk
    )
    assert not errors, errors
    seen_specs = 0
    for name, (k, total) in counts.items():
        seen_specs += total
        if k > BOUNDED_GLOBAL_WINDOWS.get(name, 0):
            offenders[name] = k
    assert not offenders, (
        f"unlisted/grown unpartitioned windows: {offenders} — "
        "bound the frame or justify in BOUNDED_GLOBAL_WINDOWS"
    )
    # dozens of registered queries use partitioned windows; the
    # allowlist itself pins >=25 unpartitioned specs. A traversal that
    # suddenly sees almost none is broken, not clean.
    assert seen_specs >= sum(BOUNDED_GLOBAL_WINDOWS.values()), seen_specs


def test_mg_heavy_prunes_below_both_window_exchanges(spark):
    """A26: the rank filters must plant partial WindowGroupLimits
    BELOW each window exchange (map tasks forward at most k+1 rows per
    group — without the partial pass, every (type, shard) group's full
    user census crosses the wire), the totals must broadcast, and no
    cartesian may appear."""
    from covid_engineering_spark.plans import simple_plan

    df = q(spark, "a26_mg_heavy")
    plan = simple_plan(df)
    # 2 stages x (partial below + final above the exchange) = 4
    assert plan.count("WindowGroupLimit") >= 4
    assert broadcast_join_count(df) >= 1  # per-type totals
    assert not has_cartesian(df)


def test_substring_dedup_scale_shape(spark):
    """DEDUP-SUBSTR: the duplicated-gram set must reduce through a
    partial-aggregated groupBy (map-side combine collapses repeated
    grams before the shuffle — the skew defense) and reach the
    position frame as a join, never a per-position window over the
    gram key; the span windows partition by doc_id; no cartesian."""
    from covid_engineering_spark.plans import simple_plan

    df = q(spark, "dedup_substring")
    plan = simple_plan(df)
    assert "partial_count" in plan.lower() or "HashAggregate" in plan
    # the gram-count reduction feeds a (usually broadcast) semi-join
    assert "LeftSemi" in plan
    assert not has_cartesian(df)
    # no window may partition on the gram key (hot-gram skew)
    assert "windowspecdefinition(gram" not in plan


def test_gopher_metric_projection_boundary_survives(spark):
    """TXT-GOPHER: the audit frame's metric folds must project ONCE
    below the null-safe verdict wraps. If CollapseProject (or a
    refactor) merges the two selects, every CASE WHEN verdict branch
    re-derives its own copy of the split() arrays — codegen
    subexpression elimination cannot share across conditional
    branches; measured 2.1x at sf0.1 when this boundary was folded."""
    from covid_engineering_spark.operators.text import (
        GOPHER_REQUIRED_FIXTURE,
        _gopher_metric_cols,
    )
    from covid_engineering_spark.sources import read_table

    def plan_nodes(node, out):
        out.append(node)
        children = node.children()
        for i in range(children.size()):
            plan_nodes(children.apply(i), out)
        return out

    def count_expr_class(e, cls_name):
        n = 1 if e.getClass().getSimpleName() == cls_name else 0
        ch = e.children()
        for i in range(ch.size()):
            n += count_expr_class(ch.apply(i), cls_name)
        return n

    df = q(spark, "text_gopher_rules")
    plan = df._jdf.queryExecution().optimizedPlan()
    # the staged metric attributes survive into the optimized plan
    # (CollapseProject folding the boundary would inline them away) —
    # checked structurally via node output attribute names, not plan
    # text (the toString format is optimizer-internal and shifts
    # across Spark upgrades without behavior change).
    def has_attr(frame_plan, name):
        for node in plan_nodes(frame_plan, []):
            out_attrs = node.output()
            for i in range(out_attrs.size()):
                if out_attrs.apply(i).name() == name:
                    return True
        return False

    assert has_attr(plan, "_m_n_words")

    # ...and the verdict stage derives them by REFERENCE: the full
    # query's plan must carry exactly as many Catalyst StringSplit
    # expression nodes as the metric project alone does
    # (self-calibrating — no magic count, no plan-text parsing; a
    # folded boundary duplicates the arrays into the verdict branches
    # and the count jumps).
    def n_splits(frame):
        total = 0
        for node in plan_nodes(
            frame._jdf.queryExecution().optimizedPlan(), []
        ):
            exprs = node.expressions()
            for i in range(exprs.size()):
                total += count_expr_class(exprs.apply(i), "StringSplit")
        return total

    metrics = _gopher_metric_cols(GOPHER_REQUIRED_FIXTURE)
    staged = read_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        *[expr.alias(f"_m_{n}") for n, expr in metrics.items()],
    )
    want = n_splits(staged)
    assert want > 0  # traversal sanity: the metric stage does split
    assert n_splits(df) == want
    assert shuffle_count(df) == 0  # still pure map-side


def test_dsir_model_broadcasts_and_topk_never_global_sorts(spark):
    """PIPE-DSIR: the <=512-bucket log-ratio model and the <=k
    selection flag must broadcast back onto the corpus (never shuffle
    it), and the top-k must plan TakeOrderedAndProject, not a global
    sort."""
    from covid_engineering_spark.plans import simple_plan

    for name in ("pipe_dsir_select", "pipe_dsir_gumbel"):
        df = q(spark, name)
        plan = simple_plan(df)
        assert broadcast_join_count(df) >= 2, name  # lr model + topk flag
        assert "TakeOrderedAndProject" in plan, name
        # the only Sorts allowed are inside exchanges' local sort for
        # the ordered limit; a global Sort node above the weight frame
        # would mean the top-k fell back to a full ordering
        assert not has_cartesian(df), name
