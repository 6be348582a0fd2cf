"""Robust statistics, sequential smoothing, and scale-pattern queries.

SAS surface covered here:
- PROC UNIVARIATE MODE (modal value per BY group),
- PROC UNIVARIATE ROBUSTSCALE (median / MAD / robust z outliers),
- PROC EXPAND TRANSFORM=EWMA (exponential smoothing of a series),
- PROC SQL correlated scalar subqueries,
- PROC SUMMARY partial/merge two-phase aggregation (the pattern behind
  incremental daily rollups merged into monthly totals),
- sessionized path analysis (first-k event journeys, SAS: RETAIN-built
  path strings + PROC FREQ).

Scale notes inline per query; nothing here uses Python in the data
path, collect(), or a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sas_etl_spark.catalog import load_table, register_views
from sas_etl_spark.operators.broadcast import broadcast_if_small
from sas_etl_spark.registry import query

# -- mode per group ---------------------------------------------------


@query(
    "q_mode_per_group",
    oracle="""
    with c as (
        select c.c_mktsegment, o.o_orderpriority, count(*) as n
        from customer c join orders o on o.o_custkey = c.c_custkey
        group by c.c_mktsegment, o.o_orderpriority
    ),
    r as (
        select c_mktsegment, o_orderpriority, n,
               row_number() over (partition by c_mktsegment
                                  order by n desc, o_orderpriority desc) as rn
        from c
    )
    select c_mktsegment, o_orderpriority as mode_priority,
           cast(n as bigint) as mode_n
    from r where rn = 1
    """,
    tags=("agg", "stats"),
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal order priority per market segment (SAS: PROC UNIVARIATE
    MODE per BY group / PROC FREQ + keep-first).

    Ties break toward the lexicographically larger priority — encoded
    as max-of-struct((count, value)) on the Spark side and the
    equivalent row_number ordering in the oracle.

    Scale: counts reduce map-side on (segment, priority) — a tiny
    domain — then the mode pick is a second tiny agg. No windows over
    raw data, no sort. Customer GROWS with SF, so its (custkey,
    segment) projection takes the size-gated broadcast hint only while
    the table is provably small; past the bound the orders⋈customer
    join falls back to AQE's own strategy choice (shuffled hash join)
    instead of an executor-OOM forced broadcast.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.join(broadcast_if_small(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    best = counts.groupBy("c_mktsegment").agg(
        F.max(F.struct("n", "o_orderpriority")).alias("best")
    )
    return best.select(
        "c_mktsegment",
        F.col("best.o_orderpriority").alias("mode_priority"),
        F.col("best.n").alias("mode_n"),
    )


# -- median / MAD robust outliers ------------------------------------

#: Consistency constant making MAD estimate sigma under normality.
MAD_SIGMA = 1.4826
ROBUST_Z_CUT = 3.0


@query(
    "q_outlier_mad",
    oracle=f"""
    with med as (
        select o_orderpriority, median(o_totalprice) as med
        from orders group by o_orderpriority
    ),
    mad as (
        select o.o_orderpriority,
               median(abs(o.o_totalprice - med.med)) as mad
        from orders o join med using (o_orderpriority)
        group by o.o_orderpriority
    ),
    z as (
        select o.o_orderpriority,
               abs(o.o_totalprice - med.med)
                   / ({MAD_SIGMA} * nullif(mad.mad, 0)) as robust_z
        from orders o
        join med using (o_orderpriority)
        join mad using (o_orderpriority)
    )
    select z.o_orderpriority,
           cast(count(*) as bigint) as n,
           round(min(med.med), 2) as med,
           round(min(mad.mad), 2) as mad,
           cast(sum(case when robust_z is null then null
                         when robust_z > {ROBUST_Z_CUT} then 1
                         else 0 end)
                as bigint) as n_outliers,
           round(max(robust_z), 6) as max_robust_z
    from z
    join med using (o_orderpriority)
    join mad using (o_orderpriority)
    group by z.o_orderpriority
    """,
    tags=("agg", "stats", "quality"),
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median/MAD z-scores (SAS: PROC
    UNIVARIATE ROBUSTSCALE; data-quality pipelines: the
    skew-insensitive alternative to mean/stddev fences).

    robust_z = |x - median| / (1.4826 * MAD); rows with z > 3 are
    outliers. Both medians interpolate the middle pair identically on
    both engines, and the z arithmetic is the same IEEE expression
    tree, so even the STRICT z > 3 cut is engine-exact; max_z is
    rounded 6dp only as belt-and-braces.

    Degenerate groups (MAD = 0 — over half the group's values equal
    its median) are guarded IDENTICALLY on both engines: the divisor
    routes through nullif(mad, 0) / F.when(mad != 0, ...), so
    robust_z is NULL rather than Spark-NULL-vs-DuckDB-inf, and the
    outlier counter propagates that NULL on both sides instead of
    DuckDB's CASE defaulting it to 0.

    Scale: two grouped exact medians (sort-based within group — the
    group count here is tiny; at 100 TB swap percentile_approx in the
    same shape) + two broadcast joins of 5-row stat tables back onto
    the fact scan. One full-data agg at the end, map-side combined.
    """
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("med")
    )
    with_med = orders.join(F.broadcast(med), "o_orderpriority")
    mad = with_med.groupBy("o_orderpriority").agg(
        F.median(F.abs(F.col("o_totalprice") - F.col("med"))).alias("mad")
    )
    z = (
        orders.join(F.broadcast(med), "o_orderpriority")
        .join(F.broadcast(mad), "o_orderpriority")
        .withColumn(
            "robust_z",
            F.when(
                F.col("mad") != 0,
                F.abs(F.col("o_totalprice") - F.col("med"))
                / (MAD_SIGMA * F.col("mad")),
            ),
        )
    )
    return z.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("med"), 2).alias("med"),
        F.round(F.min("mad"), 2).alias("mad"),
        F.sum(
            F.when(
                F.col("robust_z").isNotNull(),
                (F.col("robust_z") > ROBUST_Z_CUT).cast("int"),
            )
        )
        .cast("long")
        .alias("n_outliers"),
        F.round(F.max("robust_z"), 6).alias("max_robust_z"),
    )


# -- EWMA -------------------------------------------------------------

EWMA_ALPHA = 0.25


@query(
    "q_ewma",
    oracle=f"""
    with s as (
        select user_id,
               list(value order by ts, event_id) as vals
        from events group by user_id
    )
    select user_id,
           cast(len(vals) as bigint) as n_events,
           round(list_reduce(vals,
                 (acc, x) -> acc * {1 - EWMA_ALPHA} + x * {EWMA_ALPHA}), 6)
               as ewma
    from s
    """,
    tags=("window", "timeseries"),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user series (SAS:
    PROC EXPAND TRANSFORM=(EWMA 0.25); monitoring: the classic
    smoothed-level estimate).

    y_1 = x_1; y_t = (1-a)*y_(t-1) + a*x_t. The recursion is a
    SEQUENTIAL left fold — not expressible as a window aggregate
    without numerically explosive (1-a)^-t rescaling — so each series
    folds its time-ordered value array exactly once: sort_array over
    the collected (ts, event_id, value) structs, then F.aggregate with
    the first element as seed. The oracle's list_reduce performs the
    IDENTICAL left fold (same seed convention, same IEEE ops in the
    same order), so results match bit-for-bit before the 6dp safety
    rounding.

    Scale: one shuffle (groupBy user), per-series O(n) fold, state =
    one array per series. Series too long for memory would switch to
    applyInPandasWithState in time-slices — the operator contract
    (ordered fold per key) is unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    arrs = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("arr")
    )
    vals = F.transform(F.col("arr"), lambda s: s.getField("value"))
    with_vals = arrs.select("user_id", vals.alias("vals"))
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1).cast("double"),
        lambda acc, x: acc * F.lit(1 - EWMA_ALPHA) + x * F.lit(EWMA_ALPHA),
    )
    return with_vals.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma"),
    )


# -- two-phase partial/merge aggregation ------------------------------

N_SHARDS = 8


@query(
    "q_partial_agg_merge",
    oracle="""
    select l_returnflag, l_linestatus,
           cast(count(*) as bigint) as n_rows,
           round(sum(l_quantity), 2) as sum_qty,
           round(sum(l_extendedprice), 2) as sum_price,
           min(l_quantity) as min_qty,
           max(l_quantity) as max_qty
    from lineitem
    group by l_returnflag, l_linestatus
    """,
    tags=("agg", "scale"),
)
def q_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase partial/merge aggregation (SAS: PROC SUMMARY per
    shard + a merge step; pipelines: incremental daily partial aggs
    rolled into period totals without rescanning history).

    Phase 1 aggregates per (shard, keys) — here shard = orderkey mod 8
    standing in for 'one partial per day/partition file'; phase 2
    merges partials with the MERGEABLE form of each statistic
    (sum-of-sums, sum-of-counts, min-of-mins, max-of-maxes). The
    oracle is the DIRECT one-pass aggregate — result-identical by the
    algebraic-aggregate merge law, which is exactly what the green
    hash attests.

    Scale: this IS the 100 TB pattern — partials are tiny (|keys| x
    shards rows), persistable between runs, and the merge never
    touches raw history. Spark's own partial/final HashAggregate does
    this within a job; this query proves it ACROSS materialization
    boundaries.
    """
    li = load_table(spark, sf_dir, "lineitem")
    partial = li.groupBy(
        F.pmod(F.col("l_orderkey"), F.lit(N_SHARDS)).alias("shard"),
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("p_n"),
        F.sum("l_quantity").alias("p_qty"),
        F.sum("l_extendedprice").alias("p_price"),
        F.min("l_quantity").alias("p_min_qty"),
        F.max("l_quantity").alias("p_max_qty"),
    )
    return partial.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("p_n").alias("n_rows"),
        F.round(F.sum("p_qty"), 2).alias("sum_qty"),
        F.round(F.sum("p_price"), 2).alias("sum_price"),
        F.min("p_min_qty").alias("min_qty"),
        F.max("p_max_qty").alias("max_qty"),
    )


# -- correlated scalar subquery --------------------------------------

#: One SQL text, two engines (q_proc_sql pattern): submitted verbatim
#: through spark.sql AND as the DuckDB oracle.
_CORRELATED_SQL = """
    select o_orderkey, o_custkey, round(o_totalprice, 2) as totalprice
    from orders o
    where o_totalprice > (select 2 * avg(o2.o_totalprice)
                          from orders o2
                          where o2.o_custkey = o.o_custkey)
    """


@query("q_correlated_subquery", oracle=_CORRELATED_SQL, tags=("sql", "join"))
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (SAS: PROC SQL with a correlated
    subselect — 'orders costing more than twice this customer's
    average').

    The ANSI text runs verbatim on both engines. Catalyst
    DECORRELATES it: the subquery becomes one aggregate over orders
    grouped by custkey joined back to the outer scan — O(n) with one
    shuffle, not O(n^2) nested execution. That rewrite is the whole
    point of declaring the plan instead of hand-looping it.
    """
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_CORRELATED_SQL)


# -- sessionized path analysis ---------------------------------------

PATH_LEN = 5
TOP_PATHS = 10


@query(
    "q_top_paths",
    oracle=f"""
    with r as (
        select user_id, event_type,
               row_number() over (partition by user_id
                                  order by ts, event_id) as rn
        from events
    ),
    p as (
        select user_id, string_agg(event_type, '>' order by rn) as path
        from r where rn <= {PATH_LEN} group by user_id
    )
    select path, cast(count(*) as bigint) as n_users
    from p group by path
    order by n_users desc, path
    limit {TOP_PATHS}
    """,
    tags=("window", "events"),
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: each user's first five event types joined
    into a journey string, counted across users (SAS: RETAIN-built
    path variable + PROC FREQ; product analytics: entry-journey
    mining).

    Scale: row_number is per-user (partitioned window, no global
    sort); path assembly collects at most PATH_LEN structs per user;
    the path-count agg combines map-side and the top-10 executes as
    TakeOrderedAndProject. Deterministic: (ts, event_id) is a total
    order within user, and the limit ties break on path.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_k = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PATH_LEN)
    )
    paths = first_k.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(TOP_PATHS)
    )


# -- Spearman rank correlation ---------------------------------------


@query(
    "q_spearman_corr",
    oracle="""
    with ranked as (
        select l_returnflag,
               rank() over (partition by l_returnflag order by l_quantity)
                 + (count(*) over (partition by l_returnflag, l_quantity)
                    - 1) / 2.0 as rq,
               rank() over (partition by l_returnflag
                            order by l_extendedprice)
                 + (count(*) over (partition by l_returnflag,
                                   l_extendedprice) - 1) / 2.0 as rp
        from lineitem
    )
    select l_returnflag, cast(count(*) as bigint) as n,
           round(corr(rq, rp), 6) as spearman
    from ranked group by l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group (SAS: PROC CORR SPEARMAN
    with BY) — the monotonic-association measure robust to outliers
    and nonlinearity.

    Average-rank tie handling via the identity
    avg_rank = (# rows with smaller value) + (n_ties + 1)/2 — computed
    from the per-(group, value) HISTOGRAM, not from row-level rank
    windows: the histogram's prefix-sum window runs over the
    distinct-value table (50 quantities / ~1M prices per group at
    sf10), and the ranks broadcast back onto rows via (group, value)
    equi-joins. Rank arithmetic is integer-exact, so only the final
    corr sees floats (round 6dp over the engines' summation-order
    drift).

    Scale (the round-8 rework): the former row-level form partitioned
    four rank windows by l_returnflag — THREE groups, so each window
    task single-threadedly sorted ~N/3 rows: 60 s at sf10 and growing
    linearly with no parallelism to recruit. The histogram form moves
    the per-group sort onto the distinct-value table (value-histogram
    groupBys are map-side combined and fully parallel; the joins back
    are ordinary hash-partitioned equi-joins): measured 15.4 s at sf10,
    bit-identical results. Few-group exact ranking should always take
    this shape; percentile_approx bucket midranks remain the
    constant-state approximation above it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = "l_returnflag"

    def rank_table(col: str, out: str) -> DataFrame:
        hist = li.groupBy(g, col).agg(F.count(F.lit(1)).alias("_c"))
        before = (
            Window.partitionBy(g)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return hist.select(
            g,
            col,
            (
                F.coalesce(F.sum("_c").over(before), F.lit(0))
                + (F.col("_c") + 1) / 2.0
            ).alias(out),
        )

    ranked = (
        li.select(g, "l_quantity", "l_extendedprice")
        .join(rank_table("l_quantity", "rq"), [g, "l_quantity"])
        .join(rank_table("l_extendedprice", "rp"), [g, "l_extendedprice"])
    )
    return ranked.groupBy(g).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("rq", "rp"), 6).alias("spearman"),
    )


# -- weighted median --------------------------------------------------


@query(
    "q_weighted_median",
    oracle="""
    with c as (
        select l_returnflag, l_extendedprice, l_quantity,
               sum(l_quantity) over (
                   partition by l_returnflag
                   order by l_extendedprice, l_orderkey, l_linenumber
                   rows between unbounded preceding and current row) as cw,
               sum(l_quantity) over (partition by l_returnflag) as tot
        from lineitem
    )
    select l_returnflag,
           round(min(l_extendedprice), 2) as weighted_median,
           round(min(tot), 2) as total_weight
    from c where cw >= tot / 2.0
    group by l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group (SAS: PROC MEANS MEDIAN with WEIGHT;
    here: the price level at which half the shipped QUANTITY sits
    below) — the smallest value whose cumulative weight reaches half
    the total.

    Round-8 rework: the cumulative weight runs over the per-(group,
    value) WEIGHT HISTOGRAM, not over rows — sum the weight per
    distinct value first (map-side-combined, fully parallel), then the
    running-frame window walks only the distinct-value table. The
    answer is identical to the row-level form: the cumulative weight
    through all rows of value v equals the histogram's cumulative at
    v, so the smallest value crossing tot/2 is the same VALUE (the
    within-value row tiebreak never affected which value is picked).
    The former row-level window partitioned by l_returnflag — three
    groups, so one task sorted ~N/3 rows: 75 s at sf10; the histogram
    form measured 2.6 s (29x), bit-identical. Weights are
    integer-valued doubles, so every partial sum is exact and the
    cw >= tot/2 threshold test is engine-deterministic. (The same
    shape yields any weighted quantile by changing the fraction.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("l_quantity").alias("_w")
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = hist.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("_w").over(wc).alias("cw"),
        F.sum("_w").over(wt).alias("tot"),
    )
    return (
        c.filter(F.col("cw") >= F.col("tot") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median"),
            F.round(F.min("tot"), 2).alias("total_weight"),
        )
    )


# -- winsorization ----------------------------------------------------


@query(
    "q_winsorize",
    oracle="""
    with cuts as (
        select l_returnflag,
               quantile_cont(l_extendedprice, 0.01) as p01,
               quantile_cont(l_extendedprice, 0.99) as p99
        from lineitem group by l_returnflag
    ),
    w as (
        select l.l_returnflag,
               l.l_extendedprice as x,
               least(greatest(l.l_extendedprice, c.p01), c.p99) as xw,
               case when l.l_extendedprice < c.p01 then 1 else 0 end as lo,
               case when l.l_extendedprice > c.p99 then 1 else 0 end as hi
        from lineitem l join cuts c using (l_returnflag)
    )
    select l_returnflag,
           cast(count(*) as bigint) as n,
           cast(sum(lo) as bigint) as n_low_capped,
           cast(sum(hi) as bigint) as n_high_capped,
           round(avg(x), 4) as mean_raw,
           round(avg(xw), 4) as mean_winsorized
    from w group by l_returnflag
    """,
    tags=("agg", "stats", "quality"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at the P1/P99 fences (SAS: PROC UNIVARIATE
    WINSORIZED= / %WINSORIZE macros; feature prep: cap extreme values
    so means and downstream models stop chasing tails).

    Exact interpolated percentile cuts per group broadcast back onto
    the scan; values clamp into [p01, p99] and the report compares raw
    vs winsorized means with capped-row counts. Both engines
    interpolate quantiles identically and clamp with the same IEEE
    comparisons, so even the strict fence tests are engine-exact
    (4dp rounding covers only the mean summation order).

    Scale: the cuts table is O(groups) and broadcasts; the clamp is
    scan-side; one map-side-combining agg. Round 8: the cuts come
    from operators/quantiles.exact_percentiles_hist (value-histogram
    order statistics, O(distinct values) state) instead of the
    ``percentile`` aggregate, which buffers every group value in
    executor memory. At 100 TB swap percentile_approx for the cuts
    (same shape, constant state) — winsorization tolerates
    sketch-grade cut placement by design.
    """
    from sas_etl_spark.operators.quantiles import exact_percentiles_hist

    li = load_table(spark, sf_dir, "lineitem")
    cuts = exact_percentiles_hist(
        li, "l_returnflag", "l_extendedprice", {"p01": 0.01, "p99": 0.99}
    )
    w = li.join(F.broadcast(cuts), "l_returnflag").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99")
        ).alias("xw"),
        (F.col("l_extendedprice") < F.col("p01")).cast("int").alias("lo"),
        (F.col("l_extendedprice") > F.col("p99")).cast("int").alias("hi"),
    )
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lo").cast("long").alias("n_low_capped"),
        F.sum("hi").cast("long").alias("n_high_capped"),
        F.round(F.avg("x"), 4).alias("mean_raw"),
        F.round(F.avg("xw"), 4).alias("mean_winsorized"),
    )


# -- group-mean imputation --------------------------------------------


@query(
    "q_impute_group_mean",
    oracle="""
    with masked as (
        select event_type,
               case when value < 1.0 then null else value end as v
        from events
    ),
    means as (
        select event_type, avg(v) as gmean
        from masked group by event_type
    ),
    overall as (select avg(v) as omean from masked)
    select m.event_type,
           cast(count(*) as bigint) as n,
           cast(sum(case when m.v is null then 1 else 0 end) as bigint)
               as n_imputed,
           round(avg(m.v), 4) as mean_observed,
           round(avg(coalesce(m.v, g.gmean, o.omean)), 4) as mean_imputed
    from masked m
    join means g on g.event_type = m.event_type
    cross join overall o
    group by m.event_type
    """,
    tags=("agg", "stats", "quality"),
)
def q_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation by group mean with a global-mean
    fallback (SAS: PROC STDIZE REPONLY METHOD=MEAN per BY group —
    feature prep's most common null-repair rule).

    A deterministic mask (value < 1.0 -> missing) plants the nulls;
    the repair is coalesce(value, group_mean, overall_mean), so a
    group that lost ALL its values still repairs from the global
    mean. avg() ignores nulls identically on both engines, and the
    report hash-pins observed vs imputed means plus imputation
    counts per group.

    Scale: two stat aggregates (group means + one global) broadcast
    back onto the scan; the repair is a scan-side coalesce; one final
    map-side-combined agg. Identical shape for median or
    regression-based imputation — only the stat table changes.
    """
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_type",
        F.when(F.col("value") < 1.0, None).otherwise(F.col("value")).alias(
            "v"
        ),
    )
    means = masked.groupBy("event_type").agg(F.avg("v").alias("gmean"))
    overall = masked.agg(F.avg("v").alias("omean"))
    return (
        masked.join(F.broadcast(means), "event_type")
        .crossJoin(F.broadcast(overall))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").isNull().cast("int"))
            .cast("long")
            .alias("n_imputed"),
            F.round(F.avg("v"), 4).alias("mean_observed"),
            F.round(
                F.avg(F.coalesce("v", "gmean", "omean")), 4
            ).alias("mean_imputed"),
        )
    )


# -- Gini coefficient per group ---------------------------------------


@query(
    "q_gini",
    oracle="""
    with r as (
        select o_orderpriority, o_totalprice as x,
               row_number() over (partition by o_orderpriority
                                  order by o_totalprice, o_orderkey) as i,
               count(*) over (partition by o_orderpriority) as n,
               sum(o_totalprice) over (partition by o_orderpriority) as tot
        from orders
    )
    select o_orderpriority,
           cast(min(n) as bigint) as n,
           round(2.0 * sum(i * x) / (min(n) * min(tot))
                 - (min(n) + 1.0) / min(n), 6) as gini
    from r group by o_orderpriority
    """,
    tags=("agg", "stats", "analytics"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order values per priority class — the
    standard inequality/concentration measure (SAS: PROC UNIVARIATE
    output + a DATA-step Lorenz formula).

    Rank formula G = 2*sum(i * x_(i)) / (n * sum(x)) - (n+1)/n over
    the within-group sorted values. Ties are rank-order invariant
    (equal x makes sum(i*x) independent of their internal order), so
    the orderkey tiebreak only pins determinism, not the value.

    Scale: ONE partitioned window (group-keyed sort — never global)
    feeding a grouped agg; 6dp rounding covers the sum-order drift.
    Exact Gini needs the within-group total order by definition; the
    sketch alternative integrates the Lorenz curve over
    percentile_approx bins at constant state.
    """
    orders = load_table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wp = Window.partitionBy("o_orderpriority")
    r = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("x"),
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("o_totalprice").over(wp).alias("tot"),
    )
    return r.groupBy("o_orderpriority").agg(
        F.min("n").cast("long").alias("n"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.min("n") * F.min("tot"))
            - (F.min("n") + 1.0) / F.min("n"),
            6,
        ).alias("gini"),
    )


# -- Herfindahl-Hirschman concentration index ------------------------


@query(
    "q_hhi",
    oracle="""
    with spend as (
        select c.c_nationkey, o.o_custkey,
               sum(o.o_totalprice) as s
        from orders o join customer c on c.c_custkey = o.o_custkey
        group by c.c_nationkey, o.o_custkey
    ),
    tot as (
        select c_nationkey, sum(s) as t, count(*) as n_cust
        from spend group by c_nationkey
    )
    select spend.c_nationkey,
           cast(min(tot.n_cust) as bigint) as n_customers,
           round(sum((spend.s / tot.t) * (spend.s / tot.t)), 6) as hhi
    from spend join tot on tot.c_nationkey = spend.c_nationkey
    group by spend.c_nationkey
    """,
    tags=("agg", "analytics"),
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of customer spend per
    nation — how concentrated is each market in few customers (1/n =
    perfectly even, 1.0 = monopoly; the antitrust-screening formula;
    SAS: PROC MEANS shares + a squared-sum DATA step).

    HHI = sum over customers of (share)^2, share = customer spend /
    nation total. Two grouped aggs and a broadcast of the per-nation
    totals — no windows, no sorts anywhere.

    Scale: the inner agg reduces facts to one row per customer
    map-side; the totals table is O(nations) — genuinely bounded, so
    it broadcasts unconditionally; customer GROWS with SF, so its
    join hint is size-gated (past the bound AQE picks the strategy).
    The squared-share sum combines partially. Fully mergeable at any
    size.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    spend = (
        orders.join(broadcast_if_small(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    tot = spend.groupBy("c_nationkey").agg(
        F.sum("s").alias("t"), F.count(F.lit(1)).alias("n_cust")
    )
    share = F.col("s") / F.col("t")
    return (
        spend.join(F.broadcast(tot), "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            F.min("n_cust").cast("long").alias("n_customers"),
            F.round(F.sum(share * share), 6).alias("hhi"),
        )
    )


# -- anomalous-day detection -----------------------------------------

ANOMALY_Z = 2.0


@query(
    "q_anomaly_days",
    oracle=f"""
    with d as (
        select cast(date_trunc('day', ts) as timestamp) as day,
               count(*) as n
        from events group by date_trunc('day', ts)
    ),
    stats as (
        select avg(n * 1.0) as mu, stddev_samp(n * 1.0) as sigma from d
    )
    select d.day, cast(d.n as bigint) as n_events,
           round((d.n - s.mu) / nullif(s.sigma, 0), 6) as z,
           abs(d.n - s.mu) > {ANOMALY_Z} * s.sigma as is_anomaly
    from d cross join stats s
    """,
    tags=("events", "quality", "analytics"),
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: flag days whose event count
    sits more than {ANOMALY_Z} sigma from the mean of the daily
    series (pipeline monitoring's first alarm — an ingest gap or a
    duplicate-delivery day; SAS: PROC MEANS over a PROC TIMESERIES
    output + a DATA-step flag).

    Both mean and deviation compute over the REDUCED day series
    (O(days) rows); the strict z-threshold comparison runs on the
    same IEEE expression tree on both engines, and z is also emitted
    rounded for the report. The degenerate flat series (every day
    identical -> sigma = 0) routes the divisor through
    nullif(sigma, 0) / F.when(sigma != 0, ...) so z is NULL on BOTH
    engines instead of Spark-NULL-vs-DuckDB-NaN; is_anomaly needs no
    guard (|n - mu| = 0 > 0 is false on both).

    Scale: one map-side-combined count per day, a 1-row stats
    broadcast, and a scan-free flag projection over the day series.
    (Robust variants swap mean/sigma for the q_outlier_mad
    median/MAD machinery — same shape.)
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = d.agg(
        F.avg(F.col("n") * 1.0).alias("mu"),
        F.stddev_samp(F.col("n") * 1.0).alias("sigma"),
    )
    return d.crossJoin(F.broadcast(stats)).select(
        "day",
        F.col("n").cast("long").alias("n_events"),
        F.round(
            F.when(
                F.col("sigma") != 0,
                (F.col("n") - F.col("mu")) / F.col("sigma"),
            ),
            6,
        ).alias("z"),
        (
            F.abs(F.col("n") - F.col("mu")) > ANOMALY_Z * F.col("sigma")
        ).alias("is_anomaly"),
    )


# -- Poisson bootstrap confidence intervals ------------------------------

#: Bootstrap replicates and the seeded hash for the per-(row,
#: replicate) Poisson(1) weight draw (seed distinct from every other
#: registered seed).
BOOT_B = 200
BOOT_SEED = 23

#: Poisson(1) inverse-CDF thresholds in ppm (cumulative pmf * 1e6,
#: floored): a uniform ppm bucket u maps to weight w = #thresholds
#: <= u, truncated at 6 (P[w > 6] < 1e-4; the truncation is part of
#: the operator's definition and identical in both engines).
BOOT_POIS_PPM = (367879, 735758, 919698, 981011, 996340, 999405)


@query(
    "q_bootstrap_ci",
    oracle=f"""
    with rep as (
        select e.event_type,
               cast(round(e.value * 1000000, 0) as bigint) as v6,
               e.event_id,
               unnest(range(1, {BOOT_B} + 1)) as b
        from events e
    ),
    wtd as (
        select event_type, b, v6,
               (case when u >= {BOOT_POIS_PPM[0]} then 1 else 0 end
              + case when u >= {BOOT_POIS_PPM[1]} then 1 else 0 end
              + case when u >= {BOOT_POIS_PPM[2]} then 1 else 0 end
              + case when u >= {BOOT_POIS_PPM[3]} then 1 else 0 end
              + case when u >= {BOOT_POIS_PPM[4]} then 1 else 0 end
              + case when u >= {BOOT_POIS_PPM[5]} then 1 else 0 end) as w
        from (
            select event_type, v6, b,
                   list_reduce(list_transform(range(1,16),
                       j -> strpos('0123456789abcdef',
                                   substr(sha256('{BOOT_SEED}:'
                                                 || cast(event_id as varchar)
                                                 || '#'
                                                 || cast(b as varchar)),
                                          j, 1)) - 1),
                     (a,x) -> a*16+x) % 1000000 as u
            from rep
        ) t
    ),
    means as (
        select event_type, b,
               cast(sum(w * v6) as double) / (sum(w) * 1000000.0) as m
        from wtd group by event_type, b
        having sum(w) > 0
    ),
    ranked as (
        select event_type, m,
               row_number() over (partition by event_type
                                  order by m, b) as r,
               count(*) over (partition by event_type) as bn
        from means
    ),
    pt as (
        select event_type,
               round(cast(sum(cast(round(value * 1000000, 0) as bigint))
                          as double) / (count(*) * 1000000.0), 6)
                   as mean_value,
               cast(count(*) as bigint) as n
        from events group by event_type
    )
    select p.event_type, p.n, p.mean_value,
           round(lo.m, 6) as ci_lo,
           round(hi.m, 6) as ci_hi
    from pt p
    join ranked lo on lo.event_type = p.event_type
                  and lo.r = greatest(1, (25 * lo.bn) // 1000)
    join ranked hi on hi.event_type = p.event_type
                  and hi.r = hi.bn - greatest(1, (25 * hi.bn) // 1000) + 1
    """,
    tags=("stats", "sample", "bootstrap"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for each event type's
    mean value (SAS analog: PROC SURVEYSELECT METHOD=URS + a means
    loop; the modern large-data form is Poisson bootstrap — Chamandy
    et al., "Estimating Uncertainty for Massive Data Streams"): the
    multinomial resample is approximated per replicate by giving each
    row an independent Poisson(1) weight, so NO resampled dataset is
    ever materialized and each row's {BOOT_B} weights are computed
    scan-side. Weights come from the engine-portable seeded sha256
    bucket (operators/sampling.hash_bucket arithmetic) through a fixed
    ppm inverse-CDF table, so the entire randomization is a pure
    function of (seed, event_id, replicate) — identical across
    engines, partitionings, and cluster sizes, which is what lets a
    bootstrap hash-verify. CI bounds are rank-based order statistics
    over the surviving replicate means (replicates with an all-zero
    weight vector are dropped on both sides; ranks greatest(1,
    25*bn div 1000) and its mirror over the surviving count bn,
    replicate-id tiebreak — exactly {int(0.025 * BOOT_B)} /
    {int(0.975 * BOOT_B) + 1} when all {BOOT_B} survive) — no
    interpolation-mode ambiguity and no NULL-ordering divergence.

    Exact accumulators (ADVICE r11, the CUSUM idiom): every
    hash-attested float mean here is computed from ORDER-INSENSITIVE
    sums — values quantize per-row to micros (v6 = round(value*1e6),
    a pure function of the row), replicate sums accumulate
    exact-integer (decimal(38,0) on the Spark side, hugeint in
    DuckDB), and each mean is ONE double division of identical
    integers. The spread_small_scan repartition below reorders rows
    feeding the aggregation; with float folds a mean sitting on a 6dp
    rounding boundary could flip run-to-run — with integer folds the
    result is partitioning-independent by construction. The 1e-6
    input quantization is part of the operator's definition (both
    engines apply it identically; it perturbs each input by <= 5e-7,
    below the emitted 6dp resolution).

    Scale: the replicate explode is scan-side (rows x B never
    shuffles as payload); the only exchange is the map-side-combined
    (group, replicate) agg — O(groups x B) result rows; the order
    statistic runs per group over B rows. decimal(38,0) accumulation
    overflows only past ~1e38 weighted micros per (group, replicate)
    — unreachable. At 100 TB this is the standard uncertainty
    readout for pipeline metrics."""
    ev = load_table(spark, sf_dir, "events")
    from sas_etl_spark.operators.sampling import hash_bucket
    from sas_etl_spark.operators.similarity import spread_small_scan

    # the per-(row, replicate) sha draw is the dominant cost and is
    # embarrassingly parallel — floor the scan parallelism when a
    # small fixture packs into a handful of files (the gate is false
    # at real scale where scans are already wide)
    ev = spread_small_scan(ev)
    rep = ev.select(
        "event_type",
        F.round(F.col("value") * 1_000_000, 0).cast("long").alias("v6"),
        "event_id",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"),
    )
    u = hash_bucket(
        F.concat(F.col("event_id").cast("string"), F.lit("#"),
                 F.col("b").cast("string")),
        1_000_000,
        seed=BOOT_SEED,
    )
    w = sum(
        F.when(u >= t, 1).otherwise(0) for t in BOOT_POIS_PPM
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(
            F.sum((F.col("w") * F.col("v6")).cast("decimal(38,0)")).alias("_s"),
            F.sum("w").alias("_wsum"),
        )
        # A replicate whose Poisson weights are ALL zero (P = e^-n per
        # replicate per group — real for tiny groups) has sum(w) = 0 and
        # a NULL mean; Spark's rank window orders NULLs first while
        # DuckDB orders them last, so a surviving NULL would desync the
        # order statistics between engines. Drop it on BOTH sides
        # (oracle: HAVING sum(w) > 0) and take the CI ranks over the
        # surviving replicate count bn with pure integer arithmetic —
        # for the common bn = B = {BOOT_B} case this is exactly the
        # classic ranks 5 / 196.
        .where(F.col("_wsum") > 0)
        .select(
            "event_type",
            "b",
            (
                F.col("_s").cast("double")
                / (F.col("_wsum") * F.lit(1_000_000.0))
            ).alias("m"),
        )
    )
    ranked = means.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("m", "b"))
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("bn"),
    )
    # BOTH order statistics from ONE pass over the ranked relation —
    # separate lo/hi broadcast joins would each rebuild the whole
    # replicate subtree (rows x B sha draws twice over; measured 31 s
    # -> ~6 s at sf1). When bn = 1 both ranks coincide and the single
    # surviving replicate serves as lo AND hi.
    lo_rank = F.greatest(F.lit(1), F.expr("(25 * bn) div 1000"))
    hi_rank = F.col("bn") - lo_rank + 1
    cis = (
        ranked.filter((F.col("r") == lo_rank) | (F.col("r") == hi_rank))
        .groupBy("event_type")
        .agg(
            F.round(F.min(F.when(F.col("r") == lo_rank, F.col("m"))), 6)
            .alias("ci_lo"),
            F.round(F.min(F.when(F.col("r") == hi_rank, F.col("m"))), 6)
            .alias("ci_hi"),
        )
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(
                F.round(F.col("value") * 1_000_000, 0).cast("long")
            ).cast("double")
            / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
            6,
        ).alias("mean_value"),
    )
    return pt.join(F.broadcast(cis), "event_type").select(
        "event_type", "n", "mean_value", "ci_lo", "ci_hi"
    )


# -- CUSUM control chart --------------------------------------------------

#: In-control baseline length (days) and the standard CUSUM design
#: constants: allowance k = CUSUM_K_SIGMA * sigma (half the shift to
#: detect, in sigmas), decision interval h = CUSUM_H_SIGMA * sigma.
CUSUM_BASELINE_DAYS = 14
CUSUM_K_SIGMA = 0.5
CUSUM_H_SIGMA = 4.0


#: The CUSUM oracle SQL — shared verbatim by the batch query and the
#: streaming twin (q_stream_cusum, queries/io_stream.py): the
#: stateful-streaming run must converge to exactly this relation.
CUSUM_ORACLE = f"""
    with daily as (
        select event_type, cast(ts as date) as d,
               cast(count(*) as bigint) as n
        from events group by 1, 2
    ),
    base as (
        -- mu6/sigma6 from EXACT integer accumulators (k, sum, sum of
        -- squares) so every engine and the streaming twin quantize
        -- bit-identically by construction: mu6 is pure-integer
        -- HALF_UP ((2*s*1e6 + k) // (2k)); sigma6 goes through one
        -- well-defined float sequence (int->double cast, divide,
        -- IEEE sqrt, *1e6, floor(x+0.5)) from identical integers.
        select event_type,
               cast((2 * s * 1000000 + k) // (2 * k) as bigint) as mu6,
               case when k > 1 then cast(floor(
                   sqrt(cast(k * q - s * s as double)
                        / cast(k * (k - 1) as double)) * 1000000 + 0.5)
                   as bigint) else 0 end as sigma6
        from (
            select event_type, cast(count(*) as bigint) as k,
                   cast(sum(n) as bigint) as s,
                   cast(sum(n * n) as bigint) as q
            from (
                select event_type, n,
                       row_number() over (partition by event_type
                                          order by d) as rn
                from daily
            ) t where rn <= {CUSUM_BASELINE_DAYS}
            group by event_type
        ) agg
    ),
    cum as (
        select d.event_type, d.d, d.n, b.sigma6,
               sum(2000000 * d.n - 2 * b.mu6 - b.sigma6)
                   over (partition by d.event_type order by d.d
                         rows between unbounded preceding
                         and current row) as c2
        from daily d join base b using (event_type)
    ),
    s as (
        select event_type, d, n, sigma6,
               c2 - min(c2) over (partition by event_type order by d
                                  rows between unbounded preceding
                                  and current row) as s2
        from cum
    )
    select event_type, cast(d as varchar) as d, n,
           round(s2 / 2000000.0, 7) as cusum,
           cast(s2 > 8 * sigma6 as int) as is_alarm
    from s
    """


@query(
    "q_cusum",
    oracle=CUSUM_ORACLE,
    tags=("events", "timeseries", "quality", "stats"),
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM control chart over each event type's
    daily volume (SAS: PROC CUSUM) — the sequential change-point
    detector that catches small persistent shifts a z-score per day
    misses (q_anomaly_days' complement: that flags single outlier
    days, this accumulates evidence). Baseline mu/sigma come from the
    first {CUSUM_BASELINE_DAYS} in-control days, quantized to ppm
    bigints FROM EXACT INTEGER ACCUMULATORS (count / sum / sum of
    squares) so batch, oracle, and the streaming twin parameterize
    bit-identically by construction; allowance k = {CUSUM_K_SIGMA}
    sigma, decision interval h = {CUSUM_H_SIGMA} sigma — the standard
    design.

    The textbook recursion S_t = max(0, S_t-1 + (x_t - mu - k)) is
    not window-expressible, but its closed form is: S_t = C_t -
    min_j<=t C_j where C is the running sum of deviations — so the
    whole detector is two per-series running windows (cumsum + prefix
    min), no recursion, no UDF, and the oracle replays it exactly.

    Cross-engine arithmetic: the running sums are computed in SCALED
    INTEGERS — with mu/sigma quantized to ppm bigints, the deviation
    2e6*n - 2*mu6 - sigma6 (the x2 clears k = sigma/2) and both
    windows are exact BIGINT, and the alarm compare s2 > 8*sigma6 is
    pure integer — no float boundary anywhere past the two quantized
    parameters. The emitted cusum divides s2 by 2e6 and rounds at
    7dp: the quotient IS an exact 7-digit decimal (x5e-7 grid), so
    7dp rounding is the identity — 6dp would sit exactly on the
    half-way tie for every odd s2 and engines break decimal ties
    differently (observed at sf0.1). (The float form hit a 6dp rounding boundary at sf0.1:
    engines' window summation differs at ~1e-12, 8.9037175 split to
    .718 vs .717.) Headroom: |c2| <= 2e6 * total rows per series —
    BIGINT-safe below ~4.6e12 daily events over 1e3 days.

    Scale: daily rollup is map-side combined; both windows partition
    by series over O(days) rows per series (the q_mom_growth
    pattern); baseline stats are an O(series) broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rn_w = Window.partitionBy("event_type").orderBy("d")
    base = (
        daily.withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= CUSUM_BASELINE_DAYS)
        .groupBy("event_type")
        # Exact integer accumulators -> one well-defined quantization,
        # bit-identical across this query, the DuckDB oracle, and the
        # streaming twin (streaming/stateful.streaming_cusum): mu6 is
        # pure-integer HALF_UP; sigma6's only float ops (int->double
        # cast, divide, IEEE sqrt, *1e6, floor(x+0.5)) start from
        # identical integers in every engine. k=1 (one baseline day)
        # pins sigma6 = 0 on all three sides. Headroom: q = sum(n^2)
        # stays long-exact below ~8e8 events/day over the baseline.
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("n").alias("s"),
            F.sum(F.col("n") * F.col("n")).alias("q"),
        )
        .select(
            "event_type",
            F.expr("(2 * s * 1000000 + k) div (2 * k)").alias("mu6"),
            F.when(
                F.col("k") > 1,
                F.floor(
                    F.sqrt(
                        (F.col("k") * F.col("q") - F.col("s") * F.col("s"))
                        .cast("double")
                        / (F.col("k") * (F.col("k") - 1)).cast("double")
                    )
                    * 1_000_000
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("sigma6"),
        )
    )
    run_w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.join(F.broadcast(base), "event_type").withColumn(
        "c2",
        F.sum(
            2_000_000 * F.col("n") - 2 * F.col("mu6") - F.col("sigma6")
        ).over(run_w),
    )
    s = cum.withColumn("s2", F.col("c2") - F.min("c2").over(run_w))
    return s.select(
        "event_type",
        F.col("d").cast("string").alias("d"),
        "n",
        F.round(F.col("s2") / 2_000_000.0, 7).alias("cusum"),
        (F.col("s2") > 8 * F.col("sigma6")).cast("int").alias("is_alarm"),
    )
