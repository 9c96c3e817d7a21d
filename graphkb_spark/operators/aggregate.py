"""Aggregation-shaped operators from SURVEY §2.5/§2.6.

All pure DataFrame compositions — partial (map-side) aggregation and
AQE partition coalescing come free; none of these require a UDF.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphkb_spark.core.materialize import materialize
from graphkb_spark.operators.skew import ensure_scan_parallelism, exchange_width


def recurrence_threshold(
    df: DataFrame,
    group: Sequence[str],
    distinct_col: str,
    threshold: int = 3,
    count_alias: str = "n_distinct",
) -> DataFrame:
    """Distinct-count recurrence filter (reference: COSMIC fusion
    RECURRENCE_THRESHOLD >= 3 distinct samples,
    src/cosmic/fusions.js:21,143-160,199)."""
    return (
        df.groupBy(*group)
        .agg(F.countDistinct(distinct_col).alias(count_alias))
        .filter(F.col(count_alias) >= threshold)
    )


def consensus_value(
    df: DataFrame,
    group: Sequence[str],
    value_col: str,
    alias: str | None = None,
) -> DataFrame:
    """Single-consensus aggregation (reference: one consensus country/
    city across trial locations else null,
    src/clinicaltrialsgov/index.js:156-185): if the group has exactly
    one distinct non-null value, return it, else NULL."""
    alias = alias or f"consensus_{value_col}"
    vals = F.collect_set(value_col)
    return df.groupBy(*group).agg(
        F.when(F.size(vals) == 1, F.element_at(vals, 1)).otherwise(F.lit(None)).alias(alias)
    )


def top1_per_group(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column | str],
) -> DataFrame:
    """Top-1-per-group by an explicit ordering (reference W1/W2/W4:
    latest-created therapy src/civic/therapy.js:94-97; max fill-score
    abstract dedup src/asco/index.js:42-68)."""
    cols = [c if isinstance(c, Column) else F.col(c) for c in order]
    w = Window.partitionBy(*[F.col(c) for c in group]).orderBy(*cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def duplicate_names(df: DataFrame, name_col: str) -> DataFrame:
    """Duplicate detection (reference: ncit non-unique names demoted,
    src/ncit/index.js:255-308)."""
    return df.groupBy(name_col).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)


def version_chain(
    df: DataFrame,
    order_col: str,
    partition: Sequence[str] = (),
    prev_alias: str = "previous",
) -> DataFrame:
    """Version chaining via lag (reference: oncotree versions sorted by
    release date, each linked to its predecessor to derive DeprecatedBy
    edges, src/oncotree/index.js:27-68)."""
    w = (
        Window.partitionBy(*[F.col(c) for c in partition]).orderBy(F.col(order_col).asc())
        if partition
        else Window.orderBy(F.col(order_col).asc())
    )
    return df.withColumn(prev_alias, F.lag(order_col).over(w))


def grouped_regression(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group bivariate statistics — OLS slope/intercept, Pearson
    correlation, R², and the group size — the screening pass a
    curation pipeline runs before trusting a linear relationship
    (e.g. dosage vs response per cohort).

    Scale shape: every statistic is an algebraic aggregate (population
    moments) so Spark computes them in ONE partial-aggregating shuffle
    on the group key with map-side combine — the same cost as a grouped
    count at any scale. No window, no second pass. Derived ratios use
    ``try_divide`` rather than the ``corr``/``regr_*`` built-ins, which
    raise DIVIDE_BY_ZERO under ANSI mode on zero-variance groups; a
    constant-x group yields NULL slope/correlation (DuckDB semantics,
    with regr_r2 = 1 when only y is constant). Rounded to 6 places so
    the DuckDB oracle hash-matches across summation orders."""
    x, y = F.col(x_col), F.col(y_col)
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x).alias("_mx"),
        F.avg(y).alias("_my"),
        F.var_pop(x).alias("_vx"),
        F.var_pop(y).alias("_vy"),
        F.covar_pop(x, y).alias("_cxy"),
    )
    slope = F.try_divide(F.col("_cxy"), F.col("_vx"))
    r = F.try_divide(
        F.col("_cxy"), F.sqrt(F.col("_vx")) * F.sqrt(F.col("_vy"))
    )
    r2 = (
        F.when((F.col("_vx") > 0) & (F.col("_vy") > 0), r * r)
        .when((F.col("_vx") > 0) & (F.col("_vy") == 0), F.lit(1.0))
    )
    return stats.select(
        *group_cols,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("_my") - slope * F.col("_mx"), 6).alias("intercept"),
        F.round(r, 6).alias("pearson_r"),
        F.round(r2, 6).alias("r2"),
    )


def rolling_mean(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    value_col: str,
    window_rows: int = 7,
) -> DataFrame:
    """Trailing ``window_rows``-row moving average per partition key —
    the time-series smoothing primitive. The window is PARTITIONED (by
    user/entity), so at 100 TB it is one shuffle on the key and a
    linear in-partition scan; there is no global sort. Order columns
    must make the order total (ts + a tiebreaker id) or the result is
    nondeterministic."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window_rows - 1), 0)
    )
    return df.withColumn(
        "rolling_avg", F.round(F.avg(value_col).over(w), 6)
    )


def histogram_fixed(
    df: DataFrame,
    value_col: str,
    step: float,
    lo: float = 0.0,
) -> DataFrame:
    """Fixed-width histogram: bucket i covers [lo + i*step, lo +
    (i+1)*step). One partial-aggregating shuffle on the bucket id —
    the cheapest possible distribution profile of a 100 TB column.
    Returns (bucket, lo_edge, n)."""
    if step <= 0:
        raise ValueError("step must be positive")
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(step)).cast("long")
    return (
        df.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(F.col("bucket") * step + lo, 6).alias("lo_edge"),
            "n",
        )
    )


def funnel_counts(
    events: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed stage 1, then
    stage 2 at-or-after their first qualifying stage-1 time, and so on
    (the greedy earliest-match subsequence semantics every funnel tool
    uses). Returns ONE row with a ``n_<stage>`` column per stage.

    Scale shape: events filter to the funnel types (pushed to the
    scan), ONE shuffle groups each user's events, and the walk is an
    ``aggregate`` over the per-user (ts, stage)-sorted array — all
    whole-stage codegen, no joins, no per-stage passes. The DuckDB
    oracle takes the equivalent min-ts-per-stage 3-join path; greedy
    earliest matching provably reaches the same stage, with the
    (ts, stage-index) secondary sort making ties agree with the
    oracle's ``ts >= prev`` semantics."""
    stages = list(stages)
    idx_pairs = [x for i, s in enumerate(stages) for x in (F.lit(s), F.lit(i))]
    ev = events.filter(F.col(type_col).isin(stages)).select(
        F.col(user_col).alias("__user"),
        F.create_map(*idx_pairs)[F.col(type_col)].alias("sidx"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
    )
    per_user = ev.groupBy("__user").agg(
        F.array_sort(F.collect_list(F.struct("t", "sidx"))).alias("__evs")
    )
    long_min = -(2**63)
    reached = F.aggregate(
        "__evs",
        F.struct(
            F.lit(0).alias("stage"), F.lit(long_min).cast("long").alias("t")
        ),
        lambda acc, e: F.when(
            (acc.stage < len(stages))
            & (e.sidx == acc.stage)
            & (e.t >= acc.t),
            F.struct(
                (acc.stage + F.lit(1)).alias("stage"), e.t.alias("t")
            ),
        ).otherwise(acc),
    ).stage
    rows = per_user.select(reached.alias("__reached"))
    return rows.agg(
        *[
            F.sum((F.col("__reached") >= i + 1).cast("long")).alias(
                f"n_{s}"
            )
            for i, s in enumerate(stages)
        ]
    )


def grouped_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    percentiles: Sequence[float] = (0.25, 0.5, 0.95),
) -> DataFrame:
    """Exact linearly-interpolated percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``). Exact percentiles
    sort within each group — fine for dimension-bounded groups; use
    ``approx_quantiles_with_bound`` (operators/sketch.py) when the
    group count or size is corpus-scale."""
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(p)), 6).alias(
            # half-up, not truncate (int(0.29*100) == 28 under float
            # error) and not round() (banker's: p=0.625 -> 'p62')
            f"p{int(p * 100 + 0.5)}"
        )
        for p in percentiles
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def incremental_agg_merge(
    snapshot: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_map: dict[str, str],
    count_alias: str = "n",
) -> DataFrame:
    """Incremental materialized-view maintenance for algebraic
    aggregates: ``snapshot`` holds the pre-aggregated state (keys,
    summed columns, row count), ``delta`` is the new RAW batch. The
    delta is aggregated identically (map-side combined) and merged
    with ONE keyed full-outer join + coalesce-add — the whole point at
    100 TB: the historical data is never rescanned, only the delta and
    the (much smaller) aggregate table move. Works for any
    sum/count-composable aggregate; averages derive downstream."""
    keys = list(keys)
    aggs = [F.sum(src).alias(dst) for dst, src in sum_map.items()]
    aggs.append(F.count(F.lit(1)).alias(count_alias))
    d = delta.groupBy(*keys).agg(*aggs)
    joined = snapshot.alias("a").join(d.alias("b"), on=keys, how="full")
    out_cols = [F.col(k) for k in keys]
    for dst in [*sum_map, count_alias]:
        out_cols.append(
            (
                F.coalesce(F.col(f"a.{dst}"), F.lit(0))
                + F.coalesce(F.col(f"b.{dst}"), F.lit(0))
            ).alias(dst)
        )
    return joined.select(*out_cols)


def grouped_normal_equations(
    df: DataFrame,
    group_cols: Sequence[str],
    x1_col: str,
    x2_col: str,
    y_col: str,
    sums: str = "decimal",
) -> DataFrame:
    """Per-group TWO-feature OLS (y = b0 + b1*x1 + b2*x2) by the
    normal equations, solved closed-form with Cramer's rule — the
    one-pass distributed multiple regression: nine moment sums in a
    single partial-aggregating shuffle (same cost as a grouped count at
    any scale), then a constant amount of per-group arithmetic. No
    iteration, no feature matrix ever materialized.

    Engine-determinism: each moment term is cast to DECIMAL(38,10)
    before summing — the inputs carry <=2 decimal digits so products
    are exact at 4, making the sums exactly associative (immune to
    shuffle delivery order); the exact sums convert to double once and
    the Cramer determinants are fixed expression trees of
    correctly-rounded IEEE ops, so an external engine computing the
    same formulas gets bit-identical coefficients. Singular groups
    (collinear or constant features, det == 0) yield NULL coefficients
    via try_divide rather than ANSI DIVIDE_BY_ZERO.

    ``sums`` picks the exact-summation engine (round 14 — measured
    when the honest consume() harness first actually executed these
    sums; a bare count() had been pruning all nine):

    - ``"decimal"`` (default): DECIMAL(38,10) accumulators — exact and
      overflow-safe at ANY group size (the 100 TB default), but
      Spark's >18-digit decimal sum runs on boxed arithmetic, ~3.4x
      slower per row than long math (measured 3.1 vs 0.92 s over 6M
      rows x 9 sums on local[32]).
    - ``"int64"``: each <=4-decimal-exact product is scaled by 10^4
      and summed as BIGINT — bit-identical results (verified
      value-equal against the decimal path) at full codegen speed.
      Bit-identity holds over the WHOLE bigint range because the
      scaled sum is divided as a DECIMAL before the single double
      conversion (sum::decimal(20,0) / 10000 is exact at scale 6, and
      one correctly-rounded decimal->double cast is the same
      conversion the decimal path performs) — NOT as
      sum::double / 1e4, whose bigint->double step would already
      round above 2^53 and double-round thereafter (ADVICE r14).
      Carries an explicit overflow contract: |sum of scaled products|
      must stay under 2^63 (~1.8e8 rows/group at TPC-H price scale);
      past it ANSI mode fails LOUDLY rather than corrupting. The
      single-node/bounded-group fast path, not the cluster default.

    Input rounding contract (both engines, documented not enforced):
    products are accumulated at FIXED precision — 4 decimals for
    ``int64`` (the 10^4 scaling), 10 for ``decimal`` — so inputs
    whose products carry more decimals are silently half-up rounded
    at that precision, not rejected. The <=2-decimal input contract
    above is what makes both accumulators exact."""
    if sums not in ("decimal", "int64"):
        raise ValueError(f"sums={sums!r}: expected 'decimal' or 'int64'")
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)

    def dsum(c, alias):
        if sums == "int64":
            # divide as DECIMAL, cast to double ONCE: decimal(20,0) /
            # 10000 -> decimal(26,6) is exact (the true value has <=4
            # decimals), so the only rounding is the same final
            # decimal->double conversion the "decimal" engine performs
            # — bit-identity holds to the 2^63 overflow bound, not
            # just 2^53 (ADVICE r14: bigint->double would round first,
            # then /1e4 would round again)
            return (
                F.sum(F.round(c * F.lit(10000)).cast("bigint"))
                .cast("decimal(20,0)")
                / F.lit(10000)
            ).cast("double").alias(alias)
        return F.sum(c.cast("decimal(38,10)")).cast("double").alias(alias)

    # The nine moment sums are CPU-dense (boxed decimal adds on the
    # default engine) and the partial aggregation runs at the SCAN's
    # parallelism — which for a small/few-row-group parquet file is its
    # row-group count (measured: 3 tasks over lineitem sf0.1, ~1 s of
    # serialized decimal CPU per task while 29 cores idled; opt r17,
    # guide §2.5). Project to the 4 needed columns, then repartition
    # only when the scan is starved — a plan-time no-op at production
    # scale where the scan splits naturally, so no exchange is added
    # on the 100 TB path.
    dense_in = ensure_scan_parallelism(
        df.select(*dict.fromkeys([*group_cols, x1_col, x2_col, y_col]))
    )
    stats = dense_in.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x1, "s1"),
        dsum(x2, "s2"),
        dsum(x1 * x1, "s11"),
        dsum(x1 * x2, "s12"),
        dsum(x2 * x2, "s22"),
        dsum(y, "sy"),
        dsum(x1 * y, "s1y"),
        dsum(x2 * y, "s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    # 3x3 determinants, expression trees mirrored verbatim in the oracle
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    return stats.select(
        *group_cols,
        F.col("n").cast("bigint").alias("n"),
        F.round(F.try_divide(det0, det), 6).alias("b0"),
        F.round(F.try_divide(det1, det), 6).alias("b1"),
        F.round(F.try_divide(det2, det), 6).alias("b2"),
    )


def merge_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping/touching intervals per key (gaps-and-islands):
    returns one row per maximal run of intervals whose spans chain
    together — (keys, island start, island end, n_intervals). Two
    intervals belong to one island iff the later one starts at or
    before the running maximum end of everything earlier.

    Scale shape: ONE shuffle on the key; island detection is two
    partitioned window passes (running max-end to flag island breaks,
    running sum to number islands) plus a keyed agg that reuses the
    same partitioning — no self-joins, no recursion, linear per key.
    The classic SQL islands idiom, expressed once as an operator."""
    keys = [F.col(c) for c in key_cols]
    s, e = F.col(start_col), F.col(end_col)
    w = Window.partitionBy(*keys).orderBy(s.asc(), e.asc())
    prev_max_end = F.max(e).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new_island",
        F.when(prev_max_end.isNull() | (s > prev_max_end), 1).otherwise(0),
    )
    island = F.sum("__new_island").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        flagged.withColumn("__island", island)
        .groupBy(*keys, F.col("__island"))
        .agg(
            F.min(s).alias("island_start"),
            F.max(e).alias("island_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("__island")
    )


def grouped_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier detection: rows whose value deviates
    from the group mean by more than ``z`` population standard
    deviations, annotated with the rounded z-score. One
    partial-aggregating shuffle for the group moments, a join back,
    and a scan-speed filter — the screening pass that runs before
    trusting per-group aggregates at corpus scale. Zero-variance
    groups produce no outliers (try_divide yields NULL, which fails
    the > z filter).

    Engine-determinism: mean and variance come from DECIMAL(38,10)
    sums of x and x^2 (exactly associative — no summation-order drift)
    converted once to double; the remaining ops (divide, multiply,
    subtract, sqrt) are correctly rounded IEEE, so a borderline row
    lands on the same side of the z threshold in any engine. The
    E[x^2]-mu^2 form trades catastrophic-cancellation robustness for
    that exactness — fine while |mu|/sigma is within a few orders of
    magnitude, the regime of every quality-score/price-like column.

    The stats join carries no broadcast hint: stats is one row per
    group, and an unbounded-cardinality group column (per-user,
    per-URL) can exceed the broadcast limit, where a forced hint fails
    the job instead of degrading to a shuffle join."""
    v = F.col(value_col)
    n = F.count(F.lit(1)).cast("double")
    stats = df.groupBy(*group_cols).agg(
        (F.sum(v.cast("decimal(38,10)")).cast("double") / n).alias("__mu"),
        (F.sum((v * v).cast("decimal(38,10)")).cast("double") / n).alias("__ex2"),
    ).withColumn(
        "__sigma", F.sqrt(F.col("__ex2") - F.col("__mu") * F.col("__mu"))
    ).drop("__ex2")
    score = F.try_divide(v - F.col("__mu"), F.col("__sigma"))
    return (
        df.join(stats, list(group_cols))
        .withColumn("z_score", F.round(score, 6))
        .filter(F.abs(F.col("z_score")) > z)
        .drop("__mu", "__sigma")
    )


def last_touch_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    conversion_types: Sequence[str],
    touch_types: Sequence[str],
    window_hours: int = 72,
) -> DataFrame:
    """Marketing-style last-touch attribution: every conversion event
    is credited to the user's most recent touch event within
    ``window_hours`` before it (ties on timestamp break toward the
    later-sorted event id). Returns one row per conversion with the
    attributed touch type (NULL when no touch is in-window).

    Scale shape: filter both event classes out of the raw stream
    (pushed to the scan), ONE shuffle on the user key, and a single
    partitioned last_value window over the (ts, kind)-ordered union —
    the classic sessionless attribution join expressed without a range
    self-join (which would be quadratic in touches x conversions per
    user)."""
    u, ts, et = F.col(user_col), F.col(ts_col), F.col(type_col)
    both = events.filter(
        et.isin([*conversion_types, *touch_types])
    ).select(
        u.alias("__user"),
        ts.alias("__ts"),
        et.alias("__type"),
        et.isin(list(touch_types)).alias("__is_touch"),
    )
    # order touches BEFORE a same-timestamp conversion so the
    # conversion can see it; last_value over the preceding frame
    # total order: ts, touches-before-conversions at equal ts, then
    # type name — same-timestamp touch pairs resolve deterministically
    w = (
        Window.partitionBy("__user")
        .orderBy(
            F.col("__ts").asc(), F.col("__is_touch").desc(), F.col("__type").asc()
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_touch_ts = F.last(
        F.when(F.col("__is_touch"), F.col("__ts")), ignorenulls=True
    ).over(w)
    last_touch_type = F.last(
        F.when(F.col("__is_touch"), F.col("__type")), ignorenulls=True
    ).over(w)
    # compare in MICROSECONDS: cast('long') floors to whole seconds, so
    # with sub-second event times a touch within <1 s of the 72 h
    # boundary would classify differently than an epoch-precise engine
    # (the DuckDB oracle uses epoch_us) — unix_micros keeps the
    # boundary test exact at full timestamp precision
    horizon = F.unix_micros(F.col("__ts")) - F.lit(window_hours * 3_600_000_000)
    return (
        both.withColumn("__lt_ts", last_touch_ts)
        .withColumn("__lt_type", last_touch_type)
        .filter(~F.col("__is_touch"))
        .select(
            F.col("__user").alias(user_col),
            F.col("__ts").alias("conversion_ts"),
            F.col("__type").alias("conversion_type"),
            F.when(
                F.unix_micros(F.col("__lt_ts")) >= horizon, F.col("__lt_type")
            ).alias("attributed_touch"),
        )
    )


def transition_matrix(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-user event-type Markov transition counts and probabilities:
    for each ordered pair of consecutive events of one user, count the
    (from_type, to_type) transition and derive P(to|from) — the
    behavioral-flow profile (and the event-level sibling of the bigram
    LM over text). Returns (from_type, to_type, n, p) with p rounded.

    Scale shape: one shuffle on the user key for the lag window, one
    partial-aggregating shuffle on the (from, to) pair, and the
    conditional denominator is a window over the already-aggregated
    (transition-table-sized) pair table — no join, no second pass over
    the events, three exchanges total."""
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.select(
            F.col(user_col), F.col(type_col).alias("to_type"), *(
                [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
            )
        )
        .withColumn("from_type", F.lag("to_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p"),
    )


def equidepth_histogram(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    buckets: int = 10,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group equi-depth histogram: ntile over a TOTAL order
    (value + tiebreakers) splits each group into ``buckets``
    near-equal-population buckets; returns per-bucket row count and
    value range — the quantile-sketch companion for skew diagnosis and
    range-partition planning. One shuffle on the group key, one
    partitioned window, one keyed agg reusing the partitioning.

    The tiebreakers matter: ntile over a non-total order assigns
    boundary ties arbitrarily per run — pass an id column to make the
    histogram deterministic (and oracle-replicable)."""
    order = [F.col(value_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("bucket", F.ntile(buckets).over(w))
        .groupBy(*group_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(value_col), 6).alias("lo"),
            F.round(F.max(value_col), 6).alias("hi"),
        )
    )


def winsorize_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to the group's
    [``lower``, ``upper``] linearly-interpolated percentiles — the
    outlier-robust normalization pass for reward/quality/price-like
    columns before they feed a trained model. Returns the input rows
    plus (value_w, clipped_low, clipped_high).

    One partial-aggregating shuffle for the two percentiles per group
    (exact percentiles sort within groups — dimension-bounded groups;
    Spark ``percentile`` == DuckDB ``quantile_cont``, the parity
    ``grouped_percentiles`` already pins), an unhinted join back (the
    ``grouped_outliers`` rationale), and a scan-speed clip."""
    v = F.col(value_col)
    stats = df.groupBy(*group_cols).agg(
        F.percentile(v, F.lit(lower)).alias("__lo"),
        F.percentile(v, F.lit(upper)).alias("__hi"),
    )
    clipped = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    return (
        df.join(stats, list(group_cols))
        .withColumn("value_w", F.round(clipped, 6))
        .withColumn("clipped_low", v < F.col("__lo"))
        .withColumn("clipped_high", v > F.col("__hi"))
        .drop("__lo", "__hi")
    )


def linear_attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    conversion_types: Sequence[str],
    touch_types: Sequence[str],
    window_hours: int = 72,
) -> DataFrame:
    """MULTI-touch (linear) attribution: every conversion's credit is
    split equally across the user's touch events in the
    ``window_hours`` before it (inclusive of a same-timestamp touch,
    matching ``last_touch_attribution``'s tie order). Returns one row
    per (user, conversion, touch_type): (user, conversion_ts,
    conversion_type, touch_type, n_touches, credit) with
    credit = touches of that type / all touches for the conversion —
    the linear sibling of last-touch, still expressed WITHOUT a
    touches-x-conversions range self-join.

    Scale shape: one keyed shuffle on the user; a single
    forward-looking window assigns each touch its NEXT conversion
    (first_value over the following frame — same total order as
    last-touch, reversed), then one partial-aggregating groupBy rolls
    touches up per conversion. Both steps reuse the user
    partitioning."""
    u, ts, et = F.col(user_col), F.col(ts_col), F.col(type_col)
    both = events.filter(
        et.isin([*conversion_types, *touch_types])
    ).select(
        u.alias("__user"),
        ts.alias("__ts"),
        et.alias("__type"),
        et.isin(list(touch_types)).alias("__is_touch"),
    )
    # same total order as last_touch_attribution: (ts, touches-first,
    # type) — a touch therefore PRECEDES a same-timestamp conversion
    # and the forward scan sees it
    w = (
        Window.partitionBy("__user")
        .orderBy(
            F.col("__ts").asc(), F.col("__is_touch").desc(), F.col("__type").asc()
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nc_ts = F.first(
        F.when(~F.col("__is_touch"), F.col("__ts")), ignorenulls=True
    ).over(w)
    nc_type = F.first(
        F.when(~F.col("__is_touch"), F.col("__type")), ignorenulls=True
    ).over(w)
    horizon = F.unix_micros(F.col("__conv_ts")) - F.lit(
        window_hours * 3_600_000_000
    )
    touches = (
        both.withColumn("__conv_ts", nc_ts)
        .withColumn("__conv_type", nc_type)
        .filter(
            F.col("__is_touch")
            & F.col("__conv_ts").isNotNull()
            & (F.unix_micros(F.col("__ts")) >= horizon)
        )
    )
    per_conv = Window.partitionBy("__user", "__conv_ts", "__conv_type")
    return (
        touches.withColumn("__n_all", F.count(F.lit(1)).over(per_conv))
        .groupBy(
            F.col("__user").alias(user_col),
            F.col("__conv_ts").alias("conversion_ts"),
            F.col("__conv_type").alias("conversion_type"),
            F.col("__type").alias("touch_type"),
            F.col("__n_all"),
        )
        .agg(F.count(F.lit(1)).alias("n_touches"))
        .select(
            user_col,
            "conversion_ts",
            "conversion_type",
            "touch_type",
            "n_touches",
            F.round(F.col("n_touches") / F.col("__n_all"), 6).alias("credit"),
        )
    )


def page_hinkley_drift(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column | str],
    value_col: str,
    delta: float = 0.0,
    lambda_sigma: float = 4.0,
) -> DataFrame:
    """Page-Hinkley mean-shift detection per group — the quality-drift
    monitor a training pipeline runs over per-batch metrics (mean doc
    quality per source per ingest order) before a drifted source
    poisons the mix. Classic PH statistic: m_t = sum(x_i - mu - delta),
    M_t = running max of m_t; an UPWARD mean shift makes m_t fall
    behind its max is inverted — here both directions are monitored
    via ph_up = M_t - m_t (downward shift) and ph_down = m_t - min_t
    (upward shift); a row is flagged when either exceeds
    ``lambda_sigma`` * sigma.

    Two-pass, both shuffle-free after ONE keyed exchange: pass 1
    computes per-group mu/sigma from DECIMAL(38,10) moments
    (summation-order-exact, the ``grouped_outliers`` discipline);
    pass 2 is running sum + running max/min windows over the SAME
    group partitioning. Prefix sums evaluate in the window's total
    order, so any engine produces bit-identical doubles — no rounding
    hazard before the final output rounding."""
    v = F.col(value_col).cast("double")
    n = F.count(F.lit(1)).cast("double")
    stats = df.groupBy(*group_cols).agg(
        (F.sum(v.cast("decimal(38,10)")).cast("double") / n).alias("__mu"),
        (F.sum((v * v).cast("decimal(38,10)")).cast("double") / n).alias("__ex2"),
    ).withColumn(
        "__sigma", F.sqrt(F.col("__ex2") - F.col("__mu") * F.col("__mu"))
    ).drop("__ex2")
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    run = (
        Window.partitionBy(*group_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = F.sum(v - F.col("__mu") - F.lit(delta)).over(run)
    joined = df.join(stats, list(group_cols)).withColumn("__m", m)
    ph_up = F.max("__m").over(run) - F.col("__m")
    ph_down = F.col("__m") - F.min("__m").over(run)
    thresh = F.lit(lambda_sigma) * F.col("__sigma")
    return (
        joined.withColumn("ph_up", F.round(ph_up, 6))
        .withColumn("ph_down", F.round(ph_down, 6))
        .filter((F.col("ph_up") > thresh) | (F.col("ph_down") > thresh))
        .drop("__mu", "__sigma", "__m")
    )


def rolling_distinct(
    events: DataFrame,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Trailing-window DISTINCT count per day — the WAU/rolling-active
    metric (distinct users over the prior ``window_days`` days, one
    row per day). A naive window can't do this (count distinct is not
    window-able) and a per-day self-join is quadratic; the scale shape
    is the contribute-explode: each (day, value) pair contributes to
    the ``window_days`` report days it falls inside, so the plan is
    one bounded explode (x window_days) + one distinct + one
    partial-aggregating count — all equi-keyed, no range join.
    Report days with no activity in range are absent (standard
    gaps-allowed semantics). Returns (groups..., day, n_distinct)."""
    day = F.col(ts_col).cast("timestamp").cast("date")
    contrib = events.select(
        *group_cols,
        F.col(value_col).alias("__v"),
        F.explode(
            F.sequence(
                day, F.date_add(day, window_days - 1), F.expr("INTERVAL 1 DAY")
            )
        ).alias("day"),
    )
    return (
        contrib.dropDuplicates([*group_cols, "__v", "day"])
        .groupBy(*group_cols, "day")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


def top_paths(
    events: DataFrame,
    session_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    max_len: int = 8,
    top_k: int = 20,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Top-k behavioral PATHS: the most common ordered event-type
    sequences per session (truncated at ``max_len`` steps) — the
    product-analytics flow report, and the sequence-level sibling of
    the Markov ``transition_matrix``. Returns (path, n, n_steps)
    ordered by count desc (path asc tie-break).

    Scale shape: one keyed aggregation collects each session's
    (ts, type) list — bounded by session length, never a window over
    the corpus — sorts it in-row (``array_sort`` on structs, pure
    codegen), truncates, joins to a path string, then a
    partial-aggregating count and a distributed ``orderBy().limit``
    (TakeOrdered). Two shuffles total."""
    order_cols = [F.col(ts_col)]
    if order_tiebreak:
        order_cols.append(F.col(order_tiebreak))
    step = F.struct(*order_cols, F.col(type_col).alias("__t"))
    paths = (
        events.groupBy(*session_cols)
        .agg(F.array_sort(F.collect_list(step)).alias("__steps"))
        .select(
            F.array_join(
                F.transform(
                    F.slice("__steps", 1, max_len), lambda s: s["__t"]
                ),
                ">",
            ).alias("path"),
            F.least(F.size("__steps"), F.lit(max_len)).alias("n_steps"),
        )
    )
    return (
        paths.groupBy("path", "n_steps")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("path", "n", F.col("n_steps").cast("int").alias("n_steps"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(top_k)
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier detection via the median absolute
    deviation (Iglewicz & Hoaglin's modified z-score): z = 0.6745 *
    (x - median) / MAD, flagged when |z| > ``threshold``. The robust
    sibling of ``grouped_outliers`` (mean/stddev): a single wild value
    inflates the stddev and MASKS other outliers, while the median and
    MAD have a 50% breakdown point.

    Returns every input row with (robust_z, is_outlier); robust_z is
    NULL when MAD is zero (a constant group). Medians use the
    interpolating ``percentile``, whose parity with DuckDB's
    ``quantile_cont`` is pinned by grouped_percentiles.

    Scale shape: two grouped percentile aggregations (each one shuffle
    on the group key, partially aggregated) and two stats joins back —
    stats is one row per group, so the joins are left to AQE: a
    low-cardinality stats side broadcasts at runtime, a
    high-cardinality one degrades to a shuffle join instead of an OOM
    (the grouped_outliers lesson, ADVICE r6)."""
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    with_med = df.join(med, group_cols)
    mad = with_med.groupBy(*group_cols).agg(
        F.expr(f"percentile(abs({value_col} - __med), 0.5)").alias("__mad")
    )
    out = with_med.join(mad, group_cols)
    z = F.when(
        F.col("__mad") > 0,
        F.round(
            F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad"), 6
        ),
    )
    return out.select(
        *df.columns,
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > threshold, F.lit(False)).alias("is_outlier"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """2-D skyline (Borzsony, Kossmann & Stocker 2001): rows not
    dominated by any other row — no other row with x' <= x AND y' <= y
    and strictly smaller in at least one (both criteria MINIMIZED;
    negate a column to maximize it). Exact duplicates of a frontier
    point keep only the smallest id (ties are mutual non-dominators;
    one representative is the useful answer). Returns the frontier
    rows' (id, x, y).

    Scale shape — the textbook solution is a sort + running min, which
    is an UNPARTITIONED window. Here the cummin is split in two
    phases (the sorted-neighborhood ranking trick): order-aligned
    RANGE buckets (sampled boundaries, so any x distribution
    disperses), a cummin window WITHIN each bucket, and the
    cross-bucket prefix min from a triangular broadcast join over the
    per-bucket min table (one row per bucket). Boundaries shape only
    the plan — the frontier is identical whatever the sampler picked.
    The frontier test is then a narrow filter."""
    n_buckets = n_buckets or exchange_width(df)
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    # order-aligned range buckets via sampled boundaries (the
    # sorted-neighborhood fix): equal-width binning degenerates when x
    # concentrates in one slice; range partitioning disperses ANY
    # distribution, and boundaries shape only the plan — the frontier
    # is identical whatever the sampler picked. Checkpoint pins the
    # sampled assignment across the three consumers.
    bucketed = (
        df.select(F.col(id_col).alias("__pid"), x.alias("__x"), y.alias("__y"))
        .repartitionByRange(
            n_buckets, F.col("__x").asc(), F.col("__y").asc(), F.col("__pid").asc()
        )
        .withColumn("__b", F.spark_partition_id())
        .transform(materialize, eager=False)
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy(F.col("__x").asc(), F.col("__y").asc(), F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    with_prev = bucketed.withColumn("__pm_in", F.min("__y").over(w_in))
    bucket_mins = bucketed.groupBy("__b").agg(F.min("__y").alias("__bm"))
    prior = bucket_mins.select(
        F.col("__b").alias("__pb"), F.col("__bm").alias("__pbm")
    )
    prefix = (
        bucket_mins.join(F.broadcast(prior), F.col("__pb") < F.col("__b"), "left")
        .groupBy("__b")
        .agg(F.min("__pbm").alias("__pm_prev"))
    )
    test = with_prev.join(F.broadcast(prefix), "__b").withColumn(
        "__pm", F.least(F.col("__pm_in"), F.col("__pm_prev"))
    )
    return (
        test.filter(F.col("__pm").isNull() | (F.col("__y") < F.col("__pm")))
        .select(
            F.col("__pid").alias(id_col),
            F.col("__x").alias(x_col),
            F.col("__y").alias(y_col),
        )
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 5,
    min_confidence: float = 0.2,
) -> DataFrame:
    """Pairwise association rules (Agrawal & Srikant's Apriori, pair
    stage): directed rules a -> b with support count, support,
    confidence = P(b|a) and lift = confidence / P(b). The
    market-basket primitive under "frequently bought together" and
    co-occurring-tag mining. Thresholds apply to the support COUNT and
    the 6-digit-rounded confidence (bit-stable boundaries).

    Scale shape: the Apriori property prunes FIRST — items below
    min_support cannot appear in a frequent pair, so they never reach
    the pair join; the pair generation is then a basket-keyed
    self-join of the pruned item stream (partial-agg counted), never
    an all-pairs across baskets. Hot baskets are AQE skew-join
    territory; hot ITEMS are bounded by the prune."""
    items = (
        baskets.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .distinct()
        .transform(materialize, eager=False)
    )
    n_baskets = items.select(F.countDistinct("__b").alias("__N"))
    counts = items.groupBy("__i").agg(F.count(F.lit(1)).alias("__cnt"))
    frequent = counts.filter(F.col("__cnt") >= min_support)
    pruned = items.join(
        frequent.select("__i"), "__i", "left_semi"
    )
    a = pruned.select("__b", F.col("__i").alias("item_a"))
    b = pruned.select("__b", F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, "__b")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_support)
    )
    ca = frequent.select(F.col("__i").alias("item_a"), F.col("__cnt").alias("__ca"))
    cb = frequent.select(F.col("__i").alias("item_b"), F.col("__cnt").alias("__cb"))
    conf = F.col("pair_n") / F.col("__ca")
    return (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            F.col("pair_n").cast("bigint").alias("support_count"),
            F.round(F.col("pair_n") / F.col("__N"), 6).alias("support"),
            F.round(conf, 6).alias("confidence"),
            F.round(conf / (F.col("__cb") / F.col("__N")), 6).alias("lift"),
        )
        .filter(F.col("confidence") >= min_confidence)
    )


def cuped_adjust(
    units: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013):
    adjust each experiment unit's metric by its pre-experiment
    covariate, y_adj = y - theta * (x - mean(x)), theta = cov(x, y) /
    var(x) POOLED across variants — the standard trick that cuts A/B
    metric variance by the covariate's R^2 without biasing the delta.
    Input is one row per unit; returns per variant (variant, n_units,
    mean_metric, mean_adjusted), rounded to 6.

    Engine-determinism: all five pooled moments and the per-variant
    sums are DECIMAL(38,10) casts of values/products that carry few
    decimal digits (the grouped_regression contract), so theta and the
    adjusted means are bit-identical under any partitioning and in any
    engine. One global aggregate + one per-variant aggregate — two
    partial-agg shuffles, nothing else."""
    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    # the unit table feeds the pooled AND the per-variant aggregate
    units = units.transform(materialize, eager=False)

    def dsum(c: Column, alias: str) -> Column:
        return F.sum(c.cast("decimal(38,10)")).cast("double").alias(alias)

    g = units.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        dsum(x, "__sx"),
        dsum(y, "__sy"),
        dsum(x * x, "__sxx"),
        dsum(x * y, "__sxy"),
    )
    theta = (
        F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ) / (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    per = units.groupBy(variant_col).agg(
        F.count(F.lit(1)).alias("n_units"),
        dsum(y, "__vy"),
        dsum(x, "__vx"),
    )
    return per.crossJoin(F.broadcast(g)).select(
        F.col(variant_col),
        F.col("n_units").cast("bigint").alias("n_units"),
        F.round(F.col("__vy") / F.col("n_units"), 6).alias("mean_metric"),
        F.round(
            F.col("__vy") / F.col("n_units")
            - theta
            * (F.col("__vx") / F.col("n_units") - F.col("__sx") / F.col("__n")),
            6,
        ).alias("mean_adjusted"),
    )


def ab_delta(
    units: DataFrame,
    variant_col: str,
    metric_col: str,
    variant_a,
    variant_b,
) -> DataFrame:
    """Two-sample A/B readout: per-variant means and sample variances
    from decimal-exact moments, Welch standard error and z-score of
    the B-minus-A difference. One row: (n_a, n_b, mean_a, mean_b,
    diff, se, z), rounded to 6. The unpaired sibling of
    ``cuped_adjust`` (no p-value: erf is not portable Column algebra;
    a z of 1.96 is the usual gate).

    Engine-determinism: sums and sums-of-squares are DECIMAL(38,10)
    casts (the grouped_regression contract), so the variance — and
    therefore se and z — is bit-identical under any partitioning."""
    y = F.col(metric_col).cast("double")
    # one materialization feeds both variant scans
    units = units.transform(materialize, eager=False)

    def side(v):
        d = units.filter(F.col(variant_col) == v)
        return d.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(y.cast("decimal(38,10)")).cast("double").alias("s"),
            F.sum((y * y).cast("decimal(38,10)")).cast("double").alias("ss"),
        )
    a = side(variant_a).select(
        F.col("n").alias("__na"), F.col("s").alias("__sa"), F.col("ss").alias("__ssa")
    )
    b = side(variant_b).select(
        F.col("n").alias("__nb"), F.col("s").alias("__sb"), F.col("ss").alias("__ssb")
    )
    j = a.crossJoin(b)
    ma = F.col("__sa") / F.col("__na")
    mb = F.col("__sb") / F.col("__nb")
    va = (F.col("__ssa") - F.col("__sa") * F.col("__sa") / F.col("__na")) / (
        F.col("__na") - 1
    )
    vb = (F.col("__ssb") - F.col("__sb") * F.col("__sb") / F.col("__nb")) / (
        F.col("__nb") - 1
    )
    se = F.sqrt(va / F.col("__na") + vb / F.col("__nb"))
    return j.select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(mb - ma, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round((mb - ma) / se, 6).alias("z"),
    )


def prefix_rollup(
    df: DataFrame,
    path_col: str,
    value_col: str,
    sep: str = " ",
) -> DataFrame:
    """Hierarchical prefix rollup: each row contributes to EVERY
    prefix of its separator-delimited path ("a b c" -> "a", "a b",
    "a b c") — the URL-directory / category-tree / partition-path
    aggregation, computed in one pass instead of per-level queries.
    Returns (prefix, depth, n, total) with the value sum
    decimal-exact and rounded to 4.

    Scale shape: the prefix explode is a NARROW transform (depth
    multiplies rows by the path length, typically < 10), then one
    partial-agg shuffle on the prefix. No self-joins, no recursion —
    the closure is materialized by construction because prefixes
    enumerate locally."""
    # split ONCE into an attribute before the slice lambda reads it
    # (r15, the word_shingles PERF rule): an inline split referenced
    # inside the transform lambda re-evaluates the regex per prefix
    # depth — O(depth^2) splits per row
    base = df.select(
        F.split(F.col(path_col), sep).alias("__parts"),
        F.col(value_col).cast("decimal(38,10)").alias("__v"),
    )
    parts = F.col("__parts")
    prefixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.struct(
            F.array_join(F.slice(parts, 1, i), sep).alias("prefix"),
            i.cast("int").alias("depth"),
        ),
    )
    return (
        base.select(
            F.explode(prefixes).alias("__p"),
            F.col("__v"),
        )
        .groupBy(F.col("__p.prefix").alias("prefix"), F.col("__p.depth").alias("depth"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("__v").cast("double"), 4).alias("total"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_n: int = 200,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(freq) against ln(rank) for the top ``top_n`` terms — the
    one-number corpus health check (natural text sits near -1;
    boilerplate-heavy or synthetic corpora drift). Returns one row
    (n_terms, slope, intercept), rounded to 6.

    Engine-determinism: the regression inputs are ln() of exact
    integer ranks/counts — identical doubles anywhere — and each
    moment term is rounded to 9 digits then DECIMAL-summed (the
    fellegi_sunter_em contract), so the closed-form fit is
    bit-stable. Scale shape: token count (one shuffle), distributed
    TakeOrdered top-N cut, the N-row ranking window on a declared
    single partition, one scalar aggregate."""
    counts = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("t").asc())
        .limit(top_n)
    )
    # constant-valued but non-foldable partition key (build_vocab trick)
    w = Window.partitionBy(F.pmod(F.col("freq"), F.lit(1))).orderBy(
        F.col("freq").desc(), F.col("t").asc()
    )
    ranked = counts.select(
        F.row_number().over(w).cast("double").alias("__r"),
        F.col("freq").cast("double").alias("__f"),
    )
    x, y = F.log("__r"), F.log("__f")

    def dsum(c: Column, alias: str) -> Column:
        return F.sum(F.round(c, 9).cast("decimal(38,12)")).cast("double").alias(alias)

    g = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        dsum(x, "__sx"),
        dsum(y, "__sy"),
        dsum(x * x, "__sxx"),
        dsum(x * y, "__sxy"),
    )
    slope = (
        F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ) / (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    intercept = (F.col("__sy") - slope * F.col("__sx")) / F.col("__n")
    return g.select(
        F.col("__n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def psi_drift(
    df: DataFrame,
    period_col: str,
    value_col: str,
    baseline,
    current,
    n_bins: int = 10,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    period: fixed-width bins over the GLOBAL value range, per-period
    mass, psi_term = (p_cur - p_base) * ln(p_cur / p_base) with
    epsilon-smoothed fractions — the standard model-monitoring drift
    score (PSI > 0.2 = investigate). Returns one row per bin:
    (bin, lo_edge, n_base, n_cur, frac_base, frac_cur, psi_term),
    fractions and terms rounded to 6; sum psi_term for the headline
    number.

    Scale shape: one broadcast min/max aggregate, a narrow bin
    projection, ONE partial-agg shuffle on (bin) with conditional
    counts. The distribution compare never joins the periods — both
    ride the same aggregation."""
    v = F.col(value_col).cast("double")
    per = F.col(period_col)
    # scoped rows feed the range aggregate AND the binning pass
    scoped = df.filter(per.isin([baseline, current])).transform(materialize, eager=False)
    stats = scoped.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(n_bins)
    bin_ = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("__lo")) / width), F.lit(n_bins - 1)
        )
    ).cast("int")
    binned = scoped.crossJoin(F.broadcast(stats)).select(
        bin_.alias("bin"),
        F.round(F.col("__lo") + bin_ * width, 6).alias("lo_edge"),
        (per == baseline).cast("long").alias("__b"),
        (per == current).cast("long").alias("__c"),
    )
    # the bin table feeds the totals AND the final projection
    counts = binned.groupBy("bin", "lo_edge").agg(
        F.sum("__b").alias("n_base"), F.sum("__c").alias("n_cur")
    ).transform(materialize, eager=False)
    totals = counts.agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    p = F.col("n_base") / F.col("__tb") + epsilon
    q = F.col("n_cur") / F.col("__tc") + epsilon
    return counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "lo_edge",
        F.col("n_base").cast("bigint").alias("n_base"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(F.col("n_base") / F.col("__tb"), 6).alias("frac_base"),
        F.round(F.col("n_cur") / F.col("__tc"), 6).alias("frac_cur"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
    )


def rfm_scores(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """RFM customer scoring: per-user Recency (seconds before the
    dataset's max timestamp), Frequency (event count), Monetary
    (decimal-exact value sum), each cut into quintiles 1-5 against the
    POOLED user distribution (5 = most recent / most frequent /
    highest spend), plus the concatenated segment code ("545"). The
    warehouse segmentation classic.

    Scale shape: one keyed aggregation to users, one 1-row percentile
    aggregate over the user table (interpolating ``percentile``, the
    grouped_percentiles parity anchor), broadcast back as threshold
    comparisons — no global sort, no ntile window."""
    mx = events.agg(F.max(F.col(ts_col)).alias("__mx"))
    users = (
        events.crossJoin(F.broadcast(mx))
        .groupBy(F.col(user_col))
        .agg(
            F.min(
                F.unix_micros(F.col("__mx")) - F.unix_micros(F.col(ts_col))
            ).alias("rec_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col(value_col).cast("decimal(38,10)"))
            .cast("double")
            .alias("monetary"),
        )
        .select(
            user_col,
            # floor, not cast-truncation: cast(double->int) truncates in
            # Spark but rounds in other engines; floor is unambiguous
            F.floor(F.col("rec_us") / F.lit(1_000_000)).cast("long").alias(
                "recency_s"
            ),
            F.col("freq").cast("bigint").alias("freq"),
            "monetary",
        )
        .transform(materialize, eager=False)
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    edges = users.agg(
        *[
            F.expr(f"percentile(recency_s, {p})").alias(f"__r{i}")
            for i, p in enumerate(qs)
        ],
        *[
            F.expr(f"percentile(freq, {p})").alias(f"__f{i}")
            for i, p in enumerate(qs)
        ],
        *[
            F.expr(f"percentile(monetary, {p})").alias(f"__m{i}")
            for i, p in enumerate(qs)
        ],
    )

    def score(col: str, prefix: str, invert: bool) -> Column:
        c = F.col(col)
        s = F.lit(1)
        for i in range(4):
            s = s + (c > F.col(f"__{prefix}{i}")).cast("int")
        return (F.lit(6) - s) if invert else s

    return users.crossJoin(F.broadcast(edges)).select(
        user_col,
        "recency_s",
        "freq",
        F.round("monetary", 4).alias("monetary"),
        score("recency_s", "r", True).alias("r_score"),
        score("freq", "f", False).alias("f_score"),
        score("monetary", "m", False).alias("m_score"),
        F.concat(
            score("recency_s", "r", True).cast("string"),
            score("freq", "f", False).cast("string"),
            score("monetary", "m", False).cast("string"),
        ).alias("segment"),
    )


def mean_shift_changepoint(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Single mean-shift changepoint per key (the first step of binary
    segmentation): the split index minimizing the two-segment squared
    error — equivalently maximizing S_i^2/i + (S_n - S_i)^2/(n - i)
    over prefix sums — the step detector for telemetry level shifts,
    deploy regressions, and metric breaks. Returns per key (n,
    split_i, left_mean, right_mean, delta), means rounded to 6; keys
    with fewer than 2 rows are omitted (no valid split). The caller
    judges significance from delta (or runs ``psi_drift`` on the two
    sides).

    Engine-determinism: prefix and total sums are DECIMAL(38,10)
    (exact, order-independent); the objective is then fixed double
    algebra, identical in any engine, with ties to the earliest index.

    Scale shape: ONE shuffle on the key — the running sum, the total
    sum and the tie-broken argmax all share that partitioning (three
    windows, one exchange). No self-joins, no per-candidate passes."""
    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy(*key_cols)
    dec = F.col(value_col).cast("decimal(38,10)")
    base = df.select(
        *key_cols,
        F.row_number().over(w).alias("__i"),
        F.count(F.lit(1)).over(wall).alias("__n"),
        F.sum(dec).over(wrun).cast("double").alias("__s"),
        F.sum(dec).over(wall).cast("double").alias("__st"),
    ).filter(F.col("__i") < F.col("__n"))
    fobj = (
        F.col("__s") * F.col("__s") / F.col("__i")
        + (F.col("__st") - F.col("__s"))
        * (F.col("__st") - F.col("__s"))
        / (F.col("__n") - F.col("__i"))
    )
    wpick = Window.partitionBy(*key_cols).orderBy(
        fobj.desc(), F.col("__i").asc()
    )
    return (
        base.withColumn("__rn", F.row_number().over(wpick))
        .filter(F.col("__rn") == 1)
        .select(
            *key_cols,
            F.col("__n").cast("bigint").alias("n"),
            F.col("__i").cast("bigint").alias("split_i"),
            F.round(F.col("__s") / F.col("__i"), 6).alias("left_mean"),
            F.round(
                (F.col("__st") - F.col("__s")) / (F.col("__n") - F.col("__i")), 6
            ).alias("right_mean"),
            F.round(
                (F.col("__st") - F.col("__s")) / (F.col("__n") - F.col("__i"))
                - F.col("__s") / F.col("__i"),
                6,
            ).alias("delta"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Cross-group quantile normalization (the microarray/batch-effect
    classic): rank values within each group, average the values at
    each rank ACROSS groups, and give every row the mean of its rank —
    after which every group has an identical distribution. Groups of
    unequal size average over the groups that reach the rank (the
    standard generalization). Returns (group, id, value, rank,
    normalized), normalized rounded to 6.

    Engine-determinism: per-rank means come from DECIMAL(38,10) sums
    of 2-decimal-class inputs. Scale shape: one keyed ranking window
    (group), one partial-agg shuffle on the rank, and a rank-keyed
    join back — no global sort; the rank table is as long as the
    largest group."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = df.select(
        group_col, id_col, F.col(value_col),
        F.row_number().over(w).alias("rank"),
    ).transform(materialize, eager=False)
    means = ranked.groupBy("rank").agg(
        F.round(
            F.sum(F.col(value_col).cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("normalized")
    )
    return ranked.join(means, "rank").select(
        group_col, id_col, value_col, "rank", "normalized"
    )


def rolling_zscore(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    value_col: str,
    window_rows: int = 20,
    threshold: float = 3.0,
    sums: str = "decimal",
) -> DataFrame:
    """Trailing-window anomaly score per key: z of each point against
    the mean/std of the previous ``window_rows`` rows (the point
    itself EXCLUDED, so a spike cannot mask itself) — the standard
    online telemetry anomaly gate. Returns every row plus (roll_mean,
    roll_std, zscore, is_anomaly); the first rows of a key (fewer
    than 2 predecessors) carry NULL z and are never flagged.

    Engine-determinism: windowed sums and sums-of-squares are exact,
    so z is fixed double algebra rounded to 6 and an external engine
    replicates it bit-for-bit. ``sums`` picks the exact engine (the
    ``grouped_normal_equations`` contract, r15):

    - ``"decimal"`` (default): DECIMAL(38,10) accumulators — exact
      for any input decimals, but Spark's sliding frame re-sums the
      whole window per row on boxed decimal arithmetic (~1.4x the
      int64 wall at sf0.1).
    - ``"int64"``: values scaled by 10^4 and summed as BIGINT, the
      scaled sum divided back as decimal before the one double cast —
      bit-identical to the decimal path for inputs whose values (and
      squares) are exact at 4 decimals, at codegen speed. Unlike the
      unbounded grouped sums, a ROWS-bounded frame makes overflow
      structurally impossible for any corpus size (|sum| <=
      window_rows x 10^4 x max|v^2|, loud ANSI failure far beyond
      any telemetry range); >4-decimal inputs are rounded, not
      rejected — keep the default for those.

    Both engines scale/square from the ORIGINAL column in its native
    type (the ``grouped_normal_equations`` recipe, ADVICE r15): a
    decimal-typed input squares exactly WHILE the square's type fits
    decimal(38) — Spark sizes c*c at precision 2p+1 (scale 2s), so
    inputs up to ~decimal(18,s) square losslessly; wider ones are
    silently scale-truncated under spark.sql.decimalOperations
    .allowPrecisionLoss (ADVICE r16) — so both engines are exact to
    their loud/documented bounds, not unconditionally. A DOUBLE-typed input (this container's
    ``events.value``) additionally carries the SILENT double-precision
    bound: ``round(v*v*1e4)`` on double arithmetic recovers the true
    scaled integer only while |v^2|*1e4 < 2^53 (|v| < ~3e7 at 2
    decimals) — beyond it the rounding silently lands on a wrong
    integer with no ANSI failure, in BOTH engines identically (the
    decimal engine casts the already-rounded double square). Keep
    values in a decimal column if the range can exceed that.

    One keyed shuffle; both window frames share it."""
    if sums not in ("decimal", "int64"):
        raise ValueError(f"sums={sums!r}: expected 'decimal' or 'int64'")
    w = (
        Window.partitionBy(part_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-window_rows, -1)
    )
    # c stays in the input's NATIVE type: for decimal columns the
    # square is exact decimal arithmetic (no silent double rounding);
    # for double columns both engines share the documented 2^53 bound
    # (ADVICE r15). v (double) feeds only the mean/z algebra.
    c = F.col(value_col)
    v = c.cast("double")
    n = F.count(F.lit(1)).over(w)
    if sums == "int64":
        s = (
            F.sum(F.round(c * F.lit(10000)).cast("bigint")).over(w)
            .cast("decimal(20,0)") / F.lit(10000)
        ).cast("double")
        ss = (
            F.sum(F.round(c * c * F.lit(10000)).cast("bigint")).over(w)
            .cast("decimal(20,0)") / F.lit(10000)
        ).cast("double")
    else:
        s = F.sum(c.cast("decimal(38,10)")).over(w).cast("double")
        ss = F.sum((c * c).cast("decimal(38,10)")).over(w).cast("double")
    mean = s / n
    var = (ss - s * s / n) / (n - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.when((n >= 2) & (std > 0), F.round((v - mean) / std, 6))
    return df.select(
        *df.columns,
        F.when(n >= 1, F.round(mean, 6)).alias("roll_mean"),
        F.when(n >= 2, F.round(std, 6)).alias("roll_std"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) > threshold, F.lit(False)).alias("is_anomaly"),
    )


def lag_features(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    value_col: str,
    lags: Sequence[int] = (1, 7),
) -> DataFrame:
    """Feature engineering for sequence models: per-key lagged values,
    deltas, and percent change for each requested lag — the columns a
    forecasting or churn model trains on. Returns the input plus
    (lag_<k>, delta_<k>, pct_change_<k>) per lag; pct_change is NULL
    when the lagged value is 0 or missing, rounded to 6.

    One keyed shuffle; every lag shares the same window ordering."""
    w = Window.partitionBy(part_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    v = F.col(value_col).cast("double")
    cols = list(df.columns)
    out = []
    for k in lags:
        lagged = F.lag(v, k).over(w)
        out.append(lagged.alias(f"lag_{k}"))
        out.append(F.round(v - lagged, 6).alias(f"delta_{k}"))
        out.append(
            F.when(
                lagged.isNotNull() & (lagged != 0),
                F.round((v - lagged) / lagged, 6),
            ).alias(f"pct_change_{k}")
        )
    return df.select(*cols, *out)


def topn_with_other(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n: int = 5,
    other_label: str = "OTHER",
) -> DataFrame:
    """Reporting rollup: the top ``n`` keys by decimal-exact value sum
    keep their identity, everything else collapses into one
    ``other_label`` row — the shape every dashboard pie/leaderboard
    needs without shipping the full key cardinality. Returns (key,
    n_rows, total, rank) with the OTHER row ranked n+1.

    Scale shape: one partial-agg shuffle on the key, a distributed
    orderBy().limit() (TakeOrdered) cut for the top set, and a
    broadcast anti-join to aggregate the tail — the tail is never
    sorted."""
    agg = (
        df.groupBy(F.col(key_col).alias("__k"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            # keep the DECIMAL sum: the OTHER row re-aggregates these
            # per-key totals, and a double re-sum would be
            # partitioning-dependent
            F.sum(F.col(value_col).cast("decimal(38,10)")).alias("__td"),
        )
        .withColumn("__t", F.col("__td").cast("double"))
        .transform(materialize, eager=False)
    )
    top = (
        agg.orderBy(F.col("__t").desc(), F.col("__k").asc())
        .limit(n)
        .transform(materialize, eager=False)
    )
    # declared single-partition rank over the n-row table (vocab trick)
    w = Window.partitionBy(F.pmod(F.col("__n"), F.lit(1))).orderBy(
        F.col("__t").desc(), F.col("__k").asc()
    )
    top_ranked = top.select(
        F.col("__k").cast("string").alias(key_col),
        F.col("__n").cast("bigint").alias("n_rows"),
        F.round("__t", 4).alias("total"),
        F.row_number().over(w).cast("int").alias("rank"),
    )
    other = (
        agg.join(F.broadcast(top.select("__k")), "__k", "left_anti")
        .agg(
            F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.round(
                F.coalesce(F.sum("__td").cast("double"), F.lit(0.0)), 4
            ).alias("total"),
        )
        .select(
            F.lit(other_label).alias(key_col),
            "n_rows",
            "total",
            F.lit(n + 1).cast("int").alias("rank"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return top_ranked.unionByName(other)
