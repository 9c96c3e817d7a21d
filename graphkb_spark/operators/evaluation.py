"""Statistical evaluation / dependence operators for training-data
pipelines: categorical dependence profiling (MI / chi-square /
Cramer's V), two-sample Kolmogorov-Smirnov drift, Mann-Whitney AUC,
probability calibration bins (ECE), and importance-weight
diagnostics (effective sample size).

These close the eval loop around the sampling/filtering operators:
``dsir_weights`` produces importance weights -> ``weight_diagnostics``
says whether they collapsed; ``classifier_score`` produces scores ->
``auc_mann_whitney`` and ``calibration_bins`` grade them;
``psi_drift`` bins distributions -> ``ks_two_sample`` is the
bin-free companion test; ``categorical_dependence`` is the
feature-selection / leakage screen over categorical columns.

Engine-determinism contract (shared with zipf_fit / fellegi_sunter):
every floating term that enters a sum is rounded to 9 digits and
DECIMAL(38,12)-summed so the result is bit-stable across partition
orders and engines; all count arithmetic that could overflow a
64-bit int at cluster scale (rank sums, ECDF cross products) runs in
DECIMAL(38,0). Final outputs round to 6.

Scale shapes: every operator is one or two partial-agg shuffles over
a value- or cell-level table plus 1-row broadcast scalars. The two
order-statistics operators (KS, AUC) need a GLOBAL cumulative count;
that is the pareto_frontier_2d two-phase trick — order-aligned RANGE
buckets, an in-bucket window, and the cross-bucket prefix from a
triangular broadcast join over the per-bucket totals (one row per
bucket) — never an unpartitioned window over the data.

Reference behavior note: the reference engine has no statistical
eval layer (it trusts upstream curators); these operators exist for
the LLM-training-data use of this engine, same charter as
operators/sampling.py and operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphkb_spark.core.materialize import materialize
from graphkb_spark.operators.skew import exchange_width

DEC = "decimal(38,12)"
DEC0 = "decimal(38,0)"


def _dsum(c: Column, alias: str) -> Column:
    """Order-independent float sum: round to 9, sum exactly in
    decimal, hand back a double."""
    return F.sum(F.round(c, 9).cast(DEC)).cast("double").alias(alias)


def _prefix_counts(
    df: DataFrame,
    order_col: str,
    count_cols: list[str],
    n_buckets: int | None = None,
) -> DataFrame:
    """Inclusive global running sums of ``count_cols`` in ``order_col``
    order, without an unpartitioned window: range-bucket on the order
    column (sampled boundaries disperse any distribution), cumsum
    within each bucket, then add each bucket's prefix — the sum of all
    EARLIER buckets' totals, from a triangular broadcast join over the
    one-row-per-bucket totals table. Adds ``cum_<c>`` per count col.

    The materialize() pins the sampled range assignment across the
    two consumers (rows + bucket totals); boundaries shape only the
    plan, the running sums are identical whatever the sampler picked.
    """
    n_buckets = n_buckets or exchange_width(df)
    bucketed = (
        df.repartitionByRange(n_buckets, F.col(order_col).asc())
        .withColumn("__b", F.spark_partition_id())
        .transform(materialize, eager=False)
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_in = bucketed
    for c in count_cols:
        with_in = with_in.withColumn(f"__in_{c}", F.sum(c).over(w_in))
    totals = bucketed.groupBy("__b").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in count_cols]
    )
    prior = totals.select(
        F.col("__b").alias("__pb"),
        *[F.col(f"__t_{c}").alias(f"__pt_{c}") for c in count_cols],
    )
    prefix = (
        totals.join(F.broadcast(prior), F.col("__pb") < F.col("__b"), "left")
        .groupBy("__b")
        .agg(
            *[
                F.coalesce(F.sum(f"__pt_{c}"), F.lit(0)).alias(f"__p_{c}")
                for c in count_cols
            ]
        )
    )
    out = with_in.join(F.broadcast(prefix), "__b")
    for c in count_cols:
        out = out.withColumn(
            f"cum_{c}", F.col(f"__in_{c}") + F.col(f"__p_{c}")
        )
    return out.drop(
        "__b",
        *[f"__in_{c}" for c in count_cols],
        *[f"__p_{c}" for c in count_cols],
    )


def categorical_dependence(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Dependence profile of two categorical columns — the
    feature-selection / label-leakage screen. One output row:
    (n, card_x, card_y, h_x, h_y, mi, nmi, chi2, dof, cramers_v),
    entropies/MI in nats, all rounded to 6.

    chi-square over a sparse contingency table without generating the
    zero cells: since the expected counts sum to n over the FULL
    table, chi2 = sum_observed((o-e)^2/e - e) + n — the unobserved
    cells' contribution (their expected mass) is exactly the
    difference between n and the observed cells' expected mass.

    Scale shape: ONE (x, y) partial-agg shuffle builds the cell
    table; marginals, totals, and every scalar reduce from it (cells
    <= card_x * card_y rows); the scalars meet in 1-row broadcast
    crossJoins. NULL categories count as a regular level (dropping
    them silently would bias the test).
    """
    x = F.coalesce(F.col(x_col).cast("string"), F.lit("\x00null"))
    y = F.coalesce(F.col(y_col).cast("string"), F.lit("\x00null"))
    cells = (
        df.select(x.alias("__x"), y.alias("__y"))
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__nxy"))
        .transform(materialize, eager=False)
    )
    mx = cells.groupBy("__x").agg(F.sum("__nxy").alias("__nx"))
    my = cells.groupBy("__y").agg(F.sum("__nxy").alias("__ny"))
    tot = cells.agg(
        F.sum("__nxy").alias("__n"),
        F.count(F.lit(1)).alias("__cells"),
    )
    n = F.col("__n").cast("double")
    # entropy terms from each marginal; p = n_x / n exactly (ints)
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .select(
            (-(F.col("__nx") / n) * F.log(F.col("__nx") / n)).alias("__t")
        )
        .agg(_dsum(F.col("__t"), "h_x"), F.count(F.lit(1)).alias("card_x"))
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .select(
            (-(F.col("__ny") / n) * F.log(F.col("__ny") / n)).alias("__t")
        )
        .agg(_dsum(F.col("__t"), "h_y"), F.count(F.lit(1)).alias("card_y"))
    )
    joined = (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
    )
    nx_d = F.col("__nx").cast("double")
    ny_d = F.col("__ny").cast("double")
    e = nx_d * ny_d / n
    o = F.col("__nxy").cast("double")
    stats = joined.select(
        # marginal products in double: nx * ny as int64 overflows past
        # ~3B-row marginals, which a 100-TB table reaches
        ((o / n) * F.log(o * n / (nx_d * ny_d))).alias("__mi_t"),
        ((o - e) * (o - e) / e - e).alias("__chi_t"),
        "__n",
    ).agg(
        _dsum(F.col("__mi_t"), "__mi"),
        _dsum(F.col("__chi_t"), "__chi_part"),
        F.first("__n").alias("__n"),
    )
    out = stats.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    chi2 = F.col("__chi_part") + F.col("__n")
    mind = F.least(F.col("card_x") - 1, F.col("card_y") - 1)
    return out.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("card_x").cast("bigint").alias("card_x"),
        F.col("card_y").cast("bigint").alias("card_y"),
        F.round("h_x", 6).alias("h_x"),
        F.round("h_y", 6).alias("h_y"),
        F.round("__mi", 6).alias("mi"),
        F.round(
            F.when(
                (F.col("h_x") > 0) & (F.col("h_y") > 0),
                F.col("__mi") / F.sqrt(F.col("h_x") * F.col("h_y")),
            ),
            6,
        ).alias("nmi"),
        F.round(chi2, 6).alias("chi2"),
        ((F.col("card_x") - 1) * (F.col("card_y") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round(
            F.when(
                mind > 0,
                F.sqrt(
                    F.greatest(chi2, F.lit(0.0)) / (F.col("__n") * mind)
                ),
            ),
            6,
        ).alias("cramers_v"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    a,
    b,
    n_buckets: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic between groups ``a``
    and ``b`` of ``value_col`` — the bin-free distribution-drift test
    (psi_drift's companion that needs no bin-width choice). One row:
    (n_a, n_b, d_stat, at_value) where at_value is the SMALLEST value
    attaining the supremum (deterministic tie-break), both rounded 6.

    Exactness: D is found in integer space — at each distinct value
    the ECDF gap |cum_a * n_b - cum_b * n_a| is an exact DECIMAL(38,0)
    cross product (no float ECDFs to disagree about), and only the
    final division by n_a*n_b rounds. Scale shape: one (value)
    partial-agg shuffle, the two-phase bucketed running sum
    (_prefix_counts), a 1-row max, and an equality filter back over
    the value table for the argmax.
    """
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    vc = (
        # a NULL observation has no place in an ECDF — and engines
        # disagree on NULL sort position (Spark windows put NULLs
        # first, ANSI ORDER BY defaults NULLS LAST), so the filter is
        # also what keeps the statistic engine-portable (ADVICE r10)
        df.filter(g.isin([a, b]) & v.isNotNull())
        .select(v.alias("__v"), (g == a).cast("long").alias("__ca"),
                (g == b).cast("long").alias("__cb"))
        .groupBy("__v")
        .agg(F.sum("__ca").alias("na_s"), F.sum("__cb").alias("nb_s"))
    )
    cum = _prefix_counts(vc, "__v", ["na_s", "nb_s"], n_buckets).transform(
        materialize, eager=False
    )
    tot = cum.agg(
        F.sum("na_s").alias("__na"), F.sum("nb_s").alias("__nb")
    )
    diff = F.abs(
        F.col("cum_na_s").cast(DEC0) * F.col("__nb")
        - F.col("cum_nb_s").cast(DEC0) * F.col("__na")
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "__v", diff.alias("__d"), "__na", "__nb"
    )
    md = gaps.agg(F.max("__d").alias("__md"))
    return (
        gaps.join(F.broadcast(md), F.col("__d") == F.col("__md"))
        .agg(
            F.first("__na").alias("__na"),
            F.first("__nb").alias("__nb"),
            F.first("__md").alias("__md"),
            F.min("__v").alias("__at"),
        )
        .select(
            F.col("__na").cast("bigint").alias("n_a"),
            F.col("__nb").cast("bigint").alias("n_b"),
            F.round(
                F.col("__md").cast("double")
                / (F.col("__na").cast("double") * F.col("__nb")),
                6,
            ).alias("d_stat"),
            F.round("__at", 6).alias("at_value"),
        )
    )


def auc_mann_whitney(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """ROC AUC via the Mann-Whitney rank-sum identity, exact under
    ties (average ranks): AUC = (R_pos - n_pos(n_pos+1)/2) /
    (n_pos * n_neg) where R_pos is the positives' midrank sum. One
    row: (n_pos, n_neg, auc), auc rounded 6.

    Midranks never materialize per row: grouped by distinct score s
    with c_s rows (p_s positive) and B_s rows strictly below, every
    row in the tie block has midrank B_s + (c_s + 1) / 2, so
    2 * R_pos = sum_s p_s * (2 * B_s + c_s + 1) — an exact
    DECIMAL(38,0) integer (rank sums overflow int64 past ~4B rows).
    Scale shape: one (score) partial-agg shuffle, the two-phase
    bucketed running count, one scalar aggregate. Label must be
    0/1; rows with NULL label or score are excluded (scored-pool
    semantics).
    """
    lab = F.col(label_col).cast("long")
    s = F.col(score_col).cast("double")
    sc = (
        df.filter(lab.isNotNull() & s.isNotNull())
        .select(s.alias("__s"), lab.alias("__l"))
        .groupBy("__s")
        .agg(F.sum("__l").alias("pos_s"), F.count(F.lit(1)).alias("n_s"))
    )
    cum = _prefix_counts(sc, "__s", ["n_s"], n_buckets)
    below = F.col("cum_n_s") - F.col("n_s")
    agg = cum.agg(
        F.sum(
            F.col("pos_s").cast(DEC0)
            * (F.lit(2).cast(DEC0) * below.cast(DEC0) + F.col("n_s") + 1)
        ).alias("__r2"),
        F.sum("pos_s").cast(DEC0).alias("__np"),
        (F.sum("n_s") - F.sum("pos_s")).cast(DEC0).alias("__nn"),
    )
    auc = (
        (F.col("__r2") - F.col("__np") * (F.col("__np") + 1)).cast("double")
        / (F.lit(2.0) * F.col("__np").cast("double") * F.col("__nn").cast("double"))
    )
    return agg.select(
        F.col("__np").cast("bigint").alias("n_pos"),
        F.col("__nn").cast("bigint").alias("n_neg"),
        F.round(
            F.when((F.col("__np") > 0) & (F.col("__nn") > 0), auc), 6
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier: rows
    bucketed by predicted probability into ``n_bins`` fixed-width
    bins over [0, 1]; per bin the count, mean predicted probability,
    empirical positive rate, the |gap|, and the bin's ECE
    contribution (weight * |gap|) — sum ece_term for the expected
    calibration error. Returns one row per non-empty bin:
    (bin, n, mean_prob, frac_pos, gap, ece_term), floats rounded 6.

    Scale shape: a narrow bin projection and ONE partial-agg shuffle
    on (bin); the grand total joins back from a 1-row broadcast.
    Probabilities outside [0, 1] raise no error but clamp into the
    edge bins (floor/least), matching the fixed-bin contract of
    psi_drift.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    p = F.col(prob_col).cast("double")
    lab = F.col(label_col).cast("long")
    bin_ = F.least(
        F.greatest(F.floor(p * n_bins), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    binned = df.filter(p.isNotNull() & lab.isNotNull()).select(
        bin_.alias("bin"), p.alias("__p"), lab.alias("__l")
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("__p"), 9).cast(DEC)).alias("__sp"),
        F.sum("__l").alias("__pos"),
    ).transform(materialize, eager=False)
    tot = per.agg(F.sum("n").alias("__t"))
    mean_p = F.col("__sp").cast("double") / F.col("n")
    frac = F.col("__pos").cast("double") / F.col("n")
    gap = frac - mean_p
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round(mean_p, 6).alias("mean_prob"),
            F.round(frac, 6).alias("frac_pos"),
            F.round(gap, 6).alias("gap"),
            F.round(
                F.col("n").cast("double") / F.col("__t") * F.abs(gap), 6
            ).alias("ece_term"),
        )
        .orderBy("bin")
    )


def weight_diagnostics(
    df: DataFrame,
    group_col: str,
    weight_col: str,
) -> DataFrame:
    """Importance-weight health per group — the check that runs after
    any weighted-sampling stage (dsir_weights, temperature_sample,
    domain_rebalance): Kish effective sample size
    ESS = (sum w)^2 / sum w^2, its ratio to n (1 = uniform, -> 1/n =
    one row dominates), the largest single weight's share of the
    total, and the coefficient of variation of the weights. One row
    per group: (group, n, sum_w, ess, ess_ratio, max_w_frac, cv),
    floats rounded 6.

    Rows with NULL or non-positive weight are excluded (they carry no
    sampling mass; counting them in n would understate concentration).
    Scale shape: ONE partial-agg shuffle on the group key — every
    statistic is a sum/max the map side combines. Weight moments are
    round-9 DECIMAL sums (order-invariant).
    """
    w = F.col(weight_col).cast("double")
    g = (
        df.filter(w.isNotNull() & (w > 0))
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(w, 9).cast(DEC)).alias("__sw"),
            F.sum(F.round(w * w, 9).cast(DEC)).alias("__sww"),
            F.max(w).alias("__mw"),
        )
    )
    sw = F.col("__sw").cast("double")
    sww = F.col("__sww").cast("double")
    nn = F.col("n").cast("double")
    ess = sw * sw / sww
    return g.select(
        "group",
        F.col("n").cast("bigint").alias("n"),
        F.round(sw, 6).alias("sum_w"),
        F.round(ess, 6).alias("ess"),
        F.round(ess / nn, 6).alias("ess_ratio"),
        F.round(F.col("__mw") / sw, 6).alias("max_w_frac"),
        F.round(
            F.sqrt(F.greatest(nn * sww / (sw * sw) - 1, F.lit(0.0))), 6
        ).alias("cv"),
    )
