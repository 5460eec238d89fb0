"""Feature-engineering primitives for training-data pipelines:
out-of-fold target encoding, weight-of-evidence / information-value
binning, per-key OLS trend fitting, and sample-based approximate
aggregation with a confidence interval.

These are the tabular-ML siblings of the corpus operators (dedup,
quality gates, DSIR): the transforms a feature platform runs over the
same 100 TB fact tables before a model ever sees them. Every operator
here is a narrow aggregate or join — one or two key-bounded shuffles,
no pair blow-up, no driver-side loops — and every float leaves through
the house determinism rules (exact DECIMAL sums, identical double
expression shape on both engines, count-ratios rounded with the
floor(x*1eN+0.5) form, libm outputs rounded last).

Reference parity note: the reference engine (gmall realtime DW) stops at
dim-enriched aggregates; this module is part of the north-star extension
surface (SURVEY §2 'beyond the reference' families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "target_encode_oof",
    "woe_iv",
    "ols_trend",
    "aqp_sum_estimate",
    "mutual_information",
    "conformal_split",
    "stratified_ate",
]

_DEC = "decimal(18,6)"


def target_encode_oof(
    df: DataFrame,
    key_col: str,
    fold_col: str,
    target_col: str,
    smoothing: float = 20.0,
    out_round: int = 6,
) -> DataFrame:
    """K-fold out-of-fold mean-target encoding with additive smoothing:
    for every (key, fold) the encoded value is computed from rows
    OUTSIDE that fold only —

        enc(key, f) = (sum_oof(key,f) + m * prior(f))
                      / (cnt_oof(key,f) + m)
        prior(f)    = global out-of-fold mean for fold f

    — the standard leakage-safe construction (a row's own target never
    contributes to its own feature). Returns one row per (key, fold):
    (key, fold, n_oof, enc).

    Execution shape (the 100 TB argument): ONE (key, fold) groupBy over
    the fact table is the only data-sized shuffle. Per-key totals come
    from a window over the already-aggregated (key x fold)-sized frame
    (partitioned by key — parallel, never a single-task global window),
    per-fold and global totals from two further aggregates of that same
    tiny frame (folds-sized, broadcast back). Cost is one pass + one
    shuffle of the fact table regardless of K.

    Determinism: target sums ride DECIMAL(18,6) (exact, order-free),
    every difference is computed in decimal, and the final double
    division has the identical expression shape in the DuckDB oracle.
    A key whose rows all fall in one fold degrades to enc = prior(f)
    (the m-weighted limit), not NULL.
    """
    a = df.groupBy(
        F.col(key_col).alias("key"), F.col(fold_col).alias("fold")
    ).agg(
        F.sum(F.col(target_col).cast(_DEC)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    wk = Window.partitionBy("key")
    a = a.withColumn("ks", F.sum("s").over(wk)).withColumn(
        "kc", F.sum("c").over(wk)
    )
    perfold = a.groupBy("fold").agg(
        F.sum("s").alias("fs"), F.sum("c").alias("fc")
    )
    tot = perfold.agg(F.sum("fs").alias("gs"), F.sum("fc").alias("gc"))
    pf = F.broadcast(
        perfold.crossJoin(F.broadcast(tot)).select(
            "fold",
            # nullif: with a SINGLE fold there is no out-of-fold data
            # anywhere — the prior is honestly undefined (NULL), and
            # under Spark's ANSI default an unguarded /0 would throw
            ((F.col("gs") - F.col("fs")).cast("double")
             / F.nullif(
                 (F.col("gc") - F.col("fc")).cast("double"), F.lit(0.0)
             )).alias("prior"),
        )
    )
    m = F.lit(float(smoothing))
    enc = (
        ((F.col("ks") - F.col("s")).cast("double") + m * F.col("prior"))
        / ((F.col("kc") - F.col("c")).cast("double") + m)
    )
    return a.join(pf, "fold").select(
        F.col("key"),
        F.col("fold"),
        (F.col("kc") - F.col("c")).cast("long").alias("n_oof"),
        F.round(enc, out_round).alias("enc"),
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    bad_col,
    out_round: int = 6,
) -> DataFrame:
    """Weight of Evidence / Information Value per feature bin — the
    classic credit-scoring feature screen:

        woe(i) = ln( ((good_i + 0.5)/G) / ((bad_i + 0.5)/B) )
        iv(i)  = (good_i/G - bad_i/B) * woe(i)

    with the 0.5 Laplace adjustment so empty cells stay finite.
    ``bad_col`` is a boolean Column marking the bad outcome. Returns one
    row per bin: (bin, n, n_bad, woe, iv), plus the bin's share of the
    total IV readable by summing ``iv``.

    Execution shape: ONE groupBy(feature) over the fact table, then a
    1-row scalar totals aggregate broadcast back (the house 1-row
    crossJoin) — a single data-sized shuffle.

    Determinism: counts are exact integers; the ratio inside ln is a
    single double division of exactly-representable products (IEEE
    mult/div are deterministic), so both engines hand ln the identical
    double; ln itself may differ in the last ulp, so woe is rounded to
    ``out_round`` BEFORE iv is computed from it (iv inherits the pinned
    woe rather than re-exposing libm drift).
    """
    a = df.groupBy(F.col(feature_col).alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(bad_col, 1).otherwise(0)).alias("n_bad"),
    )
    tot = a.agg(
        F.sum("n").alias("tn"), F.sum("n_bad").alias("tb")
    )
    a = a.crossJoin(F.broadcast(tot))
    good = (F.col("n") - F.col("n_bad")).cast("double")
    bad = F.col("n_bad").cast("double")
    tg = (F.col("tn") - F.col("tb")).cast("double")
    tb = F.col("tb").cast("double")
    # nullif: an all-good or all-bad corpus zeroes a marginal — WOE is
    # honestly undefined there (NULL), and ANSI /0 would throw. The
    # zero-NUMERATOR side (tb=0 -> ratio 0) needs the same guard: Spark
    # ln(0) is NULL but DuckDB raises, so pin both engines to NULL by
    # nullif-ing the ratio itself.
    ratio = F.nullif(
        ((good + F.lit(0.5)) * tb)
        / F.nullif((bad + F.lit(0.5)) * tg, F.lit(0.0)),
        F.lit(0.0),
    )
    woe = F.round(F.log(ratio), out_round)
    iv = F.round(
        (good / F.nullif(tg, F.lit(0.0)) - bad / F.nullif(tb, F.lit(0.0)))
        * woe,
        out_round,
    )
    return a.select(
        F.col("bin"),
        F.col("n").cast("long").alias("n"),
        F.col("n_bad").cast("long").alias("n_bad"),
        woe.alias("woe"),
        iv.alias("iv"),
    )


def ols_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    out_round: int = 6,
) -> DataFrame:
    """Per-key ordinary-least-squares line fit from sufficient
    statistics: one aggregate computes (n, Sx, Sy, Sxy, Sxx, Syy) per
    key and the closed forms

        slope     = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        intercept = (Sy - slope*Sx) / n
        r2        = (n*Sxy - Sx*Sy)^2
                    / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    give the per-key trend — the "is this series growing" primitive for
    every key at once, without MLlib and without per-key collects.
    Returns (key, n, slope, intercept, r2); slope/r2 are NULL for
    degenerate keys (no x-variance / no y-variance).

    Execution shape: ONE groupBy(key) — the sufficient-statistic trick
    makes regression a partial-aggregable map-side-combine aggregate,
    the same cost as a sum. ``x_col`` must be integral (e.g. a day
    offset from a fixed origin) and ``y_col`` numeric.

    Determinism: Sx/Sxx are exact integer sums; Sy/Sxy/Syy ride
    DECIMAL(18,6) products of y with the integer x (exact, order-free);
    the closed forms run in double with the identical expression shape
    on both engines (IEEE mult/div/sub are deterministic given identical
    inputs), rounded at the very end.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast(_DEC)
    a = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = cov / F.nullif(dx, F.lit(0.0))
    r2 = (cov * cov) / F.nullif(dx * dy, F.lit(0.0))
    return a.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.round(slope, out_round).alias("slope"),
        F.round((sy - slope * sx) / n, out_round).alias("intercept"),
        F.round(r2, out_round).alias("r2"),
    )


def aqp_sum_estimate(
    df: DataFrame,
    id_col,
    value_col: str,
    hex_prefix_lt: str = "04",
    z: float = 1.96,
) -> DataFrame:
    """Approximate SUM by deterministic hash sampling, with a normal
    confidence interval AND the exact answer on the same row — the
    approximate-query-processing pattern plus its own audit:

    sampling   include rows where substr(md5(id), 1, 2) < hex_prefix_lt
               (p = int(hex_prefix_lt, 16)/256 — deterministic,
               engine-portable, reproducible run to run)
    estimator  T_hat = S/p  (Horvitz-Thompson for Bernoulli(p) sampling)
    variance   V_hat = S2 * (1-p)/p^2  (Bernoulli design variance with
               the sampled squares as the total-of-squares estimate)
    interval   T_hat +/- z*sqrt(V_hat)

    Returns ONE row: (n_total, n_sample, exact_total, est_total,
    rel_err_pct, ci_lo, ci_hi, covered).

    Execution shape / why it matters at 100 TB: the estimator path
    aggregates only the ~p fraction of rows (conditional sums share one
    scan here so the exact audit rides along; drop the exact columns and
    the filter pushes to the scan). A dashboard that tolerates +/-1%
    reads 1/64th of the data.

    Determinism: S, S2 and the exact total ride DECIMAL (exact,
    order-free); p and z are literals; double mult/div/sqrt are
    IEEE-deterministic, so even sqrt needs no rounding slack — outputs
    are rounded for display, not for parity.
    """
    p = int(hex_prefix_lt, 16) / 256.0
    samp = F.substring(F.md5(id_col.cast("string")), 1, 2) < F.lit(hex_prefix_lt)
    v = F.col(value_col).cast(_DEC)
    a = df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(samp, 1).otherwise(0)).alias("n_sample"),
        F.sum(v).alias("exact_s"),
        F.sum(F.when(samp, v)).alias("s"),
        F.sum(F.when(samp, v * v)).alias("s2"),
    )
    pl = F.lit(p)
    est = F.col("s").cast("double") / pl
    se = F.sqrt(F.col("s2").cast("double") * (F.lit(1.0) - pl) / (pl * pl))
    exact = F.col("exact_s").cast("double")
    lo = est - F.lit(z) * se
    hi = est + F.lit(z) * se
    return a.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_sample").cast("long").alias("n_sample"),
        F.round(exact, 2).alias("exact_total"),
        F.round(est, 2).alias("est_total"),
        F.round(
            (est - exact) / F.nullif(exact, F.lit(0.0)) * F.lit(100.0), 4
        ).alias("rel_err_pct"),
        F.round(lo, 2).alias("ci_lo"),
        F.round(hi, 2).alias("ci_hi"),
        ((lo <= exact) & (exact <= hi)).alias("covered"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    out_round: int = 6,
) -> DataFrame:
    """Mutual information (and entropies, and normalized MI) between two
    categorical columns, in ONE pass over the joint distribution:

        MI  = sum_xy (c_xy/N) * ln(c_xy*N / (c_x*c_y))
        H_x = -sum_x (c_x/N) * ln(c_x/N)
        NMI = MI / sqrt(H_x * H_y)

    Returns ONE row: (n, mi, h_x, h_y, nmi) — the model-free feature
    screen that catches nonlinear association WOE/IV linearizes away.

    Execution shape: one groupBy(x,y) over the facts is the only
    data-sized shuffle; marginals come from windows over the joint
    (partitioned by x / by y — parallel), the final reduce is one scalar
    aggregate of a (|x|*|y|)-sized frame.

    Determinism (the libm-sum trap and its fix): a SUM of ln() terms is
    doubly nondeterministic — ln differs in the last ulp across engines
    AND double summation is order-dependent. So each per-cell ln is
    first pinned to a scaled BIGINT (floor(ln*1e9 + 0.5)), then weighted
    by the integer cell count and summed as exact integers; the single
    final division is IEEE-deterministic. Both engines run the identical
    recipe.
    """
    joint = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).alias("cxy"))
    joint = joint.withColumn(
        "cx", F.sum("cxy").over(Window.partitionBy("x"))
    ).withColumn("cy", F.sum("cxy").over(Window.partitionBy("y")))
    # N via the house 1-row scalar broadcast (never a global window)
    joint = joint.crossJoin(
        F.broadcast(joint.groupBy().agg(F.sum("cxy").alias("n")))
    )

    def _lnsc(expr):
        return F.floor(F.log(expr) * F.lit(1e9) + F.lit(0.5)).cast("long")

    # weights ride DECIMAL so the weighted ln-sums stay exact past the
    # int64 range (N * max|ln| * 1e9 passes 9.2e18 around N ~ 6e8 rows)
    cxy_dec = F.col("cxy").cast("decimal(19,0)")
    cxy = F.col("cxy").cast("double")
    mi_term = cxy_dec * _lnsc(
        cxy * F.col("n").cast("double")
        / (F.col("cx").cast("double") * F.col("cy").cast("double"))
    )
    agg = joint.groupBy().agg(
        F.max("n").alias("n"),
        F.sum(mi_term).alias("mi_s"),
        # H_x / H_y from the marginals, folded over the joint cells:
        # sum_cells cxy*ln(cx/N) == sum_x cx*ln(cx/N) because the cells
        # sharing an x sum their cxy to exactly cx
        F.sum(cxy_dec * _lnsc(
            F.col("cx").cast("double") / F.col("n").cast("double")
        )).alias("hx_s"),
        F.sum(cxy_dec * _lnsc(
            F.col("cy").cast("double") / F.col("n").cast("double")
        )).alias("hy_s"),
    )
    nd = F.col("n").cast("double")
    mi = F.col("mi_s").cast("double") / (nd * F.lit(1e9))
    hx = -F.col("hx_s").cast("double") / (nd * F.lit(1e9))
    hy = -F.col("hy_s").cast("double") / (nd * F.lit(1e9))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(mi, out_round).alias("mi"),
        F.round(hx, out_round).alias("h_x"),
        F.round(hy, out_round).alias("h_y"),
        # nullif: a constant column has zero entropy — NMI undefined
        F.round(
            mi / F.nullif(F.sqrt(hx * hy), F.lit(0.0)), out_round
        ).alias("nmi"),
    )


def conformal_split(
    df: DataFrame,
    key_col: str,
    fold_col: str,
    y_col: str,
    alpha: float = 0.1,
    out_round: int = 6,
) -> DataFrame:
    """Per-key split-conformal prediction interval with its own
    coverage audit: fold 0 fits the (per-key mean) point model, fold 1
    calibrates q_hat = the ceil((1-alpha)*(n_cal+1))-th smallest
    absolute residual, fold 2 measures realized coverage — the
    distribution-free interval construction, finite-sample valid at
    level 1-alpha under exchangeability. Returns one row per key:
    (key, n_cal, n_test, q_hat, coverage).

    Execution shape: one groupBy(key) for the model, one key-partitioned
    window (row_number over residuals) for the order statistic, one
    groupBy(key) for coverage — all parallel by key, no global sort.
    Keys whose calibration fold is too small for the order statistic
    (k > n_cal) report NULL q_hat and NULL coverage (the honest
    infinite-interval case), not a silent clamp.

    Determinism: the model mean is an exact-DECIMAL sum divided once in
    double; residuals, the selected order statistic and the coverage
    comparisons are all IEEE mult/sub/compare of identical doubles —
    rounding happens only at output.
    """
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(fold_col).alias("fold"),
        F.col(y_col).cast(_DEC).alias("y"),
    )
    mu = (
        base.filter(F.col("fold") == 0)
        .groupBy("key")
        .agg(
            (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("mu")
        )
    )
    resid = base.filter(F.col("fold").isin(1, 2)).join(
        F.broadcast(mu), "key"
    ).select(
        "key",
        "fold",
        F.abs(F.col("y").cast("double") - F.col("mu")).alias("r"),
    )
    cal = resid.filter(F.col("fold") == 1)
    ncal = cal.groupBy("key").agg(F.count(F.lit(1)).alias("n_cal"))
    k = F.ceil(F.lit(1.0 - alpha) * (F.col("n_cal") + 1).cast("double"))
    wr = Window.partitionBy("key").orderBy("r")
    qhat = (
        cal.withColumn("rn", F.row_number().over(wr))
        .join(F.broadcast(ncal), "key")
        .filter(F.col("rn") == k)
        .select("key", "n_cal", F.col("r").alias("q_hat"))
    )
    # keys where k > n_cal simply have no rn == k row -> right-join the
    # n_cal frame back so they surface with NULL q_hat
    qhat = ncal.join(qhat.drop("n_cal"), "key", "left")
    test = resid.filter(F.col("fold") == 2)
    cov = (
        test.join(F.broadcast(qhat), "key")
        .groupBy("key", "n_cal", "q_hat")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0)
            ).alias("n_cov"),
        )
    )
    coverage = F.floor(
        F.col("n_cov").cast("double") / F.col("n_test").cast("double")
        * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return cov.select(
        "key",
        F.col("n_cal").cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        F.round(F.col("q_hat"), out_round).alias("q_hat"),
        F.when(F.col("q_hat").isNotNull(), coverage).alias("coverage"),
    )


def stratified_ate(
    df: DataFrame,
    stratum_col: str,
    treated_col,
    y_col: str,
    out_round: int = 6,
) -> DataFrame:
    """Stratified average-treatment-effect estimate (exact subclass
    adjustment — the closed-form causal baseline that needs no fitted
    propensity model):

        ATE = sum over two-armed strata s of
              (n_s / n_used) * (mean_t(s) - mean_c(s))

    where ``n_used`` is the row total of strata with BOTH arms observed
    — weights renormalize over the strata that actually enter the
    estimate, so they sum to 1 even when one-armed strata are dropped
    (dropped strata are counted in ``n_strata_dropped``; reported,
    never silently imputed). The naive unadjusted difference
    and the implied confounding bias ride the same row — the point of
    the operator is the naive-vs-adjusted gap. Returns ONE row:
    (n, n_strata_used, n_strata_dropped, ate, naive_diff, bias).

    Execution shape: ONE groupBy(stratum) with conditional sums is the
    only data-sized pass; the strata-sized frame reduces to a scalar.

    Determinism: arm sums ride DECIMAL; each stratum's mean difference
    is a deterministic double pinned to a scaled BIGINT
    (floor(diff*1e6+0.5)) and weighted by the integer n_s into a
    DECIMAL sum — exact and order-free — so the strata fold can never
    drift; the naive means divide exact decimals once.
    """
    t = F.when(treated_col, 1).otherwise(0)
    g = df.groupBy(F.col(stratum_col).alias("s")).agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum(t).alias("nt"),
        F.sum(F.when(treated_col, F.col(y_col).cast(_DEC))).alias("st"),
        F.sum(F.when(~treated_col, F.col(y_col).cast(_DEC))).alias("sc"),
    )
    both = (F.col("nt") > 0) & (F.col("nt") < F.col("n_s"))
    mt = F.col("st").cast("double") / F.col("nt").cast("double")
    mc = F.col("sc").cast("double") / (F.col("n_s") - F.col("nt")).cast(
        "double"
    )
    diff_sc = F.floor((mt - mc) * F.lit(1e6) + F.lit(0.5)).cast("long")
    agg = g.groupBy().agg(
        F.sum("n_s").alias("n"),
        F.sum(F.when(both, 1).otherwise(0)).alias("used"),
        F.sum(F.when(~both, 1).otherwise(0)).alias("dropped"),
        F.sum(
            F.when(both, F.col("n_s").cast("decimal(19,0)") * diff_sc)
        ).alias("ate_s"),
        F.sum(F.when(both, F.col("n_s"))).alias("n_used"),
        F.sum("st").alias("st_all"),
        F.sum("nt").alias("nt_all"),
        F.sum("sc").alias("sc_all"),
    )
    ate = F.col("ate_s").cast("double") / (
        F.col("n_used").cast("double") * F.lit(1e6)
    )
    # nullif: a corpus with no treated (or no control) rows anywhere
    # has no naive contrast — NULL, not an ANSI /0 throw
    naive = F.col("st_all").cast("double") / F.nullif(
        F.col("nt_all").cast("double"), F.lit(0.0)
    ) - (
        F.col("sc_all").cast("double")
        / F.nullif((F.col("n") - F.col("nt_all")).cast("double"), F.lit(0.0))
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("used").cast("long").alias("n_strata_used"),
        F.col("dropped").cast("long").alias("n_strata_dropped"),
        F.round(ate, out_round).alias("ate"),
        F.round(naive, out_round).alias("naive_diff"),
        F.round(naive - ate, out_round).alias("bias"),
    )
