"""Record linkage: blocked pair generation + Fellegi-Sunter-style
agreement scoring + EM parameter estimation (linkage_em) for learning
the agreement weights from unlabeled pairs.

Deduplication (operators/dedup.py) asks "are these two TEXTS the same
content?"; record linkage asks "are these two STRUCTURED records the
same entity?" — the match decision is a sum of per-field agreement /
disagreement weights (Fellegi & Sunter, JASA 1969) over pairs drawn
from blocks, never from the cross product. The downstream is shared:
matched pairs feed the same connected-components clustering the text
dedup path uses (operators/dedup.py connected_components), turning
pairwise matches into entity ids.

Scale contract: pair generation is an EQUI-join on the block key —
the fanout is sum(block_size^2), governed entirely by the blocking
choice, and the plan must never contain a cartesian/theta join. For
skewed blocks the standard escalations apply unchanged: tighter
composite block keys, multi-pass blocking (union of two cheap keys
beats one loose key), or the sorted-neighborhood pass
(operators/dedup.py sorted_neighborhood_pairs) whose window bounds
pair fanout by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .caching import cache_scope, cached


def linkage_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    features: list[tuple[str, Column, int, int]],
    threshold: int,
) -> DataFrame:
    """Score within-block record pairs by summed agreement weights and
    keep matches: (id_a, id_b, score, <feature agreement flags...>).

    ``features``: (name, pairwise predicate over a_<col>/b_<col>
    columns, agree_weight, disagree_weight) — weights are INTEGERS
    (scaled log-likelihood ratios), so scores are exact on any engine;
    in the full Fellegi-Sunter treatment the weights are
    ln(m/u)-derived from labeled or EM-estimated match rates, which
    only changes the constants, not this plan. The predicate sees the
    pair frame's ``a_*``/``b_*`` columns.

    One equi-join on the block key with ``id a < id b`` riding along
    (each unordered pair once, never self-pairs), one projection for
    the score — two shuffles total (block join + nothing else; the
    threshold filter is pushed into the join's projection)."""
    sides = {}
    for side in ("a", "b"):
        sides[side] = df.select(
            *[F.col(c).alias(f"_bk_{side}_{c}") for c in block_cols],
            *[
                F.col(c).alias(f"{side}_{c}")
                for c in df.columns
                if c not in block_cols
            ],
            *[F.col(c).alias(f"{side}_{c}") for c in block_cols],
        )
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"_bk_a_{c}") == F.col(f"_bk_b_{c}"))
    pairs = sides["a"].join(sides["b"], cond)
    # Missing comparisons (predicate evaluates to NULL — e.g. equality on
    # a null field) follow the Fellegi-Sunter convention: weight 0, flag
    # NULL. The three-way when keeps the score and the emitted flag
    # consistent (1 <-> +w_agree, 0 <-> -w_disagree, NULL <-> 0).
    score = F.lit(0)
    flags = []
    for name, pred, w_agree, w_disagree in features:
        agree = pred.cast("int")
        score = score + (
            F.when(pred, F.lit(w_agree))
            .when(~pred, F.lit(-w_disagree))
            .otherwise(F.lit(0))
        )
        flags.append(agree.alias(f"agree_{name}"))
    return (
        pairs.select(
            F.col(f"a_{id_col}").alias("id_a"),
            F.col(f"b_{id_col}").alias("id_b"),
            score.cast("int").alias("score"),
            *flags,
        )
        .filter(F.col("score") >= threshold)
    )


def linkage_em(
    pairs: DataFrame,
    flag_cols: list[str],
    iters: int = 2,
    p0: float = 0.125,
    m0: float = 0.75,
    u0: float = 0.25,
    decimals: int = 6,
) -> DataFrame:
    """Fellegi-Sunter parameter estimation by EM over UNLABELED pairs
    (Winkler 1988): learn, per comparison feature, the agreement
    probabilities m = P(agree | match) and u = P(agree | non-match),
    plus the match proportion — the statistically grounded replacement
    for linkage_pairs' hand-set integer weights. Returns one row per
    feature: (feature, m, u, w_agree, w_disagree) with the likelihood
    ratios m/u and (1-m)/(1-u) (take logs downstream if additive
    weights are wanted — emitted as ratios to keep the output free of
    libm, see below).

    Scale + determinism shape:

    - the ONLY data-sized step is one hash aggregate from pairs to
      agreement-PATTERN counts (2^k rows for k features); every EM
      iteration runs on that model-sized frame as fixed-shape column
      expressions — never a second pass over the pairs;
    - E-step responsibilities are quantized to the 2^-12 grid
      (floor(r * 4096 + 0.5) / 4096): grid multiples are EXACT doubles,
      so the M-step sums of r * n are exact integers-over-4096 and
      therefore ORDER-FREE — the cross-engine float-sum hazard
      (partition-order +-1 ulp) is designed out rather than tolerated.
      A 2^-12 responsibility grid perturbs the fixpoint far below the
      1e-6 output rounding;
    - initial parameters default to exact binary fractions, divisions
      are single IEEE ops, and no transcendental function appears —
      every arithmetic step is bit-identical on any IEEE-754 engine
      evaluating the same expression shape (the oracle unrolls the same
      ``iters`` iterations);
    - NULL agreement flags follow the SAME missing-data convention as
      linkage_pairs (missing = no information, weight 0): a null flag
      contributes a factor of 1 to both the match and non-match
      likelihoods in the E-step, and the feature's M-step ratios
      m_j / u_j are taken over the NON-NULL rows only (per-feature
      denominators) — folding missing into "disagree" would bias m and
      u downward exactly on the features with many null comparisons.
      A feature observed on ZERO rows keeps its current estimate.
    """
    k = len(flag_cols)
    p, ms, us = float(p0), [float(m0)] * k, [float(u0)] * k
    # the pattern frame is a cut for the fit: every EM iteration takes
    # one action over it, and without the cut each action re-runs the
    # whole data-sized pair generation + aggregate
    with cache_scope():
        pat = cached(pairs.groupBy(
            *[F.col(c).cast("int").alias(f"g{j}") for j, c in enumerate(flag_cols)]
        ).agg(F.count(F.lit(1)).cast("double").alias("n")))
        for _ in range(iters):
            pm = F.lit(p)
            pu = F.lit(1.0 - p)
            for j in range(k):
                gcol = F.col(f"g{j}")
                pm = pm * (
                    F.when(gcol.isNull(), F.lit(1.0))
                    .when(gcol == 1, F.lit(ms[j]))
                    .otherwise(F.lit(1.0 - ms[j]))
                )
                pu = pu * (
                    F.when(gcol.isNull(), F.lit(1.0))
                    .when(gcol == 1, F.lit(us[j]))
                    .otherwise(F.lit(1.0 - us[j]))
                )
            r = F.floor(pm / (pm + pu) * F.lit(4096.0) + F.lit(0.5)) / F.lit(
                4096.0
            )
            agg = pat.select(
                (F.col("n") * r).alias("rn"),
                ((F.lit(1.0) - r) * F.col("n")).alias("sn"),
                F.col("n"),
                *[
                    (F.col("n") * r * F.col(f"g{j}")).alias(f"rg{j}")
                    for j in range(k)
                ],
                *[
                    ((F.lit(1.0) - r) * F.col("n") * F.col(f"g{j}")).alias(
                        f"sg{j}"
                    )
                    for j in range(k)
                ],
                # per-feature M-step denominators: responsibility mass over
                # the rows where the feature was OBSERVED (non-null flag) —
                # null-flag pairs carry no evidence about feature j
                *[
                    F.when(F.col(f"g{j}").isNotNull(), F.col("n") * r).alias(
                        f"rnj{j}"
                    )
                    for j in range(k)
                ],
                *[
                    F.when(
                        F.col(f"g{j}").isNotNull(), (F.lit(1.0) - r) * F.col("n")
                    ).alias(f"snj{j}")
                    for j in range(k)
                ],
            ).agg(
                F.sum("rn").alias("rn"),
                F.sum("sn").alias("sn"),
                F.sum("n").alias("nn"),
                *[F.sum(f"rg{j}").alias(f"rg{j}") for j in range(k)],
                *[F.sum(f"sg{j}").alias(f"sg{j}") for j in range(k)],
                *[F.sum(f"rnj{j}").alias(f"rnj{j}") for j in range(k)],
                *[F.sum(f"snj{j}").alias(f"snj{j}") for j in range(k)],
            )
            row = agg.first()
            p = row["rn"] / row["nn"]
            ms = [
                row[f"rg{j}"] / row[f"rnj{j}"] if row[f"rnj{j}"] else ms[j]
                for j in range(k)
            ]
            us = [
                row[f"sg{j}"] / row[f"snj{j}"] if row[f"snj{j}"] else us[j]
                for j in range(k)
            ]
    scale = float(10**decimals)

    def _r(x: float) -> float:
        import math

        return math.floor(x * scale + 0.5) / scale

    spark = pairs.sparkSession
    out = [
        (
            flag_cols[j],
            _r(ms[j]),
            _r(us[j]),
            _r(ms[j] / us[j]),
            _r((1.0 - ms[j]) / (1.0 - us[j])),
        )
        for j in range(k)
    ]
    return spark.createDataFrame(
        out, "feature string, m double, u double, w_agree double, w_disagree double"
    )
