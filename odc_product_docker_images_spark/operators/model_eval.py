"""Model-evaluation metrics over scored examples (SURVEY.md §2.9
extension — the offline-eval tier of the LLM-data pipeline: every
quality-filter model (``text_quality_lr_step``), dedup threshold, and
retrieval ranker ships with a ROC/AUC report before its cutoff is
frozen).

Examples are the embeddings table: score = first embedding component,
positive = label < 5 — a deliberately weak "model" (AUC ≈ 0.5) so the
metrics, not the classifier, are what's under test.

Both keys are EXACT integer-arithmetic forms, no float tolerance: ROC
points are integer TP/FP counts at every distinct score, and AUC uses
the tie-averaged rank-sum identity with the doubled-rank trick (2·R₁ is
always an integer), so the only float ops are final divisions of exact
integers — identical IEEE on both engines.

Scale shape (100 TB of scored examples): one score-grouped count
shuffle, then ``functions/prefix.global_prefix``'s two-pass scan over the
distinct scores, as in ``agg_ks_test``: range-partitioned cumsums plus a
per-slice offset table broadcast back.  No single-task global window, no
driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import (
    davg,
    dec_cast,
    dround,
    dsum,
    exact_double,
    sql_davg,
    sql_dec_cast,
    sql_dround,
    sql_dsum,
    sql_exact_double,
)
from ..functions.prefix import global_prefix
from ..io import load
from ..registry import register
from ..textvec.similarity import dot as dot_me


def _scored_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distinct-score positive/negative counts with global inclusive
    prefix counts and totals — the shared ECDF scaffold for the ROC keys.

    Columns: score, cp, cn (group counts), gp, gn (global inclusive
    cumulative counts in ascending score order), p, n (class totals).
    Scores are distinct after the group-by, so ``global_prefix``'s ROWS
    prefix is the oracle's RANGE frame.
    """
    emb = load(spark, sf_dir, "embeddings")
    g = (
        emb.select(
            F.element_at("embedding", 1).cast("double").alias("score"),
            (F.col("label") < 5).cast("long").alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.sum("pos").alias("cp"),
            (F.count(F.lit(1)) - F.sum("pos")).alias("cn"),
        )
    )
    return global_prefix(g, ["score"], sums={"gp": "cp", "gn": "cn"}).select(
        "score",
        "cp",
        "cn",
        "gp",
        "gn",
        F.col("gp_total").alias("p"),
        F.col("gn_total").alias("n"),
    )


_SQL_GROUPS = """
        WITH s AS (
            SELECT embedding[1]::DOUBLE AS score,
                   CAST(label < 5 AS BIGINT) AS pos
            FROM embeddings
        ), g AS (
            SELECT score, SUM(pos) AS cp, COUNT(*) - SUM(pos) AS cn
            FROM s GROUP BY score
        ), cum AS (
            SELECT score, cp, cn,
                   SUM(cp) OVER (ORDER BY score) AS gp,
                   SUM(cn) OVER (ORDER BY score) AS gn,
                   SUM(cp) OVER () AS p,
                   SUM(cn) OVER () AS n
            FROM g
        )
"""


@register(
    "ml_roc_curve",
    oracle=_SQL_GROUPS
    + """
        SELECT score AS threshold,
               CAST(p - (gp - cp) AS BIGINT) AS tp,
               CAST(n - (gn - cn) AS BIGINT) AS fp,
               CAST(p - (gp - cp) AS DOUBLE)
                   / NULLIF(CAST(p AS DOUBLE), CAST(0.0 AS DOUBLE)) AS tpr,
               CAST(n - (gn - cn) AS DOUBLE)
                   / NULLIF(CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)) AS fpr
        FROM cum
    """,
)
def ml_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: full ROC curve — integer TP/FP at every distinct score
    threshold (predict positive when score ≥ t), from one score-grouped
    pass + the ``global_prefix`` ECDF scaffold.  TP at t is
    P − #(positives below t), i.e. totals minus the exclusive prefix —
    no descending re-sort needed.  TPR/FPR are single divisions of
    exact integers."""
    cum = _scored_groups(spark, sf_dir)
    tp = F.col("p") - (F.col("gp") - F.col("cp"))
    fp = F.col("n") - (F.col("gn") - F.col("cn"))
    return cum.select(
        F.col("score").alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        (
            tp.cast("double") / F.nullif(F.col("p").cast("double"), F.lit(0.0))
        ).alias("tpr"),
        (
            fp.cast("double") / F.nullif(F.col("n").cast("double"), F.lit(0.0))
        ).alias("fpr"),
    )


@register(
    "ml_auc_exact",
    oracle=_SQL_GROUPS
    + """
        SELECT CAST(SUM(cp * (2 * (gp + gn - cp - cn) + (cp + cn) + 1))
                    - MAX(p) * (MAX(p) + 1) AS BIGINT) AS auc_num2,
               CAST(MAX(p) AS BIGINT) AS n_pos,
               CAST(MAX(n) AS BIGINT) AS n_neg,
               CAST(SUM(cp * (2 * (gp + gn - cp - cn) + (cp + cn) + 1))
                    - MAX(p) * (MAX(p) + 1) AS DOUBLE)
                   / NULLIF(CAST(2 AS DOUBLE) * MAX(p) * MAX(n), CAST(0.0 AS DOUBLE)) AS auc
        FROM cum
    """,
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: exact ROC AUC via the tie-averaged Mann-Whitney rank-sum
    identity, AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) — kept in integers with
    the doubled-rank trick: a tie group occupying ranks [a, b] gives
    each member average rank (a+b)/2, so 2·R₁ sums cp·(2·c_lt + m + 1)
    per group (c_lt = examples strictly below, m = group size), always
    an integer.  The one float op is the final division.  Semantic
    cross-check: equals the trapezoidal integral of ``ml_roc_curve``
    (pinned in tests).  Same ECDF scaffold as the curve."""
    cum = _scored_groups(spark, sf_dir)
    c_lt = F.col("gp") + F.col("gn") - F.col("cp") - F.col("cn")
    m = F.col("cp") + F.col("cn")
    two_r1 = F.sum(F.col("cp") * (2 * c_lt + m + 1))
    num = two_r1 - F.max("p") * (F.max("p") + 1)
    return cum.agg(
        num.cast("long").alias("auc_num2"),
        F.max("p").cast("long").alias("n_pos"),
        F.max("n").cast("long").alias("n_neg"),
        (
            num.cast("double")
            / F.nullif(
                F.lit(2.0) * F.max("p").cast("double") * F.max("n").cast("double"),
                F.lit(0.0),
            )
        ).alias("auc"),
    )


_CAL_STEEP = 10.0  # sigmoid steepness: spreads ±0.4 scores over ~[0.02, 0.98]


@register(
    "ml_calibration_bins",
    oracle=f"""
        WITH s AS (
            SELECT {sql_dround(
                "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
                f" + EXP(-CAST({_CAL_STEEP!r} AS DOUBLE)"
                " * embedding[1]::DOUBLE))"
            )} AS prob,
                   CAST(label < 5 AS BIGINT) AS pos
            FROM embeddings
        )
        SELECT CAST(FLOOR(prob * CAST(10.0 AS DOUBLE)) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_davg("prob", "mean_prob")},
               CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS frac_pos
        FROM s GROUP BY 1
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: reliability-diagram bins — mean predicted probability vs
    observed positive rate per decile of a sigmoid-calibrated score: the
    calibration check that accompanies every AUC report before a filter
    threshold ships.  One map-side-combinable pass; the sigmoid rounds
    6 dp per row (libm exp policy) BEFORE binning and the decimal-path
    mean, so bin assignment is identical on both engines; frac_pos is an
    exact int/int division."""
    emb = load(spark, sf_dir, "embeddings")
    prob = dround(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(-F.lit(_CAL_STEEP) * F.element_at("embedding", 1).cast("double"))
        )
    )
    s = emb.select(
        prob.alias("prob"), (F.col("label") < 5).cast("long").alias("pos")
    )
    return s.groupBy(
        F.floor(F.col("prob") * F.lit(10.0)).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        davg("prob", "mean_prob"),
        (F.sum("pos").cast("double") / F.count(F.lit(1))).alias("frac_pos"),
    )


@register(
    "ml_confusion_metrics",
    oracle="""
        WITH s AS (
            SELECT label,
                   CAST(FLOOR((embedding[1]::DOUBLE + CAST(0.5 AS DOUBLE))
                              * CAST(10.0 AS DOUBLE)) AS BIGINT) % 10 AS pred
            FROM embeddings
        ), pairs AS (
            SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM s GROUP BY label, pred
        ), roles AS (
            SELECT label AS class, 'a' AS role,
                   CAST(label = pred AS BIGINT) AS is_tp, cnt FROM pairs
            UNION ALL
            SELECT pred AS class, 'p' AS role,
                   CAST(label = pred AS BIGINT) AS is_tp, cnt FROM pairs
        )
        SELECT class,
               CAST(SUM(CASE WHEN role = 'a' THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_true,
               CAST(SUM(CASE WHEN role = 'p' THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_pred,
               CAST(SUM(CASE WHEN role = 'a' AND is_tp = 1
                             THEN cnt ELSE 0 END) AS BIGINT) AS tp,
               CASE WHEN SUM(CASE WHEN role = 'p' THEN cnt ELSE 0 END) > 0
                    THEN CAST(SUM(CASE WHEN role = 'a' AND is_tp = 1
                                       THEN cnt ELSE 0 END) AS DOUBLE)
                         / SUM(CASE WHEN role = 'p' THEN cnt ELSE 0 END)
               END AS precision_,
               CASE WHEN SUM(CASE WHEN role = 'a' THEN cnt ELSE 0 END) > 0
                    THEN CAST(SUM(CASE WHEN role = 'a' AND is_tp = 1
                                       THEN cnt ELSE 0 END) AS DOUBLE)
                         / SUM(CASE WHEN role = 'a' THEN cnt ELSE 0 END)
               END AS recall_,
               CAST(2 * SUM(CASE WHEN role = 'a' AND is_tp = 1
                                 THEN cnt ELSE 0 END) AS DOUBLE)
                   / (SUM(CASE WHEN role = 'a' THEN cnt ELSE 0 END)
                      + SUM(CASE WHEN role = 'p' THEN cnt ELSE 0 END)) AS f1
        FROM roles GROUP BY class
    """,
)
def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: per-class precision / recall / F1 for a deterministic decile
    pseudo-classifier — the confusion-matrix rollup.  The corpus
    collapses to one (label, pred) pair count; the per-class rollup
    UNPIVOTS each pair row into its two class roles (actual/predicted)
    so ONE aggregation covers row and column sums of the confusion
    matrix — no second corpus branch, robust to classes with an empty
    diagonal.  F1 uses the join-free identity 2TP/(n_true+n_pred); all
    ratios are exact int/int divisions with zero-guards."""
    emb = load(spark, sf_dir, "embeddings")
    pred = (
        F.floor((F.element_at("embedding", 1).cast("double") + F.lit(0.5)) * F.lit(10.0))
        .cast("long")
        % 10
    )
    pairs = (
        emb.select(F.col("label").cast("long").alias("label"), pred.alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    is_tp = (F.col("label") == F.col("pred")).cast("long")
    roles = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("label").alias("class"),
                    F.lit("a").alias("role"),
                    is_tp.alias("is_tp"),
                    F.col("cnt").alias("cnt"),
                ),
                F.struct(
                    F.col("pred").alias("class"),
                    F.lit("p").alias("role"),
                    is_tp.alias("is_tp"),
                    F.col("cnt").alias("cnt"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    a_cnt = F.sum(F.when(F.col("role") == "a", F.col("cnt")).otherwise(0))
    p_cnt = F.sum(F.when(F.col("role") == "p", F.col("cnt")).otherwise(0))
    tp = F.sum(
        F.when((F.col("role") == "a") & (F.col("is_tp") == 1), F.col("cnt")).otherwise(0)
    )
    return roles.groupBy("class").agg(
        a_cnt.cast("long").alias("n_true"),
        p_cnt.cast("long").alias("n_pred"),
        tp.cast("long").alias("tp"),
        F.when(p_cnt > 0, tp.cast("double") / p_cnt).alias("precision_"),
        F.when(a_cnt > 0, tp.cast("double") / a_cnt).alias("recall_"),
        ((F.lit(2.0) * tp) / (a_cnt + p_cnt)).alias("f1"),
    )


@register(
    "ml_isotonic_pava",
    doc="rows-only: iterative pooling — numpy/pure-Python pytest oracles",
)
def ml_isotonic_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: isotonic-regression calibration fit via PAVA (pool adjacent
    violators) — the nonparametric upgrade of ``ml_calibration_bins``:
    fit a monotone nondecreasing map score→P(pos) with no bin-width
    choice.  Fit independently per cross-validation fold (vec_id mod 4)
    — the production shape: folds partition the corpus, each fold's fit
    is sequential-in-rank but fold-local, so ``applyInPandas`` gets one
    Arrow batch per fold and nothing touches the driver.  PAVA is
    iterative pooling (not SQL-expressible) → rows-only driver check;
    the pytest oracle re-fits with an independent pure-Python stack
    implementation and asserts the monotone/pool-mean/interleaving
    properties.  Output: one row per example with its fitted calibrated
    probability."""
    import pandas as pd  # local: Arrow-path only

    emb = load(spark, sf_dir, "embeddings")
    pts = emb.select(
        (F.col("vec_id") % 4).cast("long").alias("fold"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") < 5).cast("double").alias("y"),
    )

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["score", "vec_id"]).reset_index(drop=True)
        y = pdf["y"].to_numpy(dtype="float64")
        # PAVA with stack of (level, weight) blocks
        levels: list[float] = []
        weights: list[float] = []
        counts: list[int] = []
        for val in y:
            levels.append(float(val)); weights.append(1.0); counts.append(1)
            while len(levels) > 1 and levels[-2] > levels[-1]:
                w = weights[-2] + weights[-1]
                lv = (levels[-2] * weights[-2] + levels[-1] * weights[-1]) / w
                levels[-2:] = [lv]; weights[-2:] = [w]
                counts[-2:] = [counts[-2] + counts[-1]]
            # float64 block means are exact rationals (y ∈ {0,1}) up to
            # IEEE division; deterministic single-threaded fold order
        fitted = [lv for lv, c in zip(levels, counts) for _ in range(c)]
        pdf["fitted"] = fitted
        return pdf[["fold", "vec_id", "score", "y", "fitted"]]

    return pts.groupBy("fold").applyInPandas(
        fit, schema="fold long, vec_id long, score double, y double, fitted double"
    )


@register(
    "ml_decision_stump",
    oracle=_SQL_GROUPS
    + """
        , splits AS (
            SELECT score AS threshold,
                   gp AS lp, gn AS ln_,
                   p - gp AS rp, n - gn AS rn_,
                   gp + gn AS nl, (p + n) - (gp + gn) AS nr,
                   p + n AS ntot
            FROM cum WHERE (gp + gn) < (p + n)
        ), scored_splits AS (
            SELECT threshold, nl, nr,
                   (CAST(nl AS DOUBLE) * (1.0
                        - (CAST(lp AS DOUBLE) / nl) * (CAST(lp AS DOUBLE) / nl)
                        - (CAST(ln_ AS DOUBLE) / nl) * (CAST(ln_ AS DOUBLE) / nl))
                    + CAST(nr AS DOUBLE) * (1.0
                        - (CAST(rp AS DOUBLE) / nr) * (CAST(rp AS DOUBLE) / nr)
                        - (CAST(rn_ AS DOUBLE) / nr) * (CAST(rn_ AS DOUBLE) / nr)))
                   / ntot AS wgini
            FROM splits
        )
        SELECT threshold,
               CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
               CAST(CAST(CAST(ROUND(CAST(CAST(wgini AS VARCHAR) AS DECIMAL(30,10)), 6)
                    AS DECIMAL(24,6)) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
                   AS weighted_gini
        FROM scored_splits
        ORDER BY weighted_gini ASC, threshold ASC
        LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: decision-stump training — the best single threshold on the
    score axis by weighted Gini impurity: the inner loop of every tree
    learner (and the 1-D special case of a split finder), run as a SCAN
    over split candidates instead of per-candidate passes.  The same
    grouped-ECDF scaffold as the ROC keys already gives each candidate
    threshold its left/right class counts as exact integers, so scoring
    ALL n-1 splits is one projection; the winner is a limit-1
    TakeOrdered on the 6 dp-rounded impurity with the threshold
    tie-break.  At 100 TB: one score-grouped shuffle, impurity map-side,
    no iteration."""
    cum = _scored_groups(spark, sf_dir)
    nl = F.col("gp") + F.col("gn")
    ntot = F.col("p") + F.col("n")
    splits = cum.where(nl < ntot).select(
        F.col("score").alias("threshold"),
        F.col("gp").alias("lp"),
        F.col("gn").alias("ln_"),
        (F.col("p") - F.col("gp")).alias("rp"),
        (F.col("n") - F.col("gn")).alias("rn_"),
        nl.alias("nl"),
        (ntot - nl).alias("nr"),
        ntot.alias("ntot"),
    )
    def gini(pos, neg, tot):
        fp = pos.cast("double") / tot
        fn = neg.cast("double") / tot
        return F.lit(1.0) - fp * fp - fn * fn

    wg = (
        F.col("nl").cast("double") * gini(F.col("lp"), F.col("ln_"), F.col("nl"))
        + F.col("nr").cast("double") * gini(F.col("rp"), F.col("rn_"), F.col("nr"))
    ) / F.col("ntot")
    scored = splits.select(
        "threshold",
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        dround(wg).alias("weighted_gini"),
    )
    return scored.orderBy(
        F.col("weighted_gini").asc(), F.col("threshold").asc()
    ).limit(1)


@register(
    "agg_cohens_kappa",
    oracle="""
        WITH s AS (
            SELECT CAST(label < 5 AS BIGINT) AS truth,
                   CAST(embedding[1]::DOUBLE > 0.0 AS BIGINT) AS pred
            FROM embeddings
        ), cells AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(truth * pred) AS BIGINT) AS tp,
                   CAST(SUM(truth * (1 - pred)) AS BIGINT) AS fn,
                   CAST(SUM((1 - truth) * pred) AS BIGINT) AS fp,
                   CAST(SUM((1 - truth) * (1 - pred)) AS BIGINT) AS tn
            FROM s
        )
        SELECT n, tp, fp, fn, tn,
               CAST(tp + tn AS DOUBLE) / n AS po,
               (CAST(tp + fn AS DOUBLE) * (tp + fp)
                + CAST(fp + tn AS DOUBLE) * (fn + tn))
                   / (CAST(n AS DOUBLE) * n) AS pe,
               (CAST(tp + tn AS DOUBLE) / n
                - (CAST(tp + fn AS DOUBLE) * (tp + fp)
                   + CAST(fp + tn AS DOUBLE) * (fn + tn))
                  / (CAST(n AS DOUBLE) * n))
               / NULLIF(CAST(1.0 AS DOUBLE)
                  - (CAST(tp + fn AS DOUBLE) * (tp + fp)
                     + CAST(fp + tn AS DOUBLE) * (fn + tn))
                    / (CAST(n AS DOUBLE) * n), CAST(0.0 AS DOUBLE)) AS kappa
        FROM cells
    """,
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: Cohen's kappa — chance-corrected agreement between the
    sign-of-score rater and the label rater: the statistic that exposes
    "95% agreement" on a 95%-skewed base rate as worthless.  κ =
    (p_o − p_e)/(1 − p_e) with p_e from the raters' marginals.  One
    conditional aggregate to four exact-integer cells; every ratio is a
    fixed IEEE chain on those integers (divisions of exact ints —
    unrounded, cross-engine identical)."""
    emb = load(spark, sf_dir, "embeddings")
    s = emb.select(
        (F.col("label") < 5).cast("long").alias("truth"),
        (F.element_at("embedding", 1).cast("double") > 0.0)
        .cast("long")
        .alias("pred"),
    )
    cells = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("truth") * F.col("pred")).cast("long").alias("tp"),
        F.sum(F.col("truth") * (1 - F.col("pred"))).cast("long").alias("fn"),
        F.sum((1 - F.col("truth")) * F.col("pred")).cast("long").alias("fp"),
        F.sum((1 - F.col("truth")) * (1 - F.col("pred"))).cast("long").alias("tn"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("tp") + F.col("tn")).cast("double") / F.col("n")
    pe = (
        (F.col("tp") + F.col("fn")).cast("double") * (F.col("tp") + F.col("fp"))
        + (F.col("fp") + F.col("tn")).cast("double") * (F.col("fn") + F.col("tn"))
    ) / (nd * F.col("n"))
    return cells.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))).alias("kappa"),
    )


_CA_ITEMS = 4  # first four embedding components as the "scale items"


@register(
    "agg_cronbach_alpha",
    oracle=f"""
        WITH items AS (
            SELECT embedding[1]::DOUBLE AS x1, embedding[2]::DOUBLE AS x2,
                   embedding[3]::DOUBLE AS x3, embedding[4]::DOUBLE AS x4,
                   embedding[1]::DOUBLE + embedding[2]::DOUBLE
                     + embedding[3]::DOUBLE + embedding[4]::DOUBLE AS xs
            FROM embeddings
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {", ".join(
                       f'{sql_dsum(f"x{i}", f"s{i}")}, '
                       f'{sql_dsum(f"x{i} * x{i}", f"q{i}")}'
                       for i in range(1, 5)
                   )},
                   {sql_dsum("xs", "ss")}, {sql_dsum("xs * xs", "qs")}
            FROM items
        ), vars_ AS (
            SELECT n,
                   {" + ".join(
                       sql_dround(f"(q{i} - s{i} * s{i} / n) / n")
                       for i in range(1, 5)
                   )} AS sum_item_var,
                   {sql_dround("(qs - ss * ss / n) / n")} AS total_var
            FROM stats
        )
        SELECT n AS n_obs,
               CAST({_CA_ITEMS} AS INT) AS k_items,
               {sql_dround("sum_item_var")} AS sum_item_var, total_var,
               {sql_dround(
                   f"(CAST({_CA_ITEMS} AS DOUBLE) / ({_CA_ITEMS} - 1))"
                   " * (CAST(1.0 AS DOUBLE)"
                   " - sum_item_var / NULLIF(total_var, CAST(0.0 AS DOUBLE)))"
               )} AS alpha
        FROM vars_
    """,
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9: Cronbach's alpha over the first {_CA_ITEMS} embedding
    components treated as scale items — the internal-consistency
    reliability coefficient (α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total)) every
    survey/composite-metric pipeline reports before averaging items.
    Near-orthogonal embedding dims give α ≈ 0 — the honest reading for
    uncorrelated items; correlated metrics push it toward 1.

    One sufficient-statistics pass (per-item and row-sum moments through
    the decimal path), then fixed algebra on a 1-row table; population
    variances and α round 6 dp."""
    emb = load(spark, sf_dir, "embeddings")
    xs = [F.element_at("embedding", i).cast("double").alias(f"x{i}") for i in range(1, 5)]
    items = emb.select(*xs).withColumn(
        "xs", sum(F.col(f"x{i}") for i in range(1, 5))
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(1, 5):
        aggs.append(dsum(f"x{i}", f"s{i}"))
        aggs.append(dsum(F.col(f"x{i}") * F.col(f"x{i}"), f"q{i}"))
    aggs.append(dsum("xs", "ss"))
    aggs.append(dsum(F.col("xs") * F.col("xs"), "qs"))
    stats = items.agg(*aggs)

    def var(q, s):
        return dround((F.col(q) - F.col(s) * F.col(s) / F.col("n")) / F.col("n"))

    sum_iv = sum(var(f"q{i}", f"s{i}") for i in range(1, 5))
    tot_v = var("qs", "ss")
    out = stats.select(
        F.col("n").alias("n_obs"),
        F.lit(_CA_ITEMS).cast("int").alias("k_items"),
        dround(sum_iv).alias("sum_item_var"),
        tot_v.alias("total_var"),
        dround(
            (F.lit(float(_CA_ITEMS)) / (_CA_ITEMS - 1))
            * (F.lit(1.0) - sum_iv / F.nullif(tot_v, F.lit(0.0)))
        ).alias("alpha"),
    )
    return out


_PLATT_A0, _PLATT_B0 = 1.0, 0.0  # Newton start


@register(
    "ml_platt_scaling_step",
    oracle=f"""
        WITH s AS (
            SELECT embedding[1]::DOUBLE AS x,
                   CAST(label < 5 AS BIGINT) AS y
            FROM embeddings
        ), p AS (
            SELECT x, y,
                   {sql_dround(
                       "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
                       f" + EXP(-(CAST({_PLATT_A0!r} AS DOUBLE) * x"
                       f" + CAST({_PLATT_B0!r} AS DOUBLE))))"
                   )} AS pr
            FROM s
        ), terms AS (
            SELECT {sql_dsum("(pr - y) * x", "ga")},
                   {sql_dsum("pr - y", "gb")},
                   {sql_dsum("pr * (1.0 - pr) * x * x", "haa")},
                   {sql_dsum("pr * (1.0 - pr) * x", "hab")},
                   {sql_dsum("pr * (1.0 - pr)", "hbb")}
            FROM p
        )
        SELECT ga, gb, haa, hab, hbb,
               {sql_dround(
                   f"CAST({_PLATT_A0!r} AS DOUBLE)"
                   " - (ga * hbb - gb * hab) / (haa * hbb - hab * hab)"
               )} AS a1,
               {sql_dround(
                   f"CAST({_PLATT_B0!r} AS DOUBLE)"
                   " - (gb * haa - ga * hab) / (haa * hbb - hab * hab)"
               )} AS b1
        FROM terms
    """,
)
def ml_platt_scaling_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: one Newton step of Platt scaling — fit sigmoid(a·score + b)
    to the labels by log-loss, the PARAMETRIC calibration companion to
    ``ml_isotonic_pava`` (two parameters instead of a step function;
    production stacks run a handful of these steps offline).  Gradient
    and Hessian are five decimal-path sufficient sums; the 2×2 Newton
    solve is Cramer's rule on a 1-row table (the ridge/Cramer idiom).
    Verify-the-step / induct-on-the-loop, like kmeans/pagerank/BPE.
    Per-row sigmoids round 6 dp (libm) before the sums; the updated
    (a₁, b₁) round 6 dp."""
    emb = load(spark, sf_dir, "embeddings")
    pr = dround(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -(
                    F.lit(_PLATT_A0) * F.element_at("embedding", 1).cast("double")
                    + F.lit(_PLATT_B0)
                )
            )
        )
    )
    p = emb.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        (F.col("label") < 5).cast("long").alias("y"),
        pr.alias("pr"),
    )
    w = F.col("pr") * (F.lit(1.0) - F.col("pr"))
    terms = p.agg(
        dsum((F.col("pr") - F.col("y")) * F.col("x"), "ga"),
        dsum(F.col("pr") - F.col("y"), "gb"),
        dsum(w * F.col("x") * F.col("x"), "haa"),
        dsum(w * F.col("x"), "hab"),
        dsum(w, "hbb"),
    )
    det = F.col("haa") * F.col("hbb") - F.col("hab") * F.col("hab")
    return terms.select(
        "ga",
        "gb",
        "haa",
        "hab",
        "hbb",
        dround(
            F.lit(_PLATT_A0)
            - (F.col("ga") * F.col("hbb") - F.col("gb") * F.col("hab")) / det
        ).alias("a1"),
        dround(
            F.lit(_PLATT_B0)
            - (F.col("gb") * F.col("haa") - F.col("ga") * F.col("hab")) / det
        ).alias("b1"),
    )


@register(
    "ml_auc_delong_se",
    oracle=_SQL_GROUPS
    + f"""
        , place AS (
            SELECT cp, cn,
                   ((gn - cn) + cn / 2.0)
                       / NULLIF(CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)) AS v10,
                   ((p - gp) + cp / 2.0)
                       / NULLIF(CAST(p AS DOUBLE), CAST(0.0 AS DOUBLE)) AS v01,
                   p, n
            FROM cum
        ), moments AS (
            SELECT MAX(p) AS n1, MAX(n) AS n0,
                   {sql_exact_double("SUM(" + sql_dec_cast("cp * v10") + ")")}
                       AS s10,
                   {sql_exact_double(
                       "SUM(" + sql_dec_cast("cp * v10 * v10") + ")"
                   )} AS q10,
                   {sql_exact_double("SUM(" + sql_dec_cast("cn * v01") + ")")}
                       AS s01,
                   {sql_exact_double(
                       "SUM(" + sql_dec_cast("cn * v01 * v01") + ")"
                   )} AS q01
            FROM place
        )
        SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
               {sql_dround("s10 / NULLIF(CAST(n1 AS DOUBLE), CAST(0.0 AS DOUBLE))")} AS auc,
               {sql_dround("(q10 - s10 * s10 / NULLIF(CAST(n1 AS DOUBLE), CAST(0.0 AS DOUBLE))) / NULLIF(CAST(n1 - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))")} AS var_v10,
               {sql_dround("(q01 - s01 * s01 / NULLIF(CAST(n0 AS DOUBLE), CAST(0.0 AS DOUBLE))) / NULLIF(CAST(n0 - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))")} AS var_v01,
               {sql_dround(
                   "SQRT((q10 - s10 * s10 / NULLIF(CAST(n1 AS DOUBLE),"
                   " CAST(0.0 AS DOUBLE)))"
                   " / NULLIF(CAST(n1 - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))"
                   " / NULLIF(CAST(n1 AS DOUBLE), CAST(0.0 AS DOUBLE))"
                   " + (q01 - s01 * s01 / NULLIF(CAST(n0 AS DOUBLE),"
                   " CAST(0.0 AS DOUBLE)))"
                   " / NULLIF(CAST(n0 - 1 AS DOUBLE), CAST(0.0 AS DOUBLE))"
                   " / NULLIF(CAST(n0 AS DOUBLE), CAST(0.0 AS DOUBLE)))"
               )} AS delong_se
        FROM moments
    """,
)
def ml_auc_delong_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11: DeLong standard error of the AUC — the confidence interval
    every honest AUC report carries: per-positive placements V₁₀ (the
    fraction of negatives below, ties half) and per-negative V₀₁, whose
    sample variances give SE = √(S₁₀/n₁ + S₀₁/n₀).  The placements fall
    straight out of the SAME grouped-ECDF scaffold as
    ``ml_roc_curve``/``ml_auc_exact`` (no per-pair work — DeLong's
    structural components ARE the ECDF), and the mean placement must
    reproduce the exact AUC (pinned in tests).  Placement moments ride
    the decimal path; variances and SE round 6 dp."""
    cum = _scored_groups(spark, sf_dir)
    v10 = ((F.col("gn") - F.col("cn")) + F.col("cn") / 2.0) / F.nullif(
        F.col("n").cast("double"), F.lit(0.0)
    )
    v01 = ((F.col("p") - F.col("gp")) + F.col("cp") / 2.0) / F.nullif(
        F.col("p").cast("double"), F.lit(0.0)
    )
    place = cum.select(
        "cp", "cn", "p", "n", v10.alias("v10"), v01.alias("v01")
    )
    s10 = exact_double(F.sum(dec_cast(F.col("cp") * F.col("v10"))))
    q10 = exact_double(
        F.sum(dec_cast(F.col("cp") * F.col("v10") * F.col("v10")))
    )
    s01 = exact_double(F.sum(dec_cast(F.col("cn") * F.col("v01"))))
    q01 = exact_double(
        F.sum(dec_cast(F.col("cn") * F.col("v01") * F.col("v01")))
    )
    moments = place.agg(
        F.max("p").alias("n1"),
        F.max("n").alias("n0"),
        s10.alias("s10"),
        q10.alias("q10"),
        s01.alias("s01"),
        q01.alias("q01"),
    )
    var10 = (
        F.col("q10")
        - F.col("s10") * F.col("s10") / F.nullif(F.col("n1").cast("double"), F.lit(0.0))
    ) / F.nullif((F.col("n1") - 1).cast("double"), F.lit(0.0))
    var01 = (
        F.col("q01")
        - F.col("s01") * F.col("s01") / F.nullif(F.col("n0").cast("double"), F.lit(0.0))
    ) / F.nullif((F.col("n0") - 1).cast("double"), F.lit(0.0))
    return moments.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        dround(
            F.col("s10") / F.nullif(F.col("n1").cast("double"), F.lit(0.0))
        ).alias("auc"),
        dround(var10).alias("var_v10"),
        dround(var01).alias("var_v01"),
        dround(
            F.sqrt(
                var10 / F.nullif(F.col("n1").cast("double"), F.lit(0.0))
                + var01 / F.nullif(F.col("n0").cast("double"), F.lit(0.0))
            )
        ).alias(
            "delong_se"
        ),
    )


_NDCG_K = 10
_LOG2 = 0.6931471805599453  # ln 2: discount = ln(i+1)/ln 2


@register(
    "ml_ndcg_at_k",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, label,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), q AS (
            SELECT * FROM n WHERE vec_id % 50 = 0 AND vec_id < 500
        ), scored AS (
            SELECT q.vec_id AS qid, b.vec_id AS bid,
                   CAST(q.label = b.label AS INTEGER) AS rel,
                   ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                         i -> q.e[i] * b.e[i])) / (q.nrm * b.nrm), 6) AS cos
            FROM q JOIN n b ON q.vec_id != b.vec_id
        ), ranked AS (
            SELECT qid, rel,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, bid ASC) AS rk,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY rel DESC, cos DESC, bid ASC)
                       AS ideal_rk
            FROM scored
        ), gains AS (
            SELECT qid,
                   {sql_exact_double(
                       "SUM(CASE WHEN rk <= " + str(_NDCG_K) + " THEN "
                       + sql_dec_cast(
                           "rel * CAST(" + repr(_LOG2) + " AS DOUBLE)"
                           " / LN(rk + 1.0)"
                       ) + " END)"
                   )} AS dcg,
                   {sql_exact_double(
                       "SUM(CASE WHEN ideal_rk <= " + str(_NDCG_K) + " THEN "
                       + sql_dec_cast(
                           "rel * CAST(" + repr(_LOG2) + " AS DOUBLE)"
                           " / LN(ideal_rk + 1.0)"
                       ) + " END)"
                   )} AS idcg
            FROM ranked GROUP BY qid
        )
        SELECT qid AS vec_id, COALESCE(dcg, 0.0) AS dcg, idcg,
               CASE WHEN idcg > 0.0
                    THEN {sql_dround("COALESCE(dcg, 0.0) / idcg")}
                    ELSE CAST(0.0 AS DOUBLE) END AS ndcg_at_k
        FROM gains
    """,
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12: NDCG@{_NDCG_K} for cosine retrieval against label-match
    relevance over the fixed query panel — the graded ranking metric
    every retrieval/rerank stack reports beside recall (position
    discounting is what separates it from hit-rate).  DCG uses the
    standard 1/log₂(rank+1) discount; the ideal ranking re-sorts by
    relevance first, giving a per-query normalizer.

    Shape: one broadcast-panel pass scores candidates; both the actual
    and ideal rankings are row_number windows over the per-query
    partitions (panel-bounded, the matryoshka convention); the top-k
    gains reduce through the decimal path; NDCG rounds 6 dp.  Cosines
    round 6 dp before ranking so order is cross-engine frozen."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_me(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = n.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    joined = n.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    cos = F.round(
        dot_me(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = joined.select(
        "qid",
        F.col("vec_id").alias("bid"),
        (F.col("qlabel") == F.col("label")).cast("int").alias("rel"),
        cos.alias("cos"),
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("bid").asc()
    )
    w_ideal = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("cos").desc(), F.col("bid").asc()
    )
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number().over(w_rank).alias("rk"),
        F.row_number().over(w_ideal).alias("ideal_rk"),
    )
    gain = F.col("rel") * F.lit(_LOG2) / F.log(F.col("rk") + 1.0)
    igain = F.col("rel") * F.lit(_LOG2) / F.log(F.col("ideal_rk") + 1.0)
    gains = ranked.groupBy("qid").agg(
        exact_double(
            F.sum(F.when(F.col("rk") <= _NDCG_K, dec_cast(gain)))
        ).alias("dcg"),
        exact_double(
            F.sum(F.when(F.col("ideal_rk") <= _NDCG_K, dec_cast(igain)))
        ).alias("idcg"),
    )
    return gains.select(
        F.col("qid").alias("vec_id"),
        F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
        "idcg",
        F.when(
            F.col("idcg") > 0.0,
            dround(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")),
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg_at_k"),
    )


_RAK_K = 10


@register(
    "ml_recall_at_k",
    oracle=f"""
        WITH n AS (
            SELECT vec_id, label,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), q AS (
            SELECT * FROM n WHERE vec_id % 50 = 0 AND vec_id < 500
        ), scored AS (
            SELECT q.vec_id AS qid, b.vec_id AS bid,
                   CAST(q.label = b.label AS INTEGER) AS rel,
                   ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                         i -> q.e[i] * b.e[i])) / (q.nrm * b.nrm), 6) AS cos
            FROM q JOIN n b ON q.vec_id != b.vec_id
        ), ranked AS (
            SELECT qid, rel,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, bid ASC) AS rk,
                   CAST(SUM(rel) OVER (PARTITION BY qid) AS BIGINT)
                       AS n_relevant
            FROM scored
        )
        SELECT qid AS vec_id,
               CAST(MAX(n_relevant) AS BIGINT) AS n_relevant,
               CAST(SUM(CASE WHEN rk <= {_RAK_K} THEN rel ELSE 0 END)
                    AS BIGINT) AS hits_at_k,
               CAST(SUM(CASE WHEN rk <= {_RAK_K} THEN rel ELSE 0 END)
                    AS DOUBLE) / {_RAK_K} AS precision_at_k,
               CAST(SUM(CASE WHEN rk <= {_RAK_K} THEN rel ELSE 0 END)
                    AS DOUBLE)
                   / LEAST(MAX(n_relevant), {_RAK_K}) AS recall_at_k
        FROM ranked GROUP BY qid
    """,
)
def ml_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: precision@{_RAK_K} and (budget-normalized) recall@{_RAK_K}
    for cosine retrieval over the fixed panel — the unweighted
    companions of ``ml_ndcg_at_k`` (recall normalizes by
    min(relevant, k), the standard bounded form when relevant sets
    exceed the budget).  Same broadcast-panel scoring; the per-query
    relevant total is a window on the SAME query partitioning as the
    rank; hits are exact integers, the two ratios exact divisions."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(dot_me(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    q = n.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    joined = n.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    cos = F.round(
        dot_me(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = joined.select(
        "qid",
        F.col("vec_id").alias("bid"),
        (F.col("qlabel") == F.col("label")).cast("int").alias("rel"),
        cos.alias("cos"),
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("bid").asc()
    )
    w_q = Window.partitionBy("qid")
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("rel").over(w_q).cast("long").alias("n_relevant"),
    )
    hits = F.sum(F.when(F.col("rk") <= _RAK_K, F.col("rel")).otherwise(0))
    return ranked.groupBy("qid").agg(
        F.max("n_relevant").cast("long").alias("n_relevant"),
        hits.cast("long").alias("hits_at_k"),
        (hits.cast("double") / _RAK_K).alias("precision_at_k"),
        (
            hits.cast("double")
            / F.least(F.max("n_relevant"), F.lit(_RAK_K))
        ).alias("recall_at_k"),
    ).withColumnRenamed("qid", "vec_id")


_PLATT_ITERS = 3  # unrolled Newton steps


def _platt_loop_oracle(iters: int) -> str:
    """Chained-CTE oracle for K unrolled Platt Newton steps — the state
    is the 1-row (a, b) table, re-derived per round with the step's
    exact rounding discipline."""
    parts = [
        f"""
        WITH s AS (
            SELECT embedding[1]::DOUBLE AS x,
                   CAST(label < 5 AS BIGINT) AS y
            FROM embeddings
        ), ab0 AS (
            SELECT CAST({_PLATT_A0!r} AS DOUBLE) AS a,
                   CAST({_PLATT_B0!r} AS DOUBLE) AS b
        )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", p{i} AS (
            SELECT x, y,
                   {sql_dround(
                       "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
                       " + EXP(-(a * x + b)))"
                   )} AS pr
            FROM s CROSS JOIN ab{i - 1}
        ), t{i} AS (
            SELECT {sql_dsum("(pr - y) * x", "ga")},
                   {sql_dsum("pr - y", "gb")},
                   {sql_dsum("pr * (1.0 - pr) * x * x", "haa")},
                   {sql_dsum("pr * (1.0 - pr) * x", "hab")},
                   {sql_dsum("pr * (1.0 - pr)", "hbb")}
            FROM p{i}
        ), ab{i} AS (
            SELECT {sql_dround(
                "pv.a - (t.ga * t.hbb - t.gb * t.hab)"
                " / (t.haa * t.hbb - t.hab * t.hab)"
            )} AS a,
                   {sql_dround(
                "pv.b - (t.gb * t.haa - t.ga * t.hab)"
                " / (t.haa * t.hbb - t.hab * t.hab)"
            )} AS b,
                   t.ga, t.gb, t.haa, t.hab, t.hbb
            FROM t{i} t CROSS JOIN ab{i - 1} pv
        )"""
        )
    parts.append(
        f"""
        SELECT a AS a_fit, b AS b_fit, ga, gb, haa, hab, hbb
        FROM ab{iters}"""
    )
    return "".join(parts)


@register("ml_platt_scaling_loop", oracle=_platt_loop_oracle(_PLATT_ITERS))
def ml_platt_scaling_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10+: the FULL Platt-scaling fit — {_PLATT_ITERS} unrolled Newton
    steps of ``ml_platt_scaling_step``'s verified update (sigmoid
    log-loss, 2×2 Cramer solve), feeding each round's rounded (a, b)
    forward as a 1-row broadcast.  This is the whole offline calibration
    fit production stacks run (Newton on this convex 2-parameter problem
    is essentially converged in 3-5 steps).  Per round: one corpus pass
    for the five decimal-path sufficient sums (map-side combinable), one
    1-row update — nothing else; the state persists per round.  Per-row
    sigmoids round 6 dp (libm) before the sums and each round's (a, b)
    round 6 dp, so the trajectory hashes bit-identically against the
    chained-CTE oracle; the final gradients are also emitted (near-zero
    at convergence — an auditable convergence witness)."""
    emb = load(spark, sf_dir, "embeddings")
    sx = emb.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        (F.col("label") < 5).cast("long").alias("y"),
    )
    ab = None  # None → literal (A0, B0) round
    out = None
    for _ in range(_PLATT_ITERS):
        if ab is None:
            terms_src = sx.withColumn("a", F.lit(_PLATT_A0)).withColumn(
                "b", F.lit(_PLATT_B0)
            )
        else:
            terms_src = sx.crossJoin(F.broadcast(ab))
        pr = dround(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("a") * F.col("x") + F.col("b"))))
        )
        p = terms_src.select("x", "y", pr.alias("pr"), "a", "b")
        w = F.col("pr") * (F.lit(1.0) - F.col("pr"))
        terms = p.groupBy("a", "b").agg(
            dsum((F.col("pr") - F.col("y")) * F.col("x"), "ga"),
            dsum(F.col("pr") - F.col("y"), "gb"),
            dsum(w * F.col("x") * F.col("x"), "haa"),
            dsum(w * F.col("x"), "hab"),
            dsum(w, "hbb"),
        )
        det = F.col("haa") * F.col("hbb") - F.col("hab") * F.col("hab")
        out = terms.select(
            dround(
                F.col("a")
                - (F.col("ga") * F.col("hbb") - F.col("gb") * F.col("hab")) / det
            ).alias("a"),
            dround(
                F.col("b")
                - (F.col("gb") * F.col("haa") - F.col("ga") * F.col("hab")) / det
            ).alias("b"),
            "ga",
            "gb",
            "haa",
            "hab",
            "hbb",
        ).persist()
        ab = out.select("a", "b")
    return out.select(
        F.col("a").alias("a_fit"),
        F.col("b").alias("b_fit"),
        "ga",
        "gb",
        "haa",
        "hab",
        "hbb",
    )


@register(
    "ml_pr_auc",
    oracle=_SQL_GROUPS
    + f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_thresholds,
               CAST(MAX(p) AS BIGINT) AS n_pos,
               CAST(MAX(n) AS BIGINT) AS n_neg,
               {sql_dsum(
                   "CASE WHEN p > 0 THEN (cp / CAST(p AS DOUBLE))"
                   " * ((p - gp + cp)"
                   " / CAST((p - gp + cp) + (n - gn + cn) AS DOUBLE)) END",
                   "avg_precision",
               )},
               {sql_dround(
                   "MAX(CASE WHEN p > 0 THEN 2 * (p - gp + cp)"
                   " / CAST((p - gp + cp) + (n - gn + cn) + p AS DOUBLE) END)"
               )} AS best_f1
        FROM cum
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14: average precision (step-interpolated PR-AUC) + best-F1 —
    the class-imbalance-honest companion to `ml_auc_exact`: ROC-AUC is
    blind to precision collapse at low prevalence, which is exactly the
    regime of a pretraining quality filter (few "bad" docs in a clean
    corpus).  AP = Σ_thresholds ΔR·P over distinct scores descending =
    Σ (cp/P)·(TP/(TP+FP)); TP/FP at every threshold come from the SAME
    inclusive-prefix scaffold as the ROC/AUC/KS keys (`_scored_groups`:
    ``global_prefix``'s distributed cumsums, no global single-task
    window), so the whole key is that scan + a 1-row final aggregate.
    Integer prefix counts make every per-threshold ratio exact IEEE; the
    AP sum routes through the decimal path.  A
    zero-positive corpus (degenerate grain) emits NULL via the p > 0
    guard instead of ANSI DIVIDE_BY_ZERO."""
    g = _scored_groups(spark, sf_dir)
    tp = F.col("p") - F.col("gp") + F.col("cp")
    fp = F.col("n") - F.col("gn") + F.col("cn")
    ap_add = F.when(
        F.col("p") > 0,
        (F.col("cp") / F.col("p").cast("double"))
        * (tp / (tp + fp).cast("double")),
    )
    f1 = F.when(
        F.col("p") > 0,
        F.lit(2) * tp / (tp + fp + F.col("p")).cast("double"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_thresholds"),
        F.max("p").cast("long").alias("n_pos"),
        F.max("n").cast("long").alias("n_neg"),
        dsum(ap_add, "avg_precision"),
        dround(F.max(f1)).alias("best_f1"),
    )


@register(
    "ml_brier_decomposition",
    oracle=f"""
        WITH s AS (
            SELECT LEAST(GREATEST(CAST(0.5 AS DOUBLE) + embedding[1]::DOUBLE,
                                  CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
                       AS prob,
                   CAST(label < 5 AS BIGINT) AS y
            FROM embeddings
        ), b AS (
            SELECT CAST(FLOOR(LEAST(prob * CAST(10.0 AS DOUBLE),
                                    CAST(9.0 AS DOUBLE))) AS BIGINT) AS bin,
                   prob, y
            FROM s
        ), per AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   {sql_dsum("prob", "sp")},
                   {sql_dsum("(prob - y) * (prob - y)", "se")}
            FROM b GROUP BY bin
        ), g AS (
            SELECT CAST(SUM(nb) AS BIGINT) AS n,
                   CAST(SUM(sy) AS BIGINT) AS ty,
                   CAST(COUNT(*) AS BIGINT) AS n_bins,
                   {sql_dsum("se", "tse")},
                   {sql_dsum("(sp - sy) * (sp - sy) / nb", "rel")},
                   {sql_dsum("CAST(sy AS DOUBLE) * sy / nb", "res_raw")}
            FROM per
        )
        SELECT n, n_bins,
               {sql_dround("tse / n")} AS brier,
               {sql_dround("rel / n")} AS reliability,
               {sql_dround("(res_raw - CAST(ty AS DOUBLE) * ty / n) / n")}
                   AS resolution,
               {sql_dround(
                   "(ty / CAST(n AS DOUBLE))"
                   " * (1 - ty / CAST(n AS DOUBLE))"
               )} AS uncertainty
        FROM g
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15: Brier score + Murphy decomposition (reliability − resolution
    + uncertainty) over decile probability bins — the calibration
    companion to `ml_calibration_bins` that reduces the whole curve to
    three comparable scalars: is the model's error miscalibration
    (reliability, lower better) or just irreducible class noise
    (uncertainty)?  Predictions are prob = clamp(0.5 + score, 0, 1) on
    the standard weak-scorer fixture.  Everything expands in per-bin
    sufficient statistics (nb, Σy, Σp, Σ(p−y)²): reliability =
    Σ(Σp−Σy)²/nb / N and resolution = (ΣΣy²/nb − (Σy)²/N)/N are
    decimal-exact sums of per-row IEEE terms — a one-shuffle (10-bin)
    aggregate at any corpus size."""
    em = load(spark, sf_dir, "embeddings")
    prob = F.least(
        F.greatest(
            F.lit(0.5) + F.element_at("embedding", 1).cast("double"),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    s = em.select(
        prob.alias("prob"), (F.col("label") < 5).cast("long").alias("y")
    )
    b = s.select(
        F.floor(F.least(F.col("prob") * F.lit(10.0), F.lit(9.0)))
        .cast("long")
        .alias("bin"),
        "prob",
        "y",
    )
    pr, y = F.col("prob"), F.col("y")
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("sy"),
        dsum(pr, "sp"),
        dsum((pr - y) * (pr - y), "se"),
    )
    nb, sy, sp = F.col("nb"), F.col("sy"), F.col("sp")
    g = per.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("ty"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        dsum("se", "tse"),
        dsum((sp - sy) * (sp - sy) / nb, "rel"),
        dsum(sy.cast("double") * sy / nb, "res_raw"),
    )
    n, ty = F.col("n"), F.col("ty")
    ybar = ty / n.cast("double")
    return g.select(
        "n",
        "n_bins",
        dround(F.col("tse") / n).alias("brier"),
        dround(F.col("rel") / n).alias("reliability"),
        dround((F.col("res_raw") - ty.cast("double") * ty / n) / n).alias(
            "resolution"
        ),
        dround(ybar * (F.lit(1) - ybar)).alias("uncertainty"),
    )


@register(
    "ml_mcnemar_test",
    oracle=f"""
        WITH s AS (
            SELECT ((embedding[1]::DOUBLE > CAST(0.0 AS DOUBLE))
                        = (label < 5)) AS a_ok,
                   ((embedding[2]::DOUBLE > CAST(0.0 AS DOUBLE))
                        = (label < 5)) AS b_ok
            FROM embeddings
        ), c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END)
                        AS BIGINT) AS both_right,
                   CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                        AS BIGINT) AS only_a,
                   CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
                        AS BIGINT) AS only_b,
                   CAST(SUM(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                        AS BIGINT) AS both_wrong
            FROM s
        )
        SELECT n, both_right, only_a, only_b, both_wrong,
               CASE WHEN only_a + only_b > 0
                    THEN {sql_dround(
                        "CAST((only_a - only_b) * (only_a - only_b)"
                        " AS DOUBLE) / (only_a + only_b)")} END AS chi2,
               CASE WHEN only_a + only_b > 0
                    THEN {sql_dround(
                        "(ABS(CAST(only_a - only_b AS DOUBLE)) - 1)"
                        " * (ABS(CAST(only_a - only_b AS DOUBLE)) - 1)"
                        " / (only_a + only_b)")} END AS chi2_cc,
               CASE WHEN only_a + only_b > 0
                    THEN CAST({sql_dround(
                        "CAST((only_a - only_b) * (only_a - only_b)"
                        " AS DOUBLE) / (only_a + only_b)")}
                        > CAST(3.841 AS DOUBLE) AS INT) END AS differ
        FROM c
    """,
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16: McNemar paired-classifier test — do two models (dim-1-sign
    vs dim-2-sign scorers on the standard fixture) disagree in a
    DIRECTION, not just in magnitude?  The test every "new quality
    filter beats the old one" claim needs: accuracy deltas on the same
    examples are paired, so only the discordant cells (only_a, only_b)
    carry information; χ² = (b−c)²/(b+c) (plus the Edwards
    continuity-corrected variant) against χ²₁ 5% (3.841).  One
    map-side-combinable conditional-count pass, exact integer cells,
    and the statistics are single IEEE divisions — b+c = 0 (degenerate
    grain) emits NULL on both engines."""
    em = load(spark, sf_dir, "embeddings")
    truth = F.col("label") < 5
    a_ok = (F.element_at("embedding", 1).cast("double") > F.lit(0.0)) == truth
    b_ok = (F.element_at("embedding", 2).cast("double") > F.lit(0.0)) == truth
    s = em.select(a_ok.alias("a_ok"), b_ok.alias("b_ok"))
    a, bb = F.col("a_ok"), F.col("b_ok")
    c = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a & bb, 1).otherwise(0)).cast("long").alias("both_right"),
        F.sum(F.when(a & ~bb, 1).otherwise(0)).cast("long").alias("only_a"),
        F.sum(F.when(~a & bb, 1).otherwise(0)).cast("long").alias("only_b"),
        F.sum(F.when(~a & ~bb, 1).otherwise(0)).cast("long").alias("both_wrong"),
    )
    oa, ob = F.col("only_a"), F.col("only_b")
    disc = oa + ob
    chi2 = dround(((oa - ob) * (oa - ob)).cast("double") / disc)
    chi2_cc = dround(
        (F.abs((oa - ob).cast("double")) - F.lit(1))
        * (F.abs((oa - ob).cast("double")) - F.lit(1))
        / disc
    )
    return c.select(
        "n",
        "both_right",
        "only_a",
        "only_b",
        "both_wrong",
        F.when(disc > 0, chi2).alias("chi2"),
        F.when(disc > 0, chi2_cc).alias("chi2_cc"),
        F.when(disc > 0, (chi2 > F.lit(3.841)).cast("int")).alias("differ"),
    )


@register(
    "ml_ks_statistic",
    oracle=_SQL_GROUPS
    + f"""
        , diffs AS (
            SELECT score,
                   CASE WHEN p > 0 AND n > 0
                        THEN ABS(gp / CAST(p AS DOUBLE)
                                 - gn / CAST(n AS DOUBLE)) END AS diff,
                   p, n
            FROM cum
        ), mx AS (
            SELECT score, diff, p, n,
                   MAX(diff) OVER () AS maxdiff
            FROM diffs
        )
        SELECT CAST(MAX(p) AS BIGINT) AS n_pos,
               CAST(MAX(n) AS BIGINT) AS n_neg,
               {sql_dround("MAX(maxdiff)")} AS ks_stat,
               MIN(CASE WHEN diff = maxdiff THEN score END) AS ks_threshold,
               CASE WHEN MAX(p) > 0 AND MAX(n) > 0
                    THEN CAST({sql_dround("MAX(maxdiff)")}
                        > {sql_dround(
                            "CAST(1.36 AS DOUBLE) * SQRT((MAX(p) + MAX(n))"
                            " / (CAST(MAX(p) AS DOUBLE) * MAX(n)))")}
                        AS INT) END AS separable
        FROM mx
    """,
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17: Kolmogorov-Smirnov separation of the score distributions —
    KS = max|F₊(s) − F₋(s)|, the credit-scoring industry's default
    discrimination metric, plus the threshold achieving it (the natural
    cutoff candidate) and the 5% two-sample significance screen
    (1.36·√((p+n)/(p·n))).  Rides the same `_scored_groups`
    distributed-prefix scaffold as ROC/AUC/PR:
    per-threshold CDFs are exact integer-ratio IEEE divisions, the max
    is order-insensitive, and the argmax threshold resolves by MIN over
    the diff = maxdiff equality on identical doubles.  A single-class
    corpus (degenerate grain) emits NULL via the p/n guards."""
    g = _scored_groups(spark, sf_dir)
    diff = F.when(
        (F.col("p") > 0) & (F.col("n") > 0),
        F.abs(
            F.col("gp") / F.col("p").cast("double")
            - F.col("gn") / F.col("n").cast("double")
        ),
    )
    diffs = g.select("score", diff.alias("diff"), "p", "n")
    w_all = Window.partitionBy(F.lit(0))
    mx = diffs.select(
        "score", "diff", "p", "n", F.max("diff").over(w_all).alias("maxdiff")
    )
    p, n = F.max("p").cast("long"), F.max("n").cast("long")
    ks = dround(F.max("maxdiff"))
    crit = dround(
        F.lit(1.36)
        * F.sqrt((F.max("p") + F.max("n")) / (F.max("p").cast("double") * F.max("n")))
    )
    return mx.agg(
        p.alias("n_pos"),
        n.alias("n_neg"),
        ks.alias("ks_stat"),
        F.min(
            F.when(F.col("diff") == F.col("maxdiff"), F.col("score"))
        ).alias("ks_threshold"),
        F.when(
            (F.max("p") > 0) & (F.max("n") > 0),
            (ks > crit).cast("int"),
        ).alias("separable"),
    )


@register(
    "isotonic_fit_gate",
    oracle="""
        SELECT CAST(vec_id % 4 AS BIGINT) AS fold,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN label < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               TRUE AS monotone, TRUE AS mass_preserved, TRUE AS bounded
        FROM embeddings GROUP BY 1
    """,
)
def isotonic_fit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 quality gate — the ``sketch_error_gates`` pattern applied to the
    ⊘rows-only PAVA fit, so a pooling regression flips a driver hash row:
    per fold, verify the three properties that CHARACTERIZE the isotonic
    L2 projection of a 0/1 target —

    - ``monotone``: fitted values nondecreasing along the fit's own
      (score, vec_id) order (one lag window per fold);
    - ``mass_preserved``: Σ fitted = Σ y (pool means conserve block
      mass; y is 0/1 so the truth side is an exact integer the oracle
      also pins via ``n_pos``; the float comparison carries an n-scaled
      1e-8 slack for IEEE block-mean division error);
    - ``bounded``: every fitted value in [0, 1].

    The oracle pins all three booleans TRUE plus exact n and n_pos per
    fold.  Shape: one pass over the fit output — a lag window and a
    hash-agg on the same fold partitioning, no joins; the gate's cost is
    the fit's cost."""
    fit = ml_isotonic_pava(spark, sf_dir)
    w = Window.partitionBy("fold").orderBy("score", "vec_id")
    seq = fit.select(
        "fold",
        "y",
        "fitted",
        F.lag("fitted").over(w).alias("prev"),
    )
    n = F.count(F.lit(1))
    viol = F.sum(
        F.when(
            F.col("prev").isNotNull() & (F.col("fitted") < F.col("prev")), 1
        ).otherwise(0)
    )
    # Bare F.sum on doubles is safe HERE only because it feeds a
    # slack-guarded boolean, and only within a bounded domain: the 1e-8·n
    # slack grows linearly while worst-case partition-order summation
    # error grows ~n²·eps (fitted ∈ [0,1], eps = 2^-52), so the bound
    # crosses the slack around n ≈ 5e7 rows per fold.  Fixture folds top
    # out ~6e5 at the 100x grain — two decades of headroom; a bigger
    # fixture must scale the slack superlinearly (1e-8·n + eps·n·√n) or
    # route the sums through det.dsum.
    mass_gap = F.abs(F.sum("fitted") - F.sum("y"))
    oob = F.sum(
        F.when((F.col("fitted") < 0.0) | (F.col("fitted") > 1.0), 1).otherwise(0)
    )
    return seq.groupBy("fold").agg(
        n.cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        (viol == 0).alias("monotone"),
        (mass_gap <= F.lit(1e-8) * n).alias("mass_preserved"),
        (oob == 0).alias("bounded"),
    ).withColumn("fold", F.col("fold").cast("long"))
