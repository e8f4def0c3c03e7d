"""Distributed logistic regression — the learned document-quality scorer.

Production corpora replace hand-tuned keep/drop rules with a small learned
classifier (the CCNet / GPT-3 "quality model" pattern: train on cheap
labels, keep documents whose predicted quality clears a threshold, or
importance-sample by the score). The reference has no learning stage at
all (its quality signal is the DQ when-chain); this module supplies the
Spark-native training loop so the corpus build can distill its rule gate
(``corpus.with_quality_reason``) — or any other label source — into a
smooth, thresholdable probability.

Engine shape (the part that must survive 100 TB):

- **Full-batch gradient descent where one iteration = ONE aggregation.**
  The weight vector lives on the driver (k+1 floats); each step embeds the
  weights as LITERALS in a native expression, so margin, sigmoid, and the
  per-feature gradient components are whole-stage-codegen arithmetic, and
  the only data movement is a k+2-column partial-aggregated ``avg`` (the
  same map-side-combine shape as any global mean — bytes per partition,
  never rows). No MLlib vector UDT, no Python in the loop, no
  per-row UDF.
- **Standardize once, scan memory thereafter.** Features are z-scored with
  moments from one aggregation, then the (label, features) projection is
  cached; the training loop's N scans hit the cached columnar frame, not
  the source table. At cluster scale that cache is the standard iterative-
  algorithm trade (same as ``ops.graph.pagerank``'s checkpoint cadence).
- **Deterministic up to float addition order.** Fixed iterations, fixed
  step, float64 everywhere; the only nondeterminism is partial-sum
  ordering (~1e-12), so the pytest oracle is a from-scratch numpy GD run
  that must match every weight to 1e-6 relative — the same
  numpy-equality discipline as ``llmops.pca``.

The model is a plain dict (weights + the standardization moments), so
scoring (``score_logreg``) reproduces training-time standardization
exactly and is itself one map-only native expression — the 100 TB scoring
pass is a scan, not a join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wsspark.exec import local_frame, persisted


def _standardize_moments(df: DataFrame, feature_cols: list[str]) -> dict:
    """Per-feature mean / population-stddev in one aggregation."""
    aggs = []
    for c in feature_cols:
        aggs.append(F.avg(F.col(c).cast("double")).alias(f"__m_{c}"))
        aggs.append(F.stddev_pop(F.col(c).cast("double")).alias(f"__s_{c}"))
    row = df.agg(*aggs).collect()[0]
    if any(row[f"__m_{c}"] is None for c in feature_cols):
        raise ValueError("empty training frame (or an all-NULL feature)")
    return {
        c: (
            float(row[f"__m_{c}"]),
            max(float(row[f"__s_{c}"] or 0.0), 1e-12),
        )
        for c in feature_cols
    }


def _margin(weights: list[float], feature_cols: list[str]) -> Column:
    """w0 + sum_i w_i * x_i with the weights as literals — pure codegen."""
    m = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], feature_cols):
        m = m + F.lit(float(w)) * F.col(c)
    return m


def fit_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 80,
    lr: float = 1.0,
    l2: float = 0.0,
) -> dict:
    """Train by full-batch GD; returns the model dict
    ``{"features", "weights", "moments", "loss"}`` (weights[0] is the
    intercept, on STANDARDIZED features; ``loss`` is the final mean
    log-loss, tracked so callers can assert convergence).

    Each iteration: p = sigmoid(margin); gradient_j = mean((p - y) * x_j)
    (+ l2 * w_j on the non-intercept weights); w -= lr * gradient. The
    mean (not sum) makes the step size corpus-size-invariant.
    """
    if not feature_cols:
        raise ValueError("need at least one feature column")
    moments = _standardize_moments(df, feature_cols)
    proj = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[
            ((F.col(c).cast("double") - F.lit(moments[c][0])) / F.lit(moments[c][1])).alias(c)
            for c in feature_cols
        ],
    )
    with persisted(proj):
        proj.count()  # materializes the cache
        k = len(feature_cols)
        w = [0.0] * (k + 1)
        loss = float("nan")
        for _ in range(iters):
            margin = _margin(w, feature_cols)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            resid = p - F.col("__y")
            # clamped log-loss: standard numerical guard
            eps = 1e-12
            ll = -(
                F.col("__y") * F.log(F.greatest(p, F.lit(eps)))
                + (F.lit(1.0) - F.col("__y"))
                * F.log(F.greatest(F.lit(1.0) - p, F.lit(eps)))
            )
            aggs = [F.avg(resid).alias("g0"), F.avg(ll).alias("loss")]
            aggs += [
                F.avg(resid * F.col(c)).alias(f"g{j + 1}")
                for j, c in enumerate(feature_cols)
            ]
            row = proj.agg(*aggs).collect()[0]
            loss = float(row["loss"])
            w[0] -= lr * float(row["g0"])
            for j in range(1, k + 1):
                w[j] -= lr * (float(row[f"g{j}"]) + l2 * w[j])
        return {
            "features": list(feature_cols),
            "weights": w,
            "moments": moments,
            "loss": loss,
        }


def score_expr(model: dict) -> Column:
    """The scoring expression: sigmoid over training-time-standardized
    features, all literals — map-only, no join, no Python."""
    feature_cols = model["features"]
    w = model["weights"]
    m = F.lit(float(w[0]))
    for wi, c in zip(w[1:], feature_cols):
        mean, std = model["moments"][c]
        m = m + F.lit(float(wi)) * (
            (F.col(c).cast("double") - F.lit(mean)) / F.lit(std)
        )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def score_logreg(
    df: DataFrame, model: dict, out_col: str = "quality_prob"
) -> DataFrame:
    return df.withColumn(out_col, score_expr(model))


def with_quality_features(
    docs: DataFrame, text_col: str = "text", **gate_kwargs
) -> DataFrame:
    """Every input column plus the quality-model feature columns
    (log_tokens, stopword_ratio, avg_token_len) and the teacher's
    ``filter_reason`` — map-only, the single source both training and
    scoring use so the features can never drift between them."""
    from wsspark.llmops.corpus import with_quality_reason

    return with_quality_reason(docs, text_col=text_col, **gate_kwargs).withColumns(
        {
            "log_tokens": F.log1p(F.col("n_tokens").cast("double")),
            "stopword_ratio": F.col("stopword_ratio").cast("double"),
            "avg_token_len": F.col("avg_token_len").cast("double"),
        }
    )


QUALITY_FEATURES = ["log_tokens", "stopword_ratio", "avg_token_len"]


def train_quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    iters: int = 80,
    lr: float = 1.0,
    **gate_kwargs,
) -> dict:
    """Distill the rule-based gate into a smooth scorer: features are the
    gate's own native stat expressions (log1p token count, stopword
    ratio, average token length), labels are its KEEP verdicts — the
    weak-supervision recipe that turns a hard when-chain into a ranked
    probability the sampler can threshold or importance-weight.
    ``gate_kwargs`` forward to ``with_quality_reason`` (the teacher's
    thresholds)."""
    flagged = with_quality_features(docs, text_col=text_col, **gate_kwargs).select(
        (F.col("filter_reason") == "KEEP").cast("int").alias("label"),
        *QUALITY_FEATURES,
    )
    return fit_logreg(flagged, QUALITY_FEATURES, "label", iters=iters, lr=lr)


def quality_weighted_sample(
    docs: DataFrame,
    model: dict,
    temperature: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance-sample by predicted quality: keep a row iff
    u(id) < p^(1/T), where p is the model's probability and u is the
    repo's deterministic Knuth-hash uniform (``corpus.stratified_sample``
    — stable under task retries, unlike ``rand()``). T=1 keeps docs in
    proportion to quality; T -> inf flattens toward keep-everything;
    T -> 0 sharpens toward a hard argmax gate — the temperature-mixing
    knob corpus recipes tune. Map-only: the score and the gate are one
    native expression, no join, no shuffle. ``docs`` must carry the
    model's feature columns (for the quality model, pass a
    ``with_quality_features`` frame)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    missing = [c for c in model["features"] if c not in docs.columns]
    if missing:
        raise ValueError(
            f"frame lacks model feature columns {missing}; derive them "
            "first (e.g. with_quality_features)"
        )
    from wsspark.llmops.corpus import _KNUTH, _MOD32

    u = F.pmod(F.col(id_col) * F.lit(_KNUTH), F.lit(_MOD32)) / F.lit(_MOD32)
    keep_p = F.pow(score_expr(model), F.lit(1.0 / float(temperature)))
    return docs.filter(u < keep_p)


def sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))


def pr_curve(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 100,
) -> DataFrame:
    """Exact binned precision/recall calibration curve — the threshold
    sweep that turns a trained quality scorer into a deployable gate
    ("keep everything above 0.8" costs what, exactly?).

    Scores must lie in [0, 1] (probabilities). Threshold ``t_b = b /
    n_bins`` and "predict positive" means ``score >= t_b``, which aligns
    EXACTLY with bin membership (``floor(score * n_bins) >= b  <=>
    score >= b / n_bins`` for non-negative scores), so the curve is
    exact at its thresholds — a binned index, not an approximation.
    Labels are 0/1 (cast to long). Cost: ONE map-side-combinable count
    aggregation over the data into <= n_bins rows; the cumulative
    TP/FP sweep is a window over that tiny dense frame (a range join
    materializes every threshold row, hit or not). Undefined ratios are
    NULL (precision with nothing predicted; recall with no positives).

    Returns (threshold, n_predicted, tp, fp, fn, precision, recall, f1)
    sorted by threshold — deterministic, integer-exact counts, mirrored
    IEEE ratios, so a SQL twin replays it bit-for-bit."""
    from pyspark.sql import Window

    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    spark = scored.sparkSession
    lab = F.col(label_col).cast("long")
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor(F.col(score_col) * n_bins).cast("int")),
    )
    agg = (
        scored.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.sum(lab).alias("pos"),
            F.sum(F.lit(1) - lab).alias("neg"),
        )
    )
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    dense = bins.join(agg, "bin", "left").na.fill(0, ["pos", "neg"])
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total_pos = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dense.select(
        "bin",
        F.sum("pos").over(w).alias("tp"),
        F.sum("neg").over(w).alias("fp"),
        (F.sum("pos").over(total_pos) - F.sum("pos").over(w)).alias("fn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp") / (F.col("tp") + F.col("fn")),
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return (
        cum.select(
            F.round(F.col("bin") / n_bins, 6).alias("threshold"),
            (F.col("tp") + F.col("fp")).cast("long").alias("n_predicted"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            F.col("fn").cast("long").alias("fn"),
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(f1, 6).alias("f1"),
        )
        .orderBy("threshold")
    )


def auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """EXACT tie-aware ROC-AUC (the Mann-Whitney U statistic): the
    probability a random positive outscores a random negative, ties
    counted half — the one-number companion to ``pr_curve``'s threshold
    sweep.

    Shape: one count aggregation collapses the fact to its DISTINCT
    SCORES (pos/neg counts per score), then a cumulative window walks
    that frame in score order. The only sort is over the distinct-score
    frame — bounded by score granularity, not row count (a probability
    score rounded to 4-6dp has <= 10^6 distinct values at any data
    scale; the fact itself is never globally sorted). Integer-exact
    numerator (sum of neg_below * pos_at + half-ties, doubled to stay
    integral), one IEEE division at the end — a SQL twin replays it
    bit-for-bit. Returns one row: (n_pos, n_neg, auc). AUC is NULL when
    either class is empty (undefined, not 0)."""
    from pyspark.sql import Window

    lab = F.col(label_col).cast("long")
    per_score = (
        scored.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .groupBy(F.col(score_col).alias("_s"))
        .agg(F.sum(lab).alias("_p"), F.sum(F.lit(1) - lab).alias("_n"))
    )
    w = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # 2*U = sum over scores of pos_at * (2*neg_below + neg_at): integral,
    # associative, exact in longs for any realistic corpus
    stats = per_score.select(
        "_p",
        "_n",
        (
            F.col("_p")
            * (2 * F.coalesce(F.sum("_n").over(w), F.lit(0)) + F.col("_n"))
        ).alias("_u2"),
    ).agg(
        F.coalesce(F.sum("_p"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_neg"),
        F.coalesce(F.sum("_u2"), F.lit(0)).cast("long").alias("_u2"),
    )
    return stats.select(
        "n_pos",
        "n_neg",
        F.round(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("_u2") / (2.0 * F.col("n_pos") * F.col("n_neg")),
            ),
            6,
        ).alias("auc"),
    )


MAX_AGREEMENT_CELLS = 10_000


def label_agreement(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = MAX_AGREEMENT_CELLS,
) -> DataFrame:
    """EXACT Cohen's kappa between two label columns — the dataset-QC
    number for anywhere two labelers exist: a rule gate vs a trained
    classifier, two model versions, a human pass vs an LLM judge.
    Raw agreement (po) overstates consensus when classes are imbalanced;
    kappa subtracts the chance-agreement floor pe = sum over classes of
    marginal_a * marginal_b: kappa = (po - pe) / (1 - pe).

    Shape: ONE map-side-combinable count aggregation collapses the fact
    to its confusion cells (label_a, label_b, n); the driver combines
    O(cells) integers into po/pe/kappa with one final division each —
    integer-exact until those divisions, so a SQL twin replays the IEEE
    shapes. NULL labels are excluded (an abstention is not a verdict).
    The collect is limit-capped at ``max_cells`` (the drift-family
    eager-guard discipline): two id-like columns would otherwise flood
    the driver with one row per pair.

    Returns one row: (n, agree, po, pe, kappa). kappa is NULL when
    pe == 1 (a single shared class — agreement is vacuous, not perfect).
    """
    a = F.coalesce(F.col(col_a).cast("string"), F.lit(None))
    cells_df = (
        df.select(a.alias("_a"), F.col(col_b).cast("string").alias("_b"))
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("n"))
    )
    rows = cells_df.limit(max_cells + 1).collect()
    if len(rows) > max_cells:
        raise ValueError(
            f"label_agreement: more than {max_cells} confusion cells — "
            "these columns look id-like, not labels; raise max_cells "
            "deliberately if the cardinality is intended"
        )
    n = sum(r["n"] for r in rows)
    spark = df.sparkSession
    schema = (
        "n long, agree long, po double, pe double, kappa double"
    )
    if n == 0:
        return local_frame(spark, [(0, 0, None, None, None)], schema)
    agree = sum(r["n"] for r in rows if r["_a"] == r["_b"])
    marg_a: dict[str, int] = {}
    marg_b: dict[str, int] = {}
    for r in rows:
        marg_a[r["_a"]] = marg_a.get(r["_a"], 0) + r["n"]
        marg_b[r["_b"]] = marg_b.get(r["_b"], 0) + r["n"]
    po = agree / n
    # integer-exact numerator: sum of marginal products, ONE division
    pe_num = sum(
        marg_a[c] * marg_b.get(c, 0) for c in marg_a
    )
    pe = pe_num / (n * n)
    kappa = None if pe == 1.0 else (po - pe) / (1.0 - pe)
    return local_frame(
        spark,
        [
            (
                n,
                agree,
                round(po, 6),
                round(pe, 6),
                None if kappa is None else round(kappa, 6),
            )
        ],
        schema,
    )
