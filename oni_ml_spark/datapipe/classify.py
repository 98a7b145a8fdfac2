"""Model-based quality filtering: a hashing-trick linear text classifier
(fastText-style bag-of-features scorer, Joulin et al. 2016; Weinberger et
al. 2009 feature hashing) expressed entirely in native Spark SQL.

The production shape for curation at 100 TB is: LABEL a bounded sample,
TRAIN a small linear model on it, then SCORE every document with the
frozen model — the scoring pass is the one that must be corpus-scale.
Here that pass is a pure DataFrame plan: tokenize → hash features into
``n_buckets`` md5-portable buckets → broadcast-join the (bucket, weight)
model table → one map-side-combinable per-doc sum.  No UDF anywhere; the
model is micro-quantized (BIGINT micro-units) so the per-doc score is an
integer SUM — exact on any partitioning and bit-identical across engines,
which is what lets the driver's DuckDB oracle check it.

Scale notes (100 TB):
- The model table is model-sized (≤ n_buckets rows), always broadcast —
  the only shuffle is the per-doc partial-sum aggregate keyed on doc id.
- Feature hashing bounds the model at ``n_buckets`` regardless of
  vocabulary, so the broadcast never grows with the corpus.
- ``train_hashed_linear`` builds a DENSE n_buckets-wide vector per doc and
  is for the bounded labeled sample only (thousands-to-millions of rows,
  n_buckets ≤ ~2^16); the corpus-scale half is ``hashed_linear_score``.

The module is the full model-curation loop, not just the scorer:
- ``train_hashed_linear`` / ``train_hashed_linear_multiclass`` — fit on
  the labeled sample (binary LR / multinomial LR on the SAME md5 bucket
  space), freeze micro-quantized weights;
- ``hashed_linear_score`` / ``hashed_linear_argmax`` — corpus-scale
  inference (quality scoring / fastText-style language-and-domain
  routing), exact integer arithmetic;
- ``binary_auc`` / ``binary_auc_grouped`` / ``threshold_report`` —
  evaluation on fresh labels: exact tie-aware ROC-AUC (global and
  per-segment, rank statistic WITHOUT a global sort — bucketed prefix
  sums, the quantiles._cdf_table discipline) and the one-aggregate
  operating-point picker. AUC degradation is the retrain signal;
  ``streaming/drift_stream`` monitors the score distribution between
  label batches.

Reference parity: the reference scores suspiciousness with a broadcast
topic-model dot product (oni-ml ScoreFunction — see scoring.py); this
module is the same broadcast-model inference pattern generalized to a
supervised quality model over hashed text features.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oni_ml_spark.datapipe.dedup import (
    _md5_hash32,
    positional_ngrams,
    tokens,
)

MICRO = 1_000_000  # weight quantization: 1e-6 units


def feature_terms(c: Column | str, *, bigrams: bool = False) -> Column:
    """Feature strings for one document: whitespace unigrams (normalized,
    see ``dedup.tokens``), plus positional word bigrams when ``bigrams``
    (duplicates kept — bag-of-features multiplicity is part of the model)."""
    uni = tokens(c)
    if not bigrams:
        return uni
    return F.concat(uni, positional_ngrams(c, n=2))


def feature_bucket(term: Column, n_buckets: int, *, salt: int = 0) -> Column:
    """Engine-portable bucket id in [0, n_buckets): md5-derived 32-bit hash
    (``dedup._md5_hash32``) mod n_buckets — replayable in any SQL dialect,
    unlike murmur3 ``hash()`` / HashingTF."""
    return (_md5_hash32(term, salt) % F.lit(n_buckets)).cast("long")


def demo_weights(spark, n_buckets: int = 4096, step: int = 2) -> DataFrame:
    """Deterministic model table for gates/benches/tests: every ``step``-th
    bucket carries w_micro = md5_hash32('w:' || bucket) % 2001 − 1000, the
    others are ABSENT (exercising the missing-bucket → 0 contract).  The
    ONE Spark-side source of this expression — its DuckDB restatement
    lives next to each oracle that checks it
    (tests/oracle_battery.py, tests/test_front_door_oracles.py,
    tests/test_classify.py)."""
    return spark.range(0, n_buckets, step).select(
        F.col("id").alias("bucket"),
        (
            _md5_hash32(F.col("id").cast("string"), salt="w")
            % 2001
            - 1000
        ).alias("w_micro"),
    )


def _validate_weights(
    weights: DataFrame, n_buckets: int, *, caller: str = "hashed_linear_score",
    key_cols: tuple[str, ...] = ("bucket",),
) -> None:
    """Eager 1-row validation of the (bounded, model-sized) weights table:
    unique keys (bucket, or (bucket, cls) for the multiclass model) in
    range, no null weights. House style for bounded frames: one aggregate,
    fail with the offence named."""
    row = weights.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("nd"),
        F.min("bucket").alias("lo"),
        F.max("bucket").alias("hi"),
        F.sum(F.col("w_micro").isNull().cast("long")).alias("nulls"),
    ).first()
    if row["n"] == 0:
        raise ValueError(f"{caller}: weights table is empty")
    if row["nd"] != row["n"]:
        raise ValueError(
            f"{caller}: duplicate {'/'.join(key_cols)} keys in weights "
            f"({row['n']} rows, {row['nd']} distinct) — a duplicate would "
            "double-count its features"
        )
    if row["lo"] < 0 or row["hi"] >= n_buckets:
        raise ValueError(
            f"{caller}: bucket ids [{row['lo']}, {row['hi']}] "
            f"outside [0, {n_buckets}) — wrong n_buckets for this model?"
        )
    if row["nulls"]:
        raise ValueError(f"{caller}: null w_micro in weights")


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int,
    *,
    bigrams: bool = False,
    bias_micro: int = 0,
    salt: int = 0,
    mode: str = "sum",
) -> DataFrame:
    """Score every document under a frozen hashed-feature linear model.

    ``weights``: (bucket BIGINT, w_micro BIGINT) — micro-quantized
    coefficients (1e-6 units; see ``train_hashed_linear``).  Buckets absent
    from the table contribute 0 (the hashing-trick contract: untrained
    buckets are zero-weight).

    Returns (id, n_features, score_micro, score):
    - ``n_features`` — feature count incl. multiplicity (0 for empty docs),
    - ``score_micro`` — bias_micro + Σ w_micro over features, an exact
      BIGINT sum (deterministic on any partitioning / engine),
    - ``score`` — score_micro / 1e6, divided by n_features when
      ``mode='mean'`` (documents with 0 features keep the bias).

    Plan: one corpus scan → explode_outer(features) → hash → broadcast
    left join (model table) → one groupBy(id) sum.  explode_outer keeps
    zero-token documents so the output covers every input row.
    """
    if mode not in ("sum", "mean"):
        raise ValueError(f"hashed_linear_score: unknown mode {mode!r}")
    _validate_weights(weights, n_buckets)
    feats = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(feature_terms(text_col, bigrams=bigrams)).alias("__term"),
    ).withColumn(
        "__bucket",
        F.when(
            F.col("__term").isNotNull(),
            feature_bucket(F.col("__term"), n_buckets, salt=salt),
        ),
    )
    w = F.broadcast(
        weights.select(
            F.col("bucket").alias("__bucket"), F.col("w_micro").alias("__w")
        )
    )
    per_doc = (
        feats.join(w, "__bucket", "left")
        .groupBy("id")
        .agg(
            F.count("__term").alias("n_features"),
            (
                F.lit(int(bias_micro))
                + F.coalesce(F.sum("__w"), F.lit(0))
            ).cast("long").alias("score_micro"),
        )
    )
    score = F.col("score_micro") / F.lit(float(MICRO))
    if mode == "mean":
        score = F.when(F.col("n_features") > 0, score / F.col("n_features")).otherwise(
            score
        )
    return per_doc.withColumn("score", score)


def quality_flags(
    scored: DataFrame, threshold: float, *, keep_above: bool = True
) -> DataFrame:
    """Attach the accept/reject flag: keep docs with score >= threshold
    (or <= when ``keep_above=False``). Pure projection."""
    cmp = F.col("score") >= F.lit(float(threshold))
    if not keep_above:
        cmp = F.col("score") <= F.lit(float(threshold))
    return scored.withColumn("passes", cmp)


def hashed_linear_argmax(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int,
    classes: list[str],
    *,
    bigrams: bool = False,
    biases: dict[str, int] | None = None,
    salt: int = 0,
) -> DataFrame:
    """Multiclass hashed-feature linear classification (fastText-style
    language ID / domain routing at corpus scale): score every class per
    document, return the argmax.

    ``weights``: (bucket BIGINT, cls STRING, w_micro BIGINT) — one row per
    (bucket, class) the model learned; absent pairs contribute 0.
    ``biases``: optional {class: bias_micro}.  Every class in ``classes``
    competes on every document (a doc matching no class's features still
    gets each class's bias).  Ties break to the lexicographically smallest
    class — deterministic, engine-portable.

    Plan: one corpus scan → explode_outer(features) → broadcast join the
    model (≤ n_buckets·|classes| rows) → ONE (id, cls) partial-sum
    aggregate → per-doc |classes|-bounded map lookup + argmin(struct(-score,
    cls)) projection.  Scores stay exact BIGINT micro sums throughout.

    Returns (id, label, score_micro)."""
    if not classes:
        raise ValueError("hashed_linear_argmax: classes must be non-empty")
    if sorted(set(classes)) != sorted(classes):
        raise ValueError("hashed_linear_argmax: duplicate class names")
    biases = biases or {}
    unknown = set(biases) - set(classes)
    if unknown:
        raise ValueError(f"hashed_linear_argmax: biases for unknown classes {sorted(unknown)}")
    # same defects the binary scorer refuses: duplicate (bucket, cls) rows
    # double-count, out-of-range buckets silently never match
    _validate_weights(
        weights, n_buckets,
        caller="hashed_linear_argmax", key_cols=("bucket", "cls"),
    )
    feats = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(feature_terms(text_col, bigrams=bigrams)).alias("__term"),
    ).withColumn(
        "__bucket",
        F.when(
            F.col("__term").isNotNull(),
            feature_bucket(F.col("__term"), n_buckets, salt=salt),
        ),
    )
    w = F.broadcast(
        weights.select(
            F.col("bucket").alias("__bucket"),
            F.col("cls").alias("__cls"),
            F.col("w_micro").alias("__w"),
        )
    )
    # left join keeps featureless docs (one null row) so they still get a
    # verdict; per-(id, cls) sums collapse map-side
    sums = (
        feats.join(w, "__bucket", "left")
        .groupBy("id", "__cls")
        .agg(F.sum("__w").alias("__s"))
    )
    per_doc = sums.groupBy("id").agg(
        F.map_from_entries(
            F.filter(
                F.collect_list(F.struct("__cls", "__s")),
                lambda e: e["__cls"].isNotNull(),
            )
        ).alias("__m")
    )
    scored = F.array(
        *[
            F.struct(
                (
                    -(
                        F.coalesce(F.element_at("__m", c), F.lit(0))
                        + F.lit(int(biases.get(c, 0)))
                    )
                ).alias("neg"),
                F.lit(c).alias("cls"),
            )
            for c in classes
        ]
    )
    best = F.array_min(scored)
    return per_doc.select(
        "id",
        best["cls"].alias("label"),
        (-best["neg"]).cast("long").alias("score_micro"),
    )


def binary_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    num_buckets: int | None = None,
) -> DataFrame:
    """Exact ROC-AUC of a score against binary labels, distributed — the
    evaluation half of model-based curation (is the quality model still
    ranking good above bad on fresh labels?).

    AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), computed exactly from
    the (score → n_pos, n_neg) count table: each distinct score contributes
    n_pos · (negatives strictly below + n_neg_tied/2).  The doubled
    contribution 2c = n_pos·(2·neg_below + n_neg_tied) is an exact integer,
    accumulated as DECIMAL(38,0) — exact and order-independent up to 10^38
    half-pairs (n_pos·n_neg itself overflows long before the sum does), so
    the result stays bit-identical on any partitioning and any engine even
    past the 2^53 double-mantissa boundary (~200 M balanced rows) —
    SQL-oracle-checkable at any scale.

    Plan shape (the quantiles._cdf_table discipline): ONE full-data
    hash-aggregate to distinct-score counts, bucket boundaries from an
    in-plan percentile sketch (1-row broadcast, never collected),
    per-bucket running sums, cross-bucket offsets from a window over the
    ≤ num_buckets subtotal rows.  No data-sized single-partition window.

    Returns one row (auc, n_pos, n_neg, n_scores); auc is NULL when either
    class is absent.  NULL scores are excluded (no rank); labels must be
    0/1 — anything else raises in-plan.
    """
    spark = df.sparkSession
    lbl = F.col(label_col).cast("long")
    lbl_ok = F.assert_true(
        lbl.isin(0, 1),
        F.concat(
            F.lit(f"binary_auc: {label_col} must be 0/1, got "),
            F.coalesce(lbl.cast("string"), F.lit("NULL")),
        ),
    )
    counts = (
        df.select(
            F.col(score_col).cast("double").alias("value"),
            F.when(lbl_ok.isNull(), lbl).alias("__y"),
        )
        .where(F.col("value").isNotNull())
        .groupBy("value")
        .agg(
            F.sum("__y").alias("np"),
            F.sum(1 - F.col("__y")).alias("nn"),
        )
    )
    if num_buckets is not None and num_buckets < 1:
        raise ValueError("binary_auc: num_buckets must be >= 1")
    if num_buckets is None:
        # 'auto' is a legal value for this conf under some AQE setups —
        # fall back to the cluster's actual parallelism rather than a
        # magic constant, so bucket count tracks the cluster either way;
        # sparkContext is unavailable under Spark Connect, where 32 stands
        raw_b = spark.conf.get("spark.sql.shuffle.partitions", "32")
        if raw_b.isdigit():
            b = int(raw_b)
        else:
            try:
                b = spark.sparkContext.defaultParallelism
            except Exception:  # Spark Connect: no sparkContext
                b = 32
    else:
        b = num_buckets
    if b > 1:
        probs = F.array(*[F.lit(i / b) for i in range(1, b)])
        acc = max(100, 4 * b)
        bnd = counts.agg(
            F.array_sort(
                F.array_distinct(
                    F.coalesce(
                        F.percentile_approx("value", probs, F.lit(acc)),
                        F.array().cast("array<double>"),
                    )
                )
            ).alias("__bs")
        )
        bucketed = (
            counts.join(F.broadcast(bnd))
            .withColumn(
                "bucket",
                F.size(
                    F.filter(F.col("__bs"), lambda x: x < F.col("value"))
                ).cast("int"),
            )
            .drop("__bs")
        )
    else:
        bucketed = counts.withColumn("bucket", F.lit(0))

    subtot = bucketed.groupBy("bucket").agg(F.sum("nn").alias("__s"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = subtot.select(
        "bucket",
        F.coalesce(F.sum("__s").over(w_off), F.lit(0)).alias("__neg_offset"),
    )
    w_run = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # doubled contribution 2c = np·(2·neg_strictly_below + nn_tied): exact
    # integer, summed in DECIMAL(38,0) so the total is order-independent
    # past the 2^53 double boundary; cast to double only for the final ratio
    contrib = (
        bucketed.join(F.broadcast(offsets), "bucket")
        .withColumn("__neg_upto", F.col("__neg_offset") + F.sum("nn").over(w_run))
        .select(
            F.col("np"),
            F.col("nn"),
            (
                F.col("np").cast("decimal(38,0)")
                * (
                    2 * (F.col("__neg_upto") - F.col("nn")) + F.col("nn")
                ).cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("__c2"),
        )
    )
    return contrib.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
        F.sum("__c2").alias("__csum2"),
    ).select(
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("__csum2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
        ).alias("auc"),
        "n_pos",
        "n_neg",
        "n_scores",
    )


def binary_auc_grouped(
    df: DataFrame,
    group_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Per-segment exact ROC-AUC — the grouped sibling of ``binary_auc``
    (does the quality model still rank well on EVERY source/language, not
    just on average?).  One (group, score) count aggregate, ONE window
    partitioned by group (parallelism = |groups|; a task sees one group's
    distinct scores — the keyed `_cdf_table` shape), one final per-group
    aggregate.  A null group is its own segment (SQL window semantics).
    Returns (group, auc, n_pos, n_neg, n_scores); auc NULL for
    single-class segments."""
    lbl = F.col(label_col).cast("long")
    lbl_ok = F.assert_true(
        lbl.isin(0, 1),
        F.concat(
            F.lit(f"binary_auc_grouped: {label_col} must be 0/1, got "),
            F.coalesce(lbl.cast("string"), F.lit("NULL")),
        ),
    )
    counts = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(score_col).cast("double").alias("value"),
            F.when(lbl_ok.isNull(), lbl).alias("__y"),
        )
        .where(F.col("value").isNotNull())
        .groupBy("group", "value")
        .agg(F.sum("__y").alias("np"), F.sum(1 - F.col("__y")).alias("nn"))
    )
    w = (
        Window.partitionBy("group")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same exact-decimal doubled-contribution discipline as binary_auc
    contrib = counts.withColumn(
        "__c2",
        (
            F.col("np").cast("decimal(38,0)")
            * (
                2 * (F.sum("nn").over(w) - F.col("nn")) + F.col("nn")
            ).cast("decimal(38,0)")
        ).cast("decimal(38,0)"),
    )
    return contrib.groupBy("group").agg(
        F.when(
            (F.sum("np") > 0) & (F.sum("nn") > 0),
            F.sum("__c2").cast("double")
            / (
                F.lit(2.0)
                * F.sum("np").cast("double")
                * F.sum("nn").cast("double")
            ),
        ).alias("auc"),
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
    )


def threshold_report(
    df: DataFrame,
    label_col: str,
    score_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Confusion counts + precision/recall at each decision threshold
    (predict positive when score >= t) — the operating-point picker next
    to ``binary_auc``.  ALL thresholds fold into ONE map-side-combinable
    aggregate over ONE scan (4·|thresholds| conditional sums), then a
    |thresholds|-row stack.  NULL scores count as negatives-predicted
    (they never exceed a threshold); precision is NULL at zero predicted
    positives."""
    if not thresholds:
        raise ValueError("threshold_report: thresholds must be non-empty")
    bad_t = [t for t in thresholds if not math.isfinite(float(t))]
    if bad_t:
        # inf/nan would interpolate into stack() as 'infD'/'nanD' and die
        # with an opaque parse error — refuse with the offender named
        raise ValueError(
            f"threshold_report: thresholds must be finite, got {bad_t}"
        )
    raw = F.col(label_col).cast("long")
    # same in-plan 0/1 contract as binary_auc: a NULL or out-of-range
    # label must raise, not silently fall out of all four counts and
    # leave tp+fp+fn+tn < N
    lbl_ok = F.assert_true(
        raw.isin(0, 1),
        F.concat(
            F.lit(f"threshold_report: {label_col} must be 0/1, got "),
            F.coalesce(raw.cast("string"), F.lit("NULL")),
        ),
    )
    lbl = F.when(lbl_ok.isNull(), raw)
    s = F.col(score_col).cast("double")
    aggs = []
    for i, t in enumerate(thresholds):
        # coalesce: a NULL score never exceeds a threshold → predicted
        # negative (it must land in fn/tn, not vanish from the counts)
        pred = F.coalesce(s >= F.lit(float(t)), F.lit(False))
        aggs += [
            F.sum((pred & (lbl == 1)).cast("long")).alias(f"__tp_{i}"),
            F.sum((pred & (lbl == 0)).cast("long")).alias(f"__fp_{i}"),
            F.sum((~pred & (lbl == 1)).cast("long")).alias(f"__fn_{i}"),
            F.sum((~pred & (lbl == 0)).cast("long")).alias(f"__tn_{i}"),
        ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"{float(t)}D, coalesce(__tp_{i}, 0), coalesce(__fp_{i}, 0), "
        f"coalesce(__fn_{i}, 0), coalesce(__tn_{i}, 0)"
        for i, t in enumerate(thresholds)
    )
    rows = wide.selectExpr(
        f"stack({len(thresholds)}, {stack}) AS (threshold, tp, fp, fn, tn)"
    )
    return rows.select(
        "threshold", "tp", "fp", "fn", "tn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
    )


def _vectorize_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_expr: Column,
    n_buckets: int,
    *,
    bigrams: bool,
    salt: int,
) -> DataFrame:
    """(id, label, fv) dense n_buckets-wide count vectors for a LABELED
    SAMPLE on the scorer's md5 bucket space — shared by the binary and
    multiclass trainers.  Two map-side-combinable aggregates (per-bucket
    multiplicity, then one (bucket → count) map per doc); empty docs keep
    their single null-bucket row → empty map → all-zero vector."""
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col).alias("id"),
        label_expr.alias("label"),
        F.explode_outer(feature_terms(text_col, bigrams=bigrams)).alias("__term"),
    ).withColumn(
        "__bucket",
        F.when(
            F.col("__term").isNotNull(),
            feature_bucket(F.col("__term"), n_buckets, salt=salt),
        ),
    )
    per_bucket = feats.groupBy("id", "label", "__bucket").agg(
        F.count("__term").alias("__cnt")
    )
    return (
        per_bucket.groupBy("id", "label")
        .agg(
            F.map_from_entries(
                F.filter(
                    F.collect_list(
                        F.struct(
                            F.col("__bucket").alias("k"),
                            F.col("__cnt").alias("v"),
                        )
                    ),
                    lambda e: e["k"].isNotNull(),
                )
            ).alias("__m")
        )
        .withColumn(
            "fv",
            array_to_vector(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                    lambda i: F.coalesce(
                        F.element_at("__m", i.cast("bigint")), F.lit(0)
                    ).cast("double"),
                )
            ),
        )
        .select("id", "label", "fv")
    )


def train_hashed_linear_multiclass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int,
    *,
    bigrams: bool = False,
    salt: int = 0,
    max_iter: int = 60,
    reg_param: float = 0.0,
    elastic_net: float = 0.0,
    max_classes: int = 1000,
) -> tuple[DataFrame, dict[str, int], list[str]]:
    """Fit a multinomial logistic-regression routing model on a labeled
    sample and freeze it for ``hashed_linear_argmax``: returns
    (weights (bucket, cls, w_micro), biases {cls: bias_micro}, classes).
    Class indices are assigned by SORTED label value (deterministic — no
    StringIndexer frequency ordering); the label column may be any type,
    its string form becomes the class name.  Same contract as
    ``train_hashed_linear``: sample-scale dense vectorization, coefficients
    micro-quantized into the portable exact-integer inference space.
    Refuses when the label column holds more than ``max_classes`` distinct
    values — a raw high-cardinality column passed as the label would
    otherwise become an unbounded driver collect (the collect is bounded
    by ``limit(max_classes + 1)``, so the refusal itself never transfers
    more than max_classes + 1 rows)."""
    from pyspark.ml.classification import LogisticRegression

    if max_classes < 2:
        raise ValueError(
            f"train_hashed_linear_multiclass: max_classes must be >= 2, got {max_classes}"
        )
    raw_classes = [
        r["c"]
        for r in df.select(F.col(label_col).cast("string").alias("c"))
        .distinct()
        .limit(max_classes + 1)
        .collect()
    ]
    if len(raw_classes) > max_classes:
        raise ValueError(
            f"train_hashed_linear_multiclass: {label_col} has more than "
            f"max_classes={max_classes} distinct values — that is not a "
            "class label; pass a bounded routing label or raise max_classes"
        )
    if None in raw_classes:
        raise ValueError(
            "train_hashed_linear_multiclass: sample contains NULL labels — "
            "filter or impute them before training"
        )
    classes = sorted(raw_classes)
    if len(classes) < 2:
        raise ValueError(
            f"train_hashed_linear_multiclass: need >= 2 classes, got {classes}"
        )
    idx = None
    for i, c in enumerate(classes):
        cond = F.col(label_col).cast("string") == c
        idx = F.when(cond, float(i)) if idx is None else idx.when(cond, float(i))
    counts = _vectorize_sample(
        df, id_col, text_col, idx, n_buckets, bigrams=bigrams, salt=salt
    )
    lr = LogisticRegression(
        featuresCol="fv",
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
        elasticNetParam=elastic_net,
        family="multinomial",
    )
    model = lr.fit(counts)
    mat = model.coefficientMatrix.toArray()
    rows = [
        (int(b), classes[k], int(round(float(w) * MICRO)))
        for k in range(len(classes))
        for b, w in enumerate(mat[k])
        if round(float(w) * MICRO) != 0
    ]
    if not rows:
        rows = [(0, classes[0], 0)]  # explicit zero model, never empty
    spark = df.sparkSession
    weights = spark.createDataFrame(rows, "bucket bigint, cls string, w_micro bigint")
    biases = {
        classes[k]: int(round(float(v) * MICRO))
        for k, v in enumerate(model.interceptVector.toArray())
    }
    return weights, biases, classes


def train_hashed_linear(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int,
    *,
    bigrams: bool = False,
    salt: int = 0,
    max_iter: int = 60,
    reg_param: float = 0.0,
    elastic_net: float = 0.0,
) -> tuple[DataFrame, int]:
    """Fit a logistic-regression quality model on a LABELED SAMPLE and
    return the frozen, portable model: (weights DataFrame (bucket,
    w_micro), bias_micro).

    The sample is vectorized on the SAME md5 bucket space the scorer uses
    (never HashingTF — murmur3 buckets would not be replayable at
    inference), as a dense n_buckets-wide count vector per doc built from
    a map literal — O(n_buckets) per sample row, which is why this half is
    sample-scale only.  Coefficients are micro-quantized
    (round(coef·1e6)); the quantization is part of the model contract —
    inference is exact integer arithmetic from here on.  LBFGS is
    deterministic for a given Spark version but not engine-portable →
    verified by behavior (planted-signal separation), not a SQL oracle.
    """
    from pyspark.ml.classification import LogisticRegression

    counts = _vectorize_sample(
        df, id_col, text_col, F.col(label_col).cast("double"),
        n_buckets, bigrams=bigrams, salt=salt,
    )
    lr = LogisticRegression(
        featuresCol="fv",
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
        elasticNetParam=elastic_net,
    )
    model = lr.fit(counts)
    coefs = model.coefficients.toArray()
    rows = [
        (int(b), int(round(float(c) * MICRO)))
        for b, c in enumerate(coefs)
        if round(float(c) * MICRO) != 0
    ]
    if not rows:
        # the all-zero model (e.g. hard L1, intercept-only separation) is
        # one EXPLICIT zero-weight row, never an empty frame — the
        # scorer's empty-weights guard exists to catch accidental empty
        # tables and must keep firing on those
        rows = [(0, 0)]
    spark = df.sparkSession
    weights = spark.createDataFrame(rows, "bucket bigint, w_micro bigint")
    return weights, int(round(float(model.intercept) * MICRO))
