"""Exact discrete quantiles, ECDF, and quantile binning.

Semantics match the reference (utilities/Quantiles.scala:21-99):

- ``ecdf``: for each distinct value x, the fraction of rows with value <= x.
- ``quantile_cuts``: for threshold t, the least x in the data with
  P(X <= x) >= t ("discrete" quantiles, = DuckDB ``quantile_disc``); empty
  input yields +inf cutoffs (Quantiles.scala:70-75).
- ``bin_expr``: index of the first cutoff >= value, -1 when the value
  exceeds every cutoff (Quantiles.scala:97-99).

Scale notes: the ECDF aggregates to distinct values first (shuffle on value,
map-side partial agg), so the window's input is |distinct values|, not |rows|.
The cumulative-sum window is a single global sort — fine for the bounded
cardinalities these cuts are computed over (feature columns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DECILES = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]
QUINTILES = [0.2, 0.4, 0.6, 0.8, 1.0]


def _interval_covers(p, prev=None, cdf=None):
    """Interval-cover predicate shared by every cutoff selector: value x is
    the cutoff for the probs in (cdf(prev x), cdf(x)]; p <= 0 (a legal
    discrete quantile meaning "the minimum") attaches to the first value —
    the only row whose predecessor CDF is exactly 0."""
    prev = F.col("__prev") if prev is None else prev
    cdf = F.col("cdf") if cdf is None else cdf
    return ((p > prev) & (p <= cdf)) | ((p <= 0) & (prev == 0))


def _cdf_table(
    df: DataFrame,
    value_col: str,
    key_cols: list[str] | None = None,
    cast_double: bool = True,
    num_buckets: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """THE prefix-sum CDF core — the single home (r7 verdict item 3) for
    every exact distinct-value CDF in the package: the global ``ecdf``
    family, ``grouped_quantile_cuts``/``grouped_quantile_cont_cuts``,
    ``quantile_cuts_multi`` (keyed by column name), and
    ``percentile_rank``'s grouped path all read from this table.

    DataFrame[*key_cols, value, cnt, cdf, __prev, __total, __lo, __hi]:
    per distinct (keys, value) — its count, exact CDF P(X <= x | keys),
    predecessor CDF, group total, and the exact 0-based rank interval
    [__lo, __hi] (long arithmetic — what type-7 interpolation reads
    without refloating). Entirely lazy, zero driver actions.

    ONE null/type contract: rows with a NULL value are excluded (a null
    holds no order statistic — SQL aggregate semantics); key columns
    follow SQL GROUP BY (a null key forms its own group — callers wanting
    null-never-equals semantics, e.g. percentile_rank's join-back, filter
    BEFORE calling); ``cast_double=False`` keeps the value's NATIVE type
    (exact for every orderable type, for equi-join-back consumers — only
    supported with keys, because the global path's bucket boundaries come
    from a numeric percentile sketch).

    ``weight_col`` names an integer multiplicity per row: ``cnt`` becomes
    the sum of the weights instead of the row count, so every CDF, total
    and rank interval equals the unweighted table over the rows physically
    copied ``weight`` times — without building the copies.

    Plan shape: with keys — one (keys, value) hash aggregate (the only
    full-data shuffle, map-side combinable) + ONE window partitioned by
    keys: parallelism is |groups| and a task sees one group's distinct
    values. Without keys (Quantiles.scala:21-40 rebuilt declaratively):

    1. hash-aggregate to distinct-value counts (the only full-data shuffle),
    2. bucket boundaries from an in-plan ``percentile_approx`` over the
       distinct values — a 1-row DataFrame broadcast back, never collected,
    3. per-bucket running sums via a partitioned window,
    4. cross-bucket offsets + grand total from a window over the ≤ b bucket
       subtotal rows (bounded: b ≈ shuffle partitions, not data-sized).

    Every branch hangs off the same counts exchange, so Spark's exchange
    reuse executes the expensive shuffle once. Bucket membership derives
    from the data (value vs boundary array), never a physical partition id,
    so recomputed partitions reproduce identical bucketing. No data-sized
    single-partition window: the per-bucket window input is
    |distinct values| / b, balanced by the boundary sketch.
    """
    keys = list(key_cols or [])
    if not keys and not cast_double:
        raise ValueError(
            "_cdf_table: cast_double=False requires key_cols (the global "
            "path buckets by a numeric percentile sketch)"
        )
    v = F.col(value_col).cast("double") if cast_double else F.col(value_col)
    weight = [F.col(weight_col).cast("long").alias("__w")] if weight_col else []
    counts = (
        df.select(*[F.col(k) for k in keys], v.alias("value"), *weight)
        .where(F.col("value").isNotNull())
        .groupBy(*keys, "value")
        .agg((F.sum("__w") if weight_col else F.count(F.lit(1))).alias("cnt"))
    )
    if keys:
        w = (
            Window.partitionBy(*keys)
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = Window.partitionBy(*keys).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = F.sum("cnt").over(w)
        total = F.sum("cnt").over(w_tot)
        return counts.select(
            *keys,
            "value",
            "cnt",
            (cum / total.cast("double")).alias("cdf"),
            ((cum - F.col("cnt")) / total.cast("double")).alias("__prev"),
            total.alias("__total"),
            (cum - F.col("cnt")).alias("__lo"),
            (cum - 1).alias("__hi"),
        )
    spark = df.sparkSession
    b = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if b > 1:
        probs = F.array(*[F.lit(i / b) for i in range(1, b)])
        acc = max(100, 4 * b)  # percentile_approx: relative error ≈ 1/accuracy
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
                F.size(F.filter(F.col("__bs"), lambda x: x < F.col("value"))).cast("int"),
            )
            .drop("__bs")
        )
    else:
        bucketed = counts.withColumn("bucket", F.lit(0))

    subtot = bucketed.groupBy("bucket").agg(F.sum("cnt").alias("__s"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # single-partition windows over ≤ b rows (bucket subtotals) — bounded
    offsets = subtot.select(
        "bucket",
        F.coalesce(F.sum("__s").over(w_off), F.lit(0)).alias("__offset"),
        F.sum("__s").over(w_tot).alias("__total"),
    )

    w = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("cnt").over(w) + F.col("__offset")
    return bucketed.join(F.broadcast(offsets), "bucket").select(
        "value",
        "cnt",
        (cum / F.col("__total").cast("double")).alias("cdf"),
        ((cum - F.col("cnt")) / F.col("__total").cast("double")).alias("__prev"),
        "__total",
        # exact long-arithmetic rank interval [__lo, __hi] (0-based order
        # statistics covered by this value) — what quantile_cont interpolates
        # over without refloating the CDF
        (cum - F.col("cnt")).alias("__lo"),
        (cum - 1).alias("__hi"),
    )


def _ecdf_parts(df: DataFrame, value_col: str, num_buckets: int | None = None) -> DataFrame:
    """The global (bucketed) CDF table — kept as the historical name for
    the ecdf/quantile_cuts family; one line over ``_cdf_table``."""
    return _cdf_table(df, value_col, None, True, num_buckets)


def ecdf(
    df: DataFrame,
    value_col: str,
    num_buckets: int | None = None,
    parts: DataFrame | None = None,
) -> DataFrame:
    """Empirical CDF over one column → DataFrame[value double, cdf double].

    Reference: utilities/Quantiles.scala:21-40. Fully lazy — see
    ``_ecdf_parts`` for the plan shape.

    ``parts`` (r12): a prebuilt ``_ecdf_parts`` table for the SAME column —
    callers composing several quantile operators over one distribution
    (ECDF + cutoffs) pass a shared (pinned) copy so the distinct-value
    shuffle runs once, not once per operator (guide §1.2: remove duplicate
    passes). Every parts column is an exact count/prefix-sum, so sharing
    cannot move any value.
    """
    if parts is None:
        parts = _ecdf_parts(df, value_col, num_buckets)
    return parts.select("value", "cdf")


def quantile_cuts_df(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    parts: DataFrame | None = None,
) -> DataFrame:
    """Cutoffs as a DataFrame[p double, cutoff double] (stays distributed).

    cutoff(p) = min value whose ecdf >= p (Quantiles.scala:54-75).

    Interval cover instead of a nested-loop join: value x is the cutoff for
    exactly the probs in (cdf(prev x), cdf(x)] — filter the literal probs
    array per row and explode. One row out per prob, no join, no re-agg;
    the predecessor CDF reuses the same exact long-arithmetic numerator, so
    the float comparison is bit-identical to "min value with cdf >= p".

    ``parts`` — see ``ecdf``.
    """
    if parts is None:
        parts = _ecdf_parts(df, value_col)
    probs_arr = F.array(*[F.lit(float(p)) for p in probs])
    return parts.select(
        F.explode(F.filter(probs_arr, lambda p: _interval_covers(p))).alias("p"),
        F.col("value").alias("cutoff"),
    )


def quantile_cont_cuts_df(
    df: DataFrame, value_col: str, probs: list[float]
) -> DataFrame:
    """Continuous (linearly interpolated, type-7 / numpy & DuckDB
    ``quantile_cont``) quantiles → DataFrame[p double, cutoff double],
    fully lazy and exact — the sibling of the reference's DISCRETE cuts
    for consumers that want percentile values rather than bin edges.

    For n values, p targets fractional 0-based rank h = p·(n−1); the
    result interpolates the order statistics at floor(h) and ceil(h).
    Both lookups ride the same interval-cover explode as
    ``quantile_cuts_df`` (a value covers the ranks [__lo, __hi] it owns in
    exact long arithmetic), so the plan is the one ECDF shuffle plus two
    bounded |probs|-row branches joined on p — no sort, no collect.

    Probs are deduplicated (duplicates would cross-match in the lo⋈hi join
    into k² rows) and must lie in [0, 1] — interpolation outside the data
    range is undefined, matching numpy/DuckDB which reject it.
    """
    parts = _ecdf_parts(df, value_col)
    return _interp_cont(parts, probs, key_cols=[])


def _interp_cont(parts: DataFrame, probs: list[float], key_cols: list[str]) -> DataFrame:
    """Shared type-7 interpolation core for the ungrouped and grouped
    continuous-quantile paths (ONE home for the rank formula — per the
    drift lesson of dedup._span_gram_table). ``parts`` must carry
    (*key_cols, value, __lo, __hi, __total) with exact long rank
    intervals; output is (*key_cols, p, cutoff)."""
    uniq = sorted({float(p) for p in probs})
    bad = [p for p in uniq if not 0.0 <= p <= 1.0]
    if bad:
        raise ValueError(f"probs must be within [0, 1], got {bad}")
    probs_arr = F.array(*[F.lit(p) for p in uniq])
    h = lambda p: p * (F.col("__total") - 1).cast("double")  # noqa: E731

    def covers(rank_of_p):
        return lambda p: (rank_of_p(p) >= F.col("__lo")) & (
            rank_of_p(p) <= F.col("__hi")
        )

    lo = parts.select(
        *key_cols,
        F.explode(
            F.filter(probs_arr, covers(lambda p: F.floor(h(p))))
        ).alias("p"),
        F.col("value").alias("__vlo"),
        "__total",
    )
    hi = parts.select(
        *key_cols,
        F.explode(
            F.filter(probs_arr, covers(lambda p: F.ceil(h(p))))
        ).alias("p"),
        F.col("value").alias("__vhi"),
    )
    hf = F.col("p") * (F.col("__total") - 1).cast("double")
    frac = hf - F.floor(hf)
    return lo.join(hi, [*key_cols, "p"]).select(
        *key_cols,
        "p",
        (F.col("__vlo") + frac * (F.col("__vhi") - F.col("__vlo"))).alias("cutoff"),
    )


def quantile_cuts(df: DataFrame, value_col: str, probs: list[float]) -> list[float]:
    """Exact discrete quantile cutoffs, collected to the driver.

    Only the |probs|-sized result crosses the driver boundary (the reference
    collects the same — netflow/FlowWordCreation.scala:26-49). Empty input →
    all +inf, matching Quantiles.scala:70-75.
    """
    rows = quantile_cuts_df(df, value_col, probs).collect()
    by_p = {r["p"]: r["cutoff"] for r in rows}
    return [by_p.get(float(p), float("inf")) for p in probs]


def winsorize(
    df: DataFrame,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    group_col: str | None = None,
    out_col: str | None = None,
    mode: str = "clip",
    cuts_parts: DataFrame | None = None,
) -> DataFrame:
    """Percentile-based outlier handling on the engine's EXACT discrete
    quantiles: values below the ``lo_q`` cutoff / above the ``hi_q``
    cutoff are clamped to the cutoffs (``mode='clip'``, the classic
    winsorization) or their rows dropped (``mode='filter'``) — per group
    when ``group_col`` is set (each group clips against its OWN
    distribution: per-language length trimming, per-source score
    cleaning).

    Cutoffs come from ``quantile_cuts`` (global: one bounded 2-value
    collect, the clamp is a pure projection) or ``grouped_quantile_cuts``
    (per group: the cutoff table is 2 rows per group, joined back onto
    the data — AQE broadcasts it while it fits, so bounded group
    cardinalities never re-shuffle the corpus; a group column with
    millions of distinct keys falls back to a hash join, which is the
    correct plan there). Exact discrete quantiles, not percentile_approx:
    the cutoffs are engine-stable, so the DuckDB ``quantile_disc`` oracle
    states the contract bit-for-bit. The output column keeps the SOURCE
    type (discrete cutoffs are actual data values, so the cast back is
    lossless) and the input column order is preserved. Null values pass
    through ``clip`` untouched and are KEPT by ``filter``; rows with a
    NULL group key likewise pass through unchanged (null-never-equals —
    a null group has no distribution of its own here); a group absent
    from the cutoff table (all-null values) passes through unchanged.

    ``cuts_parts`` (r12, grouped mode only) — a prebuilt grouped
    ``_cdf_table`` over the same (group, value double) frame, forwarded to
    ``grouped_quantile_cuts`` so callers computing several winsorizations /
    cut lists over one distribution share the distinct-value shuffle
    (guide §1.2); see ``ecdf``.
    """
    if not 0.0 <= lo_q < hi_q <= 1.0:
        raise ValueError(f"need 0 <= lo_q < hi_q <= 1, got ({lo_q}, {hi_q})")
    if mode not in ("clip", "filter"):
        raise ValueError(f"mode must be clip|filter, got {mode!r}")
    if value_col not in df.columns or (group_col and group_col not in df.columns):
        raise ValueError("value_col/group_col missing from the frame")
    out_col = value_col if out_col is None else out_col
    v = F.col(value_col).cast("double")
    if group_col is None:
        lo, hi = quantile_cuts(df, value_col, [lo_q, hi_q])
        lo_c, hi_c = F.lit(lo), F.lit(hi)
        clipped = df
    else:
        cuts = grouped_quantile_cuts(
            df, group_col, value_col, [lo_q, hi_q], parts=cuts_parts
        )
        bounds = (
            cuts.where(F.col("key").isNotNull())  # null group: pass-through
            .groupBy("key")
            .agg(
                F.max(F.when(F.col("p") == lo_q, F.col("cutoff"))).alias("__w_lo"),
                F.max(F.when(F.col("p") == hi_q, F.col("cutoff"))).alias("__w_hi"),
            )
            .withColumnRenamed("key", group_col)
        )
        reserved = {"__w_lo", "__w_hi"} & set(df.columns)
        if reserved:
            raise ValueError(
                f"input carries reserved column(s) {sorted(reserved)} — rename them"
            )
        # no broadcast hint: AQE broadcasts the 2-rows-per-group table while
        # it fits; a forced hint would OOM at millions of groups
        clipped = df.join(bounds, group_col, "left")
        lo_c, hi_c = F.col("__w_lo"), F.col("__w_hi")
    out_cols = list(df.columns) + ([out_col] if out_col not in df.columns else [])
    if mode == "filter":
        keep = v.isNull() | lo_c.isNull() | hi_c.isNull() | ((v >= lo_c) & (v <= hi_c))
        return clipped.where(keep).select(*df.columns)
    src_type = df.schema[value_col].dataType
    clamped = (
        F.when(v.isNull() | lo_c.isNull() | hi_c.isNull(), v)
        .otherwise(F.greatest(lo_c, F.least(hi_c, v)))
        .cast(src_type)
    )
    return clipped.withColumn(out_col, clamped).select(*out_cols)


def percentile_rank(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Attach each row's exact empirical percentile P(X <= x) — SQL
    ``cume_dist()`` — WITHOUT the global (or per-group) sort window that
    makes the naive form a single-reducer plan: the distinct-value ECDF
    table (|distinct values| rows, prefix-summed with per-group window
    parallelism) joins back onto the data by (group,) value. The corpus
    shuffles once for the equi join; the window only ever sees distinct
    values. The rank-transform / quantile-normalization feature step.

    Path asymmetry, on purpose: the GLOBAL path reuses the battery-proven
    bucketed ``ecdf`` (its prefix sums ride data-derived value buckets —
    no single-partition window even over millions of distinct values) and
    therefore compares in DOUBLE space — distinct integers past 2^53
    would collapse to one rank there; the GROUPED path keys its CDF table
    on the value's NATIVE type (exact for every type) with per-group
    window parallelism. Rows with a null value — or, grouped, a null
    group key — get a NULL rank (null-never-equals; a null is not ranked
    against anything). DuckDB's ``cume_dist`` over non-null rows is the
    test oracle. Both paths read the ONE ``_cdf_table`` core (r8: the
    r7-deferred unification) — the grouped call passes
    ``cast_double=False`` for the native-typed join-back.
    """
    if value_col not in df.columns or (group_col and group_col not in df.columns):
        raise ValueError("value_col/group_col missing from the frame")
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} collides with an input column")
    reserved = {"__pr_g", "__pr_v", "__pr_n"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input carries reserved column(s) {sorted(reserved)} — rename them"
        )
    if group_col is None:
        table = ecdf(df, value_col).select(
            F.col("value").alias("__pr_v"), F.col("cdf").alias(out_col)
        )
        return df.join(
            table, F.col(value_col).cast("double") == F.col("__pr_v"), "left"
        ).drop("__pr_v")
    # null GROUP keys are filtered HERE (null-never-equals is this
    # function's join-back contract); _cdf_table itself keeps null-key
    # groups per SQL GROUP BY
    table = _cdf_table(
        df.select(F.col(group_col).alias("__pr_g"), F.col(value_col).alias("__pr_v"))
        .where(F.col("__pr_g").isNotNull()),
        "__pr_v", ["__pr_g"], cast_double=False,
    ).select("__pr_g", F.col("value").alias("__pr_v"), F.col("cdf").alias(out_col))
    return df.join(
        table,
        (F.col(group_col) == F.col("__pr_g"))
        & (F.col(value_col) == F.col("__pr_v")),
        "left",
    ).drop("__pr_g", "__pr_v")


def quantile_cuts_multi(
    df: DataFrame,
    probs_by_col: dict[str, list[float]],
    positive_only: set[str] | frozenset[str] = frozenset(),
    weight_col: str | None = None,
) -> dict[str, list[float]]:
    """EXACT discrete quantile cutoffs for SEVERAL columns in one plan.

    The reference ran one full-scan quantile job per featurization column
    (five per day for dns, dns/DNSWordCreation.scala:78-122). Here all
    columns melt into one (col, value) frame that reads the keyed
    ``_cdf_table`` core with the column name as key: one (col, value) hash
    aggregate, one prefix-sum window partitioned by column, and cutoffs by
    interval cover — the only action is the final |cols|·|probs|-row
    collect. Measured on a warm local session: 3 Spark jobs over an
    already-cached input (AQE runs each of the two shuffle map stages as
    its own job, then the collect); 4 in a warm dns analysis, where this
    is the first action over featurize's freshly cached frame. Each
    window task sees one column's distinct values, which stays bounded for
    featurization columns (times of day, packet sizes).

    ``positive_only`` columns replicate the reference's >0 predicate before
    the quantile (P5, dns/DNSWordCreation.scala:98-101). Semantics per
    column are identical to ``quantile_cuts`` (least x with P(X<=x) >= t;
    empty/all-filtered input → +inf). ``weight_col`` names an integer row
    multiplicity (see ``_cdf_table``): the cuts equal those over the rows
    copied ``weight`` times.
    """
    cols = list(probs_by_col)

    def _val(c: str):
        v = F.col(c).cast("double")
        return F.when(v > 0, v) if c in positive_only else v

    weight = [F.col(weight_col)] if weight_col else []
    melted = df.select(
        *weight,
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("col"), _val(c).alias("value")) for c in cols])
        ).alias("cv"),
    ).select(*weight, "cv.col", "cv.value")
    cdf = _cdf_table(melted, "value", key_cols=["col"], weight_col=weight_col)

    # interval cover: value x is the cutoff for probs in (cdf(prev), cdf(x)]
    probs_of = None
    for c in cols:
        arr = F.array(*[F.lit(float(p)) for p in sorted(set(probs_by_col[c]))])
        probs_of = (
            F.when(F.col("col") == c, arr) if probs_of is None
            else probs_of.when(F.col("col") == c, arr)
        )
    cut_rows = (
        cdf.select(
            "col",
            F.col("value").alias("cutoff"),
            F.explode(
                F.filter(probs_of, lambda p: _interval_covers(p))
            ).alias("p"),
        )
        .collect()
    )
    by_cp = {(r["col"], r["p"]): r["cutoff"] for r in cut_rows}
    return {
        c: [by_cp.get((c, float(p)), float("inf")) for p in probs_by_col[c]]
        for c in cols
    }


def grouped_quantile_cuts(
    df: DataFrame,
    key_col: str,
    value_col: str,
    probs: list[float],
    parts: DataFrame | None = None,
) -> DataFrame:
    """EXACT discrete quantile cutoffs PER GROUP, fully distributed —
    DataFrame[key, p double, cutoff double], one row per (group, prob).

    Same semantics as ``quantile_cuts`` (least x with P(X <= x | group)
    >= p; DuckDB ``quantile_disc(...) GROUP BY key``) but for every group
    in one plan: hash-aggregate to (key, value) counts, per-group prefix
    sums via a window partitioned by (key, value-order), interval-cover
    explode for the cutoffs. No per-group loop, no driver action, no
    global sort — the window partitions by group, so parallelism is
    |groups| and the per-task input is one group's distinct values. For
    millions of tiny groups this beats per-group ``approxQuantile`` calls
    structurally (those would be |groups| driver round-trips).

    Groups whose values are all NULL are absent (no rows, matching
    GROUP-BY-over-non-null-aggregate SQL semantics).

    ``parts`` (r12) — a prebuilt grouped ``_cdf_table`` over the same
    (key, value double) frame; see ``ecdf``.
    """
    if parts is None:
        parts = _cdf_table(
            df.select(F.col(key_col).alias("key"), F.col(value_col).alias("value")),
            "value", ["key"],
        )
    probs_arr = F.array(*[F.lit(float(p)) for p in sorted(set(float(p) for p in probs))])
    return parts.select(
        "key",
        F.explode(F.filter(probs_arr, lambda p: _interval_covers(p))).alias("p"),
        F.col("value").alias("cutoff"),
    )


def grouped_quantile_cont_cuts(
    df: DataFrame, key_col: str, value_col: str, probs: list[float]
) -> DataFrame:
    """Continuous (type-7 interpolated) quantiles PER GROUP —
    DataFrame[key, p double, cutoff double]; DuckDB
    ``quantile_cont(...) GROUP BY key`` semantics in one distributed plan.

    Same per-group prefix-sum window as ``grouped_quantile_cuts``, but each
    (key, value) row carries its exact 0-based rank interval; the two order
    statistics per prob come from the SAME ``_interp_cont`` core as the
    ungrouped path (one home for the type-7 rank formula), joined on
    (key, p). Parallelism = |groups|; no per-group loop, no driver action.
    Probs are deduplicated and must lie in [0, 1].
    """
    parts = _cdf_table(
        df.select(F.col(key_col).alias("key"), F.col(value_col).alias("value")),
        "value", ["key"],
    )
    return _interp_cont(parts, probs, key_cols=["key"])


def bin_expr(value: Column | str, cuts: list[float]) -> Column:
    """Quantile-bin a column against driver-held cutoffs, fully native.

    bin = index of first cutoff >= value = #{cuts strictly < value} for an
    ascending cutoff list; -1 when the value exceeds every cutoff
    (Quantiles.scala:97-99 ``indexWhere``; the -1 edge is reachable only when
    scoring values beyond the training max, SURVEY.md §7.4.3).

    Implemented as a literal when-chain (cuts lists are ≤ ~10 deciles) so
    it genuinely inlines into whole-stage codegen; the earlier
    size(filter(literal-array)) form ran interpreted HOF lambdas per row —
    3x slower at sf0.1. Semantics preserved exactly: NULL → bin 0 (zero
    cuts are strictly below NULL), NaN → -1 (NaN sorts above every
    double), value == cuts[i] → bin i.
    """
    v = F.col(value) if isinstance(value, str) else value
    v = v.cast("double")
    if not cuts:
        # old size(filter(...)) semantics: 0 == len([]) → -1 for every row,
        # NULL included
        return F.lit(-1).cast("int")
    out = F.when(v.isNull(), F.lit(0))
    for i, c in enumerate(cuts):
        out = out.when(v <= F.lit(float(c)), F.lit(i))
    return out.otherwise(F.lit(-1)).cast("int")
