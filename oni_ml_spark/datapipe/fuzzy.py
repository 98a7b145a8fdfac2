"""Approximate (edit-distance) string join — record linkage for names,
titles, URLs: pairs within Levenshtein distance ``k``, without the
O(|L|·|R|) cross join Spark would otherwise need for a non-equi
``levenshtein(a, b) <= k`` predicate.

Candidate generation is the classic positional q-gram count filter
(Gravano et al., "Approximate String Joins in a Database (Almost) for
Free", VLDB 2001): an edit operation destroys at most ``q`` of a string's
positional q-grams, so two strings within edit distance ``k`` must share
at least ``max(len_a, len_b) - q + 1 - k*q`` q-grams whose positions
differ by at most ``k``. The join therefore becomes: explode q-grams →
EQUI join on the gram → position filter → per-pair gram count ≥ the
bound → exact ``levenshtein`` verify. The filter is LOSSLESS (every true
pair survives to the verify), so results are exactly the cross join's —
the tests assert parity against a DuckDB all-pairs oracle.

Strings too short for the bound to bite (``len <= q*(k+1) - 1``, where
the count threshold is ≤ 0) take an exact path: a length-bucketed join
(edit distance ≤ k implies length difference ≤ k) over only the short
rows of both sides — a bounded sliver in realistic data, and still never
a full cross join.

Scale shape: the gram join shuffles (gram, id, pos) triples — strings
explode to ~len grams each; hot grams (common substrings) are the skew
axis, and ``min_gram_df``-style pruning is deliberately NOT applied
because it would break the lossless bound. The per-pair count is a
map-side-combinable aggregate; only counted candidates reach the
levenshtein, and the verify joins payloads by id (broadcast when one
side is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prep(df: DataFrame, id_col: str, str_col: str, side: str) -> DataFrame:
    # null ids are excluded on BOTH paths (a linkage row without an identity
    # is unusable, and the long path's payload equi-join could never carry
    # one — dropping them inconsistently was a review finding), as are null
    # strings; both documented in fuzzy_join
    s = F.col(str_col)
    return df.select(
        F.col(id_col).alias(f"{side}_id"),
        s.alias(f"{side}_s"),
        F.length(s).alias(f"{side}_len"),
    ).where(s.isNotNull() & F.col(id_col).isNotNull())


def _grams(prepped: DataFrame, side: str, q: int) -> DataFrame:
    """(side_id, gram, pos) — positional q-grams via one native
    sequence→substring transform (substring with a column start index
    needs the SQL expr form); strings shorter than q emit none."""
    n = F.col(f"{side}_len") - q + 1
    pairs = F.expr(
        f"transform(sequence(1, {side}_len - {q} + 1), "
        f"i -> struct(substring({side}_s, i, {q}) AS gram, i AS pos))"
    )
    return (
        prepped.where(n >= 1)
        .select(f"{side}_id", F.explode(pairs).alias("g"))
        .select(f"{side}_id", "g.gram", "g.pos")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_str: str,
    right_id: str | None = None,
    right_str: str | None = None,
    max_edits: int = 1,
    q: int = 3,
    max_expansion_per_gram_row: float | None = 64.0,
) -> DataFrame:
    """All (left_id, right_id, distance) pairs with
    ``levenshtein(left_str, right_str) <= max_edits`` — result-identical
    to the cross-join predicate (the q-gram count filter is lossless and
    every candidate is verified exactly).

    ``q`` trades candidate selectivity against the short-string cutoff:
    larger q → fewer hot grams but more rows routed to the exact
    short-string path (anything of length ≤ ``q*(max_edits+1) - 1``).
    SIZE q TO THE GRAM SPACE, not to taste: the gram join's intermediate
    grows with Σ|gram bucket|², so the alphabet^q space must comfortably
    exceed the corpus size — measured in SCALE.md (a 20-letter alphabet
    at q=3 went near-quadratic by 200k rows; q=4 stayed flat). Results
    are q-invariant (the filter is lossless at every q).

    That sizing rule is ENFORCED, not just documented (r7 verdict): before
    the gram join runs, ONE bounded pre-flight aggregate computes the
    join's EXACT output cardinality (Σ over shared grams of
    |left bucket|·|right bucket|) from the per-gram counts. If it exceeds
    ``max_expansion_per_gram_row`` × the total gram rows — i.e. the join
    is in its quadratic regime, not the ~constant-factor one — the call
    refuses with the measured blowup and the advice to raise ``q``.
    The pre-flight is linear with a gram-keyed shuffle (a fraction of the
    join it is sizing); it makes the call EAGER (the guard aggregate runs
    at DataFrame-construction time), and that same job localCheckpoints
    the gram frames so the guard and the join share one gram computation
    — pass ``None`` for a fully-lazy plan. It catches the small-alphabet
    footgun the bench
    measured; ``None`` skips it when the corpus is known-sized.
    Ids must be unique per side (the gram-count aggregate keys on them);
    rows with a null id or a null string never participate (excluded
    identically on every path). Case- and whitespace-sensitive by design —
    normalize upstream (``dedup.normalize_text``) when "fuzzy" should
    also mean case-insensitive. When both sides share the id column name
    the outputs are suffixed ``_l`` / ``_r``.
    """
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    if q < 1:
        raise ValueError("q must be >= 1")
    right_id = left_id if right_id is None else right_id
    right_str = left_str if right_str is None else right_str
    for side, df, idc, sc in (("left", left, left_id, left_str),
                              ("right", right, right_id, right_str)):
        missing = [c for c in (idc, sc) if c not in df.columns]
        if missing:
            raise ValueError(f"{side} side lacks columns {missing}")
    if "distance" in (left_id, right_id):
        raise ValueError(
            "id column named 'distance' collides with the output distance "
            "column — rename it first"
        )

    l = _prep(left, left_id, left_str, "l")
    r = _prep(right, right_id, right_str, "r")
    k = max_edits
    # count threshold T(la, lb) = max(la, lb) - q + 1 - k*q; T <= 0 means
    # the filter cannot bite -> the string is "short" for this (q, k):
    # max <= q*(k+1) - 1
    short_len = q * (k + 1) - 1
    l_long, l_short = l.where(F.col("l_len") > short_len), l.where(
        F.col("l_len") <= short_len
    )
    r_long, r_short = r.where(F.col("r_len") > short_len), r.where(
        F.col("r_len") <= short_len
    )

    # long × long: positional q-gram count filter, then exact verify
    lg = _grams(l_long, "l", q)
    rg = _grams(r_long, "r", q)
    if max_expansion_per_gram_row is not None:
        # the pre-flight makes this path EAGER (its guard aggregate is
        # collected at DataFrame-construction time); localCheckpoint the
        # gram frames first (eager=False — materialized BY the guard's
        # own job) so the guard and the join share ONE gram computation
        # instead of shingling both corpora twice. Trade-offs, both
        # documented here on purpose: the gram frames land in executor
        # memory/disk (MEMORY_AND_DISK-style storage, reclaimed by the
        # ContextCleaner when the frames are GC'd), and a lost executor
        # fails the job instead of recomputing lineage. Pass
        # max_expansion_per_gram_row=None for a fully-lazy single-plan
        # path when the corpus is known-sized.
        lg, rg = lg.localCheckpoint(eager=False), rg.localCheckpoint(eager=False)
        # exact gram-join cardinality from per-gram bucket counts: one
        # full-outer join of two |distinct grams|-row aggregates, reduced
        # to a single row — Σ l_c·r_c is exactly the row count the gram
        # equi join below would produce (before the position filter)
        lc = lg.groupBy("gram").agg(F.count(F.lit(1)).alias("l_c"))
        rc = rg.groupBy("gram").agg(F.count(F.lit(1)).alias("r_c"))
        pre = (
            lc.join(rc, "gram", "full_outer")
            .agg(
                F.sum("l_c").alias("lg_rows"),
                F.sum("r_c").alias("rg_rows"),
                F.sum(
                    F.coalesce(F.col("l_c"), F.lit(0)).cast("double")
                    * F.coalesce(F.col("r_c"), F.lit(0)).cast("double")
                ).alias("pairs"),
            )
            .collect()[0]
        )
        gram_rows = (pre["lg_rows"] or 0) + (pre["rg_rows"] or 0)
        pairs = pre["pairs"] or 0.0
        if gram_rows and pairs > max_expansion_per_gram_row * gram_rows:
            raise ValueError(
                f"fuzzy_join: the q={q} gram join would produce "
                f"{pairs:.3g} candidate rows from {gram_rows} gram rows "
                f"({pairs / gram_rows:.1f}x expansion > "
                f"max_expansion_per_gram_row={max_expansion_per_gram_row}) — "
                "the gram space is too small for this corpus (quadratic "
                "regime; see SCALE.md). Raise q (alphabet^q must comfortably "
                "exceed the corpus size), or raise/disable "
                "max_expansion_per_gram_row explicitly"
            )
    counted = (
        lg.select("l_id", "gram", F.col("pos").alias("l_pos"))
        .join(rg.select("r_id", "gram", F.col("pos").alias("r_pos")), "gram")
        .where(F.abs(F.col("l_pos") - F.col("r_pos")) <= k)
        .groupBy("l_id", "r_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cand = (
        counted.join(l_long.select("l_id", "l_s", "l_len"), "l_id")
        .join(r_long.select("r_id", "r_s", "r_len"), "r_id")
        .where(
            (F.abs(F.col("l_len") - F.col("r_len")) <= k)
            & (
                F.col("shared")
                >= F.greatest("l_len", "r_len") - q + 1 - k * q
            )
        )
    )
    long_pairs = cand.withColumn(
        "distance", F.levenshtein("l_s", "r_s")
    ).where(F.col("distance") <= k)

    # any pair involving a short string: exact verify over the short×(all
    # within length ±k) slivers — both directions, deduped by construction
    # (long×long handled above; short×long, long×short, short×short here).
    # Length-bucketed EQUI join (ed <= k implies |len diff| <= k): the
    # short side explodes to its 2k+1 admissible partner lengths, so the
    # plan never needs a nested-loop join even when both sides are large.
    def exact(lside: DataFrame, rside: DataFrame, explode_left: bool) -> DataFrame:
        # always explode the SHORT side (2k+1 admissible partner lengths);
        # the other side joins by its own length untouched
        if explode_left:
            targets = lside.withColumn(
                "__tl", F.explode(F.sequence(F.col("l_len") - k, F.col("l_len") + k))
            )
            joined = targets.join(rside, targets["__tl"] == rside["r_len"])
        else:
            targets = rside.withColumn(
                "__tl", F.explode(F.sequence(F.col("r_len") - k, F.col("r_len") + k))
            )
            joined = lside.join(targets, targets["__tl"] == lside["l_len"])
        return (
            joined.withColumn("distance", F.levenshtein("l_s", "r_s"))
            .where(F.col("distance") <= k)
        )

    # pre-bound the big side of each sliver: a partner of a short string
    # can be at most short_len + k long (review finding — without this,
    # a handful of short rows dragged the ENTIRE other table through the
    # length join, payloads included)
    short_pairs = exact(
        l_short, r.where(F.col("r_len") <= short_len + k), explode_left=True
    ).unionByName(
        exact(
            l_long.where(F.col("l_len") <= short_len + k),
            r_short,
            explode_left=False,
        )
    )

    out_cols = [
        F.col("l_id").alias(f"{left_id}_l" if left_id == right_id else left_id),
        F.col("r_id").alias(f"{right_id}_r" if left_id == right_id else right_id),
        "distance",
    ]
    return long_pairs.select(*out_cols).unionByName(short_pairs.select(*out_cols))


def fuzzy_dedup_groups(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_edits: int = 1,
    q: int = 3,
    max_expansion_per_gram_row: float | None = 64.0,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(``id_col``, cluster, keep) — typo-level duplicate grouping:
    ``fuzzy_join`` self-pairs → connected components → per-cluster
    survivor (smallest id), mirroring ``dedup.near_dup_clusters``
    (token-Jaccard) one level down the granularity ladder.
    ``df.join(out.filter("keep"), id_col)`` is the deduplicated table;
    transitive chains group (a~b, b~c ⇒ one cluster even when
    ed(a, c) > max_edits) — the same closure semantics as the Jaccard
    family. Inherits ``fuzzy_join``'s contract: ids unique, null-id rows
    excluded from the output (they cannot be joined back anyway).

    ``pairs``: a precomputed ``fuzzy_join(df, df, ...)`` result (columns
    ``{id_col}_l``/``{id_col}_r``) to reuse when the caller already
    materialized the self-join — skips the gram machinery entirely (the
    max_edits/q/guard parameters are then ignored)."""
    from oni_ml_spark.datapipe.dedup import connected_components

    if pairs is None:
        pairs = fuzzy_join(
            df, df, id_col, str_col, max_edits=max_edits, q=q,
            max_expansion_per_gram_row=max_expansion_per_gram_row,
        )
    else:
        missing = [c for c in (f"{id_col}_l", f"{id_col}_r") if c not in pairs.columns]
        if missing:
            raise ValueError(f"precomputed pairs frame lacks columns {missing}")
    pairs = (
        pairs.where(F.col(f"{id_col}_l") < F.col(f"{id_col}_r"))
        .select(
            F.col(f"{id_col}_l").alias("id_a"), F.col(f"{id_col}_r").alias("id_b")
        )
    )
    nodes = df.select(F.col(id_col).alias("id")).where(F.col("id").isNotNull())
    comp = connected_components(pairs, nodes=nodes)
    return comp.select(
        F.col("id").alias(id_col),
        "cluster",
        (F.col("id") == F.col("cluster")).alias("keep"),
    )
