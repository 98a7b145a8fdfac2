"""The oracle battery behind ``tests/test_oracle_parity.py``: operators from
SURVEY.md §2 and the data-pipeline operators that stay in the package, each
as a (spark, sf_dir) → DataFrame callable with a DuckDB oracle SQL twin.

Column names are aliased identically on both sides (the parity test sorts
columns by name before comparing values). Float-producing queries round
on both sides; sums go through DECIMAL(18,2) on both sides so the result is
bit-identical regardless of aggregation order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oni_ml_spark.io import load_table
from oni_ml_spark.transforms import (
    DECILES,
    QUINTILES,
    bin_expr,
    flow_word_cols,
    fractional_hour,
    oversample,
    quantile_cuts,
    quantile_cuts_df,
)
from oni_ml_spark.transforms.quantiles import ecdf
from tests.media_fixtures import planted_av_containers, planted_image_headers

QueryFn = Callable[[SparkSession, str], DataFrame]

# --------------------------------------------------------------------------
# oracle SQL helpers
# --------------------------------------------------------------------------


def _cuts_cte(table: str, col: str, probs: list[float], where: str = "") -> str:
    """CTE producing `cuts(cs)` — one row holding the ascending cutoff list
    with exact reference semantics (least x with P(X<=x) >= t)."""
    probs_sql = "[" + ", ".join(str(p) for p in probs) + "]"
    w = f"WHERE {where}" if where else ""
    return f"""
      counts AS (SELECT {col} AS v, count(*) AS c FROM {table} {w} GROUP BY 1),
      tot AS (SELECT sum(c)::DOUBLE AS t FROM counts),
      e AS (SELECT v, sum(c) OVER (ORDER BY v) / (SELECT t FROM tot) AS cdf FROM counts),
      cutlist AS (
        SELECT p, min(v) AS cutoff
        FROM e, (SELECT unnest({probs_sql})::DOUBLE AS p) ps
        WHERE cdf >= p GROUP BY p),
      cuts AS (SELECT list(cutoff ORDER BY p) AS cs FROM cutlist)
    """


def _bin_sql(v: str, cuts_list: str = "cs") -> str:
    c = cuts_list
    return (
        f"CASE WHEN len(list_filter({c}, x -> x < {v})) = len({c}) THEN -1 "
        f"ELSE len(list_filter({c}, x -> x < {v})) END"
    )


_NORM_TEXT = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"
_TOKENS = f"list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '')"


# md5-derived portable 32-bit hash (matches transforms/datapipe _md5_hash32)
def _h32_sql(expr: str, salt: int) -> str:
    return f"('0x' || substr(md5('{salt}:' || {expr}), 1, 8))::BIGINT"


# --------------------------------------------------------------------------
# synthetic columns shared by Spark and oracle sides
# --------------------------------------------------------------------------

# Deterministic host strings over documents — exercise every branch of the
# reference domain logic (arpa / ccTLD / gTLD / invalid TLD).
def _with_host(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "host",
        F.when(F.col("doc_id") % 4 == 0, F.lit("123.103.104.10.in-addr.arpa"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.col("source"), F.lit(".amazon.com.mx")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.col("source"), F.lit(".forrealz.net")))
        .otherwise(F.lit("panasonic.c")),
    )


# Synthetic netflow fields over lineitem — port mixes cover all 14 adjustPort
# branches (0 / privileged / unprivileged on both sides).
def _with_flow_cols(df: DataFrame) -> DataFrame:
    return df.withColumns(
        {
            "sip": F.concat_ws(
                ".", F.lit("10"), F.lit("0"), (F.col("l_partkey") % 64).cast("string"),
                (F.col("l_suppkey") % 64).cast("string"),
            ),
            "dip": F.concat_ws(
                ".", F.lit("10"), F.lit("1"), (F.col("l_suppkey") % 64).cast("string"),
                (F.col("l_orderkey") % 64).cast("string"),
            ),
            "sport": (F.col("l_partkey") % 2000).cast("int"),
            "dport": (F.col("l_orderkey") % 2000).cast("int"),
            "time_bin": (F.col("l_linenumber") % 10).cast("int"),
            "ibyt_bin": (F.col("l_partkey") % 10).cast("int"),
            "ipkt_bin": (F.col("l_suppkey") % 5).cast("int"),
        }
    )


_FLOW_COLS_SQL = """
  SELECT l_orderkey, l_linenumber,
         '10.0.' || (l_partkey % 64)::VARCHAR || '.' || (l_suppkey % 64)::VARCHAR AS sip,
         '10.1.' || (l_suppkey % 64)::VARCHAR || '.' || (l_orderkey % 64)::VARCHAR AS dip,
         (l_partkey % 2000)::INT AS sport,
         (l_orderkey % 2000)::INT AS dport,
         (l_linenumber % 10)::INT AS time_bin,
         (l_partkey % 10)::INT AS ibyt_bin,
         (l_suppkey % 5)::INT AS ipkt_bin
  FROM lineitem
"""


# --------------------------------------------------------------------------
# the battery
# --------------------------------------------------------------------------


def _docs(spark, sf):
    """documents table widened to the session's parallelism: the testdata
    file is one parquet row group, so without io.widen_if_narrow every
    tokenize/shingle/hash projection chained on the scan runs on ONE task
    (measured ~2x on the heavy dedup entries at sf0.1). No-op whenever the
    input already has enough splits — see widen_if_narrow's docstring."""
    from oni_ml_spark.io import widen_if_narrow

    return widen_if_narrow(load_table(spark, sf, "documents"))


# the sf0.01 test-data tables the oracles read, as DuckDB views
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_BUILT: dict[tuple[str, str], DataFrame] = {}


def built(spark: SparkSession, name: str, sf: str) -> DataFrame:
    """The entry's frame over ``sf``, built once per test session whichever
    test file asks first: entries with eager construction work (model fits,
    pinned pieces) pay it once. Entries are seeded and deterministic, so
    every reader sees the same rows."""
    if (name, sf) not in _BUILT:
        _BUILT[name, sf] = QUERIES[name](spark, sf)
    return _BUILT[name, sf]


@_q(
    "dimension_profile",
    "WITH s AS (SELECT event_type, count(*)::BIGINT AS cnt, min(value) AS mn, "
    "max(value) AS mx FROM events "
    "WHERE props IS NOT NULL AND value IS NOT NULL GROUP BY event_type), "
    "d AS (SELECT event_type, (row_number() OVER (ORDER BY event_type) - 1)::BIGINT AS idx "
    "FROM (SELECT DISTINCT event_type FROM events)), "
    "k AS (SELECT event_type AS key, count(*)::BIGINT AS n_rows FROM events GROUP BY event_type), "
    "t AS (SELECT sum(n_rows)::BIGINT AS total FROM k), "
    "h0 AS (SELECT min(value) AS mn, max(value) AS mx FROM events WHERE value IS NOT NULL), "
    "hb AS (SELECT least(7, greatest(0, floor((value - mn) / ((mx - mn) / 8.0))::INT)) AS bin "
    "FROM events, h0 WHERE value IS NOT NULL), "
    "hc AS (SELECT bin, count(*)::BIGINT AS n FROM hb GROUP BY bin), "
    "hg AS (SELECT range::INT AS bin FROM range(8)), "
    "corrs AS (SELECT 'event_id|user_id' AS pair, round(corr(event_id, user_id), 6) AS c FROM events "
    "UNION ALL SELECT 'event_id|value', round(corr(event_id, value), 6) FROM events "
    "UNION ALL SELECT 'user_id|value', round(corr(user_id, value), 6) FROM events), "
    # -- drift_compare: PSI/KL per-bin drift between the even-user
    # -- half and a scale-shifted (×1.35) odd-user half with injected nulls
    # -- (event_id % 97 → bin -1). Bin counts are exact longs from the same
    # -- literal when-chain on both engines (IEEE ×1.35 then <= edge is
    # -- bit-identical); psi/kl terms are double arithmetic over those
    # -- longs, rounded at 6 with boundary distance checked before freezing.
    "dr0 AS (SELECT value AS v FROM events WHERE user_id % 2 = 0), "
    "dc0 AS (SELECT CASE WHEN event_id % 97 = 0 THEN NULL ELSE value * 1.35 END AS v "
    "FROM events WHERE user_id % 2 = 1), "
    + "".join(
        f"{cte} AS (SELECT CASE WHEN v IS NULL OR isnan(v) THEN -1 "
        "WHEN v <= 5.0 THEN 0 "
        "WHEN v <= 15.0 THEN 1 WHEN v <= 35.0 THEN 2 WHEN v <= 70.0 THEN 3 "
        f"WHEN v <= 150.0 THEN 4 ELSE 5 END AS bin FROM {src}), "
        for cte, src in (("rb", "dr0"), ("cb", "dc0"))
    )
    + "rr AS (SELECT bin, count(*)::BIGINT AS nr FROM rb GROUP BY bin), "
    "cc0 AS (SELECT bin, count(*)::BIGINT AS nc FROM cb GROUP BY bin), "
    "dj AS (SELECT coalesce(rr.bin, cc0.bin) AS bin, coalesce(nr, 0) AS nr, "
    "coalesce(nc, 0) AS nc FROM rr FULL OUTER JOIN cc0 ON rr.bin = cc0.bin), "
    "dt AS (SELECT sum(nr)::DOUBLE AS tr, sum(nc)::DOUBLE AS tc, "
    "count(*)::DOUBLE AS nb FROM dj), "
    "dterm AS (SELECT bin, nr, nc, (nr::DOUBLE + 0.5) / (tr + 0.5 * nb) AS pr, "
    "(nc::DOUBLE + 0.5) / (tc + 0.5 * nb) AS pc FROM dj, dt), "
    "dlo AS (SELECT bin, (CASE bin WHEN 1 THEN 5.0 WHEN 2 THEN 15.0 WHEN 3 THEN 35.0 "
    "WHEN 4 THEN 70.0 WHEN 5 THEN 150.0 END)::DOUBLE AS lo, "
    "(CASE bin WHEN 0 THEN 5.0 WHEN 1 THEN 15.0 WHEN 2 THEN 35.0 WHEN 3 THEN 70.0 "
    "WHEN 4 THEN 150.0 END)::DOUBLE AS hi FROM dterm), "
    # -- drift_compare_categorical: same smoothed PSI/KL arithmetic
    # -- over per-category counts; cur side relabels every 13th event to
    # -- 'synthetic' and nulls every 89th ('__null' category live)
    "kr AS (SELECT coalesce(event_type, '__null') AS key, count(*)::BIGINT AS nr "
    "FROM events WHERE user_id % 2 = 0 GROUP BY 1), "
    "kc AS (SELECT coalesce(CASE WHEN event_id % 89 = 0 THEN NULL "
    "WHEN event_id % 13 = 0 THEN 'synthetic' ELSE event_type END, '__null') AS key, "
    "count(*)::BIGINT AS nc FROM events WHERE user_id % 2 = 1 GROUP BY 1), "
    "kj AS (SELECT coalesce(kr.key, kc.key) AS key, coalesce(nr, 0) AS nr, "
    "coalesce(nc, 0) AS nc FROM kr FULL OUTER JOIN kc ON kr.key = kc.key), "
    "kt AS (SELECT sum(nr)::DOUBLE AS tr, sum(nc)::DOUBLE AS tc, "
    "count(*)::DOUBLE AS nb FROM kj), "
    "kterm AS (SELECT key, nr, nc, (nr::DOUBLE + 0.5) / (tr + 0.5 * nb) AS pr, "
    "(nc::DOUBLE + 0.5) / (tc + 0.5 * nb) AS pc FROM kj, kt), "
    # -- drift_compare_grouped: per-event_type PSI over the same
    # -- frozen edges; each group's totals are its own (self-contained
    # -- per-segment PSI)
    # -- coalesce mirrors drift_compare_grouped's '__null' segment sentinel
    # -- (identity today — event_type is never null in the generator — but
    # -- keeps the engines aligned if that ever changes)
    "gr AS (SELECT coalesce(event_type, '__null') AS grp, "
    "CASE WHEN value IS NULL OR isnan(value) THEN -1 WHEN value <= 5.0 THEN 0 "
    "WHEN value <= 15.0 THEN 1 WHEN value <= 35.0 THEN 2 WHEN value <= 70.0 THEN 3 "
    "WHEN value <= 150.0 THEN 4 ELSE 5 END AS bin FROM events WHERE user_id % 2 = 0), "
    "gc AS (SELECT coalesce(event_type, '__null') AS grp, "
    "CASE WHEN v IS NULL OR isnan(v) THEN -1 WHEN v <= 5.0 THEN 0 "
    "WHEN v <= 15.0 THEN 1 WHEN v <= 35.0 THEN 2 WHEN v <= 70.0 THEN 3 "
    "WHEN v <= 150.0 THEN 4 ELSE 5 END AS bin FROM "
    "(SELECT event_type, CASE WHEN event_id % 97 = 0 THEN NULL "
    "ELSE value * 1.35 END AS v FROM events WHERE user_id % 2 = 1)), "
    "ga AS (SELECT grp, bin, count(*)::BIGINT AS nr FROM gr GROUP BY 1, 2), "
    "gb AS (SELECT grp, bin, count(*)::BIGINT AS nc FROM gc GROUP BY 1, 2), "
    "gj AS (SELECT coalesce(ga.grp, gb.grp) AS grp, coalesce(ga.bin, gb.bin) AS bin, "
    "coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc "
    "FROM ga FULL OUTER JOIN gb ON ga.grp = gb.grp AND ga.bin = gb.bin), "
    "gt AS (SELECT grp, sum(nr)::DOUBLE AS tr, sum(nc)::DOUBLE AS tc, "
    "count(*)::DOUBLE AS nb FROM gj GROUP BY grp), "
    "gterm AS (SELECT gj.grp, bin, nr, nc, (nr::DOUBLE + 0.5) / (tr + 0.5 * nb) AS pr, "
    "(nc::DOUBLE + 0.5) / (tc + 0.5 * nb) AS pc FROM gj JOIN gt USING (grp)), "
    # -- embedding drift: norm-distribution PSI (per-row L2 norm is an
    # -- in-order fold — bit-identical across engines) between the even-id
    # -- half and the odd half synthetically scaled by 1+(vec_id%5)/10,
    # -- plus the centroid_shift cosine between the even half and the odd
    # -- half scaled by -0.8 (quantized per-dim BIGINT sums — exact on any
    # -- engine/partitioning)
    "ern AS (SELECT sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nv "
    "FROM embeddings WHERE vec_id % 2 = 0), "
    "ecn AS (SELECT sqrt(list_sum(list_transform(embedding::DOUBLE[], "
    "x -> (x * (1 + (vec_id % 5) / 10.0)) * (x * (1 + (vec_id % 5) / 10.0))))) AS nv "
    "FROM embeddings WHERE vec_id % 2 = 1), "
    + "".join(
        f"{cte} AS (SELECT CASE WHEN nv IS NULL OR isnan(nv) THEN -1 "
        "WHEN nv <= 1.05 THEN 0 WHEN nv <= 1.15 THEN 1 WHEN nv <= 1.25 THEN 2 "
        f"WHEN nv <= 1.35 THEN 3 ELSE 4 END AS bin FROM {src}), "
        for cte, src in (("erb", "ern"), ("ecb", "ecn"))
    )
    + "err AS (SELECT bin, count(*)::BIGINT AS nr FROM erb GROUP BY bin), "
    "ecc AS (SELECT bin, count(*)::BIGINT AS nc FROM ecb GROUP BY bin), "
    "ej AS (SELECT coalesce(err.bin, ecc.bin) AS bin, coalesce(nr, 0) AS nr, "
    "coalesce(nc, 0) AS nc FROM err FULL OUTER JOIN ecc ON err.bin = ecc.bin), "
    "et AS (SELECT sum(nr)::DOUBLE AS tr, sum(nc)::DOUBLE AS tc, "
    "count(*)::DOUBLE AS nb FROM ej), "
    "eterm AS (SELECT bin, nr, nc, (nr::DOUBLE + 0.5) / (tr + 0.5 * nb) AS pr, "
    "(nc::DOUBLE + 0.5) / (tc + 0.5 * nb) AS pc FROM ej, et), "
    "cqr AS (SELECT generate_subscripts(embedding, 1) AS pos, "
    "unnest(list_transform(embedding::DOUBLE[], x -> floor(x * 1000000)::BIGINT)) AS qx "
    "FROM embeddings WHERE vec_id % 2 = 0), "
    "cqc AS (SELECT generate_subscripts(embedding, 1) AS pos, "
    "unnest(list_transform(embedding::DOUBLE[], x -> floor(-0.8 * x * 1000000)::BIGINT)) AS qx "
    "FROM embeddings WHERE vec_id % 2 = 1), "
    "cra AS (SELECT pos, sum(qx)::DOUBLE AS s, count(*)::DOUBLE AS n FROM cqr GROUP BY pos), "
    "cca AS (SELECT pos, sum(qx)::DOUBLE AS s, count(*)::DOUBLE AS n FROM cqc GROUP BY pos), "
    "ccos AS (SELECT sum((cra.s / cra.n) * (cca.s / cca.n)) "
    "/ (sqrt(sum(pow(cra.s / cra.n, 2))) * sqrt(sum(pow(cca.s / cca.n, 2)))) AS cosv, "
    "count(*)::BIGINT AS dim FROM cra JOIN cca USING (pos)), "
    # -- data-contract expectations: all eight rules are ONE
    # -- aggregate on both engines; counts are exact longs, rates are
    # -- identical-arithmetic divisions (int sum / int count)
    "exq AS (SELECT count(*)::BIGINT AS n, "
    "sum((event_type IS NULL)::BIGINT) AS et_nulls, "
    "(count(event_id) - count(DISTINCT event_id))::BIGINT AS dupes, "
    "sum((value IS NOT NULL AND (value < 0 OR value > 100))::BIGINT) AS oor, "
    "sum((event_type IS NOT NULL AND event_type NOT IN "
    "('click','view','purchase','signup'))::BIGINT) AS oos, "
    "avg((props IS NULL)::INT::DOUBLE) AS nullrate, "
    "avg(CASE WHEN event_type IS NOT NULL THEN "
    "regexp_matches(event_type, '^[a-z]+$')::INT::DOUBLE END) AS rrate, "
    "count(DISTINCT event_type)::BIGINT AS dcnt FROM events), "
    # -- vector contracts: replicate the Spark side's planted
    # -- violations (NaN first element every 50th vector, NaN scalar every
    # -- 77th row, dim-63 rule over the untouched column) then count them
    "expe AS (SELECT vec_id, CASE WHEN vec_id % 50 = 0 THEN "
    "list_concat(['NaN'::FLOAT], embedding[2:64]) ELSE embedding END AS emb, "
    "embedding AS emb63, "
    "CASE WHEN vec_id % 77 = 0 THEN 'NaN'::DOUBLE ELSE 1.0 END AS vscalar "
    "FROM embeddings), "
    "exe AS (SELECT "
    "sum((emb IS NOT NULL AND len(emb) != 64)::BIGINT) AS dim_bad, "
    "sum((emb63 IS NOT NULL AND len(emb63) != 63)::BIGINT) AS dim63_bad, "
    "sum((emb IS NOT NULL AND len(list_filter(emb, x -> isnan(x))) > 0)::BIGINT) "
    "AS nan_rows, "
    "sum((vscalar IS NOT NULL AND isnan(vscalar))::BIGINT) AS nan_scalar "
    "FROM expe), "
    # -- grouped contracts: the same rules PER SEGMENT in one
    # -- grouped aggregate ('__null' sentinel group like the drift CTEs)
    "exg AS (SELECT coalesce(event_type, '__null') AS g, count(*)::BIGINT AS n, "
    "(count(event_id) - count(DISTINCT event_id))::BIGINT AS dupes, "
    "sum((value IS NOT NULL AND (value < 0 OR value > 100))::BIGINT) AS oor "
    "FROM events GROUP BY 1) "
    "SELECT 'stats' AS part, event_type AS key, cnt AS a, mn AS lo, mx AS hi, "
    "CAST(NULL AS DOUBLE) AS share FROM s "
    "UNION ALL SELECT 'dict', event_type, idx, NULL, NULL, NULL FROM d "
    "UNION ALL SELECT * FROM (SELECT 'skew', key, n_rows, CAST(NULL AS DOUBLE), "
    "CAST(NULL AS DOUBLE), round(n_rows / t.total, 6) FROM k, t "
    "ORDER BY n_rows DESC, key LIMIT 5) "
    "UNION ALL SELECT 'hist', bin::VARCHAR, coalesce(n, 0)::BIGINT, NULL, NULL, NULL "
    "FROM hg LEFT JOIN hc USING (bin) "
    "UNION ALL SELECT 'corr', pair, NULL, NULL, NULL, c FROM corrs "
    "UNION ALL SELECT 'drift', d.bin::VARCHAR, nr, lo, hi, "
    "round((pc - pr) * ln(pc / pr), 6) FROM dterm d JOIN dlo USING (bin) "
    "UNION ALL SELECT 'drift_cur', d.bin::VARCHAR, nc, NULL, NULL, "
    "round(pc * ln(pc / pr), 6) FROM dterm d JOIN dlo USING (bin) "
    "UNION ALL SELECT 'driftcat', key, nr, NULL, NULL, "
    "round((pc - pr) * ln(pc / pr), 6) FROM kterm "
    "UNION ALL SELECT 'driftcat_cur', key, nc, NULL, NULL, "
    "round(pc * ln(pc / pr), 6) FROM kterm "
    "UNION ALL SELECT 'driftg', grp || '|' || bin::VARCHAR, nr, NULL, NULL, "
    "round((pc - pr) * ln(pc / pr), 6) FROM gterm "
    "UNION ALL SELECT 'driftg_cur', grp || '|' || bin::VARCHAR, nc, NULL, NULL, "
    "round(pc * ln(pc / pr), 6) FROM gterm "
    "UNION ALL SELECT 'edrift', bin::VARCHAR, nr, NULL, NULL, "
    "round((pc - pr) * ln(pc / pr), 6) FROM eterm "
    "UNION ALL SELECT 'edrift_cur', bin::VARCHAR, nc, NULL, NULL, "
    "round(pc * ln(pc / pr), 6) FROM eterm "
    "UNION ALL SELECT 'ecent', 'centroid', dim, NULL, NULL, "
    "round(cosv, 6) FROM ccos "
    "UNION ALL SELECT 'expect', 'row_count|*', NULL, round(n::DOUBLE, 6), "
    "NULL, (n >= 1)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'not_null|event_type', NULL, "
    "round(et_nulls::DOUBLE, 6), NULL, (et_nulls = 0)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'unique|event_id', NULL, "
    "round(dupes::DOUBLE, 6), NULL, (dupes = 0)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'range|value', NULL, "
    "round(oor::DOUBLE, 6), NULL, (oor = 0)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'in_set|event_type', NULL, "
    "round(oos::DOUBLE, 6), NULL, (oos = 0)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'null_rate|props', NULL, "
    "round(nullrate, 6), NULL, "
    "(nullrate IS NOT NULL AND nullrate <= 0.5)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'regex|event_type', NULL, "
    "round(rrate, 6), NULL, "
    "(rrate IS NULL OR rrate >= 0.9)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expect', 'distinct_count|event_type', NULL, "
    "round(dcnt::DOUBLE, 6), NULL, "
    "(dcnt BETWEEN 1 AND 10)::INT::DOUBLE FROM exq "
    "UNION ALL SELECT 'expectg', g || '|row_count|*', NULL, "
    "round(n::DOUBLE, 6), NULL, (n >= 1)::INT::DOUBLE FROM exg "
    "UNION ALL SELECT 'expectg', g || '|unique|event_id', NULL, "
    "round(dupes::DOUBLE, 6), NULL, (dupes = 0)::INT::DOUBLE FROM exg "
    "UNION ALL SELECT 'expectg', g || '|range|value', NULL, "
    "round(oor::DOUBLE, 6), NULL, (oor = 0)::INT::DOUBLE FROM exg "
    "UNION ALL SELECT 'expect', 'array_dim|embedding', NULL, "
    "round(dim_bad::DOUBLE, 6), NULL, (dim_bad = 0)::INT::DOUBLE FROM exe "
    "UNION ALL SELECT 'expect', 'array_dim|emb63', NULL, "
    "round(dim63_bad::DOUBLE, 6), NULL, (dim63_bad = 0)::INT::DOUBLE FROM exe "
    "UNION ALL SELECT 'expect', 'no_nan|embedding', NULL, "
    "round(nan_rows::DOUBLE, 6), NULL, (nan_rows = 0)::INT::DOUBLE FROM exe "
    "UNION ALL SELECT 'expect', 'no_nan|vscalar', NULL, "
    "round(nan_scalar::DOUBLE, 6), NULL, (nan_scalar = 0)::INT::DOUBLE FROM exe",
)
def dimension_profile(spark, sf):
    """Three dimension-table aggregates over one key,
    groupcount_minmax + distinct_dictionary plus the key_skew_profile
    diagnostic (all 5-row event_type aggregates):

    - part='stats' — P3 + A2 + A8: null-rejection (dns/DNSPreLDA.scala:92)
      then count-by-key with exact min/max in one grouped pass.
    - part='dict' — A5: distinct values → stable dictionary ids
      (OniLDACWrapper.scala:40-60, rebuilt without driver collect).
    - part='skew' — plans.diagnostics.key_skew_profile: the top-k heaviest
      keys with their exact share of all rows (share = count / in-plan
      1-row total; the shuffle-straggler diagnostic).

    It also merges two more diagnostics into the same one-table profile
    family:

    - part='hist' — plans.diagnostics.column_histogram over `value`
      (8 equi-width bins; bounds from the histogram's documented 1-row
      min/max driver aggregate — the bounds job you skip at scale by
      passing lo/hi, stated by the oracle as a CTE): key=bin, a=count.
      Structural zeros for empty bins; bin arithmetic is the identical
      double expression on both engines, counts are exact longs.
    - part='corr' — plans.diagnostics.numeric_correlations over the three
      numeric columns in ONE aggregate/scan: key='col_a|col_b',
      share=round(pearson, 6) (engines agree to ~1e-9 on the co-moment
      formula; all three sf0.01 values sit >=1.6e-7 from the rounding
      boundary — checked before freezing).

    It also merges the drift monitor (datapipe.drift.drift_compare) into the
    same profile family:

    - part='drift' / 'drift_cur' — PSI/KL per-bin drift between the
      even-user half and a scale-shifted (×1.35) odd-user half with
      injected nulls (event_id % 97 → the null bin −1, exercised live).
      Explicit literal edges (the frozen-binning production mode — no
      quantile collect in the entry); key=bin, a=n_ref/n_cur,
      lo/hi=bin edges, share=round(psi_term/kl_term, 6). Bin counts are
      exact longs (IEEE ×1.35 then <=edge is engine-identical); the
      psi/kl doubles' distance to the 1e-6 rounding boundary was checked
      at sf0.01 before freezing.
    - part='driftcat' / 'driftcat_cur' — drift_compare_categorical over
      event_type: cur side relabels every 13th event to 'synthetic' and
      nulls every 89th (the '__null' category live); same smoothed PSI/KL
      arithmetic over per-category exact long counts.
    - part='driftg' / 'driftg_cur' — drift_compare_grouped: per-event_type
      PSI over the same frozen edges (key='group|bin'); each segment's
      totals are its own, so every group's terms are a self-contained PSI
      (the "which source drifted" report).
    - part='edrift' / 'edrift_cur' / 'ecent' — embedding drift over the
      embeddings table: norm-distribution PSI between the even-id half
      and the odd half synthetically scaled by 1+(vec_id%5)/10 (per-row
      L2 norm is an in-order fold, bit-identical across engines), and the
      centroid_shift cosine vs the odd half scaled by −0.8 (per-dimension
      floor(x·1e6) BIGINT sums — exact on any engine and partitioning;
      key='centroid', a=validated dim, share=round(cosine, 6)).

    It also merges the data-contract expectation suite (datapipe.contracts)
    into the same profile family:

    - part='expect' — run_expectations over events, all eight rule kinds
      in ONE aggregate (row_count, not_null, unique, range, in_set,
      null_rate, regex, distinct_count), two failures planted live
      (range|value: values > 100 exist; in_set|event_type: 'error' is
      outside the set). key=rule|column, lo=observed (exact counts /
      identical-arithmetic rates), share=ok as 0/1, a/hi null.
    - part='expectg' — run_expectations_grouped per event_type (ONE
      grouped aggregate: row_count / unique|event_id / range|value per
      segment, range failing in every segment with values > 100);
      key=group|rule|column, same lo/share mapping."""
    from oni_ml_spark.datapipe.drift import (
        centroid_shift,
        drift_compare,
        drift_compare_categorical,
        drift_compare_grouped,
        embedding_norm_drift,
    )
    from oni_ml_spark.plans.diagnostics import (
        column_histogram,
        key_skew_profile,
        numeric_correlations,
    )

    e = load_table(spark, sf, "events")
    null_d = F.lit(None).cast("double")
    stats = (
        e.filter(F.col("props").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.lit("stats").alias("part"),
            F.col("event_type").alias("key"),
            F.col("cnt").alias("a"),
            F.col("min_value").alias("lo"),
            F.col("max_value").alias("hi"),
            null_d.alias("share"),
        )
    )
    w = Window.orderBy("event_type")
    dic = (
        e.select("event_type")
        .distinct()
        .withColumn("idx", (F.row_number().over(w) - 1).cast("long"))
        .select(
            F.lit("dict").alias("part"),
            F.col("event_type").alias("key"),
            F.col("idx").alias("a"),
            null_d.alias("lo"),
            null_d.alias("hi"),
            null_d.alias("share"),
        )
    )
    skew = key_skew_profile(e, "event_type", top_k=5).select(
        F.lit("skew").alias("part"),
        "key",
        F.col("n_rows").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        "share",
    )
    hist = column_histogram(e, "value", bins=8).select(
        F.lit("hist").alias("part"),
        F.col("bin").cast("string").alias("key"),
        F.col("n").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        null_d.alias("share"),
    )
    corr = numeric_correlations(e, ["event_id", "user_id", "value"]).select(
        F.lit("corr").alias("part"),
        F.concat_ws("|", "col_a", "col_b").alias("key"),
        F.lit(None).cast("long").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("corr", 6).alias("share"),
    )
    drift_ref = e.filter((F.col("user_id") % 2) == 0).select("value")
    drift_cur = e.filter((F.col("user_id") % 2) == 1).select(
        F.when((F.col("event_id") % 97) == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value") * 1.35)
        .alias("value")
    )
    dr = drift_compare(
        drift_ref, drift_cur, "value", edges=[5.0, 15.0, 35.0, 70.0, 150.0]
    )
    dref = dr.select(
        F.lit("drift").alias("part"),
        F.col("bin").cast("string").alias("key"),
        F.col("n_ref").alias("a"),
        F.col("lo"),
        F.col("hi"),
        F.round("psi_term", 6).alias("share"),
    )
    dcur = dr.select(
        F.lit("drift_cur").alias("part"),
        F.col("bin").cast("string").alias("key"),
        F.col("n_cur").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("kl_term", 6).alias("share"),
    )
    cat_ref = e.filter((F.col("user_id") % 2) == 0).select("event_type")
    cat_cur = e.filter((F.col("user_id") % 2) == 1).select(
        F.when((F.col("event_id") % 89) == 0, F.lit(None).cast("string"))
        .when((F.col("event_id") % 13) == 0, F.lit("synthetic"))
        .otherwise(F.col("event_type"))
        .alias("event_type")
    )
    dcat = drift_compare_categorical(cat_ref, cat_cur, "event_type")
    kref = dcat.select(
        F.lit("driftcat").alias("part"),
        "key",
        F.col("n_ref").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("psi_term", 6).alias("share"),
    )
    kcur = dcat.select(
        F.lit("driftcat_cur").alias("part"),
        "key",
        F.col("n_cur").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("kl_term", 6).alias("share"),
    )
    g_ref = e.filter((F.col("user_id") % 2) == 0).select("event_type", "value")
    g_cur = e.filter((F.col("user_id") % 2) == 1).select(
        "event_type",
        F.when((F.col("event_id") % 97) == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value") * 1.35)
        .alias("value"),
    )
    dg = drift_compare_grouped(
        g_ref, g_cur, "event_type", "value", edges=[5.0, 15.0, 35.0, 70.0, 150.0]
    )
    gkey = F.concat_ws("|", "group", F.col("bin").cast("string")).alias("key")
    gref = dg.select(
        F.lit("driftg").alias("part"),
        gkey,
        F.col("n_ref").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("psi_term", 6).alias("share"),
    )
    gcur = dg.select(
        F.lit("driftg_cur").alias("part"),
        gkey,
        F.col("n_cur").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("kl_term", 6).alias("share"),
    )
    emb = load_table(spark, sf, "embeddings")
    e_ref = emb.filter((F.col("vec_id") % 2) == 0).select("embedding")
    scale = F.lit(1.0) + (F.col("vec_id") % 5).cast("double") / F.lit(10.0)
    e_cur = emb.filter((F.col("vec_id") % 2) == 1).select(
        F.transform("embedding", lambda x: x.cast("double") * scale).alias("embedding")
    )
    ed = embedding_norm_drift(
        e_ref, e_cur, "embedding", edges=[1.05, 1.15, 1.25, 1.35]
    )
    eref = ed.select(
        F.lit("edrift").alias("part"),
        F.col("bin").cast("string").alias("key"),
        F.col("n_ref").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("psi_term", 6).alias("share"),
    )
    ecur = ed.select(
        F.lit("edrift_cur").alias("part"),
        F.col("bin").cast("string").alias("key"),
        F.col("n_cur").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("kl_term", 6).alias("share"),
    )
    c_cur = emb.filter((F.col("vec_id") % 2) == 1).select(
        F.transform("embedding", lambda x: x.cast("double") * F.lit(-0.8)).alias(
            "embedding"
        )
    )
    ecent = centroid_shift(e_ref, c_cur, "embedding", dim=64).select(
        F.lit("ecent").alias("part"),
        F.lit("centroid").alias("key"),
        F.col("dim").alias("a"),
        null_d.alias("lo"),
        null_d.alias("hi"),
        F.round("cosine", 6).alias("share"),
    )
    from oni_ml_spark.datapipe.contracts import (
        expect_array_dim,
        expect_distinct_count,
        expect_in_set,
        expect_no_nan,
        expect_not_null,
        expect_null_rate,
        expect_range,
        expect_regex,
        expect_row_count,
        expect_unique,
        run_expectations,
        run_expectations_grouped,
    )

    # the data-contract expectation suite (datapipe.contracts) over
    # the same table — ONE aggregate evaluating all eight rules; two
    # planted failures (value > 100 exists; 'error' is outside the set).
    # key=rule|column, lo=observed (exact counts / identical-arithmetic
    # rates), share=ok as 0/1.
    exp = run_expectations(e, [
        expect_row_count(min_rows=1),
        expect_not_null("event_type"),
        expect_unique("event_id"),
        expect_range("value", lo=0.0, hi=100.0),
        expect_in_set("event_type", ["click", "view", "purchase", "signup"]),
        expect_null_rate("props", max_rate=0.5),
        expect_regex("event_type", "^[a-z]+$", min_rate=0.9),
        expect_distinct_count("event_type", lo=1, hi=10),
    ]).select(
        F.lit("expect").alias("part"),
        F.concat_ws("|", "rule", F.coalesce("column", F.lit("*"))).alias("key"),
        F.lit(None).cast("long").alias("a"),
        F.round(F.col("observed").cast("double"), 6).alias("lo"),
        null_d.alias("hi"),
        F.col("ok").cast("double").alias("share"),
    )
    expg = run_expectations_grouped(e, "event_type", [
        expect_row_count(min_rows=1),
        expect_unique("event_id"),
        expect_range("value", lo=0.0, hi=100.0),
    ]).select(
        F.lit("expectg").alias("part"),
        F.concat_ws("|", "group", "rule", F.coalesce("column", F.lit("*"))).alias("key"),
        F.lit(None).cast("long").alias("a"),
        F.round(F.col("observed").cast("double"), 6).alias("lo"),
        null_d.alias("hi"),
        F.col("ok").cast("double").alias("share"),
    )
    # the vector-column contracts (expect_array_dim / expect_no_nan)
    # over embeddings with PLANTED violations — every 50th vector's first
    # element becomes NaN (dim preserved), a scalar column gets NaN every
    # 77th row, and the dim-63 rule (aliased column, distinct report key)
    # fails on the whole table. One pass row + three planted-fail rows.
    planted = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 50 == 0,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.slice("embedding", 2, 63),
            ),
        ).otherwise(F.col("embedding")).alias("embedding"),
        F.col("embedding").alias("emb63"),
        F.when(F.col("vec_id") % 77 == 0, F.lit(float("nan")))
        .otherwise(F.lit(1.0)).alias("vscalar"),
    )
    expv = run_expectations(planted, [
        expect_array_dim("embedding", 64),              # passes
        expect_array_dim("emb63", 63),                  # planted fail: all rows
        expect_no_nan("embedding", elementwise=True),   # planted fail: every 50th
        expect_no_nan("vscalar"),                       # planted fail: every 77th
    ]).select(
        F.lit("expect").alias("part"),
        F.concat_ws("|", "rule", F.coalesce("column", F.lit("*"))).alias("key"),
        F.lit(None).cast("long").alias("a"),
        F.round(F.col("observed").cast("double"), 6).alias("lo"),
        null_d.alias("hi"),
        F.col("ok").cast("double").alias("share"),
    )
    return (
        stats.unionByName(dic).unionByName(skew)
        .unionByName(hist).unionByName(corr)
        .unionByName(dref).unionByName(dcur)
        .unionByName(kref).unionByName(kcur)
        .unionByName(gref).unionByName(gcur)
        .unionByName(eref).unionByName(ecur).unionByName(ecent)
        .unionByName(exp).unionByName(expg).unionByName(expv)
    )


@_q(
    "ecdf_quantile_cuts",
    "WITH " + _cuts_cte("lineitem", "l_extendedprice", DECILES)
    + " SELECT cl.p, cl.cutoff, e.cdf FROM cutlist cl JOIN e ON e.v = cl.cutoff",
)
def ecdf_quantile_cuts(spark, sf):
    """A6 + A7 in one entry: exact distributed ECDF
    (utilities/Quantiles.scala:21-40) joined with the exact discrete decile
    cutoffs it induces (Quantiles.scala:54-86) — (p, cutoff, cdf at the
    cutoff). The join checks the two operators agree on the same column.

    Both operators read the SAME distinct-value CDF
    table — build ``_ecdf_parts`` once, pin it (bounded: |distinct
    values| narrow rows), and derive both sides from it instead of running
    the distinct-value shuffle + bucketed prefix-sum twice. Every parts
    column is an exact count/prefix-sum, so sharing cannot move any
    value; the default (parts=None) paths recompute the identical table."""
    from oni_ml_spark.transforms.quantiles import _ecdf_parts

    li = load_table(spark, sf, "lineitem")
    # cache(), not an
    # eager localCheckpoint barrier — identical compute-once sharing of
    # the distinct-value CDF between both consumers, no separate pin job.
    parts = _ecdf_parts(li, "l_extendedprice").cache()
    ec = ecdf(li, "l_extendedprice", parts=parts)
    cuts = quantile_cuts_df(li, "l_extendedprice", DECILES, parts=parts)
    return cuts.join(ec, cuts["cutoff"] == ec["value"]).select("p", "cutoff", "cdf")


@_q(
    "bin_deciles",
    "WITH " + _cuts_cte("lineitem", "l_quantity", DECILES)
    + f" SELECT l_orderkey, l_linenumber, {_bin_sql('l_quantity')} AS bin FROM lineitem, cuts",
)
def bin_deciles(spark, sf):
    """F3: quantile binning against in-data decile cuts
    (Quantiles.scala:97-99 + FlowWordCreation.scala:51-58)."""
    li = load_table(spark, sf, "lineitem")
    cuts = quantile_cuts(li, "l_quantity", DECILES)
    return li.select(
        "l_orderkey", "l_linenumber", bin_expr("l_quantity", cuts).cast("long").alias("bin")
    )


@_q(
    "set_ops",
    "SELECT 'union' AS side, key, count(*) AS cnt FROM ("
    "  SELECT o_custkey AS key FROM orders "
    "  UNION ALL SELECT c_custkey AS key FROM customer "
    "  UNION ALL SELECT n_nationkey AS key FROM nation, generate_series(1, 5)"
    ") GROUP BY key "
    "UNION ALL "
    "SELECT 'both', key, 1 FROM ("
    "  SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000 "
    "  INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 0) "
    "UNION ALL "
    "SELECT 'only_orders', key, 1 FROM ("
    "  SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000 "
    "  EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 0) "
    # -- bloom semi/anti: result-identity with the plain IN / NOT IN —
    # -- the Bloom layer is transparent (no false negatives; FPs settled by
    # -- the exact join); bag semantics, so counts per key
    "UNION ALL "
    "SELECT 'bloom_semi', key, count(*) FROM ("
    "  SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000) "
    "WHERE key IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0) "
    "GROUP BY key "
    "UNION ALL "
    "SELECT 'bloom_anti', key, count(*) FROM ("
    "  SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000) "
    "WHERE key NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0) "
    "GROUP BY key",
)
def set_ops(spark, sf):
    """Every set operation in one entry. U1/U2 + F14: bag-semantics union
    then count (src∪dst corpus, netflow/FlowPreLDA.scala:139) with one
    branch oversampled ×5 via explode(array_repeat) — the feedback
    duplication operator (netflow/FlowPreLDA.scala:98) feeding the union
    exactly as the reference's feedback loop does. Beyond the reference's
    unions: INTERSECT / EXCEPT (set semantics) of the same key domains."""
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("key"))
    n = oversample(load_table(spark, sf, "nation"), 5).select(
        F.col("n_nationkey").alias("key")
    )
    union_counts = (
        o.unionByName(c).unionByName(n)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("union").alias("side"), "key", "cnt")
    )
    of = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("key")
    )
    cf = load_table(spark, sf, "customer").filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("key")
    )
    both = of.intersect(cf).select(
        F.lit("both").alias("side"), "key", F.lit(1).cast("long").alias("cnt")
    )
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep multiplicity
    only_o = of.subtract(cf).select(
        F.lit("only_orders").alias("side"), "key", F.lit(1).cast("long").alias("cnt")
    )
    # bloom semi/anti: the
    # broadcast-bitmap pre-filter + exact settle must reproduce the plain
    # semi/anti joins bit-for-bit (bag semantics — counts per key). ONE
    # shared filter build — semi and anti probe the same bitmap (review
    # finding: two inline builds scanned cf twice and pinned two
    # checkpoints)
    from oni_ml_spark.plans.bloom import (
        bloom_anti_join,
        bloom_semi_join,
        build_bloom_filter,
    )

    def bloom_rows(df, side):
        return (
            df.groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(side).alias("side"), "key", "cnt")
        )

    bf = build_bloom_filter(cf, "key", num_bits=1 << 20)
    bsemi = bloom_rows(bloom_semi_join(of, cf, "key", bloom=bf), "bloom_semi")
    banti = bloom_rows(bloom_anti_join(of, cf, "key", bloom=bf), "bloom_anti")
    return (
        union_counts.unionByName(both).unionByName(only_o)
        .unionByName(bsemi).unionByName(banti)
    )


@_q(
    "merge_upsert",
    "WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer), "
    "u AS (SELECT c_custkey, c_name, -c_acctbal AS c_acctbal FROM c "
    "WHERE c_custkey % 7 = 0 "
    "UNION ALL SELECT c_custkey + 1000000, c_name || '#new', c_acctbal + 0.5 "
    "FROM c WHERE c_custkey % 13 = 0), "
    "m AS (SELECT * FROM c WHERE c_custkey NOT IN (SELECT c_custkey FROM u) "
    "UNION ALL SELECT * FROM u), "
    "mo AS (SELECT * FROM c WHERE c_custkey NOT IN (SELECT c_custkey FROM u) "
    "UNION ALL SELECT u.* FROM u JOIN (SELECT DISTINCT c_custkey FROM c) b "
    "USING (c_custkey)), "
    # -- CDC ring: changelog with upserts + deletes + inserts at
    # -- seqs 1..3, applied via the row_number winner per key (the literal
    # -- MERGE-with-delete expansion apply_changelog implements)
    "ch AS ("
    "  SELECT c_custkey AS k, c_name || '@1' AS nm, c_acctbal + 1.0 AS bal, "
    "    'upsert' AS op, 1 AS seq FROM c WHERE c_custkey % 7 = 0 "
    "  UNION ALL SELECT c_custkey, c_name, c_acctbal, 'delete', 2 "
    "    FROM c WHERE c_custkey % 5 = 0 "
    "  UNION ALL SELECT c_custkey, c_name || '@3', -c_acctbal, 'upsert', 3 "
    "    FROM c WHERE c_custkey % 3 = 0 "
    "  UNION ALL SELECT c_custkey + 1000000, c_name || '#cdc', c_acctbal + 0.25, "
    "    'upsert', 2 FROM c WHERE c_custkey % 11 = 0), "
    "win AS (SELECT * FROM (SELECT ch.*, row_number() "
    "  OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch) WHERE rn = 1), "
    "cdc AS ("
    "  SELECT c_custkey AS k, c_name AS nm, c_acctbal AS bal FROM c "
    "  WHERE c_custkey NOT IN (SELECT k FROM win) "
    "  UNION ALL SELECT k, nm, bal FROM win WHERE op = 'upsert'), "
    # -- SCD2: seed the base snapshot as upserts at seq 0, lead(seq) closes
    # -- each version; validity is encoded into the name string so the part
    # -- shares the entry's (key, name, bal) row shape
    "h0 AS (SELECT k, nm, bal, op, seq FROM ch "
    "  UNION ALL SELECT c_custkey, c_name, c_acctbal, 'upsert', 0 FROM c), "
    "hist AS (SELECT k, nm, bal, op, seq AS vf, "
    "  lead(seq) OVER (PARTITION BY k ORDER BY seq) AS vt FROM h0), "
    "scd2 AS (SELECT k, nm || '|' || vf::VARCHAR || '|' || "
    "  coalesce(vt::VARCHAR, 'open') AS nm, bal FROM hist WHERE op = 'upsert'), "
    # -- as-of t=2 == apply_changelog(base, changes with seq <= 2)
    "ch2 AS (SELECT * FROM ch WHERE seq <= 2), "
    "win2 AS (SELECT * FROM (SELECT ch2.*, row_number() "
    "  OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ch2) WHERE rn = 1), "
    "aof AS ("
    "  SELECT c_custkey AS k, c_name AS nm, c_acctbal AS bal FROM c "
    "  WHERE c_custkey NOT IN (SELECT k FROM win2) "
    "  UNION ALL SELECT k, nm, bal FROM win2 WHERE op = 'upsert') "
    "SELECT 'upsert' AS part, c_custkey, c_name, round(c_acctbal, 6) AS bal FROM m "
    "UNION ALL "
    "SELECT 'update_only', c_custkey, c_name, round(c_acctbal, 6) FROM mo "
    "UNION ALL SELECT 'cdc', k, nm, round(bal, 6) FROM cdc "
    "UNION ALL SELECT 'scd2', k, nm, round(bal, 6) FROM scd2 "
    "UNION ALL SELECT 'asof', k, nm, round(bal, 6) FROM aof "
    # -- conform_schema: a drifted producer frame (int key, reordered
    # -- columns, missing balance) aligned to the target — int widens to
    # -- bigint, the missing nullable column fills with typed nulls
    "UNION ALL SELECT 'conform', c_custkey, c_name, CAST(NULL AS DOUBLE) "
    "FROM customer",
)
def merge_upsert_q(spark, sf):
    """The keyed-mutation family in one entry (all beyond the reference —
    the incremental-refresh primitives of a table-format-less pipeline).

    part='upsert'/'update_only': sampling.merge_upsert — updates
    REPLACE matched base rows (negated balance), unmatched updates insert
    (shifted key, '#new' suffix, +0.5 balance); update_only re-runs with
    allow_insert=False so inserts are dropped. Oracle: the literal SQL
    MERGE expansion (anti-semantics via NOT IN over non-null keys).

    part='cdc': snapshots.apply_changelog —
    a 3-seq changelog (upserts at 1 and 3, deletes at 2, inserts at 2,
    keys overlapping so supersession is live) applied to the customer
    base; the max_by-over-seq winner + one left-anti join, vs the
    oracle's row_number expansion.

    part='scd2': snapshots.scd2_history seeded with the base snapshot at
    seq 0 — every version row, its [valid_from, valid_to) interval
    encoded into the name string so the part shares the entry's row
    shape, vs the oracle's lead(seq) window.

    part='asof': as_of_snapshot(history, t=2) — the time-travel read,
    which the oracle restates as apply_changelog(base, changes with
    seq <= 2): the structural invariant the SCD2 tests assert, here
    checked against an INDEPENDENT expansion.

    All balance mutations are exact double ops (negation, +1.0, +0.25,
    +0.5), so the value hash is engine-portable under round(,6)."""
    from oni_ml_spark.datapipe.sampling import merge_upsert
    from oni_ml_spark.datapipe.snapshots import (
        apply_changelog,
        as_of_snapshot,
        scd2_history,
    )

    c = load_table(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    upd = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_name", (-F.col("c_acctbal")).alias("c_acctbal")
    )
    ins = c.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat("c_name", F.lit("#new")).alias("c_name"),
        (F.col("c_acctbal") + 0.5).alias("c_acctbal"),
    )
    updates = upd.unionByName(ins)

    def rows(df, part):
        return df.select(
            F.lit(part).alias("part"),
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 6).alias("bal"),
        )

    # CDC changelog: full snapshot schema + (op, seq); (key, seq) unique by
    # construction (distinct seqs per mod-class)
    def ch_rows(flt, name_suffix, bal_delta, op, seq, key_shift=0):
        return c.filter(flt).select(
            (F.col("c_custkey") + key_shift).alias("c_custkey"),
            F.concat("c_name", F.lit(name_suffix)).alias("c_name"),
            bal_delta.alias("c_acctbal"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
        )

    k = F.col("c_custkey")
    changes = (
        ch_rows(k % 7 == 0, "@1", F.col("c_acctbal") + 1.0, "upsert", 1)
        .unionByName(ch_rows(k % 5 == 0, "", F.col("c_acctbal"), "delete", 2))
        .unionByName(ch_rows(k % 3 == 0, "@3", -F.col("c_acctbal"), "upsert", 3))
        .unionByName(
            ch_rows(k % 11 == 0, "#cdc", F.col("c_acctbal") + 0.25, "upsert", 2,
                    key_shift=1000000)
        )
    )
    cdc = rows(apply_changelog(c, changes, "c_custkey"), "cdc")
    hist = scd2_history(changes, "c_custkey", initial=c, initial_seq=0)
    scd2 = hist.select(
        F.lit("scd2").alias("part"),
        "c_custkey",
        F.concat(
            "c_name", F.lit("|"), F.col("valid_from").cast("string"), F.lit("|"),
            F.coalesce(F.col("valid_to").cast("string"), F.lit("open")),
        ).alias("c_name"),
        F.round("c_acctbal", 6).alias("bal"),
    )
    asof = rows(as_of_snapshot(hist, 2), "asof")
    # conform_schema (io.py): a drifted producer frame — key narrowed to
    # int, columns reordered, balance column missing — aligned back to the
    # target struct (safe widening + typed-null fill); pure projection
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from oni_ml_spark.io import conform_schema

    target = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_acctbal", DoubleType()),
        ]
    )
    drifted = c.select("c_name", F.col("c_custkey").cast("int").alias("c_custkey"))
    conf = rows(conform_schema(drifted, target, fill_missing=True), "conform")
    return (
        rows(merge_upsert(c, updates, "c_custkey"), "upsert")
        .unionByName(
            rows(merge_upsert(c, updates, "c_custkey", allow_insert=False),
                 "update_only")
        )
        .unionByName(cdc)
        .unionByName(scd2)
        .unionByName(asof)
        .unionByName(conf)
    )


# ---- scalar functions (F1-F16) -------------------------------------------

@_q(
    "time_features",
    "SELECT event_id, round(extract('hour' FROM ts) + extract('minute' FROM ts) / 60.0 "
    "+ extract('second' FROM ts) / 3600.0, 6) AS num_time, "
    "(extract('hour' FROM ts) * 3600 + extract('minute' FROM ts) * 60 "
    "+ floor(extract('second' FROM ts)))::DOUBLE AS sec_of_day, "
    "least(round(extract('hour' FROM ts) + extract('minute' FROM ts) / 60.0 "
    "+ extract('second' FROM ts) / 3600.0, 6), value) AS min_score FROM events",
)
def time_features_q(spark, sf):
    """F1 + F2/F15 + F13 in one pass: fractional hour
    (netflow/FlowWordCreation.scala:88-92), HH:MM:SS-string → seconds past
    midnight (utilities/TimeUtilities.scala:8-15; the string round-trips
    through date_format to exercise the split path), and least() of two
    scores (netflow/FlowPostLDA.scala:115-126 — the src/dst endpoint-score
    min, here over the two per-event doubles)."""
    from oni_ml_spark.transforms.time import seconds_of_day

    e = load_table(spark, sf, "events")
    num_time = F.round(
        fractional_hour(F.hour("ts"), F.minute("ts"), F.second("ts")), 6
    )
    return e.select(
        "event_id",
        num_time.alias("num_time"),
        seconds_of_day(F.date_format("ts", "HH:mm:ss")).alias("sec_of_day"),
        F.least(num_time, F.col("value")).alias("min_score"),
    )


_FLOW_WORD_ORACLE = f"""
WITH f AS ({_FLOW_COLS_SQL}),
g AS (
  SELECT *,
    CASE WHEN (dport <= 1024 OR sport <= 1024) AND (dport > 1024 OR sport > 1024)
              AND least(dport, sport) != 0 THEN 2
         WHEN dport > 1024 AND sport > 1024 THEN 3
         WHEN dport = 0 AND sport != 0 THEN 4
         WHEN sport = 0 AND dport != 0 THEN 4
         ELSE 1 END AS port_case,
    CASE WHEN (dport <= 1024 OR sport <= 1024) AND (dport > 1024 OR sport > 1024)
              AND least(dport, sport) != 0 THEN least(dport, sport)::DOUBLE
         WHEN dport > 1024 AND sport > 1024 THEN 333333.0
         WHEN dport = 0 AND sport != 0 THEN sport::DOUBLE
         WHEN sport = 0 AND dport != 0 THEN dport::DOUBLE
         ELSE CASE WHEN least(dport, sport) = 0 THEN greatest(dport, sport)::DOUBLE
                   ELSE 111111.0 END END AS word_port
  FROM f),
h AS (
  SELECT *,
    word_port::VARCHAR || '_' || time_bin::DOUBLE::VARCHAR || '_'
      || ibyt_bin::DOUBLE::VARCHAR || '_' || ipkt_bin::DOUBLE::VARCHAR AS base_word,
    CASE WHEN sip < dip THEN sip || ' ' || dip ELSE dip || ' ' || sip END AS ip_pair
  FROM g)
SELECT l_orderkey, l_linenumber, word_port::VARCHAR AS word_port, ip_pair,
  CASE WHEN (port_case = 2 AND sport < dport) OR (port_case = 4 AND dport = 0)
       THEN '-1_' || base_word ELSE base_word END AS source_word,
  CASE WHEN (port_case = 2 AND dport < sport) OR (port_case = 4 AND sport = 0)
       THEN '-1_' || base_word ELSE base_word END AS destination_word
FROM h
"""


@_q("flow_words", _FLOW_WORD_ORACLE)
def flow_words_q(spark, sf):
    """F8/F16: the full adjustPort word logic over synthesized netflow fields
    (netflow/FlowWordCreation.scala:94-144), exact string formats included."""
    li = _with_flow_cols(load_table(spark, sf, "lineitem"))
    cols = flow_word_cols("sip", "dip", "sport", "dport", "time_bin", "ibyt_bin", "ipkt_bin")
    return li.select(
        "l_orderkey", "l_linenumber", cols["word_port"].alias("word_port"),
        cols["ip_pair"].alias("ip_pair"), cols["source_word"].alias("source_word"),
        cols["destination_word"].alias("destination_word"),
    )


_ARRAY_DOT_ORACLE = (
    "SELECT a.vec_id, round(list_dot_product(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dot_q "
    "FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q"
)


@_q("array_dot_product", _ARRAY_DOT_ORACLE)
def array_dot_product(spark, sf):
    """F11/F12: native array dot product (score function) — every vector
    against the vec_id=0 query (netflow/FlowPostLDA.scala:99-110 re-expressed
    as aggregate(zip_with(...)))."""
    from oni_ml_spark.datapipe.similarity import as_double_array, dot

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_array("embedding").alias("qv")
    )
    return emb.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(dot(as_double_array("embedding"), F.col("qv")), 4).alias("dot_q")
    )


_DNS_WORD_ORACLE = (
    "WITH " + _cuts_cte("events", "value", DECILES) + ", "
    "hc AS (SELECT extract('hour' FROM ts)::DOUBLE AS v, count(*) AS c FROM events GROUP BY 1), "
    "htot AS (SELECT sum(c)::DOUBLE AS t FROM hc), "
    "he AS (SELECT v, sum(c) OVER (ORDER BY v) / (SELECT t FROM htot) AS cdf FROM hc), "
    "hcutlist AS (SELECT p, min(v) AS cutoff FROM he, "
    "  (SELECT unnest([0.2, 0.4, 0.6, 0.8, 1.0]) AS p) ps WHERE cdf >= p GROUP BY p), "
    "hcuts AS (SELECT list(cutoff ORDER BY p) AS hcs FROM hcutlist) "
    "SELECT event_id, event_type || '_' || "
    + _bin_sql("value") + " || '_' || "
    + _bin_sql("extract('hour' FROM ts)::DOUBLE", "hcs")
    + " AS word FROM events, cuts, hcuts"
)


@_q("dns_word_assembly", _DNS_WORD_ORACLE)
def dns_word_assembly(spark, sf):
    """F9-style word assembly: category × value-decile × hour-quintile
    (dns/DNSWordCreation.scala:215-236 pattern) on the events table."""
    from oni_ml_spark.transforms.quantiles import quantile_cuts_multi

    e = load_table(spark, sf, "events").withColumn("hour", F.hour("ts").cast("double"))
    cuts = quantile_cuts_multi(e, {"value": DECILES, "hour": QUINTILES})
    value_cuts, hour_cuts = cuts["value"], cuts["hour"]
    return e.select(
        "event_id",
        F.concat_ws(
            "_",
            F.col("event_type"),
            bin_expr("value", value_cuts).cast("string"),
            bin_expr("hour", hour_cuts).cast("string"),
        ).alias("word"),
    )


@_q(
    "window_rank_topn",
    "WITH r AS (SELECT o_custkey, o_orderkey, row_number() OVER ("
    "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) "
    "SELECT 'window' AS part, o_custkey, o_orderkey, rn FROM r WHERE rn <= 3 "
    "UNION ALL SELECT 'gtopk', o_custkey, o_orderkey, rn FROM r WHERE rn <= 3 "
    "UNION ALL SELECT 'canonical', o_custkey, o_orderkey, 1::BIGINT FROM r WHERE rn = 1",
)
def window_rank_topn(spark, sf):
    """Per-group ranking three ways, one oracle:

    - part='window': the plain rank window (absent in the reference,
      SURVEY.md §2.9 — free in Spark 3) — per-customer top-3 orders.
      grouped_topk's default k>1 algorithm IS this plan.
    - part='gtopk': ranking.grouped_topk(algorithm='salted') — identical
      rows through the hot-group-safe two-pass plan (rank within
      (group, partition salt), then rank the ≤k·salts survivors).
    - part='canonical': ranking.select_canonical — the rn=1 row per
      customer through a pure min(struct) aggregate, no window at all."""
    from oni_ml_spark.datapipe.ranking import grouped_topk, select_canonical

    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    win = (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(F.lit("window").alias("part"), "o_custkey", "o_orderkey", "rn")
    )
    gt = grouped_topk(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        "o_custkey", "o_totalprice", k=3, tie_col="o_orderkey",
        algorithm="salted",
    ).select(
        F.lit("gtopk").alias("part"), "o_custkey", "o_orderkey",
        F.col("rank").cast("long").alias("rn"),
    )
    canon = select_canonical(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        score_col="o_totalprice", cluster_col="o_custkey", id_col="o_orderkey",
    ).select(
        F.lit("canonical").alias("part"), "o_custkey", "o_orderkey",
        F.lit(1).cast("long").alias("rn"),
    )
    return win.unionByName(gt).unionByName(canon)


# --------------------------------------------------------------------------
# beyond-reference: dedup / similarity / text analysis / multimodal
# --------------------------------------------------------------------------

@_q(
    "dedup_exact",
    f"SELECT 'groups' AS part, md5({_NORM_TEXT.format(c='text')}) AS text_key, "
    "min(doc_id) AS keep_id, count(*) AS dup_count, "
    "(min(doc_id) >= 100)::BIGINT AS is_new "
    "FROM documents GROUP BY 2 "
    "UNION ALL "
    "SELECT 'diff', status, NULL, n, NULL FROM ("
    "  WITH old AS (SELECT doc_id, text FROM documents), "
    "  new AS (SELECT doc_id, "
    "          CASE WHEN doc_id % 7 = 0 THEN text || ' EDIT' ELSE text END AS text "
    "          FROM old WHERE doc_id % 11 != 0), "
    "  d AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added' "
    "               WHEN n.doc_id IS NULL THEN 'removed' "
    "               WHEN o.text = n.text THEN 'unchanged' ELSE 'changed' END AS status "
    "        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id), "
    "  c AS (SELECT status, count(*)::BIGINT AS n FROM d GROUP BY status) "
    "  SELECT s.status, coalesce(c.n, 0)::BIGINT AS n "
    "  FROM (VALUES ('added'), ('removed'), ('changed'), ('unchanged')) s(status) "
    "  LEFT JOIN c USING (status))",
)
def dedup_exact(spark, sf):
    """Exact dedup groups + incremental dedup + snapshot diffing, one entry:

    - part='groups': digest-keyed hash-aggregate dedup groups; is_new
      flags groups whose survivor came through anti_join_dedup of the new
      docs (id >= 100) against the existing corpus (id < 100) — a group is
      new iff its smallest id is a new doc whose fingerprint is absent
      from the base, which the oracle states as min(doc_id) >= 100 over
      the same digest groups.
    - part='diff': snapshots.snapshot_diff + diff_summary of the
      corpus against an in-plan derived next snapshot (ids %11 dropped,
      text of %7 edited) — the four status counts land in dup_count with
      the status name in text_key, structural zeros included."""
    from oni_ml_spark.datapipe.dedup import exact_dedup_groups
    from oni_ml_spark.datapipe.sampling import anti_join_dedup
    from oni_ml_spark.datapipe.snapshots import diff_summary, snapshot_diff

    d = _docs(spark, sf)
    groups = exact_dedup_groups(d, "doc_id", "text")
    new_docs = anti_join_dedup(
        d.filter(F.col("doc_id") >= 100), d.filter(F.col("doc_id") < 100),
        "doc_id", "text",
    ).select(F.col("doc_id").alias("keep_id"), F.lit(1).alias("__new"))
    group_rows = groups.join(new_docs, "keep_id", "left").select(
        F.lit("groups").alias("part"),
        "text_key", "keep_id", "dup_count",
        F.coalesce("__new", F.lit(0)).cast("long").alias("is_new"),
    )
    old = d.select("doc_id", "text")
    new = old.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" EDIT")))
        .otherwise(F.col("text")),
    )
    diff_rows = diff_summary(snapshot_diff(old, new, "doc_id", "text")).select(
        F.lit("diff").alias("part"),
        F.col("status").alias("text_key"),
        F.lit(None).cast("long").alias("keep_id"),
        F.col("n").alias("dup_count"),
        F.lit(None).cast("long").alias("is_new"),
    )
    return group_rows.unionByName(diff_rows)


_SHINGLES_SQL = f"""
  sh AS (
    SELECT doc_id AS id, unnest(list_distinct([
      array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)
    ])) AS shingle
    FROM (SELECT doc_id, {_TOKENS.format(c='text')} AS toks FROM documents)
    WHERE len(toks) >= 3)
"""


def _minhash_h_sql(expr: str, i: int) -> str:
    # slice i%4 of md5('{i//4}:'||s) — matches datapipe.dedup.minhash_hash_exprs
    return (
        f"('0x' || substr(md5('{i // 4}:' || {expr}), {1 + 8 * (i % 4)}, 8))::BIGINT"
    )


_MINHASH_COLS = ", ".join(
    f"min({_minhash_h_sql('shingle', i)}) AS h{i}" for i in range(8)
)


@_q(
    "minhash_signatures",
    "WITH " + _SHINGLES_SQL + f" SELECT id, {_MINHASH_COLS} FROM sh GROUP BY id",
)
def minhash_signatures_q(spark, sf):
    """MinHash signatures (8 engine-portable md5-derived hash fns)."""
    from oni_ml_spark.datapipe.dedup import minhash_signatures

    sig = minhash_signatures(
        _docs(spark, sf), "doc_id", "text", n=3, num_hashes=8
    )
    return sig.select("id", *[F.col("sig")[i].alias(f"h{i}") for i in range(8)])


def _simhash_per_cte() -> str:
    """CTEs tok + per: per-document bit-sign sums b0..b63 (shared by the
    simhash fingerprint and Hamming-pair oracles)."""
    tok = f"unnest({_TOKENS.format(c='text')})"
    lo = _h32_sql("token", 0)
    hi = _h32_sql("token", 1)
    sums = ", ".join(
        f"sum(CASE WHEN ({(lo if b < 32 else hi)} & {1 << (b % 32)}) != 0 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    return (
        f"tok AS (SELECT doc_id AS id, {tok} AS token FROM documents), "
        f"per AS (SELECT id, {sums} FROM tok GROUP BY id)"
    )


def _simhash_oracle() -> str:
    fp = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b}::HUGEINT ELSE 0 END)" for b in range(64))
    return (
        f"WITH {_simhash_per_cte()} "
        f"SELECT id, CAST({fp} AS VARCHAR) AS simhash_str FROM per"
    )


@_q("simhash64", _simhash_oracle())
def simhash64_q(spark, sf):
    """64-bit SimHash fingerprints (md5-derived bit signs).

    Compared as strings: the oracle needs HUGEINT for bit 63 (BIGINT would
    overflow), Spark wraps to signed long — both sides render the unsigned
    value via a decimal string."""
    from oni_ml_spark.datapipe.dedup import simhash64

    out = simhash64(_docs(spark, sf), "doc_id", "text")
    two64 = F.expr("CAST('18446744073709551616' AS DECIMAL(21,0))")
    unsigned = F.when(
        F.col("simhash") < 0, F.col("simhash").cast("decimal(20,0)") + two64
    ).otherwise(F.col("simhash").cast("decimal(20,0)"))
    return out.select("id", unsigned.cast("decimal(20,0)").cast("string").alias("simhash_str"))


@_q(
    "embedding_near_dup_bucketed",
    "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "planted AS (SELECT vec_id + 1000000 AS vec_id, "
    "  list_transform(v, x -> x * 0.999 + 0.001) AS v FROM base WHERE vec_id < 25), "
    "allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted) "
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "round(list_cosine_similarity(a.v, b.v), 4) AS sim "
    "FROM allv a JOIN allv b ON a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(a.v, b.v) >= 0.9",
)
def embedding_near_dup_bucketed(spark, sf):
    """Embedding-space near-dup pairs via the banded-SRP bucketed composition
    (candidate bucket self-join → exact cosine verify; no cross join in the
    plan — asserted in tests/test_datapipe.py).

    The oracle is the exact all-pairs cross join over the SAME fixture: the
    raw embeddings table plus 25 planted perturbed copies (x*0.999 + 0.001,
    all-double arithmetic so both engines agree bit-for-bit). Natural pairwise
    cosines top out ≈ 0.6 on this data, so at threshold 0.9 the match set is
    exactly the planted pairs — non-vacuous by construction, and the bucketed
    path must achieve full recall on it to hash-match."""
    from oni_ml_spark.datapipe.similarity import (
        as_double_array,
        embedding_near_duplicates_bucketed,
    )

    base = load_table(spark, sf, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("embedding")
    )
    planted = base.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.999 + 0.001).alias("embedding"),
    )
    fixture = base.unionByName(planted)
    return embedding_near_duplicates_bucketed(fixture, threshold=0.9, dim=64)


def _text_profile_oracle() -> str:
    # the lang CASE chain from _lang_oracle, inlined per-row
    from oni_ml_spark.datapipe.textstats import LANG_MARKERS

    toks = _TOKENS.format(c="text")
    score = {
        lang: f"len(list_filter({toks}, t -> list_contains("
        + "[" + ", ".join(f"'{w}'" for w in words) + "], t)))"
        for lang, words in LANG_MARKERS.items()
    }
    mx = "greatest(" + ", ".join(f"s_{l}" for l in score) + ")"
    case = " ".join(f"WHEN s_{l} > 0 AND s_{l} = {mx} THEN '{l}'" for l in score)
    sels = ", ".join(f"{expr} AS s_{l}" for l, expr in score.items())
    norm = _NORM_TEXT.format(c="text")
    return f"""WITH s AS (SELECT doc_id, {sels} FROM documents),
    lang AS (SELECT doc_id, CASE {case} ELSE 'und' END AS lang_pred FROM s)
    SELECT doc_id AS id, length(text) AS n_chars,
      len({toks}) AS n_tokens,
      len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS regex_tokens,
      round(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))
            / greatest(length(text), 1), 6) AS punct_ratio,
      round(len(list_filter({toks},
            t -> list_contains(['the','and','of','to','is','in','that','with'], t)))
            / greatest(len({toks}), 1), 6) AS stopword_ratio,
      round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
            / greatest(length(text), 1), 6) AS upper_ratio,
      round(CASE WHEN len({toks}) > 0
            THEN length(text)::DOUBLE / len({toks}) ELSE 0.0 END, 6)
            AS mean_token_len,
      lang_pred,
      trim(regexp_replace(regexp_replace(
        '<p>' || text || '</p><br/>', '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS clean,
      regexp_replace(regexp_replace(
        text || ' contact: user' || doc_id::VARCHAR || '@example.com from 10.1.2.3',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
        '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b', '<IP>', 'g') AS masked,
      md5({norm}) AS fp_md5,
      substr(md5(substr({norm}, 1, 64)), 1, 16) AS fp_prefix64,
      md5(nfc_normalize(text || ' Café ＡＢＣ')) AS nfc_md5,
      (nfc_normalize(text || ' Café ＡＢＣ')
        != text || ' Café ＡＢＣ')::BIGINT AS nfc_changed,
      md5(text || ' Caf' || chr(233) || ' ABC') AS nfkc_md5,
      (nfc_normalize(text || ' Caf' || 'e' || chr(769) || ' '
         || chr(65313) || chr(65314) || chr(65315))
        != (text || ' Caf' || chr(233) || ' ABC'))::BIGINT AS nfkc_folded,
      round((len(lu) - len(list_distinct(lu))) / greatest(len(lu), 1), 6)
        AS dup_line_frac,
      round((coalesce(list_aggregate(list_transform(lu, x -> length(x)), 'sum'), 0)
             - coalesce(list_aggregate(list_transform(list_distinct(lu), x -> length(x)), 'sum'), 0))
            / greatest(coalesce(list_aggregate(list_transform(lu, x -> length(x)), 'sum'), 0), 1), 6)
        AS dup_line_char_frac,
      round((len(pu) - len(list_distinct(pu))) / greatest(len(pu), 1), 6)
        AS dup_para_frac,
      round((coalesce(list_aggregate(list_transform(pu, x -> length(x)), 'sum'), 0)
             - coalesce(list_aggregate(list_transform(list_distinct(pu), x -> length(x)), 'sum'), 0))
            / greatest(coalesce(list_aggregate(list_transform(pu, x -> length(x)), 'sum'), 0), 1), 6)
        AS dup_para_char_frac,
      array_to_string(kept, chr(10)) AS c4_clean,
      len(string_split(mlt, chr(10)))::BIGINT AS c4_lines,
      len(kept)::BIGINT AS c4_kept
    FROM documents JOIN lang USING (doc_id)
    JOIN (SELECT doc_id,
          list_filter(string_split(
            text || chr(10) || text || chr(10) || 'Unique line one.'
              || chr(10) || 'Repeated line.' || chr(10) || 'Repeated line.',
            chr(10)), x -> length(x) > 0) AS lu,
          list_filter(regexp_split_to_array(
            text || chr(10) || chr(10) || 'Repeated para.'
              || chr(10) || chr(10) || 'Repeated para.',
            '\n{{2,}}'), x -> length(x) > 0) AS pu
          FROM documents) USING (doc_id)
    JOIN (SELECT doc_id, mlt, list_filter(string_split(mlt, chr(10)),
        l -> len(list_filter(string_split(trim(l), ' '), w -> w != '')) >= 3
             AND regexp_matches(rtrim(l), '[.!?"]$')
             AND NOT contains(lower(l), 'javascript')
             AND NOT contains(lower(l), 'lorem ipsum')
             AND NOT contains(lower(l), 'cookie')
             AND length(l) <= 2000) AS kept
      FROM (SELECT doc_id, text
            || chr(10) || 'This boilerplate line mentions javascript here.'
            || chr(10) || 'Too short.'
            || chr(10) || 'A genuinely kept line with enough words, properly terminated.'
            || chr(10) || 'no terminal punctuation on this line'
            AS mlt FROM documents)) USING (doc_id)"""


@_q("text_profile", _text_profile_oracle())
def text_profile(spark, sf):
    """Per-document text profile + normalization in ONE projection over one
    scan: the cheap corpus-quality gates (length/punct/stopword/case
    ratios, whitespace + BPE-ish regex token counts), heuristic
    marker-stopword language ID, boilerplate stripping (each text wrapped
    in tags that must strip back out), PII scrubbing (a planted email +
    IPv4 per document, masked identically on both engines), and
    deterministic md5 fingerprints — the combined
    lang_id + quality_metrics + strip_html + mask_pii + fingerprint pass a
    curation pipeline actually runs (no self-join of separate passes).

    It also adds the C4 line-filtering recipe (textstats.line_filter, Raffel
    et al. 2020 §2.2) over a deterministically planted multi-line version
    of each document (one boilerplate line, one too-short line, one keeper,
    one unterminated line appended): c4_clean is the reassembled cleaned
    text, c4_lines/c4_kept the per-doc line accounting — all codegen HOF
    expressions, value-hashed against DuckDB's list_filter restatement.

    It also adds unicode normalization (textstats.unicode_normalize_col — the
    pass before exact dedup; the text stack's Arrow-path pandas_udf operator): nfc_md5
    / nfc_changed over a planted decomposed suffix, checked
    cross-IMPLEMENTATION (CPython unicodedata vs DuckDB utf8proc).

    It also adds NFKC (nfkc_md5 / nfkc_folded): the compatibility fold that
    collapses fullwidth/ligature variants before dedup.  DuckDB lacks
    nfkc_normalize, so the oracle golden-constructs the folded string
    (chr-built, byte-exact) — sound on this ASCII corpus, which the NFC
    hash-match independently verifies.

    It also adds the line/paragraph half of Gopher's repetition suite
    (textstats.repetition_unit_cols — dup_line_frac / dup_line_char_frac /
    dup_para_frac / dup_para_char_frac, pure zero-shuffle HOF columns)
    over planted within-document repetition; the n-gram half lives in
    ngram_diagnostics."""
    from oni_ml_spark.datapipe.textstats import (
        fingerprint_cols,
        lang_id,
        line_filter,
        mask_pii,
        quality_metrics,
        repetition_unit_cols,
        strip_html,
        unicode_normalize_col,
    )

    d = _docs(spark, sf)
    wrapped = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p><br/>"))
    planted = F.concat(
        F.col("text"), F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.1.2.3"),
    )
    fp = fingerprint_cols("text")
    # unicode normalization (the pass before exact dedup) over a
    # planted decomposed suffix — 'Cafe' + combining acute + fullwidth
    # ABC; NFC composes the acute (nfc_changed = 1 for every row, the
    # plant is non-vacuous) while keeping the fullwidth letters.  The
    # oracle is DuckDB's utf8proc nfc_normalize vs CPython's unicodedata
    # through the Arrow-batched pandas_udf — a cross-implementation check
    # of the text stack's designated Arrow-path (pandas_udf) operator.
    utext = F.concat(F.col("text"), F.lit(" Café ＡＢＣ"))
    nfc = unicode_normalize_col(utext, "NFC")
    # NFKC — the fullwidth/compatibility fold most dedup pipelines
    # actually run.  DuckDB has no nfkc_normalize, so the oracle is the
    # golden construction text || ' Caf\u00e9 ABC' (precomposed acute via
    # chr(233), fullwidth folded to ASCII) — sound because the corpus text
    # is ASCII, which the nfc_md5 hash-match already cross-verifies.
    # nfkc_folded = (NFKC != NFC) proves the K-fold did MORE than
    # composition on every row (the fullwidth plant is non-vacuous).
    nfkc = unicode_normalize_col(utext, "NFKC")
    base = quality_metrics(
        d,
        "doc_id",
        "text",
        extra={
            "lang_pred": lang_id("text"),
            "clean": strip_html(wrapped),
            "masked": mask_pii(planted),
            "fp_md5": fp["fp_md5"],
            "fp_prefix64": fp["fp_prefix64"],
            "nfc_md5": F.md5(nfc),
            "nfc_changed": (nfc != utext).cast("long"),
            "nfkc_md5": F.md5(nfkc),
            "nfkc_folded": (nfkc != nfc).cast("long"),
            # Gopher's within-doc duplicate line/paragraph rules over
            # planted repetition (text twice + a repeated line; a repeated
            # paragraph) — dup fractions constant by construction, char
            # fractions vary with each doc's length, both hash-checked
            # against DuckDB's list-function restatement
            **repetition_unit_cols(
                F.concat(
                    F.col("text"), F.lit("\n"), F.col("text"),
                    F.lit("\nUnique line one.\nRepeated line.\nRepeated line."),
                ),
                "line",
            ),
            **repetition_unit_cols(
                F.concat(
                    F.col("text"),
                    F.lit("\n\nRepeated para.\n\nRepeated para."),
                ),
                "paragraph",
            ),
        },
    )
    mlt = F.concat(
        F.col("text"),
        F.lit("\nThis boilerplate line mentions javascript here."),
        F.lit("\nToo short."),
        F.lit("\nA genuinely kept line with enough words, properly terminated."),
        F.lit("\nno terminal punctuation on this line"),
    )
    lf = line_filter(d.select("doc_id", mlt.alias("text")), "doc_id", "text")
    return base.join(
        lf.select(
            "id",
            F.col("text").alias("c4_clean"),
            F.col("n_lines").alias("c4_lines"),
            F.col("n_kept").alias("c4_kept"),
        ),
        "id",
    )


@_q(
    "multimodal_frames",
    "WITH meta AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes, "
    "  'fake/raw' AS format, (octet_length(encode(text)) % 640)::INT AS width, "
    "  ((octet_length(encode(text)) * 7) % 480)::INT AS height, "
    "  NULL::INT AS sample_rate, NULL::INT AS channels, "
    "  NULL::BIGINT AS duration_ms FROM documents "
    "  UNION ALL SELECT * FROM (VALUES "
    "   (-1, 29, 'png', 640, 360, NULL, NULL, NULL), "
    "   (-2, 13, 'gif', 320, 200, NULL, NULL, NULL), "
    "   (-3, 41, 'jpeg', 1024, 768, NULL, NULL, NULL), "
    "   (-4, 26, 'bmp', 64, 48, NULL, NULL, NULL), "
    "   (-5, 30, 'webp', 480, 320, NULL, NULL, NULL), "
    "   (-6, 76, 'wav', NULL, NULL, 8000, 1, 2), "
    "   (-7, 232, 'mp4', 640, 360, NULL, NULL, 5000)) "
    "   p(media_id, n_bytes, format, width, height, sample_rate, channels, "
    "     duration_ms)), "
    "frames AS (SELECT doc_id AS media_id, "
    "  unnest(range(0, greatest(octet_length(encode(text)) // 64, 1))) AS frame_no, "
    "  unnest(range(0, greatest(octet_length(encode(text)) // 64, 1))) * 64 AS offset "
    "  FROM documents "
    "  UNION ALL SELECT * FROM (VALUES (-1, 0, 0), (-2, 0, 0), (-3, 0, 0), "
    "   (-4, 0, 0), (-5, 0, 0), (-6, 0, 0), (-7, 0, 0), (-7, 1, 64), "
    '   (-7, 2, 128)) q(media_id, frame_no, "offset")) '
    'SELECT f.media_id, frame_no, "offset", n_bytes, format, width, height, '
    "  sample_rate, channels, duration_ms "
    "FROM frames f JOIN meta USING (media_id)",
)
def multimodal_frames(spark, sf):
    """Binary-payload plumbing end to end: Arrow-batched mapInPandas decode
    producing typed metadata, joined with the per-64-byte frame-sampling
    explosion — one row per sampled frame carrying its media's metadata,
    the shape a video/image feature extractor consumes.

    The default decoder is a REAL header parse (pure struct
    arithmetic) with the deterministic stub only as the
    unrecognized-payload fallback.  It also extends the real pass across all
    three media classes (multimodal.parse_media_container): five planted
    byte-exact image headers (PNG/GIF/JPEG/BMP/WebP) plus a WAV and an
    MP4 container flow through the same Arrow batches as the text
    payloads; the oracle states their true dimensions / sample rate /
    channels / durations literally, so the compare checks real
    decoding, not just plumbing."""
    from oni_ml_spark.datapipe.multimodal import (
        attach_payload,
        extract_media_metadata,
        sample_frames,
    )

    media = attach_payload(_docs(spark, sf), "doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (i, bytearray(b))
                for i, b in planted_image_headers() + planted_av_containers()
            ],
            "media_id long, payload binary",
        )
    )
    meta = extract_media_metadata(media)
    frames = sample_frames(media, every_n_bytes=64)
    return frames.join(meta, "media_id").select(
        "media_id", "frame_no", "offset", "n_bytes", "format", "width", "height",
        "sample_rate", "channels", "duration_ms",
    )


_PROXY_WORD_ORACLE = (
    "SELECT doc_id, "
    "(CASE doc_id % 4 WHEN 1 THEN 1 ELSE 0 END)::VARCHAR || '_' "
    "|| (CASE WHEN (doc_id % 24) * 3600 <= 21600 THEN 0 WHEN (doc_id % 24) * 3600 <= 43200 THEN 1 "
    "WHEN (doc_id % 24) * 3600 <= 64800 THEN 2 WHEN (doc_id % 24) * 3600 <= 86400 THEN 3 ELSE -1 END)::VARCHAR "
    "|| '_' || (CASE doc_id % 3 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' ELSE 'CONNECT' END) "
    "|| '_' || (doc_id % 5)::VARCHAR || '_' "
    "|| (CASE doc_id % 2 WHEN 0 THEN 'text' ELSE 'image' END) "
    "|| '_' || (doc_id % 4)::VARCHAR || '_' "
    "|| (CASE doc_id % 3 WHEN 0 THEN '2' WHEN 1 THEN '4' ELSE '5' END) AS word "
    "FROM documents"
)


@_q("proxy_word_assembly", _PROXY_WORD_ORACLE)
def proxy_word_assembly(spark, sf):
    """F10: the proxy word operator (proxy/ProxyWordCreation.scala:30-51) over
    synthesized proxy fields: topDomain_timeBin_method_entropyBin_contentTop_
    agentBin_respFirstChar. Time cuts are the literal 6h quartiles; the
    oracle states each component's expected value per branch."""
    from oni_ml_spark.transforms.words import proxy_word

    d = _with_host(_docs(spark, sf))
    hours = (F.col("doc_id") % 24).cast("int")
    d = d.withColumns(
        {
            "p_time": F.concat_ws(
                ":", F.lpad(hours.cast("string"), 2, "0"), F.lit("00"), F.lit("00")
            ),
            "reqmethod": F.when(F.col("doc_id") % 3 == 0, F.lit("GET"))
            .when(F.col("doc_id") % 3 == 1, F.lit("POST"))
            .otherwise(F.lit("CONNECT")),
            "uri_entropy_bin": (F.col("doc_id") % 5).cast("int"),
            "resconttype": F.when(F.col("doc_id") % 2 == 0, F.lit("text/html")).otherwise(
                F.lit("image/png")
            ),
            "agent_count_bin": (F.col("doc_id") % 4).cast("int"),
            "respcode": F.when(F.col("doc_id") % 3 == 0, F.lit("200"))
            .when(F.col("doc_id") % 3 == 1, F.lit("404"))
            .otherwise(F.lit("503")),
        }
    )
    return d.select(
        "doc_id",
        proxy_word(
            "host", "p_time", "reqmethod", "uri_entropy_bin", "resconttype",
            "agent_count_bin", "respcode",
            time_cuts=[21600.0, 43200.0, 64800.0, 86400.0],
            top_domains=["amazon"],
        ).alias("word"),
    )


# --------------------------------------------------------------------------
# sampling / splits / sessionization / text cleaning
# --------------------------------------------------------------------------

@_q(
    "deterministic_sampling",
    # id_sum makes each aggregate row verify the FULL assignment, not just
    # the size: any row assigned differently changes the per-group key sum.
    "SELECT 'split' AS part, split AS key, count(*) AS cnt, sum(doc_id)::BIGINT AS id_sum "
    "FROM ("
    "  SELECT doc_id, CASE "
    "    WHEN b >= 0 AND b < 8000 THEN 'train' "
    "    WHEN b >= 8000 AND b < 9000 THEN 'val' "
    "    ELSE 'test' END AS split "
    "  FROM (SELECT doc_id, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS b "
    "        FROM documents)) GROUP BY split "
    "UNION ALL "
    "SELECT 'stratum', lang, count(*), sum(doc_id)::BIGINT FROM ("
    "  SELECT doc_id, lang, "
    "    ('0x' || substr(md5(doc_id::VARCHAR || '#stratified'), 1, 8))::BIGINT % 10000 AS b "
    "  FROM documents) "
    "WHERE b < CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 8000 "
    "  WHEN 'zh' THEN 2500 ELSE 0 END "
    "GROUP BY lang "
    "UNION ALL "
    "SELECT 'ksample', source, count(*), sum(doc_id)::BIGINT FROM ("
    "  SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY "
    "    ('0x' || substr(md5(doc_id::VARCHAR || '#ksample'), 1, 8))::BIGINT "
    "      % 4611686018427387904, doc_id) AS rn "
    "  FROM documents) WHERE rn <= 3 GROUP BY source "
    "UNION ALL "
    # gshuffle: the first 20 rows of the global deterministic shuffle, with
    # their rank as cnt — the (key, rank) pairs pin the exact order prefix
    "SELECT 'gshuffle', doc_id::VARCHAR, rn, doc_id FROM ("
    "  SELECT doc_id, row_number() OVER (ORDER BY "
    "    md5(doc_id::VARCHAR || '#shuffle0'), doc_id) AS rn FROM documents) "
    "WHERE rn <= 20 "
    "UNION ALL "
    # gsample: exactly 25 rows by salted md5 rank of the key, globally
    "SELECT 'gsample', doc_id::VARCHAR, 1, doc_id FROM ("
    "  SELECT doc_id, row_number() OVER (ORDER BY "
    "    ('0x' || substr(md5(doc_id::VARCHAR || '#gsample'), 1, 8))::BIGINT "
    "      % 4611686018427387904, doc_id) AS rn FROM documents) "
    "WHERE rn <= 25 "
    "UNION ALL "
    # wsample: Efraimidis-Spirakis without replacement — the k earliest
    # exponential clocks -ln(u)/w with the portable md5-derived uniform;
    # identical single ops on both engines, ordering decided far from ulps
    "SELECT 'wsample', doc_id::VARCHAR, 1, doc_id FROM ("
    "  SELECT doc_id, row_number() OVER (ORDER BY "
    "    -ln((('0x' || substr(md5(doc_id::VARCHAR || '#wsample'), 1, 8))::BIGINT "
    "        + 1.0) / 4294967298.0) / (doc_id % 7 + 1), doc_id) AS rn "
    "  FROM documents) WHERE rn <= 25 "
    "UNION ALL "
    # budget: greedy prefix selection to a 60k-token budget in
    # descending quality order (distinct synthetic quality, so the hash
    # tie-break never engages and the prefix is fully determined)
    "SELECT 'budget', doc_id::VARCHAR, 1, doc_id FROM ("
    "  SELECT doc_id, sum(n_chars) OVER (ORDER BY "
    "    (doc_id * 37 % 1000) + doc_id / 1000000.0 DESC, doc_id "
    "    ROWS UNBOUNDED PRECEDING) AS run FROM documents) "
    "WHERE run <= 60000 "
    "UNION ALL "
    # lsplit: leakage-safe split — hash_split keyed on the near-dup
    # cluster id with self-cluster fallback for uncovered rows
    "SELECT 'lsplit', split, count(*), sum(doc_id)::BIGINT FROM ("
    "  SELECT doc_id, CASE "
    "    WHEN b >= 0 AND b < 6000 THEN 'train' "
    "    WHEN b >= 6000 AND b < 8000 THEN 'val' "
    "    ELSE 'test' END AS split "
    "  FROM (SELECT doc_id, ('0x' || substr(md5(cl::VARCHAR), 1, 8))::BIGINT "
    "      % 10000 AS b FROM ("
    "    SELECT doc_id, CASE WHEN doc_id % 5 < 2 THEN doc_id - doc_id % 5 "
    "      ELSE doc_id END AS cl FROM documents))) "
    "GROUP BY split "
    # -- dmatch: sampling.match_distribution — resample the doc_id%3!=0
    # -- corpus to the %3==0 reference's n_chars shape; per-bin acceptance
    # -- rate = ratio/max(ratio) from the two bounded histograms (identical
    # -- double arithmetic both engines), deterministic md5 draw
    "UNION ALL SELECT 'dmatch', bin::VARCHAR, count(*), sum(doc_id)::BIGINT FROM ("
    " SELECT d.doc_id, d.bin FROM"
    " (SELECT doc_id, CASE WHEN n_chars <= 150 THEN 0 WHEN n_chars <= 300 THEN 1"
    "   WHEN n_chars <= 450 THEN 2 ELSE 3 END AS bin"
    "  FROM documents WHERE doc_id % 3 != 0) d"
    " JOIN (SELECT bin, coalesce(ratio / mx, 0.0) AS rate FROM ("
    "   SELECT bin, ratio, max(ratio) OVER () AS mx FROM ("
    "     SELECT coalesce(c.bin, r.bin) AS bin,"
    "       CASE WHEN coalesce(c.n_cur, 0) > 0 AND coalesce(r.n_ref, 0) > 0 THEN"
    "         (coalesce(r.n_ref, 0)::DOUBLE"
    "          * (sum(coalesce(c.n_cur, 0)) OVER ())::DOUBLE)"
    "         / (coalesce(c.n_cur, 0)::DOUBLE"
    "            * (sum(coalesce(r.n_ref, 0)) OVER ())::DOUBLE)"
    "       END AS ratio"
    "     FROM (SELECT CASE WHEN n_chars <= 150 THEN 0 WHEN n_chars <= 300 THEN 1"
    "             WHEN n_chars <= 450 THEN 2 ELSE 3 END AS bin, count(*) AS n_cur"
    "           FROM documents WHERE doc_id % 3 != 0 GROUP BY 1) c"
    "     FULL OUTER JOIN"
    "          (SELECT CASE WHEN n_chars <= 150 THEN 0 WHEN n_chars <= 300 THEN 1"
    "             WHEN n_chars <= 450 THEN 2 ELSE 3 END AS bin, count(*) AS n_ref"
    "           FROM documents WHERE doc_id % 3 = 0 GROUP BY 1) r"
    "     ON c.bin = r.bin))) rt ON d.bin = rt.bin"
    " WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '#dmatch'), 1, 8))::BIGINT"
    "   / 4294967296.0 < rt.rate"
    ") GROUP BY bin",
)
def deterministic_sampling(spark, sf):
    """The deterministic-sampling family in one entry, each side's per-group
    (count, key-sum) hash-verifying the exact row assignment:

    - hash_split: train/val/test by content hash — identical assignment on
      any engine/run (the reproducibility property random sampling lacks);
    - stratified_sample: per-language fractions (en 0.4 / de 0.8 / zh 0.25,
      other languages dropped) with the salted key hash;
    - deterministic_k_sample: exactly min(k, |group|) rows per source by
      salted md5 rank;
    - deterministic_shuffle: the global md5-keyed pseudo-random
      ordering — verified by the (key, rank) pairs of its first 20 rows
      (the prefix is rank-computed AFTER limit(20), so the verification
      window is k-bounded, never a global single-partition window);
    - deterministic_global_sample: exactly 25 rows by salted md5
      rank, planned as TakeOrderedAndProject;
    - weighted_sample_k: Efraimidis-Spirakis
      A-ES weighted sampling without replacement over hash-derived
      exponential clocks (hash_fn='md5', the engine-portable draw) —
      TakeOrderedAndProject again, never a global sort;
    - select_to_token_budget: greedy selection to a 60k-token budget
      by descending synthetic quality — bucketed aggregate + driver
      cumsum, the exact window only over the boundary bucket; quality is
      DISTINCT per doc so the oracle is a pure prefix-cumsum;
    - leakage_safe_split: hash_split keyed on a (partly synthetic)
      near-dup cluster table with the coalesce(cluster, id) fallback —
      docs with doc_id%5<2 share planted clusters, the rest exercise the
      self-cluster fallback path;
    - match_distribution: the %3!=0 corpus resampled to the %3==0
      reference's n_chars shape — per-bin acceptance rate ratio/max(ratio)
      from two bounded histograms, deterministic md5 draw; the per-bin
      (cnt, id_sum) rows pin the exact kept set."""
    from oni_ml_spark.datapipe.sampling import (
        deterministic_global_sample,
        deterministic_k_sample,
        deterministic_shuffle,
        hash_split,
        leakage_safe_split,
        select_to_token_budget,
        stratified_sample,
        weighted_sample_k,
    )

    d = _docs(spark, sf)
    split = (
        hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
        .select(F.lit("split").alias("part"), F.col("split").alias("key"), "cnt", "id_sum")
    )
    strat = (
        stratified_sample(
            d, "lang", {"en": 0.4, "de": 0.8, "zh": 0.25}, key_col="doc_id"
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
        .select(F.lit("stratum").alias("part"), F.col("lang").alias("key"), "cnt", "id_sum")
    )
    ksamp = (
        deterministic_k_sample(d, "source", "doc_id", 3)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
        .select(F.lit("ksample").alias("part"), F.col("source").alias("key"), "cnt", "id_sum")
    )
    # rank the 20-row shuffle prefix: the window runs over the already
    # TakeOrdered'd 20 rows, so it is k-bounded regardless of corpus size
    shuffle_h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#shuffle0")))
    gshuf = (
        deterministic_shuffle(d, "doc_id", seed=0)
        .limit(20)
        .select(
            F.lit("gshuffle").alias("part"),
            F.col("doc_id").cast("string").alias("key"),
            F.row_number().over(Window.orderBy(shuffle_h, F.col("doc_id")))
            .cast("long").alias("cnt"),
            F.col("doc_id").alias("id_sum"),
        )
    )
    gsamp = deterministic_global_sample(d, "doc_id", 25).select(
        F.lit("gsample").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("doc_id").alias("id_sum"),
    )
    wsamp = weighted_sample_k(
        d.withColumn("w", (F.col("doc_id") % 7 + 1).cast("double")),
        "doc_id", "w", 25, salt="#wsample", hash_fn="md5",
    ).select(
        F.lit("wsample").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("doc_id").alias("id_sum"),
    )
    # synthetic DISTINCT quality: (37·id mod 1000) + id·1e-6 — identical
    # integer ops + one division on both engines, no ties anywhere
    quality = (F.col("doc_id") * 37 % 1000).cast("double") + F.col("doc_id") / F.lit(
        1000000.0
    )
    budget = select_to_token_budget(
        d.withColumn("q", quality), "n_chars", 60000, "q", "doc_id", n_buckets=50
    ).select(
        F.lit("budget").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("doc_id").alias("id_sum"),
    )
    clusters = d.where(F.col("doc_id") % 5 < 2).select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") - F.col("doc_id") % 5).alias("cluster"),
    )
    lsplit = (
        leakage_safe_split(
            d, "doc_id", "text", {"train": 0.6, "val": 0.2, "test": 0.2},
            clusters=clusters,
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
        .select(F.lit("lsplit").alias("part"), F.col("split").alias("key"), "cnt", "id_sum")
    )
    # dmatch: distribution-matching resampler — reshape the
    # doc_id%3!=0 corpus to the %3==0 reference's n_chars histogram;
    # per-bin (cnt, id_sum) pins the exact kept SET
    from oni_ml_spark.datapipe.drift import _bin_expr
    from oni_ml_spark.datapipe.sampling import match_distribution

    dm_edges = [150.0, 300.0, 450.0]
    kept_dm, _ = match_distribution(
        d.filter(F.col("doc_id") % 3 != 0),
        d.filter(F.col("doc_id") % 3 == 0),
        "doc_id", "n_chars", dm_edges,
    )
    dmatch = (
        kept_dm.select(_bin_expr("n_chars", dm_edges).alias("b"), "doc_id")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
        .select(
            F.lit("dmatch").alias("part"),
            F.col("b").cast("string").alias("key"),
            "cnt", "id_sum",
        )
    )
    return (
        split.unionByName(strat).unionByName(ksamp).unionByName(gshuf)
        .unionByName(gsamp).unionByName(wsamp).unionByName(budget)
        .unionByName(lsplit).unionByName(dmatch)
    )


@_q(
    "sessionize",
    "WITH s AS (SELECT user_id, event_id, ts, "
    "  sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) "
    "    OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no "
    "  FROM (SELECT user_id, event_id, ts, "
    "        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events)) "
    # session_no::BIGINT: DuckDB's windowed sum(CASE...) yields HUGEINT, which
    # hash-mismatches Spark's BIGINT even when values are identical (same trap
    # as any windowed sum).
    "SELECT user_id, session_no::BIGINT AS session_no, count(*) AS n_events "
    "FROM s GROUP BY user_id, session_no",
)
def sessionize_q(spark, sf):
    """Gap-based sessionization (30-min timeout) + per-session event counts.
    Event_id breaks timestamp ties deterministically on both sides."""
    from pyspark.sql import Window

    from oni_ml_spark.transforms.time import time_as_double

    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = time_as_double(e, "ts")
    new_s = F.when(
        F.lag(t).over(w).isNull() | ((t - F.lag(t).over(w)) > 1800), 1
    ).otherwise(0)
    s = e.withColumn(
        "session_no",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
    return s.groupBy("user_id", "session_no").agg(F.count(F.lit(1)).alias("cnt")).select(
        "user_id", "session_no", F.col("cnt").alias("n_events")
    )


@_q(
    "rollup_agg",
    "WITH r1 AS (SELECT coalesce(l_returnflag, 'ALL') AS rf, "
    "  coalesce(l_linestatus, 'ALL') AS ls, count(*) AS cnt, "
    "  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "  FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)), "
    # -- incremental aggregates: the 3-batch merged state must finalize
    # -- to the one-shot statistics; l_quantity is integral so sum/sumsq are
    # -- exact doubles and the stddev formula below is the literal finalize
    # -- arithmetic, identical on both engines
    "inc AS (SELECT l_returnflag AS rf, count(l_quantity)::BIGINT AS cnt, "
    "  sum(l_quantity) AS s, sum(l_quantity * l_quantity) AS sq, "
    "  min(l_quantity) AS mn, max(l_quantity) AS mx "
    "  FROM lineitem GROUP BY l_returnflag), "
    "incs AS ("
    "  SELECT rf, 'avg' AS ls, cnt, round(s / cnt, 6) AS v FROM inc "
    "  UNION ALL SELECT rf, 'stddev', cnt, "
    "    round(sqrt(greatest(0.0, (sq - s * s / cnt) / (cnt - 1))), 6) FROM inc "
    "  UNION ALL SELECT rf, 'min', cnt, mn FROM inc "
    "  UNION ALL SELECT rf, 'max', cnt, mx FROM inc) "
    "SELECT 'rollup' AS part, rf, ls, cnt, sum_qty FROM r1 "
    "UNION ALL SELECT 'incr', rf, ls, cnt, v FROM incs",
)
def rollup_agg(spark, sf):
    """Hierarchical + incremental aggregation in one entry.

    part='rollup': ROLLUP grouping sets — absent in the
    reference (SURVEY.md §2.4 'no grouping sets/cube/rollup'), native in
    Spark SQL.

    part='incr': the
    lineitem corpus split into 3 batches (l_linenumber mod 3), each
    partial-aggregated, states merged pairwise, then finalized — the
    daily-refresh-without-rescanning-history primitive. The row
    checks merge(partials) == one-shot statistics per l_returnflag
    (count/avg/stddev/min/max; sums are exact because l_quantity is
    integral, so the oracle can restate finalize's literal arithmetic)."""
    from oni_ml_spark.datapipe.incremental import (
        finalize_aggregates,
        merge_aggregate_state,
        partial_aggregates,
    )

    li = load_table(spark, sf, "lineitem")
    roll = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.lit("rollup").alias("part"),
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt", "sum_qty",
        )
    )
    batches = [
        li.filter(F.col("l_linenumber") % 3 == i).select("l_returnflag", "l_quantity")
        for i in range(3)
    ]
    state = partial_aggregates(batches[0], ["l_returnflag"], ["l_quantity"])
    for b in batches[1:]:
        state = merge_aggregate_state(
            state, partial_aggregates(b, ["l_returnflag"], ["l_quantity"])
        )
    fin = finalize_aggregates(state)

    def stat_rows(stat, col, rounded):
        v = F.round(F.col(col), 6) if rounded else F.col(col).cast("double")
        return fin.select(
            F.lit("incr").alias("part"),
            F.col("l_returnflag").alias("rf"),
            F.lit(stat).alias("ls"),
            F.col("l_quantity_count").alias("cnt"),
            v.alias("sum_qty"),
        )

    incr = (
        stat_rows("avg", "l_quantity_avg", True)
        .unionByName(stat_rows("stddev", "l_quantity_stddev", True))
        .unionByName(stat_rows("min", "l_quantity_min", False))
        .unionByName(stat_rows("max", "l_quantity_max", False))
    )
    return roll.unionByName(incr)


# Shared CTE chain: banded-LSH candidates → exact-Jaccard verified pairs at
# threshold 0.3 over documents — reused by near_dup_verified,
# near_dup_clusters, curation_pipeline, and minhash_ml_builtin oracles.
_NEAR_DUP_CTES = (
    _SHINGLES_SQL + ", "
    f"sig AS (SELECT id, {_MINHASH_COLS} FROM sh GROUP BY id), "
    "banded AS ("
    "  SELECT id, 0 AS band, h0::VARCHAR || '_' || h1::VARCHAR AS bucket FROM sig UNION ALL "
    "  SELECT id, 1, h2::VARCHAR || '_' || h3::VARCHAR FROM sig UNION ALL "
    "  SELECT id, 2, h4::VARCHAR || '_' || h5::VARCHAR FROM sig UNION ALL "
    "  SELECT id, 3, h6::VARCHAR || '_' || h7::VARCHAR FROM sig), "
    "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM banded a "
    "  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id), "
    "sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id), "
    "inter AS (SELECT c.id_a, c.id_b, count(*) AS n_common FROM cand c "
    "  JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle "
    "  GROUP BY c.id_a, c.id_b), "
    "ndpairs AS ("
    "  SELECT id_a, id_b, round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard "
    "  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id "
    "  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.3)"
)


# fuzzy corpus shared by the Spark and oracle sides: the distinct
# (p_name, p_type) strings (diverse enough for the gram-space guard; 64
# p_names alone would be toy-sized) plus a planted first-char typo per
# string at fid+10M — distance-1 pairs exist by construction
_FUZZY_CTES = (
    "fc AS (SELECT min(p_partkey) AS fid, s FROM "
    "  (SELECT p_name || ' ' || lower(p_type) AS s, p_partkey FROM part) "
    "  GROUP BY s), "
    "fz AS (SELECT fid, s FROM fc "
    "  UNION ALL SELECT fid + 10000000, 'x' || substr(s, 2) FROM fc), "
    "epairs AS (SELECT a.fid AS id_a, b.fid AS id_b, "
    "  levenshtein(a.s, b.s) AS d FROM fz a, fz b "
    "  WHERE levenshtein(a.s, b.s) <= 1), "
    "eund AS (SELECT id_a AS ea, id_b AS eb FROM epairs WHERE id_a < id_b "
    "  UNION ALL SELECT id_b, id_a FROM epairs WHERE id_a < id_b), "
    "enodes AS (SELECT fid AS id FROM fz), "
    "ereach(id, r) AS (SELECT id, id FROM enodes "
    "  UNION SELECT eund.eb, ereach.r FROM ereach JOIN eund ON eund.ea = ereach.id), "
    "ecomp AS (SELECT id, min(r) AS cluster FROM ereach GROUP BY id)"
)


@_q(
    "near_dup_verified",
    "WITH RECURSIVE " + _NEAR_DUP_CTES + ", " + _FUZZY_CTES + " "
    "SELECT 'jaccard' AS part, id_a, id_b, jaccard AS v FROM ndpairs "
    "UNION ALL SELECT 'edit', id_a, id_b, d::DOUBLE FROM epairs "
    "UNION ALL SELECT 'ecluster', id, cluster, "
    "(CASE WHEN id = cluster THEN 1 ELSE 0 END)::DOUBLE FROM ecomp",
)
def near_dup_verified(spark, sf):
    """The pairwise near-duplicate family, one granularity per part.

    part='jaccard': banded-LSH candidates → exact
    token-Jaccard verification of candidates only (dedup.near_dup_pairs,
    the SCALE.md flow).

    part='edit': datapipe.fuzzy.fuzzy_join —
    the Gravano positional q-gram filter + exact levenshtein verify, as a
    self-join over the distinct part-name corpus with planted first-char
    typos. The oracle is the all-pairs cross-join predicate the filter
    must reproduce EXACTLY (lossless-bound contract); ordered pairs,
    self-pairs included, exactly as fuzzy_join emits them.

    part='ecluster': fuzzy_dedup_groups — the same pairs → connected
    components → min-id survivor flag, vs recursive-CTE reachability."""
    from concurrent.futures import ThreadPoolExecutor

    from oni_ml_spark.datapipe.dedup import near_dup_pairs
    from oni_ml_spark.datapipe.fuzzy import fuzzy_dedup_groups, fuzzy_join

    # the entry is two INDEPENDENT
    # eager chains — the jaccard leg over `documents` (LSH + verify) and
    # the fuzzy/CC chain over `part` (corpus pin → gram-guard collect →
    # epairs pin → per-round CC checkpoints — ~6 serial driver-blocking
    # jobs on a ~770-row fixture). Run back to back, the CC chain's eager
    # jobs all complete before the final union write even starts the
    # jaccard machinery; submitting both legs from a 2-thread pool lets the scheduling-bound CC tail backfill the jaccard leg's
    # stages. The jaccard leg is pinned (localCheckpoint preserves rows;
    # the oracle is order-insensitive) so its heavy subtree executes
    # inside the overlapped region, not serially in the final write.

    def _leg_jaccard():
        return near_dup_pairs(
            _docs(spark, sf), "doc_id", "text",
            n=3, num_hashes=8, bands=4, threshold=0.3,
        ).select(
            F.lit("jaccard").alias("part"), "id_a", "id_b",
            F.col("jaccard").alias("v"),
        ).localCheckpoint()

    def _leg_fuzzy():
        p = load_table(spark, sf, "part")
        base = (
            p.select(
                F.concat_ws(" ", "p_name", F.lower("p_type")).alias("s"), "p_partkey"
            )
            .groupBy("s")
            .agg(F.min("p_partkey").alias("fid"))
        )
        corpus = base.select("fid", "s").unionByName(
            base.select(
                (F.col("fid") + 10000000).alias("fid"),
                F.concat(F.lit("x"), F.expr("substring(s, 2)")).alias("s"),
            )
        )
        # bounded: |corpus| = 2·|distinct part strings| (~770 at every SF) —
        # pin it so the fuzzy self-join + dedup-groups don't re-aggregate part
        corpus = corpus.localCheckpoint(eager=True)
        # ONE gram join + guard pre-flight: the pairs are pinned (bounded by
        # the true match count) and reused by both the 'edit' part and the
        # clustering below (review finding: the machinery ran twice)
        epairs = fuzzy_join(corpus, corpus, "fid", "s", max_edits=1, q=3).localCheckpoint(
            eager=True
        )
        edit = epairs.select(
            F.lit("edit").alias("part"),
            F.col("fid_l").alias("id_a"),
            F.col("fid_r").alias("id_b"),
            F.col("distance").cast("double").alias("v"),
        )
        ecl = fuzzy_dedup_groups(corpus, "fid", "s", pairs=epairs).select(
            F.lit("ecluster").alias("part"),
            F.col("fid").alias("id_a"),
            F.col("cluster").alias("id_b"),
            F.col("keep").cast("double").alias("v"),
        )
        return edit, ecl

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_jac = pool.submit(_leg_jaccard)
        f_fuzzy = pool.submit(_leg_fuzzy)
        jac = f_jac.result()
        edit, ecl = f_fuzzy.result()
    return jac.unionByName(edit).unionByName(ecl)


@_q(
    "robust_stats",
    "WITH med AS (SELECT user_id AS key, count(*) AS n, median(value) AS median "
    "  FROM events GROUP BY user_id) "
    "SELECT m.key, m.n, round(m.median, 6) AS median, "
    "round(median(abs(e.value - m.median)), 6) AS mad "
    "FROM events e JOIN med m ON e.user_id = m.key "
    "GROUP BY m.key, m.n, m.median",
)
def robust_stats_q(spark, sf):
    """Grouped applyInPandas: per-user median + MAD (whole-group-in-hand
    aggregation Spark SQL can't do in one pass)."""
    from oni_ml_spark.datapipe.textstats import robust_stats

    e = load_table(spark, sf, "events")
    out = robust_stats(e, "user_id", "value")
    return out.select(
        "key", "n", F.round("median", 6).alias("median"), F.round("mad", 6).alias("mad")
    )


# --------------------------------------------------------------------------
# retrieval and dedup operators (tf-idf/bm25, unigram LM, simhash pairs,
# near-dup clustering, as-of join)
# --------------------------------------------------------------------------

_QUERY_TERMS = ["scan", "column", "order", "scan"]  # 'scan' ×2 → qtf weighting live

_TFC_CTES = (
    f"tf AS (SELECT doc_id AS id, unnest({_TOKENS.format(c='text')}) AS term FROM documents), "
    "tfc AS (SELECT id, term, count(*)::BIGINT AS tf FROM tf GROUP BY id, term)"
)


@_q(
    "tf_idf_bm25",
    "WITH " + _TFC_CTES + ", "
    "dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY term), "
    "nd AS (SELECT count(DISTINCT id)::DOUBLE AS n FROM tfc), "
    "tfidf AS (SELECT id, t.term, tf, tf * (ln((n + 1) / (df + 1)) + 1) AS tfidf "
    "  FROM tfc t JOIN dfreq USING (term), nd), "
    "doclen AS (SELECT id, sum(tf)::DOUBLE AS dl FROM tfc GROUP BY id), "
    "stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doclen), "
    "m AS (SELECT * FROM tfc WHERE term IN ('scan', 'column', 'order')), "
    "mdf AS (SELECT term, count(*)::DOUBLE AS df FROM m GROUP BY term), "
    "idf AS (SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf, "
    "  CASE term WHEN 'scan' THEN 2.0 ELSE 1.0 END AS qtf FROM mdf, stats), "
    "bm AS (SELECT m.id, sum(qtf * idf * (tf * 2.2) / "
    "  (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score "
    "  FROM m JOIN idf USING (term) JOIN doclen ON m.id = doclen.id, stats GROUP BY m.id), "
    "qagg AS (SELECT id, round(sum(tfidf), 6) AS sum_tfidf, sum(tf)::BIGINT AS q_tf "
    "  FROM tfidf WHERE term IN ('scan', 'column', 'order') GROUP BY id), "
    "bmtop AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rnk "
    "  FROM (SELECT * FROM (SELECT id, score FROM bm ORDER BY score DESC, id LIMIT 10))), "
    "vq AS (SELECT embedding FROM embeddings WHERE vec_id = 0), "
    "vsim AS (SELECT c.vec_id AS id, "
    "  list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS sim "
    "  FROM embeddings c, vq q WHERE c.vec_id <> 0), "
    "vtop AS (SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rnk "
    "  FROM (SELECT * FROM (SELECT id, sim FROM vsim ORDER BY sim DESC, id LIMIT 10))), "
    "rterms AS (SELECT id, 1.0 / (60 + rnk) AS t FROM bmtop "
    "  UNION ALL SELECT id, 1.0 / (60 + rnk) FROM vtop), "
    "fused AS (SELECT id, sum(t) AS s, count(*)::BIGINT AS nl FROM rterms GROUP BY id), "
    "rrfr AS (SELECT id, round(s, 9) AS v1, nl, "
    "  row_number() OVER (ORDER BY s DESC, id)::BIGINT AS r FROM fused), "
    # -- top_terms_per_group: per-source top-5 characteristic terms by
    # -- summed tf-idf, per-row contributions quantized to 1e-6 BEFORE the
    # -- sum so ranking and value are order- and engine-deterministic
    "lab AS (SELECT doc_id AS id, source FROM documents), "
    "tt0 AS (SELECT l.source, t.term, floor(t.tfidf * 1000000) AS qz "
    "  FROM tfidf t JOIN dfreq d USING (term) JOIN lab l ON t.id = l.id "
    "  WHERE d.df >= 2), "
    "tt1 AS (SELECT source, term, sum(qz) / 1000000.0 AS s, "
    "  count(*)::BIGINT AS ndoc FROM tt0 GROUP BY source, term), "
    "tt AS (SELECT source, term, s, ndoc, row_number() OVER "
    "  (PARTITION BY source ORDER BY s DESC, term)::BIGINT AS rnk FROM tt1) "
    "SELECT 'scores' AS part, bm.id::VARCHAR AS id, round(score, 6) AS v1, "
    "sum_tfidf AS v2, q_tf AS n, CAST(NULL AS BIGINT) AS r "
    "FROM bm JOIN qagg USING (id) "
    "UNION ALL SELECT 'rrf', id::VARCHAR, v1, CAST(NULL AS DOUBLE), nl, r FROM rrfr "
    "UNION ALL SELECT 'topterms', source || '/' || term, round(s, 6), "
    "CAST(NULL AS DOUBLE), ndoc, rnk FROM tt WHERE rnk <= 5",
)
def tf_idf_bm25(spark, sf):
    """TF-IDF + BM25 + RRF hybrid fusion in one entry.

    part='scores': per-document Okapi BM25 for a literal query (with a
    REPEATED term, so query-term-frequency weighting is exercised) joined
    with the summed sklearn-convention tf-idf weight of the matched terms.
    Both operators' full plans execute — two hash aggregates each,
    IDF/stat tables broadcast, no UDFs.

    part='rrf': the
    production hybrid-retrieval composition — the BM25 lexical top-10
    (TakeOrderedAndProject, then a rank window over ten rows) fused with
    the exact cosine vector top-10 for embeddings query vec_id=0
    (similarity.brute_force_topk) by reciprocal-rank fusion, k=60. The
    oracle restates the fusion as pure rank arithmetic: 1/(60+rank) terms
    are identical single divisions on both engines, and the <=2-term sum
    is commutative-exact; every candidate value sits >=3.7e-3 (in 1e-9
    units) from the 9th-decimal rounding boundary.

    part='topterms': the per-source top-5
    characteristic terms by summed tf-idf (min_df=2), contributions
    quantized to 1e-6 BEFORE summing so both the ranking and the value
    are engine- and order-deterministic; id becomes 'source/term' and the
    whole entry's id column moves to string to host it."""
    from oni_ml_spark.datapipe.retrieval import (
        bm25_scores,
        rrf_fuse,
        term_frequencies,
        tf_idf,
        top_terms_per_group,
    )
    from oni_ml_spark.datapipe.similarity import brute_force_topk

    d = _docs(spark, sf)
    qset = list(dict.fromkeys(_QUERY_TERMS))
    # ONE corpus pass for all three lexical operators:
    # tf-idf, BM25, and top-terms each start from the same (id, term, tf)
    # postings — share a cached copy instead of re-running the tokenize →
    # explode → shuffle chain once per operator. Bounded: one row per
    # distinct (doc, term). All downstream per-id/per-term sums are
    # quantized or boundary-distant (see part docstrings), so cache row
    # order cannot move any rounded value.
    tfc = term_frequencies(d, "doc_id", "text").cache()
    ti = tf_idf(d, "doc_id", "text", tf=tfc)
    qa = (
        ti.filter(F.col("term").isin(qset))
        .groupBy("id")
        .agg(
            F.round(F.sum("tfidf"), 6).alias("sum_tfidf"),
            F.sum("tf").alias("q_tf"),
        )
    )
    # bm feeds BOTH the scores join and the lexical top-10 — uncached, the
    # tokenize+tf+idf subtree evaluates once per consumer (plan_report
    # showed 55 exchanges before the pin). Bounded: one row per doc
    # matching a query term.
    # cache(), not an eager localCheckpoint — same compute-once
    # sharing between the two consumers, without a blocking pin job
    # at construction.
    bm = bm25_scores(d, "doc_id", "text", _QUERY_TERMS, tf=tfc).cache()
    null_l = F.lit(None).cast("long")
    scores = bm.join(qa, "id").select(
        F.lit("scores").alias("part"),
        F.col("id").cast("string").alias("id"),
        F.round("score", 6).alias("v1"),
        F.col("sum_tfidf").alias("v2"),
        F.col("q_tf").alias("n"),
        null_l.alias("r"),
    )
    # lexical list: top-10 by score plans as TakeOrderedAndProject; the
    # rank window then runs over exactly ten rows
    lex10 = bm.orderBy(F.desc("score"), "id").limit(10)
    lex = lex10.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("score"), "id"))
    ).select("id", "rank")
    emb = load_table(spark, sf, "embeddings")
    vec = brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=10
    ).select(F.col("neighbor_id").alias("id"), "rank")
    fused = rrf_fuse([lex, vec], k=60)
    rrf = fused.select(
        F.lit("rrf").alias("part"),
        F.col("id").cast("string").alias("id"),
        F.col("rrf_score").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
        F.col("n_lists").alias("n"),
        F.col("rank").cast("long").alias("r"),
    )
    tt = top_terms_per_group(
        d, "source", "doc_id", "text", k=5, min_df=2, tf=tfc
    ).select(
        F.lit("topterms").alias("part"),
        F.concat("group", F.lit("/"), "term").alias("id"),
        F.round("sum_tfidf", 6).alias("v1"),
        F.lit(None).cast("double").alias("v2"),
        F.col("n_docs").alias("n"),
        F.col("rank").cast("long").alias("r"),
    )
    return scores.unionByName(rrf).unionByName(tt)


@_q(
    "unigram_logprob",
    "WITH " + _TFC_CTES + ", "
    "corpus AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tfc GROUP BY term), "
    "stats AS (SELECT sum(cnt)::DOUBLE AS n, count(*)::DOUBLE AS v FROM corpus), "
    "model AS (SELECT term, ln((cnt + 1) / (n + v)) AS logp FROM corpus, stats) "
    "SELECT id, sum(tf)::BIGINT AS n_tokens, "
    "round(sum(tf * logp) / sum(tf), 6) AS avg_logprob "
    "FROM tfc JOIN model USING (term) GROUP BY id",
)
def unigram_logprob_q(spark, sf):
    """Unigram-LM document scoring: mean log-probability under the corpus's
    own add-one-smoothed MLE model — the cheap perplexity proxy for
    curation. One corpus-counts shuffle, model broadcast back."""
    from oni_ml_spark.datapipe.textstats import unigram_logprob

    d = _docs(spark, sf)
    out = unigram_logprob(d, "doc_id", "text")
    return out.select(
        "id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob")
    )


@_q(
    "grouped_quantile_cuts",
    "WITH g AS (SELECT l_returnflag AS key, "
    "  quantile_disc(l_quantity, [0.25, 0.5, 0.75, 1.0]) AS cs "
    "  FROM lineitem GROUP BY l_returnflag), "
    "cuts AS (SELECT key, ([0.25, 0.5, 0.75, 1.0]::DOUBLE[])[i] AS p, "
    "  cs[i]::DOUBLE AS v FROM g, (SELECT unnest([1, 2, 3, 4]) AS i) idx), "
    # -- winsorize: clamp to the per-group exact [0.05, 0.95] discrete
    # -- cutoffs; l_quantity is integral so the clipped sum is exact
    "wb AS (SELECT l_returnflag AS key, quantile_disc(l_quantity, 0.05) AS lo, "
    "  quantile_disc(l_quantity, 0.95) AS hi FROM lineitem GROUP BY l_returnflag), "
    "wz AS (SELECT li.l_returnflag AS key, "
    "  greatest(wb.lo, least(wb.hi, li.l_quantity)) AS cv, l_quantity "
    "  FROM lineitem li JOIN wb ON li.l_returnflag = wb.key), "
    "winsor AS (SELECT key, count(*)::DOUBLE AS p, sum(cv)::DOUBLE AS v "
    "  FROM wz GROUP BY key), "
    "winsorf AS (SELECT wz.key, count(*)::DOUBLE AS p, sum(l_quantity)::DOUBLE AS v "
    "  FROM wz JOIN wb ON wz.key = wb.key "
    "  WHERE l_quantity >= wb.lo AND l_quantity <= wb.hi GROUP BY wz.key), "
    # -- percentile_rank: exact cume_dist without a global sort; the
    # -- quantized per-row ranks (cum/tot is the identical int division on
    # -- both engines) sum exactly as integer-valued doubles
    "pr AS (SELECT l_returnflag AS key, "
    "  cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS pct "
    "  FROM lineitem), "
    "prank AS (SELECT key, count(*)::DOUBLE AS p, "
    "  sum(floor(pct * 1000000))::DOUBLE AS v FROM pr GROUP BY key), "
    "prg AS (SELECT cume_dist() OVER (ORDER BY l_quantity) AS pct FROM lineitem), "
    "prankg AS (SELECT 'ALL' AS key, count(*)::DOUBLE AS p, "
    "  sum(floor(pct * 1000000))::DOUBLE AS v FROM prg) "
    "SELECT 'cuts' AS part, key, p, v FROM cuts "
    "UNION ALL SELECT 'winsor', key, p, v FROM winsor "
    "UNION ALL SELECT 'winsorf', key, p, v FROM winsorf "
    "UNION ALL SELECT 'prank', key, p, v FROM prank "
    "UNION ALL SELECT 'prankg', key, p, v FROM prankg",
)
def grouped_quantile_cuts_q(spark, sf):
    """The exact-quantile transform family over (l_returnflag, l_quantity).

    part='cuts': per-group EXACT
    discrete quantile cutoffs, fully distributed (window partitioned by
    group — no per-group loop, no single-partition exchange; plan asserted
    in tests/test_quantiles_property.py). DuckDB twin: quantile_disc.

    part='winsor'/'winsorf':
    transforms.quantiles.winsorize in clip and filter modes against the
    per-group [0.05, 0.95] cutoffs — the cutoff table is 2 rows per group
    joined back, the corpus never re-shuffles. l_quantity is integral, so
    the clipped sums are exact doubles on both engines.

    part='prank'/'prankg': percentile_rank grouped (native-typed per-group
    CDF join) and global (the bucketed double-space ecdf path) — exact
    cume_dist() with NO global-sort window; per-row ranks quantized to
    1e-6 (cum/tot is an identical int division on both engines, floor is
    knife-edge-free there) and summed exactly."""
    from oni_ml_spark.transforms.quantiles import (
        _cdf_table,
        grouped_quantile_cuts,
        percentile_rank,
        winsorize,
    )

    li = load_table(spark, sf, "lineitem")
    # the cuts part and BOTH winsorize calls read the
    # SAME per-group distinct-value CDF table — build it once, pin it
    # (bounded: |distinct (flag, quantity)| rows), and share it so the
    # full-data (key, value) shuffle runs once, not three times. Every
    # parts column is an exact count/prefix-sum; the default (parts=None)
    # paths recompute the identical table.
    # cache(), not localCheckpoint(): an eager pin is a blocking barrier
    # job that cost more than the saved shuffle at sf0.1. A lazy cache keeps
    # the compute-once sharing with no barrier: the first consumer inside
    # the single final job fills it.
    ct = _cdf_table(
        li.select(
            F.col("l_returnflag").alias("key"), F.col("l_quantity").alias("value")
        ),
        "value", ["key"],
    ).cache()
    cuts = grouped_quantile_cuts(
        li, "l_returnflag", "l_quantity", [0.25, 0.5, 0.75, 1.0], parts=ct
    ).select(F.lit("cuts").alias("part"), "key", "p", F.col("cutoff").alias("v"))
    q = li.select("l_returnflag", "l_quantity")

    def agg_rows(df, part, val_col):
        return (
            df.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("double").alias("p"),
                F.sum(val_col).cast("double").alias("v"),
            )
            .select(
                F.lit(part).alias("part"), F.col("l_returnflag").alias("key"), "p", "v"
            )
        )

    wins = winsorize(
        q, "l_quantity", 0.05, 0.95, group_col="l_returnflag", out_col="cv",
        cuts_parts=ct,
    )
    winsor = agg_rows(wins, "winsor", "cv")
    winsf = agg_rows(
        winsorize(q, "l_quantity", 0.05, 0.95, group_col="l_returnflag",
                  mode="filter", cuts_parts=ct),
        "winsorf", "l_quantity",
    )
    pr = percentile_rank(q, "l_quantity", group_col="l_returnflag", out_col="pct")
    prank = agg_rows(
        pr.withColumn("qr", F.floor(F.col("pct") * 1000000)), "prank", "qr"
    )
    prg = percentile_rank(q, "l_quantity", out_col="pct")
    prankg = (
        prg.agg(
            F.count(F.lit(1)).cast("double").alias("p"),
            F.sum(F.floor(F.col("pct") * 1000000)).cast("double").alias("v"),
        )
        .select(F.lit("prankg").alias("part"), F.lit("ALL").alias("key"), "p", "v")
    )
    return cuts.unionByName(winsor).unionByName(winsf).unionByName(prank).unionByName(prankg)


def _simhash_pairs_oracle() -> str:
    ham = " + ".join(
        f"(CASE WHEN (a.b{b} > 0) != (b.b{b} > 0) THEN 1 ELSE 0 END)"
        for b in range(64)
    )
    return (
        f"WITH {_simhash_per_cte()}, "
        f"pairs AS (SELECT a.id AS id_a, b.id AS id_b, ({ham})::INT AS hamming "
        "  FROM per a JOIN per b ON a.id < b.id) "
        "SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3"
    )


@_q("simhash_near_dups", _simhash_pairs_oracle())
def simhash_near_dups_q(spark, sf):
    """SimHash Hamming-distance pairs (<= 3 bits) via pigeonhole band
    blocking — EXACT recall by construction (a pair within Hamming 3 must
    agree on one of 4 16-bit blocks). The oracle is the all-pairs brute
    force over the bit-sign tables; the blocked path must reproduce it
    exactly to hash-match."""
    from oni_ml_spark.datapipe.dedup import simhash64, simhash_near_dups

    d = _docs(spark, sf)
    # the band self-join consumes the fingerprint
    # subtree twice (stream + broadcast build) — share the (id, simhash)
    # table so the tokenize + 64-bitplane aggregation runs once.
    # cache() instead of an eager localCheckpoint pin (no barrier job;
    # the self-join's first side fills it, the second side reads it).
    fp = simhash64(d, "doc_id", "text").cache()
    return simhash_near_dups(d, "doc_id", "text", max_hamming=3, bands=4, fp=fp)


# reachability over the verified near-dup pairs + survivor flag — shared by
# near_dup_clusters and curation_pipeline oracles (requires WITH RECURSIVE)
_CLUSTER_CTES = (
    "und AS (SELECT id_a AS a, id_b AS b FROM ndpairs "
    "  UNION ALL SELECT id_b, id_a FROM ndpairs), "
    "nodes AS (SELECT doc_id AS id FROM documents), "
    "reach(id, r) AS (SELECT id, id FROM nodes "
    "  UNION SELECT und.b, reach.r FROM reach JOIN und ON und.a = reach.id), "
    "comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"
)


@_q(
    "near_dup_clusters",
    "WITH RECURSIVE " + _NEAR_DUP_CTES + ", " + _CLUSTER_CTES + " "
    "SELECT id, cluster::BIGINT AS cluster, "
    "(CASE WHEN id = cluster THEN 1 ELSE 0 END)::BIGINT AS keep FROM comp",
)
def near_dup_clusters_q(spark, sf):
    """Full near-duplicate grouping: banded-LSH candidates → exact-Jaccard
    verify → iterative-min-label connected components → survivor flag.
    Oracle: recursive-CTE reachability over the SAME verified pairs, min
    reachable id per node."""
    from oni_ml_spark.datapipe.dedup import near_dup_clusters

    d = _docs(spark, sf)
    out = near_dup_clusters(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.3
    )
    return out.select("id", "cluster", F.col("keep").cast("long").alias("keep"))


@_q(
    "as_of_join",
    "WITH l AS (SELECT event_id, user_id, event_type, ts FROM events), "
    "r AS (SELECT user_id, ts AS rt, max(value) AS rv FROM events "
    "  WHERE event_id % 10 = 0 GROUP BY user_id, ts), "
    "a1 AS (SELECT l.event_id, epoch(r.rt) AS mt, r.rv "
    "  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.rt <= l.ts), "
    # -- composite-key as-of: same shape keyed on (user_id, event_type)
    "r2 AS (SELECT user_id, event_type, ts AS rt, max(value) AS rv FROM events "
    "  WHERE event_id % 7 = 0 GROUP BY user_id, event_type, ts), "
    "a2 AS (SELECT l.event_id, epoch(r2.rt) AS mt, r2.rv FROM l "
    "  ASOF LEFT JOIN r2 ON l.user_id = r2.user_id "
    "  AND l.event_type = r2.event_type AND r2.rt <= l.ts), "
    # -- resample: per-user daily grid inside the user's own span,
    # -- forward-filled with a 2-day staleness cutoff
    "ded AS (SELECT user_id, epoch(ts) AS rt, max(value) AS v FROM events "
    "  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY user_id, epoch(ts)), "
    "bounds AS (SELECT user_id, "
    "  (ceil(min(rt) / 86400) * 86400)::BIGINT AS lo, "
    "  (floor(max(rt) / 86400) * 86400)::BIGINT AS hi "
    "  FROM ded GROUP BY user_id), "
    "grid AS (SELECT user_id, unnest(generate_series(lo, hi, 86400)) AS tick "
    "  FROM bounds WHERE hi >= lo), "
    "rf AS (SELECT g.user_id, g.tick, d.rt AS mt, d.v AS rv "
    "  FROM grid g ASOF LEFT JOIN ded d "
    "  ON g.user_id = d.user_id AND d.rt <= g.tick), "
    "rs AS (SELECT user_id::VARCHAR || ':' || tick::VARCHAR AS id, "
    "  CASE WHEN tick - mt <= 172800.0 THEN mt END AS mt, "
    "  CASE WHEN tick - mt <= 172800.0 THEN rv END AS rv FROM rf) "
    "SELECT 'asof' AS part, event_id::VARCHAR AS id, mt, rv FROM a1 "
    "UNION ALL SELECT 'asof2', event_id::VARCHAR, mt, rv FROM a2 "
    "UNION ALL SELECT 'resample', id, mt, rv FROM rs",
)
def as_of_join_q(spark, sf):
    """The temporal-alignment family, one composition depth per part.

    part='asof': backward as-of join (every event gets the
    latest at-or-before checkpoint value per user), implemented as union +
    window carry-forward — one shuffle on the key, NO join node, vs
    DuckDB's native ASOF LEFT JOIN. Right side deduped to one row per
    (key, time) so both engines are deterministic.

    part='asof2': the COMPOSITE-key path —
    keyed on (user_id, event_type), the list-key plumbing with
    null-key partitionBy grouping, vs DuckDB ASOF with two equalities.

    part='resample': temporal.resample_forward_fill — per-user daily
    grid inside each user's own [min, max] span (in-plan sequence explode
    off the bounds aggregate, never a cross join), forward-filled via the
    same as-of machinery with a 2-day staleness cutoff (ticks drifting
    further than lookback past the last observation null-fill), vs
    DuckDB's generate_series + ASOF + staleness CASE."""
    from oni_ml_spark.datapipe.temporal import as_of_join, resample_forward_fill

    e = load_table(spark, sf, "events")
    left = e.select("event_id", "user_id", "event_type", "ts")

    def rows(df, part, id_col):
        return df.select(
            F.lit(part).alias("part"),
            id_col.alias("id"),
            F.col("__matched_time").alias("mt"),
            "rv",
        )

    right = (
        e.filter(F.col("event_id") % 10 == 0)
        .select("user_id", F.col("ts").alias("rt"), "value")
        .groupBy("user_id", "rt")
        .agg(F.max("value").alias("rv"))
    )
    a1 = rows(
        as_of_join(left, right, key="user_id", left_time="ts", right_time="rt",
                   right_cols=["rv"]),
        "asof", F.col("event_id").cast("string"),
    )
    right2 = (
        e.filter(F.col("event_id") % 7 == 0)
        .select("user_id", "event_type", F.col("ts").alias("rt"), "value")
        .groupBy("user_id", "event_type", "rt")
        .agg(F.max("value").alias("rv"))
    )
    a2 = rows(
        as_of_join(left, right2, key=["user_id", "event_type"], left_time="ts",
                   right_time="rt", right_cols=["rv"]),
        "asof2", F.col("event_id").cast("string"),
    )
    ded = (
        e.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("rv"))
    )
    rs = resample_forward_fill(
        ded, "user_id", "ts", 86400, value_cols=["rv"], lookback=172800.0
    ).select(
        F.lit("resample").alias("part"),
        F.concat(F.col("user_id").cast("string"), F.lit(":"),
                 F.col("tick").cast("string")).alias("id"),
        F.col("__matched_time").alias("mt"),
        "rv",
    )
    return a1.unionByName(a2).unionByName(rs)


# ---- invariant-oracle-checked entries: JVM-internal hashes / seeded k-means still can't
# value-match a SQL oracle, but their deterministic PROPERTIES can.

@_q(
    "curation_pipeline",
    "WITH RECURSIVE " + _NEAR_DUP_CTES + ", " + _CLUSTER_CTES + ", "
    "surv AS (SELECT d.doc_id, d.text FROM documents d "
    "  JOIN comp ON comp.id = d.doc_id AND comp.id = comp.cluster), "
    f"tokc AS (SELECT doc_id, len({_TOKENS.format(c='text')}) AS n FROM surv), "
    "chunkn AS (SELECT doc_id, n, CASE WHEN n > 0 "
    "  THEN greatest(ceil((n - 8) / 56.0)::BIGINT, 1) ELSE 0 END AS nch FROM tokc), "
    "chunktok AS (SELECT doc_id, least(64, n - 56 * unnest(range(0, nch))) AS ctoks "
    "  FROM chunkn), "
    "cstats AS (SELECT count(*) AS n_chunks, sum(ctoks) AS ctot FROM chunktok) "
    "SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs, "
    "(SELECT count(*) FROM surv)::BIGINT AS n_survivors, "
    "n_chunks::BIGINT AS n_chunks, ctot::BIGINT AS chunk_tokens_total, "
    "0::BIGINT AS overfull_multibins, 1::BIGINT AS bins_lower_ok FROM cstats",
)
def curation_pipeline(spark, sf):
    """The end-to-end training-data curation flow as ONE oracle-checked
    entry: near-dup clustering → survivor filter → 64-token chunking
    (overlap 8) → 256-token sequence packing. The invariant row states
    exactly-SQL-computable facts (doc/survivor/chunk counts, total chunk
    tokens — the oracle recomputes chunk arithmetic from token counts) plus
    packing guarantees (no multi-chunk bin over capacity; bin count at
    least the token lower bound ceil(total/capacity))."""
    from oni_ml_spark.datapipe.chunking import chunk_documents, pack_sequences
    from oni_ml_spark.datapipe.dedup import near_dup_clusters

    d = _docs(spark, sf)
    clusters = near_dup_clusters(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.3
    )
    surv = d.join(
        clusters.filter(F.col("keep")).select(F.col("id").alias("doc_id")), "doc_id"
    )
    cid = F.concat_ws("_", F.col("id").cast("string"), F.col("chunk_no").cast("string"))
    # cache the chunk table before the fan-out: three consumers (chunk agg,
    # packing's range-sampling pass, packing execution) would otherwise each
    # re-run the dedup-join + chunk explode — measured 51 s → 4 s at sf0.1.
    # At real scale this is the same spot you'd persist(DISK_ONLY).
    chunks = chunk_documents(
        surv, "doc_id", "text", chunk_tokens=64, overlap=8
    ).withColumn("cid", cid).cache()
    # n_tokens_col: reuse the chunker's token count — the packer otherwise
    # re-tokenizes every chunk twice (range-sampling pass + shuffle pass)
    packed = pack_sequences(
        chunks, "cid", "chunk_text", capacity=256, n_tokens_col="n_tokens"
    )
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("nchunks")
    )
    a_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    a_surv = surv.agg(F.count(F.lit(1)).cast("long").alias("n_survivors"))
    a_chunks = chunks.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("chunk_tokens_total"),
    )
    a_bins = bins.agg(
        F.sum(F.when((F.col("tot") > 256) & (F.col("nchunks") > 1), 1).otherwise(0))
        .cast("long").alias("overfull_multibins"),
        F.count(F.lit(1)).alias("__n_bins"),
        F.sum("tot").alias("__bin_tot"),
    )
    result = (
        a_docs.crossJoin(a_surv).crossJoin(a_chunks).crossJoin(a_bins).select(
            "n_docs", "n_survivors", "n_chunks", "chunk_tokens_total",
            "overfull_multibins",
            F.when(
                F.col("__n_bins") >= F.ceil(F.col("__bin_tot") / 256), F.lit(1)
            ).otherwise(F.lit(0)).cast("long").alias("bins_lower_ok"),
        )
    )
    # materialize the 1-row invariant table eagerly so the corpus-sized
    # chunk cache can be released NOW instead of pinning the storage pool
    # for the rest of the test session (the battery runs every entry in
    # one session); the returned frame is a local 1-row DataFrame.
    rows = result.collect()
    chunks.unpersist()
    return spark.createDataFrame(rows, schema=result.schema)


@_q(
    "minhash_ml_builtin",
    "WITH " + _NEAR_DUP_CTES + " "
    "SELECT (SELECT count(*) FROM ndpairs)::BIGINT AS n_banded, "
    "CAST(1 AS BIGINT) AS coverage_ok, CAST(1 AS BIGINT) AS jaccards_ok, "
    "CAST(1 AS BIGINT) AS refresh_ok",
)
def minhash_ml_builtin(spark, sf):
    """ml.feature.MinHashLSH candidates, checked via an invariant row: the
    estimator's hash functions are JVM-internal (no SQL engine reproduces
    them), but (a) the banded md5-portable pair count IS SQL-exact, (b) the
    MLlib candidate set must cover >= 90% of those verified pairs (measured
    1.0 at sf0.01 — the >=0.3-Jaccard pairs here are >=0.9 similar, where
    8-table OR-amplified recall is ~1-1e-8), and (c) every reported
    jaccard must lie in [0.2, 1] (distance threshold 0.8).

    Corpus capped at doc_id < 2000 — a measured-cost decision:
    the MLlib explode-join costs 3x the banded path at sf0.1; this
    entry demonstrates the estimator surface, the banded path is
    production. At sf0.01 the cap is not binding.

    It also adds (d) refresh_ok — the update_lsh_index equals-full-rebuild
    invariant: an index built over the ORIGINAL corpus,
    refreshed with an ingest batch (every 5th doc) that carries edited
    texts (every 10th) and one too-short-to-shingle text (every 25th),
    must equal signature-for-signature an index rebuilt from scratch over
    the post-edit corpus — exercising the replace, append-keep, and
    ghost-removal paths in one structural zero."""
    from oni_ml_spark.datapipe.dedup import (
        lsh_index,
        minhash_ml_candidates,
        near_dup_pairs,
        update_lsh_index,
    )

    d = _docs(spark, sf).filter(F.col("doc_id") < 2000)

    # ONE signature pass: the banded candidate path and
    # the refresh check both need the corpus's minhash index at the same
    # (n=3, num_hashes=8) — build index0 once, cache it, and feed it to
    # near_dup_pairs via the sig= fast path instead of re-shingling and
    # re-hashing the corpus a second time. Signatures are exact min-of-md5
    # integers, so sharing cannot move any value.
    #
    # the index0 localCheckpoint and the MLlib estimator
    # construction (CountVectorizer.fit + MinHashLSH.fit, both eager
    # seeded fits) are independent DAGs; a 2-thread pool overlaps them. Seeds are fixed (MinHashLSH
    # seed=7; CountVectorizer vocab order is data-deterministic), so every
    # result tensor is identical to the sequential order.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_idx = pool.submit(
            lambda: lsh_index(d, "doc_id", "text", n=3, num_hashes=8).localCheckpoint()
        )
        f_ml = pool.submit(
            lambda: minhash_ml_candidates(d, "doc_id", "text",
                                          jaccard_distance_threshold=0.8)
        )
        index0 = f_idx.result()
        ml = f_ml.result()
    banded = near_dup_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.3,
        sig=index0,
    ).select("id_a", "id_b")
    nb = banded.agg(F.count(F.lit(1)).cast("long").alias("n_banded"))
    cov = banded.join(ml.select("id_a", "id_b"), ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    jac = ml.agg(
        F.sum(
            F.when((F.col("jaccard") < 0.2) | (F.col("jaccard") > 1.0), 1).otherwise(0)
        ).alias("__bad_j")
    )
    # refresh_ok: update_lsh_index(index(original), batch(edited)) must be
    # row-identical to lsh_index(edited corpus). Batch multiples: %25 ⊂
    # %10 ⊂ %5, so the batch holds re-signed-identical, edited, and
    # removed-as-unshingleable docs at once.
    edited = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 25 == 0, F.lit("ab"))
        .when(F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" r7edit")))
        .otherwise(F.col("text")),
    )
    batch = edited.filter(F.col("doc_id") % 5 == 0)
    updated = update_lsh_index(index0, batch, "doc_id", "text", n=3, num_hashes=8)
    rebuilt = lsh_index(edited, "doc_id", "text", n=3, num_hashes=8)
    u = updated.select("id", F.col("sig").alias("__us"))
    r = rebuilt.select("id", F.col("sig").alias("__rs"))
    refresh = u.join(r, "id", "full_outer").agg(
        F.sum(
            (
                F.col("__us").isNull()
                | F.col("__rs").isNull()
                | (F.col("__us") != F.col("__rs"))
            ).cast("long")
        ).alias("__mismatch")
    )
    return nb.crossJoin(cov).crossJoin(jac).crossJoin(refresh).select(
        "n_banded",
        F.when(F.col("__hits") >= 0.9 * F.col("n_banded"), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("coverage_ok"),
        F.when(F.coalesce(F.col("__bad_j"), F.lit(0)) == 0, F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("jaccards_ok"),
        F.when(F.coalesce(F.col("__mismatch"), F.lit(0)) == 0, F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("refresh_ok"),
    )


@_q(
    "ann_ivf_kmeans",
    # exact brute-force top-5 rows (fully value-hashed), plus one IVF
    # invariant row (part='ivf_check': a=n_results, b=recall_ok, r=sims_ok)
    "SELECT 'exact_topk' AS part, query_id AS a, neighbor_id AS b, "
    "round(sim, 4) AS v, rank AS r FROM ("
    "  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
    "    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim, "
    "    row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    "      list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rank "
    "  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, embeddings c "
    "  WHERE q.vec_id != c.vec_id) WHERE rank <= 5 "
    "UNION ALL SELECT 'ivf_check', "
    "CAST(5 * least(5, (SELECT count(*) FROM embeddings) - 1) AS BIGINT), "
    "CAST(1 AS BIGINT), CAST(NULL AS DOUBLE), CAST(1 AS BIGINT) "
    "UNION ALL SELECT 'pq_check', "
    "CAST(5 * least(5, (SELECT count(*) FROM embeddings) - 1) AS BIGINT), "
    "CAST(1 AS BIGINT), CAST(NULL AS DOUBLE), CAST(1 AS BIGINT) "
    "UNION ALL SELECT 'ivfpq_check', "
    "CAST(5 * least(5, (SELECT count(*) FROM embeddings) - 1) AS BIGINT), "
    "CAST(1 AS BIGINT), CAST(NULL AS DOUBLE), CAST(1 AS BIGINT) "
    # -- assign: the incremental-IVF delta assignment against LITERAL
    # -- frozen centroids — pure SQL argmin, restating assign_cells' exact
    # -- norms-trick formula (in-order sums both engines; worst best-vs-2nd
    # -- relative margin 1.8e-3 at sf0.01, ~13 orders above ulp noise)
    "UNION ALL SELECT 'assign', vec_id, cell::BIGINT, "
    "CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT) FROM ("
    "  SELECT d.vec_id, a.cell, row_number() OVER (PARTITION BY d.vec_id ORDER BY"
    "    (sqrt(list_sum(list_transform(d.v, x -> x*x)))"
    "     * sqrt(list_sum(list_transform(d.v, x -> x*x)))"
    "     + sqrt(list_sum(list_transform(a.centv, x -> x*x)))"
    "     * sqrt(list_sum(list_transform(a.centv, x -> x*x)))"
    "     - 2 * list_inner_product(d.v, a.centv)), a.cell) AS rnk"
    "  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    "        WHERE vec_id < 50) d,"
    "       (SELECT c AS cell, list_transform(range(0, 64),"
    "          i -> CAST(((c * 7 + i * 3) % 11) - 5 AS DOUBLE)) AS centv"
    "        FROM (SELECT unnest(range(0, 4)) AS c)) a"
    ") WHERE rnk = 1 "
    # -- jl: Johnson-Lindenstrauss sign projection — the oracle
    # -- DERIVES the ±1 matrix from md5 parity in SQL while Spark builds
    # -- the same rows driver-side with hashlib; the hash-match proves the
    # -- two constructions and both engines' in-order dot folds agree
    "UNION ALL SELECT 'jl', d.vec_id, s.j::BIGINT, "
    "list_inner_product(d.v, s.sgn), CAST(NULL AS BIGINT) FROM "
    "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    "  WHERE vec_id < 50) d, "
    "(SELECT j, list_transform(range(0, 64), i -> CASE WHEN "
    "  ('0x' || substr(md5('jl:' || j::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT"
    "  % 2 = 0 THEN 1.0 ELSE -1.0 END) AS sgn"
    " FROM (SELECT unnest(range(0, 4)) AS j)) s",
)
def ann_ivf_kmeans(spark, sf):
    """Exact + approximate ANN in one entry.

    part='exact_topk' rows are the brute-force cosine top-5 for 5 query
    vectors, fully value-hashed against DuckDB's list_cosine_similarity
    (a=query_id, b=neighbor_id, v=rounded sim, r=rank). part='ivf_check' is
    the KMeans-quantized IVF invariant row: seeded k-means is deterministic
    but not engine-portable, so the oracle states the properties —
    (a) result count equals the exact baseline's (every query finds a full
    top-5 through its probed cells), (b) recall@5 vs the in-plan exact
    top-5 above a corpus-size-dependent bound: 0.75 at sf0.01 scale
    (corpus <= 600; measured 0.80 at sf0.01 — the strong bound is KEPT
    where its headroom exists) and 0.55 beyond (measured 0.64 at sf0.1;
    still above the 0.5 a random 4-of-8-cell probe would average — fixed
    probes cover a shrinking candidate share as cells fill),
    (r) every reported cosine lies in [-1, 1].

    It also adds the product-quantization stack (same invariant-row shape):

    - part='pq_check' — flat ADC `pq_search` over `pq_encode`d codes
      (m=8, K=16): (a) full result count, (b) recall@5 vs an in-plan EXACT
      squared-L2 top-5 (the metric ADC approximates) >= 0.12 — measured
      0.24 at both sf0.01 and sf0.1, ~6x above the 5/499 chance level,
      (r) every ADC distance non-null and >= 0.
    - part='ivfpq_check' — `ivf_pq_search` through a composed IVF-PQ index
      sharing the SAME codebooks/codes: (a) result count at the pruned
      n_probe=2 of 8 cells, (b) full-probe n_probe=n_cells output is
      row-identical to flat ADC (count of the 4-column inner join equals
      both counts — the candidate-set equivalence Jégou's composition
      promises), (r) pruned recall vs flat >= 0.32 (measured 0.52 at
      sf0.01).

    It also adds part='assign' — the incremental-IVF maintenance half
    (similarity.assign_cells, the engine of ivf_append) run against
    LITERAL frozen centroids so the delta assignment is hash-matched
    row-for-row against the oracle's SQL argmin (worst best-vs-2nd
    relative distance margin 1.8e-3 at sf0.01 — 13 orders above
    cross-engine float noise; the KMeans-fitted paths above remain
    invariant-checked because seeded fits aren't engine-portable)."""
    from oni_ml_spark.datapipe.similarity import (
        as_double_array,
        brute_force_topk,
        build_ivf_index,
        build_pq_codebooks,
        ivf_pq_search,
        ivf_search,
        pq_encode,
        pq_search,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    # every small result frame below feeds 2-4 downstream consumers inside
    # ONE unioned job — localCheckpoint pins each (bounded: <= 5*k rows)
    # so the expensive subtree (crossJoin top-k, mapInPandas ADC scoring)
    # evaluates once, not once per consumer.
    #
    # The n_cells=8/seed=7 IVF KMeans index is built ONCE and shared by
    # ivf_kmeans_topk and the IVF-PQ composition (the fit is seeded and
    # deterministic, so a second fit would give the identical index). The
    # four remaining independent eager sub-DAGs (IVF build+search, exact-cosine baseline,
    # PQ codebooks→encode→flat-ADC, exact-L2 baseline) are submitted from a
    # small driver thread pool so their KMeans iteration jobs / checkpoint
    # jobs backfill each other's stragglers instead of running serially —
    # every fit keeps its own seed, so the result tensor is identical to
    # the sequential order.
    from concurrent.futures import ThreadPoolExecutor

    def _branch_ivf():
        cent_df, assigned = build_ivf_index(
            emb, "vec_id", "embedding", n_cells=8, seed=7
        )
        # assigned feeds both the IVF search and the IVF-PQ code join —
        # pin it (corpus-sized but narrow) so the KMeans model transform
        # runs once, not once per consumer
        assigned = assigned.localCheckpoint()
        ivf = ivf_search(
            q, cent_df, assigned, "vec_id", "embedding", k=5, n_probe=4
        ).localCheckpoint()
        return cent_df, assigned, ivf

    def _branch_exact():
        return brute_force_topk(q, emb, k=5).localCheckpoint()

    # ---- PQ stack: one codebook fit + one encode shared by flat ADC and
    # the composed IVF-PQ index (refitting per consumer would double the
    # KMeans cost for identical books)
    def _branch_pq():
        books = build_pq_codebooks(
            emb, "embedding", m=8, codes_per_subspace=16, dim=64, seed=7
        )
        # enc feeds flat ADC, the IVF-PQ code join, and both probed
        # searches — pin the corpus-sized-but-2-bytes-per-code table once
        enc = pq_encode(emb, "vec_id", "embedding", books).localCheckpoint()
        flat = pq_search(
            q, enc, books, "vec_id", "embedding", k=5
        ).localCheckpoint()
        return books, enc, flat

    # exact squared-L2 top-5 — the metric ADC approximates (cosine exact_topk
    # above ranks differently on unnormalized embeddings)
    def _branch_l2():
        qd = q.select(
            F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qv")
        )
        cd = emb.select(
            F.col("vec_id").alias("neighbor_id"), as_double_array("embedding").alias("cv")
        )
        wl2 = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
        return (
            qd.crossJoin(cd)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id",
                F.aggregate(
                    F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, v: acc + v,
                ).alias("d2"),
            )
            .withColumn("rank", F.row_number().over(wl2))
            .filter(F.col("rank") <= 5)
        ).localCheckpoint()

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_ivf = pool.submit(_branch_ivf)
        f_exact = pool.submit(_branch_exact)
        f_pq = pool.submit(_branch_pq)
        f_l2 = pool.submit(_branch_l2)
        cent_df, assigned, ivf = f_ivf.result()
        exact = f_exact.result()
        books, enc, flat = f_pq.result()
        exact_l2 = f_l2.result()

    a_ivf = ivf.agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        F.sum(
            F.when((F.col("sim") < -1.0) | (F.col("sim") > 1.0), 1).otherwise(0)
        ).alias("__bad_sim"),
    )
    a_hits = (
        ivf.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    a_exact = exact.agg(F.count(F.lit(1)).alias("__n_exact"))
    a_corpus = emb.agg(F.count(F.lit(1)).alias("__n_corpus"))
    recall_bound = F.when(F.col("__n_corpus") <= 600, F.lit(0.75)).otherwise(
        F.lit(0.55)
    )
    check = a_ivf.crossJoin(a_hits).crossJoin(a_exact).crossJoin(a_corpus).select(
        F.lit("ivf_check").alias("part"),
        F.col("n_results").alias("a"),
        F.when(F.col("__hits") >= recall_bound * F.col("__n_exact"), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("b"),
        F.lit(None).cast("double").alias("v"),
        F.when(F.coalesce(F.col("__bad_sim"), F.lit(0)) == 0, F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("r"),
    )
    exact_rows = exact.select(
        F.lit("exact_topk").alias("part"),
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("sim").alias("v"),
        F.col("rank").cast("long").alias("r"),
    )

    p_n = flat.agg(
        F.count(F.lit(1)).cast("long").alias("n_flat"),
        F.sum(
            F.when(F.col("adc_dist").isNull() | (F.col("adc_dist") < 0), 1).otherwise(0)
        ).alias("__bad_d"),
    )
    p_hits = (
        flat.select("query_id", "neighbor_id")
        .join(exact_l2.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("__l2_hits"))
    )
    p_exact = exact_l2.agg(F.count(F.lit(1)).alias("__n_l2"))
    pq_check = p_n.crossJoin(p_hits).crossJoin(p_exact).select(
        F.lit("pq_check").alias("part"),
        F.col("n_flat").alias("a"),
        F.when(F.col("__l2_hits") >= 0.12 * F.col("__n_l2"), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("b"),
        F.lit(None).cast("double").alias("v"),
        F.when(F.coalesce(F.col("__bad_d"), F.lit(0)) == 0, F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("r"),
    )

    # cent_df/assigned come from the single shared IVF build above (the
    # seeded fit makes them identical to what a second build would produce)
    assigned_codes = assigned.select("neighbor_id", "cell").join(
        enc.withColumnRenamed("id", "neighbor_id"), "neighbor_id"
    )
    full = ivf_pq_search(
        q, cent_df, assigned_codes, books, "vec_id", "embedding", k=5, n_probe=8
    )
    pruned = ivf_pq_search(
        q, cent_df, assigned_codes, books, "vec_id", "embedding", k=5, n_probe=2
    ).localCheckpoint()
    i_n = pruned.agg(F.count(F.lit(1)).cast("long").alias("n_pruned"))
    i_eq = (
        full.join(flat, ["query_id", "neighbor_id", "adc_dist", "rank"])
        .agg(F.count(F.lit(1)).alias("__eq"))
    )
    i_full = full.agg(F.count(F.lit(1)).alias("__n_full"))
    i_hits = (
        pruned.select("query_id", "neighbor_id")
        .join(flat.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("__p_hits"))
    )
    ivfpq_check = (
        i_n.crossJoin(i_eq).crossJoin(i_full).crossJoin(i_hits)
        .crossJoin(p_n.select(F.col("n_flat").alias("__n_flat2")))
        .select(
            F.lit("ivfpq_check").alias("part"),
            F.col("n_pruned").alias("a"),
            F.when(
                (F.col("__eq") == F.col("__n_full"))
                & (F.col("__n_full") == F.col("__n_flat2")),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long").alias("b"),
            F.lit(None).cast("double").alias("v"),
            F.when(F.col("__p_hits") >= 0.32 * F.col("__n_flat2"), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("r"),
        )
    )

    # part='assign' — the incremental-IVF maintenance half
    # (similarity.assign_cells) against LITERAL frozen centroids, so the
    # delta assignment is a pure SQL argmin the oracle restates and
    # hash-matches row-for-row (the KMeans-fitted paths above stay
    # invariant-checked; this part pins the append machinery itself).
    from oni_ml_spark.datapipe.similarity import _prep_members, assign_cells, norm

    cent_lit = spark.range(4).select(
        F.col("id").cast("int").alias("cell"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (((F.col("id") * 7 + i.cast("bigint") * 3) % 11) - 5)
            .cast("double"),
        ).alias("centv"),
    ).withColumn("centn", norm(F.col("centv")))
    assigned_lit = assign_cells(
        cent_lit, _prep_members(emb.filter(F.col("vec_id") < 50), "vec_id", "embedding")
    )
    assign_rows = assigned_lit.select(
        F.lit("assign").alias("part"),
        F.col("neighbor_id").alias("a"),
        F.col("cell").cast("long").alias("b"),
        F.lit(None).cast("double").alias("v"),
        F.lit(None).cast("long").alias("r"),
    )

    # part='jl' — random_projection with the md5-parity sign matrix;
    # one row per (vector, component), v = the UNSCALED in-order dot (the
    # oracle recomputes the signs from md5 in SQL — hashlib and SQL md5
    # must derive the same matrix, and both engines' folds are in-order,
    # so v hash-matches exactly)
    from oni_ml_spark.datapipe.similarity import random_projection

    proj = random_projection(
        emb.filter(F.col("vec_id") < 50), "vec_id", "embedding",
        out_dim=4, dim=64, scale=False,
    )
    jl_rows = proj.select(
        "id", F.posexplode("proj").alias("j", "comp")
    ).select(
        F.lit("jl").alias("part"),
        F.col("id").alias("a"),
        F.col("j").cast("long").alias("b"),
        F.col("comp").alias("v"),
        F.lit(None).cast("long").alias("r"),
    )
    return (
        exact_rows.unionByName(check).unionByName(pq_check)
        .unionByName(ivfpq_check).unionByName(assign_rows).unionByName(jl_rows)
    )


# ---- span dedup, dataset mixing, range join --------------------------------

@_q(
    "ngram_diagnostics",
    rf"""WITH t AS (SELECT doc_id AS id, {_TOKENS.format(c='text')} AS toks FROM documents),
    g0 AS (SELECT id, toks, unnest(range(greatest(len(toks) - 7, 0))) AS pos FROM t),
    grams AS (SELECT id, pos, md5(array_to_string(toks[pos+1:pos+8], ' ')) AS gkey FROM g0),
    occ AS (SELECT gkey, count(*) AS n_occ FROM grams GROUP BY gkey),
    dup AS (SELECT id, pos FROM grams JOIN occ USING (gkey) WHERE n_occ >= 2),
    cov AS (SELECT id, pos, lead(pos) OVER (PARTITION BY id ORDER BY pos) AS nxt FROM dup),
    per AS (SELECT id, count(*) AS dup_span_starts,
            sum(CASE WHEN nxt IS NULL THEN 8 ELSE least(8, nxt - pos) END) AS covered
            FROM cov GROUP BY id),
    g3 AS (SELECT id, array_to_string(toks[pos+1:pos+3], ' ') AS gram
           FROM (SELECT id, toks, unnest(range(greatest(len(toks) - 2, 0))) AS pos FROM t)),
    pg AS (SELECT id, gram, count(*) AS c FROM g3 GROUP BY id, gram),
    rep AS (SELECT id, sum(c)::BIGINT AS n_grams, count(*)::BIGINT AS distinct_n_grams,
            round(max(c) / sum(c), 6) AS top_gram_frac,
            round((sum(c) - count(*)) / sum(c), 6) AS dup_gram_frac,
            max(c) AS mc,
            sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dupchars
            FROM pg GROUP BY id),
    topl AS (SELECT pg.id, max(length(pg.gram)) AS tl
             FROM pg JOIN rep ON rep.id = pg.id AND pg.c = rep.mc
             GROUP BY pg.id),
    dchars AS (SELECT doc_id AS id, length(text) AS doc_chars FROM documents),
    shd AS (SELECT DISTINCT id, gkey FROM grams),
    evals AS (SELECT DISTINCT gkey FROM shd WHERE id % 10 = 0),
    cont AS (SELECT id, count(*)::BIGINT AS n_shingles,
             sum(CASE WHEN gkey IN (SELECT gkey FROM evals) THEN 1 ELSE 0 END)::BIGINT
               AS n_contaminated
             FROM shd WHERE id % 10 != 0 GROUP BY id),
    comp AS (
      SELECT a.doc_id AS id,
             a.text || CASE WHEN b.text IS NULL THEN ''
                            ELSE chr(10) || chr(10) || b.text END AS ctext
      FROM documents a LEFT JOIN documents b ON b.doc_id = xor(a.doc_id, 1)),
    pp0 AS (SELECT id, regexp_split_to_array(ctext, '\n{{2,}}') AS arr FROM comp),
    pvalid AS (SELECT id, pos, para FROM (
        SELECT id, unnest(range(len(arr))) AS pos, unnest(arr) AS para FROM pp0)
      WHERE length(trim(para)) >= 1),
    pkept AS (SELECT id, pos, para, row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g')))
        ORDER BY id, pos) AS rn FROM pvalid),
    prebuilt AS (SELECT id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
                 count(*) AS kept FROM pkept WHERE rn = 1 GROUP BY id),
    ptot AS (SELECT id, count(*) AS n FROM pvalid GROUP BY id)
    SELECT t.id, len(t.toks)::BIGINT AS n_tokens,
           coalesce(per.dup_span_starts, 0)::BIGINT AS dup_span_starts,
           coalesce(per.covered, 0)::BIGINT AS covered_tokens,
           round(coalesce(per.covered, 0) / greatest(len(t.toks), 1), 6)
             AS dup_token_fraction,
           rep.n_grams, rep.distinct_n_grams, rep.top_gram_frac, rep.dup_gram_frac,
           round(rep.mc * topl.tl / greatest(dchars.doc_chars, 1), 6)
             AS top_gram_char_frac,
           round(rep.dupchars / greatest(dchars.doc_chars, 1), 6)
             AS dup_gram_char_frac,
           cont.n_shingles, cont.n_contaminated,
           round(cont.n_contaminated / cont.n_shingles, 6) AS contamination_frac,
           CASE WHEN t.id % 10 = 0 THEN NULL
                WHEN coalesce(cont.n_contaminated, 0) = 0 THEN 1 ELSE 0
           END::BIGINT AS decon_kept,
           coalesce(ptot.n, 0)::BIGINT AS para_units,
           coalesce(prebuilt.kept, 0)::BIGINT AS para_units_kept,
           md5(coalesce(prebuilt.text, '')) AS para_text_md5
    FROM t LEFT JOIN per ON per.id = t.id
           LEFT JOIN rep ON rep.id = t.id
           LEFT JOIN topl ON topl.id = t.id
           LEFT JOIN dchars ON dchars.id = t.id
           LEFT JOIN cont ON cont.id = t.id
           LEFT JOIN ptot ON ptot.id = t.id
           LEFT JOIN prebuilt ON prebuilt.id = t.id""",
)
def ngram_diagnostics_q(spark, sf):
    """The per-document n-gram diagnostic battery in one entry:

    - duplicate_span_metrics (Lee et al. exact-substring dedup coverage):
      8-token windows occurring >= 2 times corpus-wide; covered_tokens is
      the EXACT interval-union size (per-doc lead() window over duplicate
      starts); corpus counting groups on md5 digests, never window text.
    - repetition_metrics: 3-gram top-gram / duplicate-gram fractions (the
      degenerate-repetition gate) and Gopher's CHARACTER fractions —
      top_gram_char_frac (deterministic count-then-length tie-break) and
      the overlap-naive dup_gram_char_frac, both over doc chars.
    - ngram_contamination: fraction of each training doc's distinct
      8-gram shingles that appear anywhere in the eval split (docs with
      id % 10 == 0 stand in as the eval set; its members carry NULL
      contamination columns — no evidence either way).
    - remove_contaminated: decon_kept flags which training docs the
      strict max_contamination=0.0 removal keeps (1), drops (0), or never
      saw (NULL — eval docs); verifies the removal's left-join + raw-count
      threshold including the shingle-less-docs-are-kept rule.
    - paragraph_dedup: over an in-plan composite corpus (each doc
      concatenated with its XOR-1 partner, so every original text appears
      as a unit in exactly TWO composites) — unit counts AND the md5 of
      the reassembled deduped text hash-check first-occurrence survival
      and in-order reassembly end to end."""
    from oni_ml_spark.datapipe.dedup import duplicate_span_metrics, paragraph_dedup
    from oni_ml_spark.datapipe.textstats import (
        ngram_contamination,
        remove_contaminated,
        repetition_metrics,
    )

    from oni_ml_spark.datapipe.dedup import _span_gram_table

    d = _docs(spark, sf)
    train = d.filter(F.col("doc_id") % 10 != 0)
    evald = d.filter(F.col("doc_id") % 10 == 0)
    # ONE 8-token gram pass: the span diagnostic and the
    # contamination probe both consume the corpus's 8-gram table — build it
    # once, cache it, and derive both operators' inputs (the contamination
    # sides key on the md5 digest, which the oracle's shd CTE already
    # models; digest equality ≡ gram-text equality). Bounded: one row per
    # (doc, position).
    grams8 = _span_gram_table(d, "doc_id", "text", span=8).cache()
    spans = duplicate_span_metrics(
        d, "doc_id", "text", span=8, min_count=2, grams=grams8
    )
    shd = grams8.select("id", F.col("gkey").alias("shingle")).distinct()
    rep = repetition_metrics(d, "doc_id", "text", n=3)
    # the contamination fractions feed BOTH the reported columns and the
    # removal below; cache() (lazy, filled by the first consumer in
    # the final job) replaces the eager localCheckpoint pin so the two
    # consumers still share one shingle pass without a barrier job
    cont = ngram_contamination(
        train, evald, "doc_id", "text", n=8,
        train_shingles=shd.filter(F.col("id") % 10 != 0),
        eval_shingles=shd.filter(F.col("id") % 10 == 0).select("shingle"),
    ).cache()
    decon = remove_contaminated(
        train, evald, "doc_id", "text", n=8, fractions=cont
    ).select(F.col("doc_id").alias("id"), F.lit(1).cast("long").alias("__dk"))
    partner = d.select(
        F.col("doc_id").bitwiseXOR(F.lit(1)).alias("doc_id"),
        F.col("text").alias("__ptext"),
    )
    comp = (
        d.select("doc_id", "text")
        .join(partner, "doc_id", "left")
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(F.col("__ptext").isNull(), F.lit("")).otherwise(
                    F.concat(F.lit("\n\n"), F.col("__ptext"))
                ),
            ).alias("ctext"),
        )
    )
    para = paragraph_dedup(comp, "doc_id", "ctext").select(
        "id",
        F.col("n_units").alias("para_units"),
        F.col("n_units_kept").alias("para_units_kept"),
        F.md5("text").alias("para_text_md5"),
    )
    return (
        spans.join(rep, "id", "left")
        .join(cont, "id", "left")
        .join(decon, "id", "left")
        .join(para, "id", "left")
        .select(
            "id", "n_tokens", "dup_span_starts", "covered_tokens",
            "dup_token_fraction", "n_grams", "distinct_n_grams",
            "top_gram_frac", "dup_gram_frac",
            "top_gram_char_frac", "dup_gram_char_frac",
            "n_shingles", "n_contaminated",
            "contamination_frac",
            F.when(F.col("id") % 10 == 0, F.lit(None).cast("long"))
            .otherwise(F.coalesce("__dk", F.lit(0))).alias("decon_kept"),
            "para_units", "para_units_kept",
            "para_text_md5",
        )
    )


# weights/targets shared between the Spark entry and the oracle so the
# fractional-rate arithmetic is literal-identical on both engines.
_MIX_WEIGHTS = {"src0": 3.0, "src1": 2.0, "src2": 1.0}
_MIX_TOTAL = 100
_MIX_TARGETS = {
    s: float(_MIX_TOTAL) * w / sum(_MIX_WEIGHTS.values())
    for s, w in _MIX_WEIGHTS.items()
}
_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {t!r}" for s, t in _MIX_TARGETS.items()
)


@_q(
    "weighted_mix",
    f"""WITH n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    r AS (SELECT source, (CASE source {_MIX_CASE} END) / n_s AS rate FROM n),
    base AS (SELECT d.doc_id, d.source, r.rate FROM documents d
             JOIN r USING (source) WHERE r.rate > 0),
    copies AS (SELECT doc_id, source, rate,
               unnest(range(1, ceil(rate)::BIGINT + 1)) AS epoch FROM base),
    kept AS (SELECT * FROM copies WHERE epoch <= floor(rate)
             OR (epoch = ceil(rate)
                 AND ('0x' || substr(md5(doc_id::VARCHAR || '#mix' || epoch::VARCHAR),
                      1, 8))::BIGINT % 4294967296 < (rate - floor(rate)) * 4294967296)),
    -- temperature weights: n_s^0.5 smoothing, normalized in-plan
    tw AS (SELECT source, count(*)::BIGINT AS n_s, pow(count(*), 0.5) AS w
           FROM documents GROUP BY source),
    tws AS (SELECT sum(w) AS tot FROM tw)
    SELECT 'mix' AS part, source, epoch::BIGINT AS epoch, count(*) AS cnt,
           sum(doc_id)::BIGINT AS id_sum, CAST(NULL AS DOUBLE) AS v
    FROM kept GROUP BY source, epoch
    UNION ALL SELECT 'temp', source, -1, n_s,
           round(w / tot * 1000, 0)::BIGINT, round(w, 6) FROM tw, tws
    UNION ALL SELECT 'tempf', source, -1, n_s, 0, round(w / tot, 6)
    FROM tw, tws""",
)
def weighted_mix_q(spark, sf):
    """Deterministic weighted mixture resampling (dataset mixing for a
    training run): sources src0/src1/src2 at weights 3/2/1 toward a
    100-row mixture — rates above 1 upsample with epoch-indexed
    deterministic repetition, rates below 1 hash-downsample. Per
    (source, epoch) count + id-sum verifies the exact row selection."""
    from oni_ml_spark.datapipe.sampling import weighted_mix

    from oni_ml_spark.datapipe.sampling import temperature_weights

    d = _docs(spark, sf)
    out = weighted_mix(d, "source", "doc_id", _MIX_WEIGHTS, _MIX_TOTAL)
    mix = out.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum")
    ).select(
        F.lit("mix").alias("part"), "source",
        F.col("epoch").cast("long").alias("epoch"), "cnt", "id_sum",
        F.lit(None).cast("double").alias("v"),
    )
    # temperature_weights: n_s^0.5 smoothing
    # (Lample & Conneau), plus the target_rows budget path at 1000 rows —
    # the id_sum column carries the per-source budget, v the raw weight
    tw = temperature_weights(d, "source", alpha=0.5, total_rows=1000)
    neg1 = F.lit(-1).cast("long")
    temp = tw.select(
        F.lit("temp").alias("part"), "source", neg1.alias("epoch"),
        F.col("n_rows").alias("cnt"), F.col("target_rows").alias("id_sum"),
        F.round("weight", 6).alias("v"),
    )
    tempf = tw.select(
        F.lit("tempf").alias("part"), "source", neg1.alias("epoch"),
        F.col("n_rows").alias("cnt"), F.lit(0).cast("long").alias("id_sum"),
        F.round("fraction", 6).alias("v"),
    )
    return mix.unionByName(temp).unionByName(tempf)


@_q(
    "range_join_bucketed",
    "SELECT e.event_id, n.n_nationkey AS iv_id FROM events e JOIN nation n "
    "ON e.value >= n.n_nationkey * 4.0 AND e.value <= n.n_nationkey * 4.0 + 6.0",
)
def range_join_bucketed_q(spark, sf):
    """Interval containment (value ∈ [lo, hi]) as an EQUI join: each
    interval explodes to the fixed-width buckets it overlaps, each point
    hashes to exactly one bucket, so a qualifying pair meets in exactly one
    bucket — no theta/nested-loop join, no post-join dedup. The oracle is
    DuckDB's plain BETWEEN join over overlapping per-nation value bands."""
    from oni_ml_spark.datapipe.temporal import range_join_bucketed

    points = load_table(spark, sf, "events").select("event_id", "value")
    nk = F.col("n_nationkey").cast("double")
    intervals = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("iv_id"),
        (nk * 4.0).alias("lo"),
        (nk * 4.0 + 6.0).alias("hi"),
    )
    out = range_join_bucketed(points, intervals, "value", "lo", "hi", bucket_width=8.0)
    return out.select("event_id", "iv_id")


# ---- quality gate, temporal reshape, JSON props ----------------------------

_QG_RULES = [
    "too_few_tokens", "too_many_tokens", "mean_token_len_low",
    "mean_token_len_high", "symbol_ratio", "alpha_words", "stopword_hits",
]

# flags replicate quality_filter's arithmetic exactly: whitespace tokens of
# the normalized text, mean token length as double division of identical
# ints (engine-identical), symbol/alpha fractions vs greatest(n, 1)
_QG_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                x -> x != '') AS t
  FROM documents),
m AS (
  SELECT doc_id, len(t) AS n,
    CASE WHEN len(t) > 0
         THEN length(array_to_string(t, ''))::DOUBLE / len(t) ELSE 0.0 END AS mean_len,
    len(list_filter(t, x -> contains(x, '#') OR contains(x, '...'))) AS symbolic,
    len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha,
    len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','with'))) AS stop_hits
  FROM toks),
flags AS (
  SELECT doc_id,
    n < 50 AS too_few_tokens, n > 80 AS too_many_tokens,
    mean_len < 4.0 AS mean_token_len_low, mean_len > 5.0 AS mean_token_len_high,
    symbolic > 0.1 * greatest(n, 1) AS symbol_ratio,
    alpha < 0.8 * greatest(n, 1) AS alpha_words,
    stop_hits < 3 AS stopword_hits
  FROM m)
SELECT 'too_few_tokens' AS rule, count(*) FILTER (too_few_tokens)::BIGINT AS n_docs,
       coalesce(sum(doc_id) FILTER (too_few_tokens), 0)::BIGINT AS id_sum FROM flags
UNION ALL SELECT 'too_many_tokens', count(*) FILTER (too_many_tokens)::BIGINT,
       coalesce(sum(doc_id) FILTER (too_many_tokens), 0)::BIGINT FROM flags
UNION ALL SELECT 'mean_token_len_low', count(*) FILTER (mean_token_len_low)::BIGINT,
       coalesce(sum(doc_id) FILTER (mean_token_len_low), 0)::BIGINT FROM flags
UNION ALL SELECT 'mean_token_len_high', count(*) FILTER (mean_token_len_high)::BIGINT,
       coalesce(sum(doc_id) FILTER (mean_token_len_high), 0)::BIGINT FROM flags
UNION ALL SELECT 'symbol_ratio', count(*) FILTER (symbol_ratio)::BIGINT,
       coalesce(sum(doc_id) FILTER (symbol_ratio), 0)::BIGINT FROM flags
UNION ALL SELECT 'alpha_words', count(*) FILTER (alpha_words)::BIGINT,
       coalesce(sum(doc_id) FILTER (alpha_words), 0)::BIGINT FROM flags
UNION ALL SELECT 'stopword_hits', count(*) FILTER (stopword_hits)::BIGINT,
       coalesce(sum(doc_id) FILTER (stopword_hits), 0)::BIGINT FROM flags
UNION ALL SELECT '__passed',
       count(*) FILTER (NOT (too_few_tokens OR too_many_tokens OR mean_token_len_low
         OR mean_token_len_high OR symbol_ratio OR alpha_words OR stopword_hits))::BIGINT,
       coalesce(sum(doc_id) FILTER (NOT (too_few_tokens OR too_many_tokens
         OR mean_token_len_low OR mean_token_len_high OR symbol_ratio
         OR alpha_words OR stopword_hits)), 0)::BIGINT FROM flags
"""


def _pii_oracle_block() -> tuple[str, str]:
    """PII-audit rows appended to the quality_gate report: per-kind
    doc counts + id_sums over a deterministically PII-planted corpus
    (every doc gets an email; every 3rd an SSN, 5th a card, 7th a phone,
    11th an IPv4), total span count, and the scrub→re-audit residual
    (structurally zero — the oracle performs the same fixed-order
    regexp_replace chain, so the zero is checked cross-engine, Java
    regex vs RE2, on the shared PII_PATTERNS inventory). Returns the
    (extra CTEs, extra UNION rows) pair spliced into _QG_ORACLE."""
    from oni_ml_spark.datapipe.textstats import PII_PATTERNS

    plant = (
        "text || ' contact user' || doc_id::VARCHAR || '@ex' || "
        "(doc_id % 7)::VARCHAR || '.org'"
        " || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-' || "
        "lpad((doc_id % 9999)::VARCHAR, 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' card 4242-4242-4242-4242' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' call (415) 555-0199' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || "
        "(doc_id % 254)::VARCHAR || '.7' ELSE '' END"
    )
    scrub = "pt"
    for pat, tok in PII_PATTERNS.values():  # fixed precedence order
        scrub = f"regexp_replace({scrub}, '{pat}', '{tok}', 'g')"
    kind_counts = ", ".join(
        f"len(regexp_extract_all(pt, '{pat}'))::BIGINT AS {kind}_n"
        for kind, (pat, _) in PII_PATTERNS.items()
    )
    res_counts = " + ".join(
        f"len(regexp_extract_all(st, '{pat}'))"
        for pat, _ in PII_PATTERNS.values()
    )
    total = " + ".join(f"{kind}_n" for kind in PII_PATTERNS)
    kind_rows = " ".join(
        f"UNION ALL SELECT 'pii_{kind}', count(*) FILTER ({kind}_n > 0)::BIGINT, "
        f"coalesce(sum(doc_id) FILTER ({kind}_n > 0), 0)::BIGINT FROM pk"
        for kind in PII_PATTERNS
    )
    ctes = (
        f", ptxt AS (SELECT doc_id, {plant} AS pt FROM documents), "
        f"pk AS (SELECT doc_id, {kind_counts}, {total} AS pt_total FROM ptxt), "
        f"scr AS (SELECT doc_id, {scrub} AS st FROM ptxt), "
        f"pres AS (SELECT doc_id, {res_counts} AS res_total FROM scr)"
    )
    rows = (
        f"{kind_rows} "
        "UNION ALL SELECT 'pii_spans', sum(pt_total)::BIGINT, "
        "coalesce(sum(doc_id) FILTER (pt_total > 0), 0)::BIGINT FROM pk "
        "UNION ALL SELECT 'pii_residual', sum(res_total)::BIGINT, "
        "coalesce(sum(doc_id) FILTER (res_total > 0), 0)::BIGINT FROM pres"
    )
    return ctes, rows


def _lmq_oracle_block() -> tuple[str, str]:
    """Model-quality rows appended to the quality_gate report: the
    hashing-trick linear scorer (datapipe.classify.hashed_linear_score)
    restated in SQL.  The model table is generated in-plan on the Spark
    side (even buckets of [0, 4096) carry an md5-derived micro-weight; odd
    buckets are ABSENT, exercising the missing-bucket → 0 contract), so
    the oracle can compute each bucket's weight inline — while the Spark
    path still runs the operator's real broadcast join against a weights
    DataFrame.  score_micro is an exact BIGINT sum → hash-matchable.
    It also adds the routing and operating-point rows: 'lmq_route|<cls>' /
    'lmq_route_mass' (hashed_linear_argmax under the derived 3-class
    model) and 'lmq_thr|<t>|pos/neg' (threshold_report confusion counts
    vs doc_id parity)."""
    ctes = (
        f", lmtf AS (SELECT doc_id AS id, unnest({_TOKENS.format(c='text')}) "
        "AS term FROM documents), "
        "lmtb AS (SELECT id, ('0x' || substr(md5('0:' || term), 1, 8))::BIGINT "
        "% 4096 AS b FROM lmtf), "
        "lmts AS (SELECT id, sum(CASE WHEN b % 2 = 0 THEN "
        "(('0x' || substr(md5('w:' || b::VARCHAR), 1, 8))::BIGINT % 2001) - 1000 "
        "ELSE 0 END)::BIGINT AS sm FROM lmtb GROUP BY id), "
        "lms AS (SELECT d.doc_id AS id, coalesce(t.sm, 0)::BIGINT AS sm "
        "FROM documents d LEFT JOIN lmts t ON d.doc_id = t.id), "
        # -- lmq_auc: exact tie-aware ROC-AUC of the score against doc_id
        # -- parity (classify.binary_auc restated: per distinct score,
        # -- n_pos * (negatives strictly below + ties/2) — every term a
        # -- multiple of 0.5 < 2^52, so the sum is exact in any order)
        "lmc AS (SELECT sm, sum(id % 2)::BIGINT AS np, "
        "sum(1 - id % 2)::BIGINT AS nn FROM lms GROUP BY sm), "
        "lmr AS (SELECT np, nn, sum(nn) OVER (ORDER BY sm) - nn AS below FROM lmc), "
        "lma AS (SELECT (SELECT count(*) FROM lmc)::BIGINT AS n_scores, "
        "sum(np * (below + nn / 2.0)) / "
        "((SELECT sum(np) FROM lmc) * (SELECT sum(nn) FROM lmc)) AS auc FROM lmr), "
        # -- per-source AUC (binary_auc_grouped): same construction keyed
        # -- by source; single-class segments yield NULL
        "lmg AS (SELECT coalesce(d.source, '__null') AS g, d.doc_id % 2 AS y, "
        "l.sm FROM documents d JOIN lms l ON d.doc_id = l.id), "
        "lmgc AS (SELECT g, sm, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn "
        "FROM lmg GROUP BY g, sm), "
        "lmgr AS (SELECT g, np, nn, "
        "sum(nn) OVER (PARTITION BY g ORDER BY sm) - nn AS below FROM lmgc), "
        "lmga AS (SELECT g, count(*)::BIGINT AS ns, "
        "CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN "
        "sum(np * (below + nn / 2.0)) / (sum(np) * sum(nn)) END AS auc "
        "FROM lmgr GROUP BY g), "
        # -- lmq_route: the multiclass router (hashed_linear_argmax)
        # -- under the derived 3-class model: even buckets carry the
        # -- demo weight under class c(bucket % 3), odd pairs ABSENT;
        # -- every class competes on every doc (coalesce 0), ties break
        # -- to the smallest class name — row_number s DESC, k ASC
        "lmr3 AS (SELECT id, b % 3 AS k, sum(CASE WHEN b % 2 = 0 THEN "
        "(('0x' || substr(md5('w:' || b::VARCHAR), 1, 8))::BIGINT % 2001) - 1000 "
        "ELSE 0 END)::BIGINT AS s FROM lmtb GROUP BY id, b % 3), "
        "lmkx AS (SELECT d.doc_id AS id, kk.k FROM documents d "
        "CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) kk), "
        "lmsc AS (SELECT lmkx.id, lmkx.k, coalesce(r.s, 0)::BIGINT AS s "
        "FROM lmkx LEFT JOIN lmr3 r ON r.id = lmkx.id AND r.k = lmkx.k), "
        "lmroute AS (SELECT id, k, s FROM (SELECT id, k, s, row_number() "
        "OVER (PARTITION BY id ORDER BY s DESC, k ASC) AS rn FROM lmsc) "
        "WHERE rn = 1), "
        # -- lmq_thr: threshold_report restated — per threshold the
        # -- exact confusion counts of (score >= t) vs doc_id parity
        "lmthr AS (SELECT unnest([-2000, 0, 2000]) AS v)"
    )
    rows = (
        "UNION ALL SELECT 'lmq_flagged', count(*) FILTER (sm < 0)::BIGINT, "
        "coalesce(sum(id) FILTER (sm < 0), 0)::BIGINT FROM lms "
        "UNION ALL SELECT 'lmq_mass', count(*)::BIGINT, sum(sm)::BIGINT FROM lms "
        "UNION ALL SELECT 'lmq_auc', n_scores, floor(auc * 1000000)::BIGINT FROM lma "
        "UNION ALL SELECT 'lmq_aucg|' || g, ns, floor(auc * 1000000)::BIGINT FROM lmga "
        "UNION ALL SELECT 'lmq_route|c' || k::VARCHAR, count(*)::BIGINT, "
        "sum(id)::BIGINT FROM lmroute GROUP BY k "
        "UNION ALL SELECT 'lmq_route_mass', count(*)::BIGINT, sum(s)::BIGINT "
        "FROM lmroute "
        "UNION ALL SELECT 'lmq_thr|' || v::VARCHAR || '|pos', "
        "count(*) FILTER (sm >= v AND id % 2 = 1)::BIGINT, "
        "count(*) FILTER (sm >= v AND id % 2 = 0)::BIGINT "
        "FROM lms CROSS JOIN lmthr GROUP BY v "
        "UNION ALL SELECT 'lmq_thr|' || v::VARCHAR || '|neg', "
        "count(*) FILTER (sm < v AND id % 2 = 1)::BIGINT, "
        "count(*) FILTER (sm < v AND id % 2 = 0)::BIGINT "
        "FROM lms CROSS JOIN lmthr GROUP BY v"
    )
    return ctes, rows


def _qg_oracle_with_pii() -> str:
    pii_ctes, pii_rows = _pii_oracle_block()
    lmq_ctes, lmq_rows = _lmq_oracle_block()
    head, sep, tail = _QG_ORACLE.partition("\nSELECT '")
    if not sep:
        # explicit raise, not assert: under ``python -O`` an assert is
        # stripped and a reshaped _QG_ORACLE would splice malformed SQL
        raise RuntimeError(
            "_qg_oracle_with_pii: _QG_ORACLE no longer contains the "
            "\"\\nSELECT '\" splice point — update the splice logic"
        )
    return (
        head + pii_ctes + lmq_ctes + sep + tail.rstrip()
        + " " + pii_rows + " " + lmq_rows
    )


@_q("quality_gate", _qg_oracle_with_pii())
def quality_gate_q(spark, sf):
    """Gopher-style document quality gate (datapipe.textstats.quality_filter,
    Rae et al. 2021 A1.1) with thresholds tuned so five of the seven rules
    fire on this corpus (min_tokens=50, max_tokens=80, mean token length in
    [4.0, 5.0], min_stopword_hits=3; symbol/alpha rules are structurally
    zero here and the oracle checks the zero).

    Output is the per-rule rejection report — for every rule the count and
    doc_id-sum of the documents that violate it (id_sum pins the exact
    rejection SET, not just its size), plus the '__passed' row for the
    surviving corpus. One codegen projection + one explode-free aggregate:
    rule membership is array_contains over the gate's failed_rules column,
    summed map-side — no per-rule rescan.

    It also merges the PII audit/scrub pair (datapipe.textstats.pii_counts +
    scrub_pii — the compliance gate next to the quality gate) into the
    same rejection-report shape: per-kind 'pii_<kind>' rows (docs carrying
    that kind + their id_sum) over a deterministically planted corpus,
    'pii_spans' (total spans + id_sum of carrying docs), and
    'pii_residual' — scrub then re-audit, cross-engine-checked to be
    exactly zero (Java regex vs RE2 on the shared PII_PATTERNS
    inventory). Everything stays codegen regexp projections + two 1-row
    aggregates; no UDF, no extra shuffle beyond the map-side-combined
    aggs.

    It also merges the hashing-trick linear quality scorer
    (datapipe.classify.hashed_linear_score — fastText-style model-based
    filtering, md5-portable feature buckets, micro-quantized broadcast
    model table): 'lmq_flagged' (count + id_sum of the exact
    negative-score rejection set) and 'lmq_mass' (corpus count + exact
    BIGINT score mass). The model is generated in-plan (even buckets
    weighted, odd ABSENT → the missing-bucket → 0 path is live at the
    gate). 'lmq_auc' adds the model-eval op (classify.binary_auc): exact
    tie-aware ROC-AUC of the score against doc_id parity, micro-quantized
    — every pairwise term is a multiple of 0.5 far below 2^52, so the
    cross-engine sum is exact in any order."""
    from oni_ml_spark.datapipe.textstats import (
        PII_PATTERNS,
        pii_counts,
        quality_filter,
        scrub_pii,
    )

    d = _docs(spark, sf)
    qf = quality_filter(
        d, "doc_id", "text",
        min_tokens=50, max_tokens=80,
        min_mean_token_len=4.0, max_mean_token_len=5.0,
        min_stopword_hits=3,
    )
    aggs = []
    for rule in _QG_RULES:
        hit = F.array_contains("failed_rules", rule)
        aggs.append(F.sum(hit.cast("long")).alias(f"__n_{rule}"))
        aggs.append(
            F.sum(F.when(hit, F.col("id")).otherwise(0)).cast("long").alias(f"__s_{rule}")
        )
    aggs.append(F.sum(F.col("passes").cast("long")).alias("__n_passed"))
    aggs.append(
        F.sum(F.when(F.col("passes"), F.col("id")).otherwise(0)).cast("long").alias("__s_passed")
    )
    wide = qf.agg(*aggs)
    stack_args = ", ".join(
        [f"'{r}', __n_{r}, __s_{r}" for r in _QG_RULES] + ["'__passed', __n_passed, __s_passed"]
    )
    gate_rows = wide.selectExpr(
        f"stack({len(_QG_RULES) + 1}, {stack_args}) AS (rule, n_docs, id_sum)"
    )

    # PII audit rows: plant deterministic PII (mirrors _pii_oracle_block's
    # SQL expression exactly), audit with pii_counts, scrub with scrub_pii,
    # re-audit — residual must be zero on both engines.
    ptxt = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@ex"), (F.col("doc_id") % 7).cast("string"), F.lit(".org"),
        F.when(
            (F.col("doc_id") % 3) == 0,
            F.concat(
                F.lit(" ssn 123-45-"),
                F.lpad((F.col("doc_id") % 9999).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when((F.col("doc_id") % 5) == 0, F.lit(" card 4242-4242-4242-4242"))
        .otherwise(F.lit("")),
        F.when((F.col("doc_id") % 7) == 0, F.lit(" call (415) 555-0199"))
        .otherwise(F.lit("")),
        F.when(
            (F.col("doc_id") % 11) == 0,
            F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 254).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    dp = d.select(F.col("doc_id"), ptxt.alias("pt"))
    pc = pii_counts(dp, "doc_id", "pt")
    pii_aggs = []
    for kind in PII_PATTERNS:
        hit = F.col(f"{kind}_n") > 0
        pii_aggs.append(F.sum(hit.cast("long")).alias(f"__n_pii_{kind}"))
        pii_aggs.append(
            F.sum(F.when(hit, F.col("id")).otherwise(0)).cast("long").alias(f"__s_pii_{kind}")
        )
    pii_aggs.append(F.sum("pii_total").cast("long").alias("__n_pii_spans"))
    pii_aggs.append(
        F.sum(F.when(F.col("pii_total") > 0, F.col("id")).otherwise(0))
        .cast("long").alias("__s_pii_spans")
    )
    pw = pc.agg(*pii_aggs)
    rc = pii_counts(scrub_pii(dp, "pt"), "doc_id", "pt")
    rw = rc.agg(
        F.sum("pii_total").cast("long").alias("__n_pii_residual"),
        F.sum(F.when(F.col("pii_total") > 0, F.col("id")).otherwise(0))
        .cast("long").alias("__s_pii_residual"),
    )
    pii_stack = ", ".join(
        [f"'pii_{k}', __n_pii_{k}, __s_pii_{k}" for k in PII_PATTERNS]
        + [
            "'pii_spans', __n_pii_spans, __s_pii_spans",
            "'pii_residual', __n_pii_residual, __s_pii_residual",
        ]
    )
    pii_rows = pw.crossJoin(F.broadcast(rw)).selectExpr(
        f"stack({len(PII_PATTERNS) + 2}, {pii_stack}) AS (rule, n_docs, id_sum)"
    )

    # model-quality rows — the hashing-trick linear scorer
    # (datapipe.classify) under an in-plan-generated even-bucket model;
    # 'lmq_flagged' pins the exact rejection set (count + id_sum of docs
    # with negative score), 'lmq_mass' the corpus size + exact BIGINT
    # score mass.  The Spark path runs the operator's real broadcast
    # model join; the oracle computes each bucket's weight inline
    # (_lmq_oracle_block).
    from oni_ml_spark.datapipe.classify import (
        binary_auc,
        demo_weights,
        hashed_linear_score,
    )

    # lm feeds the flagged/mass aggregate AND the AUC — checkpoint the
    # 3-narrow-column per-doc frame so the tokenize+join subtree runs once
    lm = hashed_linear_score(d, "doc_id", "text", demo_weights(spark), 4096)\
        .localCheckpoint()
    lmw = lm.agg(
        F.sum((F.col("score_micro") < 0).cast("long")).alias("__n_lmq_flagged"),
        F.sum(F.when(F.col("score_micro") < 0, F.col("id")).otherwise(0))
        .cast("long").alias("__s_lmq_flagged"),
        F.count(F.lit(1)).alias("__n_lmq_mass"),
        F.sum("score_micro").cast("long").alias("__s_lmq_mass"),
    )
    lmq_rows = lmw.selectExpr(
        "stack(2, 'lmq_flagged', __n_lmq_flagged, __s_lmq_flagged, "
        "'lmq_mass', __n_lmq_mass, __s_lmq_mass) AS (rule, n_docs, id_sum)"
    )
    # 'lmq_auc': exact tie-aware ROC-AUC of the score vs doc_id parity
    # (classify.binary_auc — the model-eval op), quantized to micros;
    # n_docs carries the distinct-score count the AUC ranks over
    auc_row = binary_auc(
        lm.withColumn("label", (F.col("id") % 2).cast("int")),
        "label", "score_micro",
    ).select(
        F.lit("lmq_auc").alias("rule"),
        F.col("n_scores").cast("long").alias("n_docs"),
        F.floor(F.col("auc") * 1_000_000).cast("long").alias("id_sum"),
    )
    # per-source AUC rows (binary_auc_grouped — is the model still ranking
    # well on EVERY source?): 'lmq_aucg|<source>', NULL auc for
    # single-class segments survives as a NULL id_sum on both engines
    from oni_ml_spark.datapipe.classify import binary_auc_grouped

    aucg_rows = binary_auc_grouped(
        lm.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
        .withColumn("label", (F.col("id") % 2).cast("int")),
        "source", "label", "score_micro",
    ).select(
        F.concat(F.lit("lmq_aucg|"), F.coalesce("group", F.lit("__null")))
        .alias("rule"),
        F.col("n_scores").cast("long").alias("n_docs"),
        F.floor(F.col("auc") * 1_000_000).cast("long").alias("id_sum"),
    )
    # 'lmq_route|<cls>' — the multiclass router
    # (classify.hashed_linear_argmax) under a derived in-plan 3-class
    # model (each even demo bucket's weight belongs to class
    # c(bucket % 3); odd (bucket, cls) pairs ABSENT — the missing-pair →
    # 0 contract is live).  Per class the winner count + id_sum pin the
    # exact routing partition; 'lmq_route_mass' pins the winners' exact
    # BIGINT score mass.  Ties break to the smallest class name on both
    # engines.
    from oni_ml_spark.datapipe.classify import (
        hashed_linear_argmax,
        threshold_report,
    )

    wmc = demo_weights(spark).select(
        "bucket",
        F.concat(F.lit("c"), (F.col("bucket") % 3).cast("string")).alias("cls"),
        "w_micro",
    )
    route = hashed_linear_argmax(
        d, "doc_id", "text", wmc, 4096, ["c0", "c1", "c2"]
    )
    route_rows = route.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("id").cast("long").alias("id_sum"),
    ).select(
        F.concat(F.lit("lmq_route|"), F.col("label")).alias("rule"),
        "n_docs", "id_sum",
    )
    route_mass = route.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score_micro").cast("long").alias("id_sum"),
    ).select(F.lit("lmq_route_mass").alias("rule"), "n_docs", "id_sum")

    # 'lmq_thr|<t>|pos/neg' — threshold_report (the operating-point
    # picker): per threshold the exact confusion counts of
    # (score_micro >= t) vs doc_id parity, packed as pos=(tp, fp) and
    # neg=(fn, tn) rows.  One scan of the checkpointed per-doc scores.
    thr = threshold_report(
        lm.withColumn("label", (F.col("id") % 2).cast("int")),
        "label", "score_micro", [-2000.0, 0.0, 2000.0],
    )
    t_name = F.col("threshold").cast("long").cast("string")
    thr_pos = thr.select(
        F.concat(F.lit("lmq_thr|"), t_name, F.lit("|pos")).alias("rule"),
        F.col("tp").alias("n_docs"),
        F.col("fp").alias("id_sum"),
    )
    thr_neg = thr.select(
        F.concat(F.lit("lmq_thr|"), t_name, F.lit("|neg")).alias("rule"),
        F.col("fn").alias("n_docs"),
        F.col("tn").alias("id_sum"),
    )
    return (
        gate_rows.unionByName(pii_rows).unionByName(lmq_rows)
        .unionByName(auc_row).unionByName(aucg_rows)
        .unionByName(route_rows).unionByName(route_mass)
        .unionByName(thr_pos).unionByName(thr_neg)
    )


_TEMPORAL_RESHAPE_ORACLE = """
SELECT 'rolling' AS part, event_id::VARCHAR AS key,
  count(*) OVER w AS cnt, sum(vc) OVER w::BIGINT AS vsum
FROM (SELECT event_id, user_id, floor(value * 100) AS vc,
        CAST(round(epoch(ts) * 1000000) AS BIGINT) AS mt FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY mt
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'unpivot', metric, count(*), sum(floor(value * 10000))::BIGINT
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax FROM lineitem)
UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
GROUP BY metric
UNION ALL
SELECT 'cube', coalesce(l_returnflag, 'ALL') || '|' || coalesce(l_linestatus, 'ALL'),
  count(*), sum(floor(l_quantity * 100))::BIGINT
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@_q("temporal_reshape", _TEMPORAL_RESHAPE_ORACLE)
def temporal_reshape_q(spark, sf):
    """Three reshape operators in one (part, key, cnt, vsum) entry, every
    value column pre-scaled to integer-valued doubles so sums are exact on
    both engines regardless of addition order:

    - part='rolling': per-event time-based (RANGE-frame) rolling sum/count
      of value-cents over the preceding hour per user
      (datapipe.temporal.rolling_aggregate — exact integer-micros frame,
      one shuffle on the key), one row per event;
    - part='unpivot': DataFrame.unpivot of three lineitem measures back to
      long (metric, value) rows, aggregated per metric vs DuckDB's native
      UNPIVOT;
    - part='cube': CUBE(l_returnflag, l_linestatus) hierarchical aggregates
      incl. the grand-total row, keys null-coalesced to 'ALL'."""
    from oni_ml_spark.datapipe.temporal import rolling_aggregate
    from oni_ml_spark.transforms.time import time_as_double

    e = load_table(spark, sf, "events")
    prepared = e.select(
        "event_id", "user_id",
        time_as_double(e, "ts").alias("t"),
        F.floor(F.col("value") * 100).cast("double").alias("vc"),
    )
    rolling = rolling_aggregate(prepared, "user_id", "t", "vc", 3600.0).select(
        F.lit("rolling").alias("part"),
        F.col("event_id").cast("string").alias("key"),
        F.col("rolling_cnt").alias("cnt"),
        F.col("rolling_sum").cast("long").alias("vsum"),
    )
    li = load_table(spark, sf, "lineitem")
    unpiv = (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "metric",
            "value",
        )
        .groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 10000)).cast("long").alias("vsum"),
        )
        .select(F.lit("unpivot").alias("part"), F.col("metric").alias("key"), "cnt", "vsum")
    )
    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("l_quantity") * 100)).cast("long").alias("vsum"),
        )
        .select(
            F.lit("cube").alias("part"),
            F.concat_ws(
                "|",
                F.coalesce("l_returnflag", F.lit("ALL")),
                F.coalesce("l_linestatus", F.lit("ALL")),
            ).alias("key"),
            "cnt",
            "vsum",
        )
    )
    return rolling.unionByName(unpiv).unionByName(cube)


@_q(
    "json_properties",
    "SELECT event_id, (props->>'k')::BIGINT AS k, props->>'k' AS k_str FROM events",
)
def json_properties_q(spark, sf):
    """Semi-structured property extraction (transforms.semistructured):
    schema inferred ONCE from a bounded 1000-doc sample, then ONE codegen
    from_json parse per row into a typed struct (never per-row Python
    json.loads, never per-field get_json_object re-parsing), plus the
    single-field json_get path (string-typed) for comparison. The oracle is
    DuckDB's native JSON extraction."""
    from oni_ml_spark.transforms.semistructured import (
        infer_json_schema,
        json_get,
        parse_json,
    )

    e = load_table(spark, sf, "events")
    schema = infer_json_schema(spark, e, "props")
    parsed = parse_json(e, "props", schema, out_col="p")
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        json_get("props", "k").alias("k_str"),
    )


@_q(
    "contiguous_ids",
    "WITH ids AS (SELECT doc_id, "
    "(row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS row_id FROM documents) "
    "SELECT doc_id, row_id, (row_id // 16)::BIGINT AS shard, "
    "(row_id % 16)::BIGINT AS shard_pos FROM ids",
)
def contiguous_ids_q(spark, sf):
    """Contiguous 0..N-1 row ids in key order
    (datapipe.sampling.assign_contiguous_ids — the sharding / sample-index
    primitive): range-repartition + per-partition counts (one bounded
    collect, one row PER PARTITION) + offset-shifted local positions, no
    global single-partition window anywhere. The ids equal the global key
    rank wherever the range partitioner places its boundaries, which is
    exactly what the row_number() oracle states.

    It also folds in the training-shard layout: shard = id div 16,
    shard_pos = id mod 16, both in integer arithmetic end to end."""
    from oni_ml_spark.datapipe.sampling import (
        assign_contiguous_ids,
        shard_positions,
    )

    d = _docs(spark, sf).select("doc_id")
    with_ids = assign_contiguous_ids(d, "doc_id", num_partitions=8)
    return shard_positions(with_ids, "row_id", 16)
