"""Property-based tests (hypothesis): the distributed exact-quantile path
agrees with a direct pure-Python implementation of the reference semantics
(utilities/Quantiles.scala) on arbitrary inputs."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from oni_ml_spark.transforms import DECILES, QUINTILES, bin_expr, quantile_cuts


def py_cuts(values: list[float], probs: list[float]) -> list[float]:
    """Direct transcription of the semantics: least x with P(X<=x) >= t."""
    if not values:
        return [math.inf] * len(probs)
    xs = sorted(values)
    n = len(xs)
    out = []
    for t in probs:
        cut = math.inf
        for i, x in enumerate(xs):
            if (i + 1) / n >= t:
                cut = x
                break
        out.append(cut)
    return out


def py_bin(value: float, cuts: list[float]) -> int:
    for i, c in enumerate(cuts):
        if value <= c:
            return i
    return -1


finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=60))
def test_quantile_cuts_match_python_oracle(spark, xs):
    values = [float(x) for x in xs]
    df = spark.createDataFrame([(v,) for v in values], "v double") if values else (
        spark.createDataFrame([], "v double")
    )
    for probs in (DECILES, QUINTILES):
        got = quantile_cuts(df, "v", probs)
        want = py_cuts(values, probs)
        assert got == want, (values, probs)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(finite_doubles, min_size=1, max_size=20),
    st.lists(finite_doubles, min_size=1, max_size=8),
)
def test_bin_expr_matches_python_oracle(spark, values, raw_cuts):
    cuts = sorted(raw_cuts)
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = [r[0] for r in df.select(bin_expr("v", cuts)).collect()]
    want = [py_bin(v, cuts) for v in values]
    assert got == want, (values, cuts)


def test_quantile_cuts_multi_matches_per_column(spark):
    """The multi-column exact path (one plan, 3 jobs over a cached input)
    must produce IDENTICAL cuts to the per-column exact path, including the
    positive-only (P5) filter and the empty-input +inf edge."""
    from pyspark.sql import functions as F

    from oni_ml_spark.io import load_table
    from oni_ml_spark.transforms.quantiles import quantile_cuts_multi

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    multi = quantile_cuts_multi(
        li, {"l_quantity": DECILES, "l_extendedprice": DECILES, "l_discount": QUINTILES}
    )
    for c, probs in [
        ("l_quantity", DECILES), ("l_extendedprice", DECILES), ("l_discount", QUINTILES)
    ]:
        assert multi[c] == quantile_cuts(li, c, probs), c

    e = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "hour", F.hour("ts").cast("double")
    )
    m2 = quantile_cuts_multi(
        e, {"value": DECILES, "hour": QUINTILES}, positive_only={"value"}
    )
    assert m2["value"] == quantile_cuts(e.filter(F.col("value") > 0), "value", DECILES)
    assert m2["hour"] == quantile_cuts(e, "hour", QUINTILES)

    m3 = quantile_cuts_multi(e.filter(F.lit(False)), {"value": QUINTILES})
    assert all(x == float("inf") for x in m3["value"])


def test_prob_zero_means_minimum(spark):
    """p <= 0 is a legal discrete quantile meaning 'the minimum value' —
    the interval-cover selection must not drop it (round-3 review finding)."""
    from oni_ml_spark.transforms.quantiles import quantile_cuts, quantile_cuts_multi

    df = spark.createDataFrame([(float(v),) for v in [5, 3, 9, 3, 7]], "x double")
    assert quantile_cuts(df, "x", [0.0, 0.5, 1.0]) == [3.0, 5.0, 9.0]
    got = quantile_cuts_multi(df, {"x": [0.0, 1.0]})
    assert got["x"] == [3.0, 9.0]


def test_shared_parts_table_matches_default_paths(spark):
    """r12: ecdf(parts=) / quantile_cuts_df(parts=) over one prebuilt
    _ecdf_parts table must reproduce the default self-computed paths
    row-for-row — the shared table is an optimization (one distinct-value
    shuffle for both operators), not a semantic knob."""
    from oni_ml_spark.transforms.quantiles import (
        _ecdf_parts,
        ecdf,
        quantile_cuts_df,
    )

    df = spark.createDataFrame(
        [(float(v % 17) + 0.25 * (v % 3),) for v in range(500)], "x double"
    )
    parts = _ecdf_parts(df, "x")
    a_ec = ecdf(df, "x").collect()
    b_ec = ecdf(df, "x", parts=parts).collect()
    assert sorted(map(tuple, a_ec)) == sorted(map(tuple, b_ec))
    a_cut = quantile_cuts_df(df, "x", DECILES).collect()
    b_cut = quantile_cuts_df(df, "x", DECILES, parts=parts).collect()
    assert sorted(map(tuple, a_cut)) == sorted(map(tuple, b_cut))

    from oni_ml_spark.transforms.quantiles import (
        _cdf_table,
        grouped_quantile_cuts,
        winsorize,
    )

    gdf = spark.createDataFrame(
        [("g" + str(v % 3), float(v % 23)) for v in range(500)], "k string, x double"
    )
    gparts = _cdf_table(
        gdf.select(F.col("k").alias("key"), F.col("x").alias("value")),
        "value", ["key"],
    )
    a_g = grouped_quantile_cuts(gdf, "k", "x", QUINTILES).collect()
    b_g = grouped_quantile_cuts(gdf, "k", "x", QUINTILES, parts=gparts).collect()
    assert sorted(map(tuple, a_g)) == sorted(map(tuple, b_g))
    a_w = winsorize(gdf, "x", 0.05, 0.95, group_col="k", out_col="cv").collect()
    b_w = winsorize(
        gdf, "x", 0.05, 0.95, group_col="k", out_col="cv", cuts_parts=gparts
    ).collect()
    assert sorted(map(tuple, a_w)) == sorted(map(tuple, b_w))


def test_grouped_quantile_cuts_match_duckdb(spark):
    """Per-group exact discrete quantiles vs DuckDB quantile_disc GROUP BY."""
    import duckdb

    from oni_ml_spark.transforms.quantiles import grouped_quantile_cuts

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    got = sorted(
        (r["key"], r["p"], r["cutoff"])
        for r in grouped_quantile_cuts(
            li, "l_returnflag", "l_quantity", [0.25, 0.5, 0.75, 1.0]
        ).collect()
    )
    con = duckdb.connect()
    want = sorted(
        (k, float(p), float(c))
        for k, p, c in con.execute(
            "WITH g AS (SELECT l_returnflag AS k, "
            "  quantile_disc(l_quantity, [0.25, 0.5, 0.75, 1.0]) AS cs "
            "  FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet') "
            "  GROUP BY l_returnflag) "
            "SELECT k, [0.25, 0.5, 0.75, 1.0][i] AS p, cs[i] AS cutoff "
            "FROM g, (SELECT unnest([1, 2, 3, 4]) AS i) idx"
        ).fetchall()
    )
    assert got == want
    # window parallelism is per group — no single-partition exchange
    plan = grouped_quantile_cuts(li, "l_returnflag", "l_quantity", [0.5])
    p = plan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Exchange SinglePartition" not in p


class TestQuantileCont:
    def test_matches_duckdb_quantile_cont(self, spark):
        import duckdb

        from oni_ml_spark.io import load_table
        from oni_ml_spark.transforms.quantiles import quantile_cont_cuts_df

        probs = [0.0, 0.1, 0.25, 0.5, 0.73, 0.9, 1.0]
        for table, col in (("events", "value"), ("lineitem", "l_quantity")):
            df = load_table(spark, "/root/testdata/sf0.001", table)
            got = {
                r["p"]: r["cutoff"]
                for r in quantile_cont_cuts_df(df, col, probs).collect()
            }
            con = duckdb.connect()
            want = con.execute(
                f"SELECT {', '.join(f'quantile_cont({col}, {p})' for p in probs)} "
                f"FROM '/root/testdata/sf0.001/{table}.parquet'"
            ).fetchone()
            assert set(got) == set(probs), table
            for p, w in zip(probs, want):
                assert abs(got[p] - float(w)) <= 1e-9 * max(1.0, abs(float(w))), (
                    table, p, got[p], w)

    def test_interpolates_between_order_statistics(self, spark):
        from oni_ml_spark.transforms.quantiles import quantile_cont_cuts_df

        # values 10, 20, 30, 40 → p=0.5 is exactly between 20 and 30;
        # duplicates shift the rank intervals
        df = spark.createDataFrame(
            [(10.0,), (20.0,), (30.0,), (40.0,)], "v double"
        )
        got = {
            r["p"]: r["cutoff"]
            for r in quantile_cont_cuts_df(df, "v", [0.0, 0.5, 1.0, 1 / 3]).collect()
        }
        assert got[0.0] == 10.0 and got[1.0] == 40.0
        assert got[0.5] == 25.0
        assert abs(got[1 / 3] - 20.0) < 1e-12
        dup = spark.createDataFrame([(1.0,), (1.0,), (1.0,), (5.0,)], "v double")
        got2 = {
            r["p"]: r["cutoff"]
            for r in quantile_cont_cuts_df(dup, "v", [0.5, 2 / 3, 1.0]).collect()
        }
        assert got2[0.5] == 1.0
        assert abs(got2[2 / 3] - 1.0) < 1e-12  # h=2 still inside the 1.0 run
        assert got2[1.0] == 5.0

    def test_duplicate_probs_dedupe_and_out_of_range_rejected(self, spark):
        import pytest as _pytest

        from oni_ml_spark.transforms.quantiles import quantile_cont_cuts_df

        df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
        rows = quantile_cont_cuts_df(df, "v", [0.5, 0.5, 1.0]).collect()
        assert sorted(r["p"] for r in rows) == [0.5, 1.0]  # no k^2 blowup
        with _pytest.raises(ValueError):
            quantile_cont_cuts_df(df, "v", [-0.1])
        with _pytest.raises(ValueError):
            quantile_cont_cuts_df(df, "v", [1.5])

    def test_grouped_cont_matches_duckdb(self, spark):
        import duckdb

        from oni_ml_spark.io import load_table
        from oni_ml_spark.transforms.quantiles import grouped_quantile_cont_cuts

        probs = [0.1, 0.5, 0.9, 1.0]
        df = load_table(spark, "/root/testdata/sf0.001", "events")
        got = {
            (r["key"], r["p"]): r["cutoff"]
            for r in grouped_quantile_cont_cuts(
                df, "event_type", "value", probs
            ).collect()
        }
        con = duckdb.connect()
        want = {}
        for et, *qs in con.execute(
            "SELECT event_type, "
            + ", ".join(f"quantile_cont(value, {p})" for p in probs)
            + " FROM '/root/testdata/sf0.001/events.parquet' GROUP BY event_type"
        ).fetchall():
            for p, q in zip(probs, qs):
                want[(et, p)] = float(q)
        assert set(got) == set(want)
        for k, w in want.items():
            assert abs(got[k] - w) <= 1e-9 * max(1.0, abs(w)), (k, got[k], w)

    def test_grouped_cont_plan_no_single_partition(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.transforms.quantiles import grouped_quantile_cont_cuts

        df = load_table(spark, "/root/testdata/sf0.001", "events")
        plan = (
            grouped_quantile_cont_cuts(df, "event_type", "value", [0.5])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange SinglePartition" not in plan


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=40
    ),
    probs=st.lists(st.floats(min_value=0.0, max_value=1.0), min_size=1, max_size=5),
)
@settings(max_examples=10, deadline=None)
def test_quantile_cont_matches_numpy_linear(spark, vals, probs):
    """Continuous quantiles == numpy's type-7 linear interpolation on
    arbitrary inputs (duplicates, negatives, single element, p=0/1)."""
    import numpy as np

    from oni_ml_spark.transforms.quantiles import quantile_cont_cuts_df

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["p"]: r["cutoff"]
        for r in quantile_cont_cuts_df(df, "v", probs).collect()
    }
    for p in set(float(x) for x in probs):
        want = float(np.quantile(np.array(vals), p, method="linear"))
        assert abs(got[p] - want) <= 1e-9 * max(1.0, abs(want)), (p, vals)


def test_grouped_single_key_equals_ungrouped(spark):
    """Ties the two continuous paths to one semantics: a constant group
    key must reproduce the ungrouped result exactly."""
    from pyspark.sql import functions as F

    from oni_ml_spark.transforms.quantiles import (
        grouped_quantile_cont_cuts,
        quantile_cont_cuts_df,
    )

    df = spark.createDataFrame(
        [(float(v),) for v in [5, 1, 9, 1, 7, 3, 3, 8]], "v double"
    )
    probs = [0.0, 0.3, 0.5, 0.77, 1.0]
    ung = {r["p"]: r["cutoff"] for r in quantile_cont_cuts_df(df, "v", probs).collect()}
    grp = {
        r["p"]: r["cutoff"]
        for r in grouped_quantile_cont_cuts(
            df.withColumn("g", F.lit("one")), "g", "v", probs
        ).collect()
    }
    assert ung == grp


class TestWinsorize:
    """Percentile clipping vs DuckDB quantile_disc + least/greatest."""

    @pytest.fixture(scope="class")
    def vals(self, spark):
        rows = [("a", i, float((i * 7919) % 1000)) for i in range(200)]
        rows += [("b", 1000 + i, float(i * i)) for i in range(50)]
        rows += [("a", 5000, None), ("c", 6000, None)]  # null value; all-null group
        return spark.createDataFrame(rows, "g string, id bigint, v double")

    def test_global_clip_matches_duckdb(self, spark, vals):
        import duckdb

        from oni_ml_spark.transforms.quantiles import winsorize

        got = {
            r["id"]: r["v"]
            for r in winsorize(vals, "v", 0.05, 0.95).collect()
        }
        pdf = vals.toPandas()
        want = {
            r[0]: r[1]
            for r in duckdb.sql(
                """
                WITH c AS (
                  SELECT quantile_disc(v, 0.05) AS lo, quantile_disc(v, 0.95) AS hi
                  FROM pdf
                )
                SELECT id, CASE WHEN v IS NULL THEN NULL
                                ELSE greatest(c.lo, least(c.hi, v)) END
                FROM pdf, c
                """
            ).fetchall()
        }
        assert got == want
        assert got[5000] is None  # null passes through

    def test_grouped_clip_and_filter(self, spark, vals):
        import duckdb

        from oni_ml_spark.transforms.quantiles import winsorize

        got = {
            r["id"]: r["v"]
            for r in winsorize(vals, "v", 0.1, 0.9, group_col="g").collect()
        }
        pdf = vals.toPandas()
        want = {
            r[0]: r[1]
            for r in duckdb.sql(
                """
                WITH c AS (
                  SELECT g, quantile_disc(v, 0.1) AS lo, quantile_disc(v, 0.9) AS hi
                  FROM pdf GROUP BY g
                )
                SELECT p.id, CASE WHEN p.v IS NULL THEN NULL
                                  ELSE greatest(c.lo, least(c.hi, p.v)) END
                FROM pdf p LEFT JOIN c ON p.g = c.g
                """
            ).fetchall()
        }
        assert got == want
        assert got[6000] is None  # all-null group: value passes through
        # filter mode drops out-of-band rows, keeps nulls
        filt = winsorize(vals, "v", 0.1, 0.9, group_col="g", mode="filter")
        kept = {r["id"] for r in filt.collect()}
        orig = {r["id"]: r["v"] for r in vals.collect()}  # one collect, not 252 jobs
        band = {i for i, val in got.items() if val is None or orig[i] == val}
        assert kept == band
        assert 5000 in kept and 6000 in kept
        # grouped mode preserves the input column order
        assert filt.columns == vals.columns

    def test_out_col_and_validation(self, spark, vals):
        from oni_ml_spark.transforms.quantiles import winsorize

        out = winsorize(vals, "v", 0.1, 0.9, out_col="v_w")
        assert "v_w" in out.columns and "v" in out.columns
        with pytest.raises(ValueError, match="lo_q"):
            winsorize(vals, "v", 0.9, 0.1)
        with pytest.raises(ValueError, match="mode"):
            winsorize(vals, "v", mode="zap")
        with pytest.raises(ValueError, match="missing"):
            winsorize(vals, "nope")

    def test_source_dtype_and_null_group_key(self, spark):
        """Clip keeps the SOURCE dtype (discrete cutoffs are data values —
        a silent bigint→double would break downstream exact-type appends),
        and null group keys pass through unchanged (review findings)."""
        from oni_ml_spark.transforms.quantiles import winsorize

        df = spark.createDataFrame(
            [("a", i, i) for i in range(100)]
            + [(None, 1000, 0), (None, 1001, 99_999)],
            "g string, id bigint, cnt bigint",
        )
        out = winsorize(df, "cnt", 0.1, 0.9, group_col="g")
        assert dict(out.dtypes)["cnt"] == "bigint"
        rows = {r["id"]: r["cnt"] for r in out.collect()}
        assert rows[99] == 89  # clipped to the 0.9 cutoff, still an int
        assert rows[1001] == 99_999  # null group key: untouched
        filt = winsorize(df, "cnt", 0.1, 0.9, group_col="g", mode="filter")
        assert filt.where(F.col("g").isNull()).count() == 2  # kept, not judged
        # global path keeps dtype too
        assert dict(winsorize(df, "cnt", 0.1, 0.9).dtypes)["cnt"] == "bigint"


class TestPercentileRank:
    """Join-based exact cume_dist vs DuckDB's window function."""

    @pytest.fixture(scope="class")
    def vals(self, spark):
        rows = [("a", i, float((i * 31) % 40)) for i in range(120)]  # heavy ties
        rows += [("b", 1000 + i, float(i)) for i in range(30)]
        rows += [("a", 5000, None), (None, 6000, 7.0)]
        return spark.createDataFrame(rows, "g string, id bigint, v double")

    def test_global_matches_duckdb_cume_dist(self, spark, vals):
        import duckdb

        from oni_ml_spark.transforms.quantiles import percentile_rank

        got = {r["id"]: r["pct_rank"] for r in percentile_rank(vals, "v").collect()}
        pdf = vals.toPandas()
        want = {
            r[0]: r[1]
            for r in duckdb.sql(
                """
                SELECT id, cume_dist() OVER (ORDER BY v) FROM pdf WHERE v IS NOT NULL
                """
            ).fetchall()
        }
        for i, p in want.items():
            assert abs(got[i] - p) < 1e-12, i
        assert got[5000] is None  # null value: unranked

    def test_grouped_matches_duckdb(self, spark, vals):
        import duckdb

        from oni_ml_spark.transforms.quantiles import percentile_rank

        got = {
            r["id"]: r["pct_rank"]
            for r in percentile_rank(vals, "v", group_col="g").collect()
        }
        pdf = vals.toPandas()
        want = {
            r[0]: r[1]
            for r in duckdb.sql(
                """
                SELECT id, cume_dist() OVER (PARTITION BY g ORDER BY v)
                FROM pdf WHERE v IS NOT NULL AND g IS NOT NULL
                """
            ).fetchall()
        }
        for i, p in want.items():
            assert abs(got[i] - p) < 1e-12, i
        assert got[5000] is None and got[6000] is None  # null value / group
        # row count preserved (left join, nothing dropped)
        assert percentile_rank(vals, "v", group_col="g").count() == vals.count()

    def test_no_data_sized_window_and_validation(self, spark, vals):
        from oni_ml_spark.plans.diagnostics import plan_report
        from oni_ml_spark.transforms.quantiles import percentile_rank

        rep = plan_report(percentile_rank(vals, "v", group_col="g"))
        # windows exist but over the distinct-value table; the corpus side
        # reaches the join through scan+aggregate, never through a sort of
        # the full data by value (no global single-partition exchange)
        assert "Exchange SinglePartition" not in rep["plan"]
        with pytest.raises(ValueError, match="collides"):
            percentile_rank(vals, "v", out_col="v")
        with pytest.raises(ValueError, match="missing"):
            percentile_rank(vals, "nope")
        with pytest.raises(ValueError, match="reserved"):
            percentile_rank(vals.withColumn("__pr_v", F.lit(1)), "v")

    def test_grouped_native_types_past_2_53(self, spark):
        """The grouped CDF keys on the native type: adjacent bigints past
        2^53 (which collapse under a double cast) keep distinct ranks
        (review finding)."""
        from oni_ml_spark.transforms.quantiles import percentile_rank

        big = 1 << 53
        df = spark.createDataFrame(
            [("g", big), ("g", big + 1), ("g", big + 2)], "g string, v bigint"
        )
        got = sorted(
            r["pct_rank"]
            for r in percentile_rank(df, "v", group_col="g").collect()
        )
        assert got == [pytest.approx(1 / 3), pytest.approx(2 / 3), pytest.approx(1.0)]
