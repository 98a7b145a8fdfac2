"""Temporal joins vs DuckDB oracles: as_of_join against native ASOF JOIN,
range_join_bucketed against a plain BETWEEN join.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from oni_ml_spark.datapipe.temporal import as_of_join, range_join_bucketed
from oni_ml_spark.io import load_table
from oni_ml_spark.transforms.time import epoch_seconds

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def frames(spark):
    e = load_table(spark, SF_DIR, "events")
    left = e.select("event_id", "user_id", epoch_seconds("ts").alias("t"))
    # every 7th event is a per-user "checkpoint" carrying a value
    right = e.filter(F.col("event_id") % 7 == 0).select(
        "user_id", epoch_seconds("ts").alias("rt"), "value"
    )
    return left, right


def _duck_with(con, spark_df, name):
    pdf = spark_df.toPandas()
    con.register(name, pdf)


class TestAsOf:
    def test_backward_matches_duckdb_asof(self, spark, frames):
        left, right = frames
        got = as_of_join(
            left, right, key="user_id", left_time="t", right_time="rt"
        ).select("event_id", "__matched_time", "value")

        con = duckdb.connect()
        _duck_with(con, left, "l")
        _duck_with(con, right, "r")
        want = con.execute(
            "SELECT l.event_id, r.rt AS __matched_time, r.value "
            "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.rt <= l.t"
        ).fetchall()
        assert sorted(map(str, (tuple(x) for x in got.collect()))) == sorted(
            map(str, want)
        )

    def test_forward_and_tolerance(self, spark):
        left = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 25.0), (3, "b", 5.0)], "id long, k string, t double"
        )
        right = spark.createDataFrame(
            [("a", 12.0, "x"), ("a", 30.0, "y"), ("b", 1.0, "z")],
            "k string, rt double, tag string",
        )
        fwd = {
            r["id"]: (r["__matched_time"], r["tag"])
            for r in as_of_join(
                left, right, "k", "t", "rt", direction="forward"
            ).collect()
        }
        assert fwd[1] == (12.0, "x")   # earliest rt >= 10
        assert fwd[2] == (30.0, "y")
        assert fwd[3] == (None, None)  # no rt >= 5 for b? rt=1 < 5 → no match

        tol = {
            r["id"]: r["tag"]
            for r in as_of_join(
                left, right, "k", "t", "rt", direction="backward", tolerance=5.0
            ).collect()
        }
        # id=2 (t=25): last rt<=25 is 12, distance 13 > 5 → nulled
        assert tol[2] is None
        # id=3 (t=5): rt=1, distance 4 <= 5 → kept
        assert tol[3] == "z"

    def test_ties_match_backward(self, spark):
        left = spark.createDataFrame([(1, "a", 10.0)], "id long, k string, t double")
        right = spark.createDataFrame([("a", 10.0, "same")], "k string, rt double, tag string")
        row = as_of_join(left, right, "k", "t", "rt").collect()[0]
        assert row["tag"] == "same"  # rt <= t includes equality

    def test_no_join_node_in_plan(self, spark, frames):
        left, right = frames
        plan = (
            as_of_join(left, right, "user_id", "t", "rt")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRangeJoin:
    def test_matches_duckdb_between(self, spark):
        points = load_table(spark, SF_DIR, "events").select("event_id", "value")
        iv = spark.createDataFrame(
            [(k, k * 5.0, k * 5.0 + 7.0) for k in range(20)],
            "iv_id long, lo double, hi double",
        )
        got = range_join_bucketed(points, iv, "value", "lo", "hi", bucket_width=4.0)

        con = duckdb.connect()
        _duck_with(con, points, "p")
        _duck_with(con, iv, "i")
        want = con.execute(
            "SELECT p.event_id, i.iv_id FROM p JOIN i ON p.value BETWEEN i.lo AND i.hi"
        ).fetchall()
        gotset = sorted((r["event_id"], r["iv_id"]) for r in got.collect())
        assert gotset == sorted(want)
        assert len(gotset) > 0  # non-vacuous

    def test_equi_join_plan_no_nested_loop(self, spark):
        points = load_table(spark, SF_DIR, "events").select("event_id", "value")
        iv = spark.createDataFrame([(1, 0.0, 10.0)], "iv_id long, lo double, hi double")
        plan = (
            range_join_bucketed(points, iv, "value", "lo", "hi", 4.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_rejects_nonpositive_width(self, spark):
        iv = spark.createDataFrame([(1, 0.0, 1.0)], "iv_id long, lo double, hi double")
        p = spark.createDataFrame([(1, 0.5)], "id long, value double")
        with pytest.raises(ValueError):
            range_join_bucketed(p, iv, "value", "lo", "hi", 0.0)


class TestAsOfEdges:
    """Regressions from the round-2 review: payload must travel as a unit,
    null times never match, duplicate (key, time) rows resolve
    deterministically."""

    def test_null_payload_in_matched_row_stays_null(self, spark):
        left = spark.createDataFrame([(1, "k", 3.0)], "id long, k string, t double")
        right = spark.createDataFrame(
            [("k", 1.0, "x"), ("k", 2.0, None)], "k string, rt double, tag string"
        )
        row = as_of_join(left, right, "k", "t", "rt").collect()[0]
        # matched row is rt=2 whose tag IS null — must not backfill 'x'
        assert row["__matched_time"] == 2.0
        assert row["tag"] is None

    def test_null_right_time_rows_never_match(self, spark):
        left = spark.createDataFrame([(1, "k", 3.0)], "id long, k string, t double")
        right = spark.createDataFrame(
            [("k", None, "ghost")], "k string, rt double, tag string"
        )
        row = as_of_join(left, right, "k", "t", "rt").collect()[0]
        assert row["__matched_time"] is None and row["tag"] is None

    def test_null_left_time_never_matches_either_direction(self, spark):
        left = spark.createDataFrame([(1, "k", None)], "id long, k string, t double")
        right = spark.createDataFrame(
            [("k", 5.0, "x"), ("k", 9.0, "y")], "k string, rt double, tag string"
        )
        for direction in ("backward", "forward"):
            row = as_of_join(left, right, "k", "t", "rt", direction=direction).collect()[0]
            assert row["__matched_time"] is None and row["tag"] is None, direction

    def test_duplicate_time_rows_resolve_deterministically(self, spark):
        left = spark.createDataFrame([(1, "k", 12.0)], "id long, k string, t double")
        right = spark.createDataFrame(
            [("k", 10.0, "a"), ("k", 10.0, "b")], "k string, rt double, tag string"
        )
        tags = {
            as_of_join(left, right, "k", "t", "rt").collect()[0]["tag"]
            for _ in range(3)
        }
        assert tags == {"b"}  # greatest payload tuple wins, every run


def test_dim_mismatch_raises_instead_of_degrading(spark):
    """A wrong dim must fail loudly — silently nulled plane dots would
    collapse every vector into one bucket and make the 'bucketed' path
    quadratic while all plan assertions still pass."""
    from py4j.protocol import Py4JJavaError

    from oni_ml_spark.datapipe.similarity import embedding_near_duplicates_bucketed

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception) as exc:
        embedding_near_duplicates_bucketed(emb, dim=64).collect()
    assert "dim" in str(exc.value) or "assert" in str(exc.value).lower()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_keys = st.sampled_from(["a", "b"])
_times = st.one_of(st.none(), st.integers(min_value=0, max_value=20).map(float))


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(_keys, _times), min_size=1, max_size=8),
    st.lists(st.tuples(_keys, _times, st.integers(0, 99)), min_size=0, max_size=8),
)
def test_asof_backward_fuzz_vs_duckdb(spark, lefts, rights):
    """Property check: as_of_join backward == DuckDB ASOF LEFT JOIN on random
    tiny frames including null times, duplicate times, and empty rights.
    DuckDB picks arbitrarily among duplicate (key, time) right rows, so the
    compare checks the matched TIME only (which is well-defined). Left rows
    with a NULL time are checked separately: DuckDB's sort-based ASOF
    matches them to the LAST right row (nulls sort last), which we consider
    an artifact — this engine never matches a null time (documented)."""
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "id long, k string, t double"
    )
    right_rows = [(k, t, v) for (k, t, v) in rights]
    right = (
        spark.createDataFrame(right_rows, "k string, rt double, v long")
        if right_rows
        else spark.createDataFrame([], "k string, rt double, v long")
    )
    got = {
        r["id"]: r["__matched_time"]
        for r in as_of_join(left, right, "k", "t", "rt").collect()
    }

    con = duckdb.connect()
    con.register("l", left.toPandas())
    con.register("r", right.toPandas())
    want = dict(
        con.execute(
            "SELECT l.id, r.rt FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND r.rt <= l.t WHERE l.t IS NOT NULL"
        ).fetchall()
    )
    null_ids = {i for i, (_, t) in enumerate(lefts) if t is None}
    assert {i: v for i, v in got.items() if i not in null_ids} == want, (lefts, rights)
    assert all(got[i] is None for i in null_ids), (lefts, rights)


def test_asof_numeric_times_survive_large_magnitudes(spark):
    """Numeric time columns must stay numeric: routing a raw epoch-nanos
    long through a timestamp cast saturates at ±2^63 micros, equalizing all
    large times and corrupting every match (round-3 review finding)."""
    left = spark.createDataFrame(
        [(1, 1, 1_700_000_000_000_000_000), (2, 1, 1_700_000_002_000_000_000)],
        "event_id long, k long, t long",
    )
    right = spark.createDataFrame(
        [(1, 1_699_999_999_000_000_000, 10.0), (1, 1_700_000_001_000_000_000, 20.0)],
        "k long, rt long, v double",
    )
    out = {r["event_id"]: r["v"] for r in
           as_of_join(left, right, key="k", left_time="t", right_time="rt").collect()}
    # event 1 (t=...000) must match the ...999 checkpoint, event 2 the ...001
    assert out == {1: 10.0, 2: 20.0}


class TestRollingAggregate:
    def test_matches_duckdb_range_frame(self, spark):
        from oni_ml_spark.datapipe.temporal import rolling_aggregate
        from oni_ml_spark.io import load_table
        from oni_ml_spark.transforms.time import epoch_seconds

        e = load_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", epoch_seconds("ts").alias("t"), "value"
        )
        got = sorted(
            (r["event_id"], r["rolling_sum"], r["rolling_cnt"])
            for r in rolling_aggregate(e, "user_id", "t", "value", 3600.0).collect()
        )
        con = duckdb.connect()
        _duck_with(con, e, "e")
        want = sorted(
            (a, b, c)
            for a, b, c in con.execute(
                "SELECT event_id, "
                "sum(value) OVER (PARTITION BY user_id ORDER BY mt "
                "  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS s, "
                "count(*) OVER (PARTITION BY user_id ORDER BY mt "
                "  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)::BIGINT AS c "
                "FROM (SELECT *, CAST(round(t * 1000000) AS BIGINT) AS mt FROM e)"
            ).fetchall()
        )
        assert [(a, c) for a, _, c in got] == [(a, c) for a, _, c in want]
        for (_, gs, _), (_, ws, _) in zip(got, want):
            assert abs(gs - ws) < 1e-6
        # frame really is RANGE: a singleton window only covers itself
        assert any(c == 1 for _, _, c in got)

    def test_rejects_nonpositive_window(self, spark):
        import pytest as _pytest

        from oni_ml_spark.datapipe.temporal import rolling_aggregate

        df = spark.createDataFrame([(1, 0.0, 1.0)], "k long, t double, value double")
        with _pytest.raises(ValueError):
            rolling_aggregate(df, "k", "t", "value", 0)


class TestResampleForwardFill:
    def test_matches_duckdb_grid_asof(self, spark):
        from oni_ml_spark.datapipe.temporal import resample_forward_fill

        obs = spark.createDataFrame(
            [
                ("a", 3.0, 1.0),
                ("a", 17.5, 2.0),
                ("a", 31.0, 3.0),
                ("b", 100.0, 10.0),
                ("b", 100.0, 11.0),  # duplicate time: greatest payload wins
                ("b", 142.0, 12.0),
                ("c", 7.0, 99.0),  # span [7, 7] contains no 10-multiple: no rows
            ],
            "k string, t double, v double",
        )
        got = resample_forward_fill(
            obs, "k", "t", step_seconds=10, value_cols=["v"]
        ).select("k", "tick", "v")
        pdf = obs.toPandas()
        want = duckdb.sql(
            """
            WITH bounds AS (
              SELECT k, CAST(ceil(min(t)/10)*10 AS BIGINT) AS lo,
                        CAST(floor(max(t)/10)*10 AS BIGINT) AS hi
              FROM pdf GROUP BY k
            ), grid AS (
              SELECT k, unnest(generate_series(lo, hi, 10)) AS tick
              FROM bounds WHERE hi >= lo
            ), dedup AS (
              SELECT k, t, max(v) AS v FROM pdf GROUP BY k, t
            )
            SELECT g.k, g.tick, o.v
            FROM grid g ASOF LEFT JOIN dedup o
              ON g.k = o.k AND o.t <= g.tick
            """
        ).fetchall()
        assert sorted(map(str, (tuple(r) for r in got.collect()))) == sorted(
            map(str, (tuple(r) for r in want))
        )
        rows = {(r["k"], r["tick"]): r["v"] for r in got.collect()}
        assert rows[("a", 10)] == 1.0 and rows[("a", 20)] == 2.0
        assert rows[("a", 30)] == 2.0  # 31.0 obs is after the tick
        assert rows[("b", 100)] == 11.0  # dup time -> greatest payload
        assert rows[("b", 140)] == 11.0
        assert not any(k == "c" for k, _ in rows)

    def test_lookback_staleness_cutoff(self, spark):
        from oni_ml_spark.datapipe.temporal import resample_forward_fill

        obs = spark.createDataFrame(
            [("a", 0.0, 1.0), ("a", 95.0, 2.0)], "k string, t double, v double"
        )
        got = {
            r["tick"]: r["v"]
            for r in resample_forward_fill(
                obs, "k", "t", step_seconds=10, value_cols=["v"], lookback=25.0
            ).collect()
        }
        assert got[0] == 1.0 and got[20] == 1.0
        # ticks 30..90 precede the 95.0 obs, so backward fill reaches the
        # 0.0 obs — more than 25 s stale at every one of them -> nulls
        assert got[30] is None and got[90] is None
        assert got[10] == 1.0

    def test_grid_budget_and_validation(self, spark):
        from oni_ml_spark.datapipe.temporal import resample_forward_fill

        obs = spark.createDataFrame(
            [("a", 0.0, 1.0), ("a", 1e6, 2.0)], "k string, t double, v double"
        )
        with pytest.raises(ValueError, match="max_ticks"):
            resample_forward_fill(
                obs, "k", "t", step_seconds=1, value_cols=["v"], max_ticks=1000
            )
        with pytest.raises(ValueError, match="step_seconds"):
            resample_forward_fill(obs, "k", "t", step_seconds=0)
        with pytest.raises(ValueError, match="collides"):
            resample_forward_fill(
                obs.withColumnRenamed("v", "tick"), "k", "t", step_seconds=10
            )

    def test_per_key_grid_cap(self, spark):
        """One long-span key must trip the PER-KEY cap even when the total
        stays under max_ticks: sequence() builds a key's whole grid as one
        in-memory array row (review finding)."""
        from oni_ml_spark.datapipe.temporal import resample_forward_fill

        obs = spark.createDataFrame(
            [("a", 0.0, 1.0), ("a", 5000.0, 2.0), ("b", 0.0, 1.0)],
            "k string, t double, v double",
        )
        with pytest.raises(ValueError, match="max_ticks_per_key"):
            resample_forward_fill(
                obs, "k", "t", step_seconds=1, value_cols=["v"],
                max_ticks=100_000, max_ticks_per_key=100,
            )
        # under both caps: runs
        out = resample_forward_fill(
            obs, "k", "t", step_seconds=1000, value_cols=["v"],
            max_ticks=100_000, max_ticks_per_key=100,
        )
        assert out.count() == 7  # a: ticks 0..5000 (6), b: tick 0


class TestAsOfMultiKey:
    def test_composite_key_matches_duckdb(self, spark):
        """Multi-key ASOF (user, symbol): DuckDB oracle parity."""
        import duckdb as _dd

        left = spark.createDataFrame(
            [
                (1, "u1", "AAA", 10.0),
                (2, "u1", "BBB", 10.0),
                (3, "u2", "AAA", 20.0),
                (4, "u1", "AAA", 3.0),
            ],
            "id long, u string, sym string, t double",
        )
        right = spark.createDataFrame(
            [
                ("u1", "AAA", 5.0, 100.0),
                ("u1", "AAA", 9.0, 110.0),
                ("u1", "BBB", 8.0, 200.0),
                ("u2", "AAA", 25.0, 300.0),
            ],
            "u string, sym string, rt double, px double",
        )
        got = as_of_join(left, right, ["u", "sym"], "t", "rt").select(
            "id", "__matched_time", "px"
        )
        lp, rp = left.toPandas(), right.toPandas()
        want = _dd.sql(
            "SELECT l.id, r.rt, r.px FROM lp l ASOF LEFT JOIN rp r "
            "ON l.u = r.u AND l.sym = r.sym AND r.rt <= l.t"
        ).fetchall()
        assert sorted(map(str, (tuple(x) for x in got.collect()))) == sorted(
            map(str, (tuple(x) for x in want))
        )
        by_id = {r["id"]: (r["__matched_time"], r["px"]) for r in got.collect()}
        assert by_id[1] == (9.0, 110.0)
        assert by_id[2] == (8.0, 200.0)
        assert by_id[3] == (None, None)  # u2 quote at 25 > 20
        assert by_id[4] == (None, None)  # t=3 precedes all quotes

    def test_null_key_never_matches(self, spark):
        """SQL equi semantics: a null key matches nothing — a naive
        partitionBy would group nulls together and match them (latent
        single-key edge, fixed with the multi-key generalization)."""
        left = spark.createDataFrame(
            [(1, None, 10.0), (2, "k", 10.0)], "id long, k string, t double"
        )
        right = spark.createDataFrame(
            [(None, 5.0, "ghost"), ("k", 5.0, "real")],
            "k string, rt double, tag string",
        )
        rows = {r["id"]: r["tag"] for r in
                as_of_join(left, right, "k", "t", "rt").collect()}
        assert rows[1] is None  # null left key matches nothing
        assert rows[2] == "real"
        # and the null-key RIGHT row can't be matched by anyone
        left2 = spark.createDataFrame([(9, None, 10.0)], "id long, k string, t double")
        assert as_of_join(left2, right, "k", "t", "rt").collect()[0]["tag"] is None

    def test_empty_key_list_rejected(self, spark):
        left = spark.createDataFrame([(1, 1.0)], "id long, t double")
        with pytest.raises(ValueError, match="at least one"):
            as_of_join(left, left, [], "t", "t")


def test_composite_keys_across_temporal_family(spark):
    """rolling_aggregate / resample_forward_fill / sessionize accept a
    composite key list and equal the single-key run over a concatenated
    key (the semantic definition of a composite key)."""
    from oni_ml_spark.datapipe.sessions import session_stats, sessionize
    from oni_ml_spark.datapipe.temporal import resample_forward_fill, rolling_aggregate

    df = spark.createDataFrame(
        [
            ("u1", "a", float(t), 1.0)
            for t in (0, 10, 2000)
        ] + [
            ("u1", "b", float(t), 2.0) for t in (5, 3000)
        ] + [
            ("u2", "a", 7.0, 3.0)
        ],
        "u string, d string, t double, v double",
    )
    concat = df.withColumn("ud", F.concat_ws("|", "u", "d"))

    ra = rolling_aggregate(df, ["u", "d"], "t", "v", 60.0)
    ra1 = rolling_aggregate(concat, "ud", "t", "v", 60.0)
    key = lambda r: (r["u"], r["d"], r["t"])
    got = {key(r): r["rolling_sum"] for r in ra.collect()}
    want = {(r["u"], r["d"], r["t"]): r["rolling_sum"] for r in ra1.collect()}
    assert got == want

    rs = resample_forward_fill(df, ["u", "d"], "t", step_seconds=1000, value_cols=["v"])
    rs1 = resample_forward_fill(concat, "ud", "t", step_seconds=1000, value_cols=["v"])
    g = {(r["u"], r["d"], r["tick"]): r["v"] for r in rs.collect()}
    w = {tuple(r["ud"].split("|")) + (r["tick"],): r["v"] for r in rs1.collect()}
    assert g == w and len(g) > 0

    ss = sessionize(df, ["u", "d"], "t", gap_seconds=100)
    ss1 = sessionize(concat, "ud", "t", gap_seconds=100)
    gs = {key(r): r["session_no"] for r in ss.collect()}
    ws = {(r["u"], r["d"], r["t"]): r["session_no"] for r in ss1.collect()}
    assert gs == ws
    assert gs[("u1", "a", 2000.0)] == 2  # gap 1990 > 100 -> new session
    st = session_stats(df, ["u", "d"], "t", gap_seconds=100)
    assert st.columns[:3] == ["u", "d", "session_no"]


def test_empty_keys_and_null_key_series_guards(spark):
    """Empty key lists raise everywhere (Window.partitionBy() with zero
    columns silently degenerates to one global window); null-key series
    are excluded from the resample grid (their ticks could never fill
    under null-never-equals) — review findings."""
    from oni_ml_spark.datapipe.sessions import session_stats, sessionize
    from oni_ml_spark.datapipe.temporal import resample_forward_fill, rolling_aggregate

    df = spark.createDataFrame(
        [("k", 1.0, 1.0), (None, 2.0, 2.0), (None, 900.0, 3.0)],
        "k string, t double, v double",
    )
    for fn, args in (
        (rolling_aggregate, (df, [], "t", "v", 60.0)),
        (sessionize, (df, [], "t")),
        (session_stats, (df, [], "t")),
        (resample_forward_fill, (df, [], "t", 100)),
    ):
        with pytest.raises(ValueError, match="at least one column"):
            fn(*args)
    # null-key rows produce NO grid ticks (previously: all-null-value rows)
    out = resample_forward_fill(df, "k", "t", step_seconds=100, value_cols=["v"])
    assert out.where(F.col("k").isNull()).count() == 0
