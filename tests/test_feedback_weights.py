"""Weighted analyst feedback: every aggregate that sums a ``__weight``
column must equal the unweighted aggregate over the rows physically copied
``weight`` times (the reference's List.fill + flatMap oversampling,
netflow/FlowPreLDA.scala:98), and the pipelines must rank the same rows
either way."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from oni_ml_spark.pipelines import dns as dns_pipe
from oni_ml_spark.pipelines import flow as flow_pipe
from oni_ml_spark.pipelines import proxy as proxy_pipe
from oni_ml_spark.pipelines.common import WEIGHT_COL
from oni_ml_spark.topics import corpus_counts
from oni_ml_spark.transforms import DECILES, QUINTILES, oversample
from oni_ml_spark.transforms.quantiles import (
    _cdf_table,
    quantile_cuts_multi,
)
from tests.test_pipelines import _dns_fixture, _flow_fixture, _proxy_fixture

SCHEMA = "k string, a double, b double, __weight int"


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _copied(df):
    """Each row repeated ``__weight`` times, the weight column dropped."""
    return df.withColumn(
        "__dup", F.explode(F.array_repeat(F.lit(1), F.col(WEIGHT_COL)))
    ).drop("__dup", WEIGHT_COL)


rows_st = st.lists(
    st.tuples(
        st.sampled_from(["x", "y", "z"]),
        st.integers(min_value=-5, max_value=20).map(float),
        st.one_of(st.none(), st.integers(min_value=-3, max_value=8).map(float)),
        st.integers(min_value=1, max_value=6),
    ),
    min_size=0,
    max_size=25,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@settings(max_examples=8, deadline=None)
@given(rows_st)
def test_cdf_table_weighted_equals_copies(spark, rows):
    df = _frame(spark, rows)
    for keys in (None, ["k"]):
        got = _cdf_table(df, "b", keys, weight_col=WEIGHT_COL)
        want = _cdf_table(_copied(df), "b", keys)
        assert _sorted_rows(got) == _sorted_rows(want), (rows, keys)


@settings(max_examples=8, deadline=None)
@given(rows_st)
def test_quantile_cuts_multi_weighted_equals_copies(spark, rows):
    df = _frame(spark, rows)
    probs = {"a": DECILES, "b": QUINTILES}
    got = quantile_cuts_multi(df, probs, positive_only={"b"}, weight_col=WEIGHT_COL)
    want = quantile_cuts_multi(_copied(df), probs, positive_only={"b"})
    assert got == want, rows
    if not rows:
        assert all(math.isinf(x) for cuts in got.values() for x in cuts)


@settings(max_examples=8, deadline=None)
@given(rows_st)
def test_corpus_counts_weighted_equals_copies(spark, rows):
    df = _frame(spark, rows).withColumn("word", F.col("a").cast("string"))
    got = corpus_counts(df, "k", "word", weight_col=WEIGHT_COL)
    want = corpus_counts(_copied(df), "k", "word")
    assert _sorted_rows(got) == _sorted_rows(want), rows
    assert dict(got.dtypes)["count"] == dict(want.dtypes)["count"] == "bigint"


def test_weight_one_is_the_unweighted_call(spark):
    df = _frame(spark, [("x", float(v % 7), float(v % 3), 1) for v in range(40)])
    probs = {"a": DECILES, "b": QUINTILES}
    assert quantile_cuts_multi(df, probs, weight_col=WEIGHT_COL) == quantile_cuts_multi(
        df, probs
    )
    assert _sorted_rows(_cdf_table(df, "a", ["k"], weight_col=WEIGHT_COL)) == _sorted_rows(
        _cdf_table(df, "a", ["k"])
    )


def test_quantile_cuts_multi_job_count(spark):
    """The keyed-CDF plan stays at a handful of jobs (3 when measured):
    aggregate and window shuffle map stages plus the final collect."""
    sc = spark.sparkContext
    df = _frame(
        spark, [("x", float(v % 31), float(v % 5), 1 + v % 3) for v in range(300)]
    ).cache()
    df.count()
    probs = {"a": DECILES, "b": QUINTILES}
    quantile_cuts_multi(df, probs, weight_col=WEIGHT_COL)  # warm-up
    sc.setJobGroup("qcm-job-count", "quantile_cuts_multi job count")
    try:
        quantile_cuts_multi(df, probs, positive_only={"b"}, weight_col=WEIGHT_COL)
        jobs = sc.statusTracker().getJobIdsForGroup("qcm-job-count")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    assert 0 < len(jobs) <= 4, jobs


# ----------------------------------------------- pipelines: weights vs copies

DUP = 40
# top_k=-1 keeps every row below the threshold: a bottom-K cut would pick
# arbitrarily among tied scores
LDA = dict(topic_count=3, max_iter=3, seed=7, top_k=-1)


def _suspicious(result):
    return sorted(tuple(r) for r in result.suspicious.collect())


def _assert_same_ranking(run, day, feedback, **kw):
    """``run`` over weighted feedback vs the same rows copied ``DUP`` times
    (each copy weight 1): identical suspicious rows, scores included."""
    weighted = run(day, feedback, dup_factor=DUP, **LDA, **kw)
    copied = run(day, oversample(feedback, DUP), dup_factor=1, **LDA, **kw)
    try:
        got, want = _suspicious(weighted), _suspicious(copied)
        assert got and got == want
        assert WEIGHT_COL not in weighted.suspicious.columns
    finally:
        weighted.release()
        copied.release()


def test_dns_weighted_feedback_equals_copies(spark):
    day = _dns_fixture(spark, n_common=300, n_rare=4)
    feedback = day.where(F.col("dns_qry_name").contains("evil")).withColumn(
        "dns_sev", F.lit("3")
    )
    _assert_same_ranking(dns_pipe.run, day, feedback, top_domains=["amazon"])


def test_flow_weighted_feedback_equals_copies(spark):
    day = _flow_fixture(spark, n_common=300, n_rare=4)
    feedback = day.where(F.col("dport") == 6667).withColumn("sev", F.lit("3"))
    _assert_same_ranking(flow_pipe.run, day, feedback)


def test_proxy_weighted_feedback_equals_copies(spark):
    """Includes the per-useragent ``agent_count``: the feedback rows' odd
    agent counts ``DUP`` times per row in both runs."""
    day = _proxy_fixture(spark, n_common=300, n_rare=4)
    feedback = day.where(F.col("useragent") == "weird-agent/0.1").withColumn(
        "uri_sev", F.lit("3")
    )
    weighted = proxy_pipe.run(
        day, feedback, dup_factor=DUP, top_domains=["amazon"], **LDA
    )
    try:
        counts = {
            r["useragent"]: r["agent_count"]
            for r in weighted.scored.select("useragent", "agent_count").distinct().collect()
        }
        assert counts["weird-agent/0.1"] == 4 * (1 + DUP)
        assert counts["Mozilla/5.0"] == 300
    finally:
        weighted.release()
    _assert_same_ranking(proxy_pipe.run, day, feedback, top_domains=["amazon"])
