"""Proxy suspicious-connects pipeline (SURVEY.md §3.3).

Reference: proxy/ProxySuspiciousConnectsAnalysis.scala +
ProxySuspiciousConnectsModel.scala. Document = clientip; word =
topDomain_timeBin_reqMethod_uriEntropyBin_topContentType_agentBin_respFirstChar.

The useragent-frequency feature (A2) is computed as a groupBy + broadcast
join instead of the reference's collect-to-driver Map
(ProxySuspiciousConnectsModel.scala:112-118) — at 100 TB the distinct-agent
table still broadcasts (bounded cardinality), but never transits the driver
as a Scala Map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.pipelines.common import (
    SuspiciousConnectsResult,
    train_and_score,
    training_union,
    weight_of,
)
from oni_ml_spark.transforms import (
    DECILES,
    QUINTILES,
    bin_expr,
    string_entropy,
    proxy_word,
)
from oni_ml_spark.transforms.time import seconds_of_day


def null_filter(df: DataFrame) -> DataFrame:
    """p_date/p_time/clientip non-null (proxy/ProxySuspiciousConnectsAnalysis.scala:32)."""
    return df.filter(
        F.col("p_date").isNotNull() & F.col("p_time").isNotNull() & F.col("clientip").isNotNull()
    )


def featurize(
    df: DataFrame,
    top_domains: list[str],
    cached: list[DataFrame] | None = None,
) -> DataFrame:
    """Time/entropy/agent-count features + proxy word.

    Reference cuts: time deciles (ProxySuspiciousConnectsModel.scala:106-107),
    fulluri-entropy quintiles (:109-110), agent-count quintiles (:112-118).
    Rows carrying ``WEIGHT_COL`` count that many times in the agent counts
    and the cuts; the frame this call caches is appended to ``cached`` when
    given.
    """
    from oni_ml_spark.transforms.quantiles import quantile_cuts_multi

    df = df.withColumn("num_time", seconds_of_day("p_time"))
    df = df.withColumn("uri_entropy", string_entropy("fulluri"))

    weight_col = weight_of(df)
    agent_count = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    agent_counts = df.groupBy("useragent").agg(agent_count.alias("agent_count"))
    df = df.join(F.broadcast(agent_counts), "useragent", "left").cache()
    if cached is not None:
        cached.append(df)

    cuts = quantile_cuts_multi(
        df,
        {"num_time": DECILES, "uri_entropy": QUINTILES, "agent_count": QUINTILES},
        weight_col=weight_col,
    )
    time_cuts = cuts["num_time"]
    entropy_cuts, agent_cuts = cuts["uri_entropy"], cuts["agent_count"]

    df = df.withColumns(
        {
            "uri_entropy_bin": bin_expr("uri_entropy", entropy_cuts),
            "agent_count_bin": bin_expr("agent_count", agent_cuts),
        }
    )
    return df.withColumn(
        "word",
        proxy_word(
            "host", "p_time", "reqmethod", "uri_entropy_bin", "resconttype",
            "agent_count_bin", "respcode",
            time_cuts=time_cuts, top_domains=top_domains,
        ),
    )


def run(
    df: DataFrame,
    feedback: DataFrame | None = None,
    *,
    top_domains: list[str] | None = None,
    dup_factor: int = 1000,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    threshold: float = 1.0,
    top_k: int = -1,
    seed: int = 0,
    max_iter: int = 10,
) -> SuspiciousConnectsResult:
    df = training_union(null_filter(df), feedback, "uri_sev", dup_factor)

    cached: list[DataFrame] = []
    featurized = featurize(df, top_domains or [], cached=cached).cache()
    cached.append(featurized)
    return train_and_score(
        featurized,
        doc_col="clientip",
        word_col="word",
        topic_count=topic_count,
        doc_concentration=doc_concentration,
        threshold=threshold,
        top_k=top_k,
        seed=seed,
        max_iter=max_iter,
        cached=cached,
    )
