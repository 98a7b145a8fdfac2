"""Flagship pipeline on the generic `events` table.

The reference's flagship question — "what are today's K most suspicious
connections?" (README.md:103-124) — applied to the synthetic events
table of the test data: document = user_id, word = event_type × value-decile ×
hour-of-day-bin. Same dataflow as the flow/dns/proxy pipelines (featurize →
corpus → batch LDA → broadcast scoring → bottom-K), demonstrating the
engine end-to-end on a schema the test data provides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.pipelines.common import SuspiciousConnectsResult, train_and_score
from oni_ml_spark.transforms import DECILES, QUINTILES, bin_expr


def featurize(
    df: DataFrame,
    cached: list[DataFrame] | None = None,
) -> DataFrame:
    """Value deciles × hour quintiles × event type; the frame this call
    caches is appended to ``cached`` when given."""
    from oni_ml_spark.transforms.quantiles import quantile_cuts_multi

    df = df.withColumn("hour", F.hour("ts").cast("double")).cache()
    if cached is not None:
        cached.append(df)
    cuts = quantile_cuts_multi(df, {"value": DECILES, "hour": QUINTILES})
    value_cuts, hour_cuts = cuts["value"], cuts["hour"]
    df = df.withColumns(
        {
            "value_bin": bin_expr("value", value_cuts),
            "hour_bin": bin_expr("hour", hour_cuts),
        }
    )
    return df.withColumn(
        "word",
        F.concat_ws(
            "_",
            F.col("event_type"),
            F.col("value_bin").cast("string"),
            F.col("hour_bin").cast("string"),
        ),
    )


def run(
    df: DataFrame,
    *,
    topic_count: int = 10,
    threshold: float = 1.0,
    top_k: int = 100,
    seed: int = 0,
    max_iter: int = 10,
) -> SuspiciousConnectsResult:
    cached: list[DataFrame] = []
    featurized = featurize(df, cached=cached).cache()
    cached.append(featurized)
    return train_and_score(
        featurized.withColumn("doc_id", F.col("user_id").cast("string")),
        doc_col="doc_id",
        word_col="word",
        topic_count=topic_count,
        threshold=threshold,
        top_k=top_k,
        seed=seed,
        max_iter=max_iter,
        cached=cached,
    )
