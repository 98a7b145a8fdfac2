"""Flow (netflow) suspicious-connects pipeline.

Reference dataflow: netflow/FlowSuspiciousConnects.scala:12-27 →
FlowPreLDA → OniLDACWrapper → FlowPostLDA (SURVEY.md §3.1). Re-expressed:
one featurization over raw ∪ weighted feedback, cached, feeding both
training corpus (both endpoints) and scoring; LDA on the collected corpus;
per-endpoint scores via broadcast joins; record score = least(src, dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.pipelines.common import (
    WEIGHT_COL,
    SuspiciousConnectsResult,
    records_to_score,
    training_union,
    weight_of,
)
from oni_ml_spark.scoring import min_endpoint_score, most_suspicious, score_records
from oni_ml_spark.topics import fit_topic_model
from oni_ml_spark.transforms import (
    DECILES,
    QUINTILES,
    bin_expr,
    flow_word_cols,
    fractional_hour,
)


def valid_time_filter(df: DataFrame) -> DataFrame:
    """Sanity range predicate (netflow/FlowPreLDA.scala:107-109)."""
    return df.filter(
        F.col("trhour").between(0, 23)
        & F.col("trminute").between(0, 59)
        & F.col("trsec").between(0, 59)
    )


def featurize(
    df: DataFrame,
    cached: list[DataFrame] | None = None,
) -> DataFrame:
    """num_time + three quantile-cut bins + flow words, single pass.

    The three cut lists come back to the driver as ≤10-double arrays from
    one collect — the only driver-boundary crossing in the featurization
    (the reference collected the same, netflow/FlowWordCreation.scala:26-49).
    Rows carrying ``WEIGHT_COL`` count that many times in the cuts; the
    frame this call caches is appended to ``cached`` when given.
    """
    from oni_ml_spark.transforms.quantiles import quantile_cuts_multi

    df = df.withColumn("num_time", fractional_hour("trhour", "trminute", "trsec"))
    df = df.cache()
    if cached is not None:
        cached.append(df)
    # all three cut sets from one plan (vs one pass per column)
    cuts = quantile_cuts_multi(
        df,
        {"num_time": DECILES, "ibyt": DECILES, "ipkt": QUINTILES},
        weight_col=weight_of(df),
    )
    time_cuts, ibyt_cuts, ipkt_cuts = cuts["num_time"], cuts["ibyt"], cuts["ipkt"]

    df = df.withColumns(
        {
            "time_bin": bin_expr("num_time", time_cuts),
            "ibyt_bin": bin_expr("ibyt", ibyt_cuts),
            "ipkt_bin": bin_expr("ipkt", ipkt_cuts),
        }
    )
    return df.withColumns(
        flow_word_cols("sip", "dip", "sport", "dport", "time_bin", "ibyt_bin", "ipkt_bin")
    )


def run(
    df: DataFrame,
    feedback: DataFrame | None = None,
    *,
    dup_factor: int = 1000,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    threshold: float = 1.0,
    top_k: int = -1,
    seed: int = 0,
    max_iter: int = 10,
) -> SuspiciousConnectsResult:
    df = training_union(valid_time_filter(df), feedback, "sev", dup_factor)

    cached: list[DataFrame] = []
    featurized = featurize(df, cached=cached).cache()
    cached.append(featurized)

    # Corpus: each IP's document collects words from both endpoints
    # (netflow/FlowPreLDA.scala:131-139). One explode + one groupBy — a
    # single shuffle over 2N rows, instead of the reference's two
    # reduceByKeys + union (three shuffles). Each row counts its weight.
    counts = (
        featurized.select(
            F.col(WEIGHT_COL),
            F.explode(
                F.array(
                    F.struct(F.col("sip").alias("doc"), F.col("source_word").alias("word")),
                    F.struct(F.col("dip").alias("doc"), F.col("destination_word").alias("word")),
                )
            ).alias("dw")
        )
        .select("dw.doc", "dw.word", WEIGHT_COL)
        .groupBy("doc", "word")
        .agg(F.sum(WEIGHT_COL).alias("count"))
    )
    model = fit_topic_model(counts, topic_count=topic_count,
                            doc_concentration=doc_concentration,
                            seed=seed, max_iter=max_iter)

    to_score = records_to_score(featurized)
    # Flow quirk preserved: inner join drops IPs unseen in training
    # (netflow/FlowPostLDA.scala:94, SURVEY.md §7.4.4).
    scored = score_records(
        to_score, model, "sip", "source_word", score_col="src_score", drop_unseen_docs=True
    )
    scored = score_records(
        scored, model, "dip", "destination_word", score_col="dst_score", drop_unseen_docs=True
    )
    scored = scored.withColumn("score", min_endpoint_score("src_score", "dst_score"))
    suspicious = most_suspicious(scored, threshold=threshold, top_k=top_k)
    return SuspiciousConnectsResult(scored, suspicious, model, cached)
