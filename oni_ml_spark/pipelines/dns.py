"""DNS suspicious-connects pipeline (SURVEY.md §3.2).

Reference: dns/DNSSuspiciousConnects.scala → DNSPreLDA → DNSPostLDA.
Document = client IP (ip_dst, dns/DNSPreLDA.scala:114-121); word =
topDomain_frameLenBin_timeBin_subdomLenBin_entropyBin_periodsBin_qtype_rcode.
Unseen doc/word at scoring falls back to uniform 1/k (vs the flow quirk).
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
    dns_word,
    extract_subdomain_cols,
    string_entropy,
    top_domain_expr,
)


def null_filter(df: DataFrame) -> DataFrame:
    """frame_time / unix_tstamp non-null (dns/DNSPreLDA.scala:92)."""
    return df.filter(F.col("frame_time").isNotNull() & F.col("unix_tstamp").isNotNull())


def featurize(
    df: DataFrame,
    top_domains: list[str],
    cached: list[DataFrame] | None = None,
) -> DataFrame:
    """Subdomain struct + entropy + five quantile-cut bins + word, one pass.

    The reference runs five separate full-scan quantile jobs
    (dns/DNSWordCreation.scala:78-122); filtering >0 values per-column is
    preserved (P5). Rows carrying ``WEIGHT_COL`` count that many
    times in the cuts. The frame this call caches is appended to
    ``cached`` when given, so the caller can release it.
    """
    from oni_ml_spark.transforms.quantiles import quantile_cuts_multi

    df = df.withColumns(extract_subdomain_cols("dns_qry_name"))
    df = df.withColumn("subdomain_entropy", string_entropy("subdomain"))
    df = df.cache()
    if cached is not None:
        cached.append(df)

    # the reference's five full-scan quantile jobs in one plan (4 jobs in a
    # warm analysis), >0 predicates (P5) applied per column inside the melt
    cuts = quantile_cuts_multi(
        df,
        {
            "unix_tstamp": DECILES,
            "frame_len": DECILES,
            "subdomain_length": QUINTILES,
            "subdomain_entropy": QUINTILES,
            "num_periods": QUINTILES,
        },
        positive_only={"subdomain_length", "subdomain_entropy", "num_periods"},
        weight_col=weight_of(df),
    )
    time_cuts, frame_len_cuts = cuts["unix_tstamp"], cuts["frame_len"]
    subdomain_len_cuts = cuts["subdomain_length"]
    entropy_cuts, periods_cuts = cuts["subdomain_entropy"], cuts["num_periods"]

    df = df.withColumns(
        {
            "top_domain": top_domain_expr("domain", top_domains).cast("string"),
            "frame_len_bin": bin_expr("frame_len", frame_len_cuts),
            "time_bin": bin_expr("unix_tstamp", time_cuts),
            "subdomain_len_bin": bin_expr("subdomain_length", subdomain_len_cuts),
            "entropy_bin": bin_expr("subdomain_entropy", entropy_cuts),
            "periods_bin": bin_expr("num_periods", periods_cuts),
        }
    )
    return df.withColumn(
        "word",
        dns_word(
            "top_domain", "frame_len_bin", "time_bin", "subdomain_len_bin",
            "entropy_bin", "periods_bin", "dns_qry_type", "dns_qry_rcode",
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
    df = training_union(null_filter(df), feedback, "dns_sev", dup_factor)

    cached: list[DataFrame] = []
    featurized = featurize(df, top_domains or [], cached=cached).cache()
    cached.append(featurized)
    return train_and_score(
        featurized,
        doc_col="ip_dst",
        word_col="word",
        topic_count=topic_count,
        doc_concentration=doc_concentration,
        threshold=threshold,
        top_k=top_k,
        seed=seed,
        max_iter=max_iter,
        cached=cached,
    )
