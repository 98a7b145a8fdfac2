"""Reusable DataFrame→DataFrame / Column-level transforms.

Each module re-expresses one slice of the reference's feature-engineering
surface (SURVEY.md §2.7) as native Spark SQL expressions that stay inside
whole-stage codegen — no RDD detours (reference anti-pattern at
netflow/FlowWordCreation.scala:64-85) and no row-at-a-time Python UDFs.
"""

from oni_ml_spark.transforms.quantiles import (
    bin_expr,
    ecdf,
    grouped_quantile_cuts,
    quantile_cuts,
    quantile_cuts_df,
    DECILES,
    QUINTILES,
)
from oni_ml_spark.transforms.text import (
    string_entropy,
    extract_subdomain_cols,
    extract_domain,
    top_domain_expr,
)
from oni_ml_spark.transforms.time import fractional_hour, seconds_of_day
from oni_ml_spark.transforms.words import flow_word_cols, dns_word, proxy_word
from oni_ml_spark.transforms.feedback import oversample, load_feedback_tsv

__all__ = [
    "bin_expr", "ecdf", "grouped_quantile_cuts", "quantile_cuts",
    "quantile_cuts_df", "DECILES", "QUINTILES",
    "string_entropy", "extract_subdomain_cols", "extract_domain",
    "top_domain_expr", "fractional_hour", "seconds_of_day",
    "flow_word_cols", "dns_word", "proxy_word",
    "oversample", "load_feedback_tsv",
]
