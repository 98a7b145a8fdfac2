"""Analyst-feedback ingestion.

Reference reads the TSV on the driver with scala.io.Source and replicates
confirmed-benign (severity 3) rows duplicationFactor times via flatMap
(netflow/FlowPreLDA.scala:73-99, dns/DNSPreLDA.scala:69-85,
proxy/ProxyFeedback.scala:53-67). Here: a distributed CSV read; the
pipelines keep each feedback row once and weight it ×duplicationFactor
(``pipelines.common.training_union``). ``oversample`` builds the physical
copies for callers that need real rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def load_feedback_tsv(spark, path: str, columns: list[str]) -> DataFrame:
    """Read a header-ful tab-separated feedback file into named columns."""
    df = spark.read.option("sep", "\t").option("header", True).csv(path)
    # positional rename to the canonical layout (headers vary in the wild)
    for old, new in zip(df.columns, columns):
        if old != new:
            df = df.withColumnRenamed(old, new)
    return df


def oversample(df: DataFrame, factor: int) -> DataFrame:
    """Replicate every row ``factor`` times (bag semantics).

    Reference: List.fill(duplicationFactor)(row) flatMap
    (netflow/FlowPreLDA.scala:98). explode(array_repeat(lit(1), n)) keeps the
    blow-up inside the executors and costs O(1) memory per input row in the
    generated code (the repeated array holds a constant).
    """
    if factor <= 1:
        return df
    return (
        df.withColumn("__dup", F.explode(F.array_repeat(F.lit(1), factor)))
        .drop("__dup")
    )


def severity_filter(df: DataFrame, sev_col: str = "sev", severity: int = 3) -> DataFrame:
    """Keep analyst-confirmed rows (severity == 3 by default) —
    netflow/FlowPreLDA.scala:84, dns/DNSPreLDA.scala:72, proxy/ProxyFeedback.scala:57."""
    return df.filter(F.col(sev_col).cast("int") == severity)


def conform_feedback(fb: DataFrame, to: DataFrame) -> DataFrame:
    """Project a feedback frame onto another frame's schema: shared columns
    are cast to the target types, missing ones become typed nulls (they are
    never featurized — only the word-building columns matter). Makes the
    raw ∪ feedback union schema-safe for any input layout."""
    cols = []
    for name, dtype in to.dtypes:
        if name in fb.columns:
            cols.append(F.col(name).cast(dtype).alias(name))
        else:
            cols.append(F.lit(None).cast(dtype).alias(name))
    return fb.select(*cols)


def flow_feedback_to_raw(fb: DataFrame) -> DataFrame:
    """Map the flow feedback layout (sev/tstart/srcIP/... —
    netflow/FlowPreLDA.scala:32-54) onto raw netflow column names; tstart
    ("YYYY-MM-DD HH:MM:SS") is re-split into date/time components the way
    the reference does (FlowPreLDA.scala:85-88)."""
    date_part = F.split(F.col("tstart"), " ").getItem(0)
    time_part = F.split(F.col("tstart"), " ").getItem(1)
    return fb.withColumns(
        {
            "treceived": F.col("tstart"),
            "tryear": F.split(date_part, "-").getItem(0).cast("int"),
            "trmonth": F.split(date_part, "-").getItem(1).cast("int"),
            "trday": F.split(date_part, "-").getItem(2).cast("int"),
            "trhour": F.split(time_part, ":").getItem(0).cast("int"),
            "trminute": F.split(time_part, ":").getItem(1).cast("int"),
            "trsec": F.split(time_part, ":").getItem(2).cast("int"),
            "tdur": F.lit(0.0),
            "sip": F.col("srcIP"),
            "dip": F.col("dstIP"),
        }
    )
