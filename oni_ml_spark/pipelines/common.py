"""Shared train-and-score core for all suspicious-connects pipelines."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.scoring import most_suspicious, score_records
from oni_ml_spark.topics import TopicModel, corpus_counts, fit_topic_model
from oni_ml_spark.transforms.feedback import conform_feedback, severity_filter

FEEDBACK_FLAG = "__is_feedback"
# integer multiplicity of a training row: 1 for the day's rows, the
# duplication factor for analyst feedback (the reference copies each
# feedback row that many times, netflow/FlowPreLDA.scala:98); every
# aggregate over the training union sums it instead of counting rows
WEIGHT_COL = "__weight"


@dataclass
class SuspiciousConnectsResult:
    scored: DataFrame          # all scored (non-feedback) records
    suspicious: DataFrame      # filtered + ascending + bottom-K
    model: TopicModel
    #: frames the pipeline cached on top of ``model.doc_topic_mix``
    cached: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist everything the pipeline cached. Call it once the
        outputs are written: ``scored`` and ``suspicious`` read these
        frames lazily, so they recompute from the input afterwards."""
        for df in [*self.cached, self.model.doc_topic_mix]:
            df.unpersist()


def training_union(
    day: DataFrame, feedback: DataFrame | None, sev_col: str, dup_factor: int
) -> DataFrame:
    """The day's rows ∪ severity-3 analyst feedback, flagged and weighted:
    day rows get weight 1, feedback rows ``max(dup_factor, 1)`` — the
    multiplicity the reference builds by copying each row (``oversample``),
    as one row. Feedback is conformed to the day's schema."""
    day = day.withColumns({FEEDBACK_FLAG: F.lit(False), WEIGHT_COL: F.lit(1)})
    if feedback is None:
        return day
    fb = severity_filter(feedback, sev_col).withColumns(
        {FEEDBACK_FLAG: F.lit(True), WEIGHT_COL: F.lit(max(dup_factor, 1))}
    )
    return day.unionByName(conform_feedback(fb, day))


def weight_of(df: DataFrame) -> str | None:
    """``WEIGHT_COL`` when the frame carries it, else None (unweighted)."""
    return WEIGHT_COL if WEIGHT_COL in df.columns else None


def train_and_score(
    featurized: DataFrame,
    doc_col: str,
    word_col: str,
    *,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    seed: int = 0,
    max_iter: int = 10,
    threshold: float = 1.0,
    top_k: int = -1,
    drop_unseen_docs: bool = False,
    extra_corpus: DataFrame | None = None,
    cached: list[DataFrame] | None = None,
) -> SuspiciousConnectsResult:
    """Train LDA on the full featurized corpus (feedback rows included when
    flagged via FEEDBACK_FLAG, each counted ``WEIGHT_COL`` times), score
    only the real records, rank.

    ``extra_corpus`` lets the flow pipeline pass the (dst-ip, dst-word) side
    so each IP's document sees the events from both endpoints
    (netflow/FlowPreLDA.scala:131-139). ``cached`` lists the frames the
    caller pinned; the result releases them (``release``).
    """
    counts = corpus_counts(featurized, doc_col, word_col, weight_of(featurized))
    if extra_corpus is not None:
        counts = counts.unionByName(extra_corpus).groupBy("doc", "word").agg(
            F.sum("count").alias("count")
        )
    model = fit_topic_model(
        counts,
        topic_count=topic_count,
        doc_concentration=doc_concentration,
        seed=seed,
        max_iter=max_iter,
    )

    scored = score_records(
        records_to_score(featurized), model, doc_col, word_col,
        drop_unseen_docs=drop_unseen_docs,
    )
    suspicious = most_suspicious(scored, threshold=threshold, top_k=top_k)
    return SuspiciousConnectsResult(scored, suspicious, model, list(cached or []))


def records_to_score(featurized: DataFrame) -> DataFrame:
    """The day's own rows, without the feedback flag and weight columns."""
    if FEEDBACK_FLAG in featurized.columns:
        featurized = featurized.filter(~F.col(FEEDBACK_FLAG))
    return featurized.drop(FEEDBACK_FLAG, WEIGHT_COL)
