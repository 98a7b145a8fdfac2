"""pyspark.ml Pipeline integration: the suspicious-connects stages as
Estimator/Transformer components.

Lets users compose the engine with the standard MLlib pipeline API:

    pipe = Pipeline(stages=[SuspiciousConnectsEstimator(doc_col=..., word_col=...)])
    model = pipe.fit(featurized_df)         # trains the batch LDA
    scored = model.transform(other_df)      # broadcast-join scoring

The estimator consumes a featurized DataFrame (doc + word columns — build
them with the transforms library or any upstream stage) and produces a
transformer holding the topic-model tables.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame

from oni_ml_spark.scoring import score_records
from oni_ml_spark.topics import TopicModel, corpus_counts, fit_topic_model


class _SuspiciousConnectsParams(Params):
    docCol = Param(Params._dummy(), "docCol", "document (entity) column",
                   typeConverter=TypeConverters.toString)
    wordCol = Param(Params._dummy(), "wordCol", "discretized word column",
                    typeConverter=TypeConverters.toString)
    topicCount = Param(Params._dummy(), "topicCount", "LDA topic count",
                       typeConverter=TypeConverters.toInt)
    maxIter = Param(Params._dummy(), "maxIter", "LDA max iterations",
                    typeConverter=TypeConverters.toInt)
    seed = Param(Params._dummy(), "seed", "random seed",
                 typeConverter=TypeConverters.toInt)
    scoreCol = Param(Params._dummy(), "scoreCol", "output score column",
                     typeConverter=TypeConverters.toString)

    def __init__(self):
        super().__init__()
        self._setDefault(topicCount=20, maxIter=10, seed=0, scoreCol="score")

    def getDocCol(self) -> str:
        return self.getOrDefault(self.docCol)

    def getWordCol(self) -> str:
        return self.getOrDefault(self.wordCol)


class SuspiciousConnectsEstimator(Estimator, _SuspiciousConnectsParams):
    """Estimator: featurized (doc, word) records → SuspiciousConnectsModel."""

    @keyword_only
    def __init__(self, *, docCol: str = "doc", wordCol: str = "word",
                 topicCount: int = 20, maxIter: int = 10, seed: int = 0,
                 scoreCol: str = "score"):
        super().__init__()
        kwargs = self._input_kwargs
        self._set(**kwargs)

    def _fit(self, dataset: DataFrame) -> "SuspiciousConnectsModel":
        counts = corpus_counts(dataset, self.getDocCol(), self.getWordCol())
        tm = fit_topic_model(
            counts,
            topic_count=self.getOrDefault(self.topicCount),
            seed=self.getOrDefault(self.seed),
            max_iter=self.getOrDefault(self.maxIter),
        )
        model = SuspiciousConnectsModel(topic_model=tm)
        model._set(
            docCol=self.getDocCol(), wordCol=self.getWordCol(),
            topicCount=self.getOrDefault(self.topicCount),
            maxIter=self.getOrDefault(self.maxIter),
            seed=self.getOrDefault(self.seed),
            scoreCol=self.getOrDefault(self.scoreCol),
        )
        return model


class SuspiciousConnectsModel(Model, _SuspiciousConnectsParams):
    """Fitted model: transform() attaches the anomaly score column via
    broadcast joins (uniform fallback for unseen docs/words)."""

    def __init__(self, topic_model: TopicModel | None = None):
        super().__init__()
        self.topic_model = topic_model

    def _transform(self, dataset: DataFrame) -> DataFrame:
        return score_records(
            dataset,
            self.topic_model,
            self.getDocCol(),
            self.getWordCol(),
            score_col=self.getOrDefault(self.scoreCol),
        )
