"""Topic modeling: corpus aggregation → in-cluster LDA → model tables.

Replaces the reference's entire out-of-band LDA machinery — driver-side
corpus serialization to LDA-C text, ssh/scp distribution, and an external
MPI C program (OniLDACWrapper.scala:63-84, .gitmodules:1-3) — with
pyspark.ml.clustering.LDA. Nothing but the k×V topic matrix ever reaches
the driver; corpus and per-doc topic mixes stay distributed
(SURVEY.md §7.4.9: the driver-collect pattern is the reference's
scalability cliff).

Model tables exposed (the reference's gamma/beta maps, OniLDACWrapper.scala:91-144):
- doc_topic_mix:  DataFrame[doc string, topic_mix array<double>] (rows sum to 1)
- word_probs:     DataFrame[word string, word_given_topic array<double>]
                  (entry t = P(word | topic t); each topic column sums to 1)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.clustering import LDA
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_log_probs(log_probs: list[float]) -> list[float]:
    """exp-then-renormalize a log-probability vector (the reference's β line
    normalization, OniLDACWrapper.scala:121-130). Golden:
    [1..5] → [0.0117, 0.0317, 0.0861, 0.2341, 0.6364] (OniLDACWrapperTest:11-23).

    Kept as an explicit utility: `ml.LDA` makes it unnecessary in the main
    path, but any externally-trained topic matrix imported in log space goes
    through this."""
    import math

    exps = [math.exp(x) for x in log_probs]
    s = sum(exps)
    return [e / s for e in exps]


def normalize_topic_mix(weights: list[float]) -> list[float]:
    """Row-normalize per-doc topic weights; all-zero (or cancelling) sum →
    all zeros (the reference's γ normalization incl. the zero-sum edge,
    OniLDACWrapper.scala:132-144, goldens OniLDACWrapperTest:25-51)."""
    s = sum(weights)
    if s == 0:
        return [0.0] * len(weights)
    return [w / s for w in weights]


def corpus_counts(
    df: DataFrame, doc_col: str, word_col: str, weight_col: str | None = None
) -> DataFrame:
    """(doc, word) → count — the core corpus aggregation (A1).

    Reference: RDD reduceByKey (netflow/FlowPreLDA.scala:131-139). groupBy
    gets Catalyst's partial+final hash aggregate (map-side combine) for free.
    ``weight_col`` names an integer row multiplicity: count is then the sum
    of the weights, as if each row appeared ``weight`` times.
    """
    weight = [F.col(weight_col).cast("long").alias("__w")] if weight_col else []
    return (
        df.select(F.col(doc_col).alias("doc"), F.col(word_col).alias("word"), *weight)
        .groupBy("doc", "word")
        .agg((F.sum("__w") if weight_col else F.count(F.lit(1))).alias("count"))
    )


@dataclass
class TopicModel:
    doc_topic_mix: DataFrame  # doc, topic_mix array<double>
    word_probs: DataFrame     # word, word_given_topic array<double>
    topic_count: int
    vocabulary: list[str]
    #: |docs|, captured from the cache-materializing count in fit_topic_model
    #: so scoring's size-adaptive broadcast decision is free (None → the
    #: scorer counts lazily once)
    n_docs: int | None = None


def fit_topic_model(
    counts: DataFrame,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    seed: int = 0,
    max_iter: int = 20,
    max_count_per_word: int | None = 10_000,
) -> TopicModel:
    """Fit LDA over a (doc, word, count) corpus, all in-cluster.

    Vocabulary (distinct words) is collected to the driver for indexing —
    bounded by design: words are crosses of small categorical alphabets
    (~10-bin × 5-bin products, SURVEY.md §7.4.9), so V stays ~1e4-1e5 even at
    100 TB input. Docs are never collected; per-doc sparse count vectors are
    assembled executor-side at doc granularity.

    Hyperparameters mirror ml_ops.sh:67 (k=20) and OniLDACWrapper.scala:83-84
    (α=2.5). Numerical parity with the MPI LDA-C is impossible (seeded
    randomized algorithms, SURVEY.md §7.4.1) — consumers should test
    distributional invariants, not values.
    """
    import pandas as pd

    from pyspark.ml.feature import CountVectorizer

    pinned = counts.cache()
    spark = counts.sparkSession

    if max_count_per_word is not None:
        # adversarial-doc guard (SCALE.md): one IP with 10^8 identical events
        # would otherwise build a token array of that length below. Capping
        # the per-(doc,word) count bounds the array at |distinct words| × cap
        # and barely moves the topic posterior (counts enter LDA sublinearly).
        # ON BY DEFAULT — every pipeline hits this path unless a caller
        # explicitly passes max_count_per_word=None for uncapped parity runs.
        counts = counts.withColumn(
            "count", F.least(F.col("count"), F.lit(max_count_per_word))
        )

    # Per-doc sparse count vectors via CountVectorizer — fully JVM-side
    # (no Python UDF, no driver-side vocabulary join). The token array per
    # doc is the doc's distinct words repeated by count; its length is the
    # doc's event count, the same order of magnitude CountVectorizer handles
    # in any Spark NLP pipeline. Replaces the reference's driver-collected
    # dictionaries + LDA-C text corpus (OniLDACWrapper.scala:40-60,146-168).
    tokens = counts.groupBy("doc").agg(
        F.flatten(
            F.collect_list(F.array_repeat("word", F.col("count").cast("int")))
        ).alias("tokens")
    )
    cv = CountVectorizer(inputCol="tokens", outputCol="features", vocabSize=1 << 21, minDF=1.0)
    cv_model = cv.fit(tokens)
    vocabulary = list(cv_model.vocabulary)
    v_size = len(vocabulary)
    # CACHE the vectorized docs: the online LDA optimizer samples a
    # mini-batch from this dataset EVERY iteration, and without residency
    # each iteration re-runs the whole corpus->tokens->CountVectorizer
    # chain (measured 8x: 13.3s -> 1.7s fit on the sf0.1 flow corpus).
    # Bounded: one sparse vector per doc. Unpersisted before return.
    docs = cv_model.transform(tokens).select("doc", "features").cache()

    lda = LDA(
        k=topic_count,
        maxIter=max_iter,
        seed=seed,
        docConcentration=[doc_concentration] * topic_count,
        featuresCol="features",
    )
    model = lda.fit(docs)

    from pyspark.ml.functions import vector_to_array

    transformed = model.transform(docs)
    doc_topic_mix = transformed.select(
        "doc", vector_to_array("topicDistribution").alias("topic_mix")
    ).cache()

    # topicsMatrix: V x k. NOT normalized for the online optimizer (columns
    # are expected word-count weights), so normalize each topic column to a
    # distribution — the reference does the same exp-normalize for beta
    # (OniLDACWrapper.scala:121-130). The matrix is V*k doubles — the only
    # model state that transits the driver. Ship it back to the cluster via
    # Arrow (pandas) columns, not pickled Python rows: at V ~ 10^5-10^6 the
    # pickle path croaks Python workers; Arrow stays columnar end to end.
    import numpy as np

    tm = model.topicsMatrix().toArray()  # V x k numpy
    col_sums = tm.sum(axis=0)
    col_sums[col_sums == 0.0] = 1.0
    tm = tm / col_sums
    pdf = pd.DataFrame({"word": vocabulary})
    for t in range(topic_count):
        pdf[f"p{t}"] = tm[:, t]
    word_probs = spark.createDataFrame(pdf).select(
        "word", F.array(*[f"p{t}" for t in range(topic_count)]).alias("word_given_topic")
    )
    # materialize the cache before counts/docs are unpersisted; the count
    # doubles as the doc tally the scorer's broadcast decision needs
    n_docs = doc_topic_mix.count()
    docs.unpersist()
    pinned.unpersist()
    return TopicModel(doc_topic_mix, word_probs, topic_count, vocabulary, n_docs)


def save_model(model: TopicModel, path: str) -> None:
    """Persist a TopicModel as parquet model tables + a metadata file.

    The reference shipped model state as driver-local LDA-C text files
    (OniLDACWrapper.scala:91-144, S7) that every scoring run re-parsed; here
    the model IS two distributed tables, so persistence is two parquet
    writes any later session (or another engine) can read. Layout:
    ``{path}/doc_topic_mix``, ``{path}/word_probs``, ``{path}/meta.json``.
    """
    import json

    model.doc_topic_mix.write.mode("overwrite").parquet(f"{path}/doc_topic_mix")
    model.word_probs.write.mode("overwrite").parquet(f"{path}/word_probs")
    spark = model.doc_topic_mix.sparkSession
    meta = {
        "topic_count": model.topic_count,
        "vocabulary": model.vocabulary,
        "n_docs": model.n_docs,
    }
    # one-row text write through the engine (no driver-local filesystem
    # assumption — path may be s3://, hdfs://, ...)
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{path}/meta.json")


def load_model(spark, path: str) -> TopicModel:
    """Load a TopicModel persisted by ``save_model``."""
    import json

    meta = json.loads(spark.read.text(f"{path}/meta.json").collect()[0]["value"])
    return TopicModel(
        doc_topic_mix=spark.read.parquet(f"{path}/doc_topic_mix"),
        word_probs=spark.read.parquet(f"{path}/word_probs"),
        topic_count=int(meta["topic_count"]),
        vocabulary=list(meta["vocabulary"]),
        n_docs=meta.get("n_docs"),
    )
