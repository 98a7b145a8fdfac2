"""Topic modeling: corpus aggregation → batch variational-EM LDA → model tables.

The reference fits LDA-C's batch variational EM over the (doc, word, count)
corpus collected to one machine, serialized to LDA-C text and shipped over
ssh/scp to an external MPI program (OniLDACWrapper.scala:40-60, 63-84). Here
the aggregated corpus reaches the driver as ONE Arrow collect, its doc and
word columns dictionary-encoded (no Python object per nonzero), and the same
algorithm — batch variational EM (Blei et al. 2003, in the batch form of
Hoffman et al. 2010) — runs as a vectorized numpy kernel. A distributed fit
costs a Spark job per iteration; at one day's corpus size (10³-10⁵ docs)
job count, not rows, sets its time. SCALE.md gives the driver's bound.

Model tables exposed (the reference's gamma/beta maps, OniLDACWrapper.scala:91-144):
- doc_topic_mix:  DataFrame[doc string, topic_mix array<double>] (rows sum to 1)
- word_probs:     DataFrame[word string, word_given_topic array<double>]
                  (entry t = P(word | topic t); each topic column sums to 1)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: nonzeros per E-step chunk: bounds the nnz×k temporaries (~10 MB each at
#: k=20) while keeping each numpy call long enough to amortize its overhead
CHUNK_NNZ = 1 << 16
#: a doc's E-step stops once the mean |Δγ| over its topics falls below this,
#: or after MAX_INNER_ITER updates (LDA-C's var_max_iter role)
GAMMA_TOL = 1e-3
MAX_INNER_ITER = 100


def normalize_log_probs(log_probs: list[float]) -> list[float]:
    """exp-then-renormalize a log-probability vector (the reference's β line
    normalization, OniLDACWrapper.scala:121-130). Golden:
    [1..5] → [0.0117, 0.0317, 0.0861, 0.2341, 0.6364] (OniLDACWrapperTest:11-23).

    Kept as an explicit utility: the kernel's λ is normalized directly, but
    any externally-trained topic matrix imported in log space goes through
    this."""
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


def digamma(x) -> np.ndarray:
    """ψ(x) elementwise for x > 0 (numpy has none): the recurrence
    ψ(x) = ψ(x+n) − Σ_{i<n} 1/(x+i) lifts every argument to ≥ 6 (one n for
    the whole array, so no masked updates), where the asymptotic series
    through x⁻¹⁴ is accurate to ~2e-13."""
    x = np.array(x, dtype=np.float64)
    out = np.zeros_like(x)
    for _ in range(int(np.ceil(6.0 - x.min())) if x.size else 0):
        out -= 1.0 / x
        x += 1.0
    z = 1.0 / (x * x)
    series = z * (1 / 12 - z * (1 / 120 - z * (1 / 252 - z * (
        1 / 240 - z * (1 / 132 - z * (691 / 32760 - z / 12))))))
    return out + np.log(x) - 0.5 / x - series


def _exp_elog(p: np.ndarray) -> np.ndarray:
    """exp(E[log θ]) of Dirichlet rows: exp(ψ(p) − ψ(Σ p))."""
    return np.exp(digamma(p) - digamma(p.sum(axis=1))[:, None])


def _infer_chunk(ids, cts, lengths, exp_elog_beta, gamma, alpha, sstats) -> None:
    """Variational inference for one chunk of docs, vectorized over them.

    ``ids``/``cts`` are the chunk's nonzeros grouped by doc, ``lengths`` the
    nonzeros per doc; ``gamma`` (a view, updated in place) holds the warm
    start. Each doc iterates γ ← α + exp(E[log θ]) · Σ_w n_w β_w / φnorm_w
    until its own mean |Δγ| < GAMMA_TOL, then drops out of the active set;
    the final γ's expected counts are added to ``sstats`` (k×V). Per-nonzero
    arrays are topic-major (k×nnz), so every reduction runs over contiguous
    memory."""
    beta_nz = exp_elog_beta[:, ids]  # fixed for this pass
    active = np.arange(len(lengths))
    a_beta, a_cts, a_len = beta_nz, cts, lengths
    for _ in range(MAX_INNER_ITER):
        g = gamma[active]
        theta = _exp_elog(g)
        phinorm = np.einsum("ij,ij->j", np.repeat(theta.T, a_len, axis=1), a_beta) + 1e-100
        seg = np.concatenate(([0], np.cumsum(a_len[:-1])))
        new = alpha + theta * np.add.reduceat(a_beta * (a_cts / phinorm), seg, axis=1).T
        gamma[active] = new
        done = np.abs(new - g).mean(axis=1) < GAMMA_TOL
        if done.all():
            break
        if done.any():
            keep = ~done
            nz_keep = np.repeat(keep, a_len)
            active, a_len = active[keep], a_len[keep]
            a_beta, a_cts = a_beta[:, nz_keep], a_cts[nz_keep]
    theta_nz = np.repeat(_exp_elog(gamma).T, lengths, axis=1)
    contrib = theta_nz * (cts / (np.einsum("ij,ij->j", theta_nz, beta_nz) + 1e-100))
    for t in range(sstats.shape[0]):
        sstats[t] += np.bincount(ids, weights=contrib[t], minlength=sstats.shape[1])


def e_step(doc, word, cnt, exp_elog_beta, gamma, alpha) -> np.ndarray:
    """One E-step over the corpus, updating ``gamma`` (n_docs×k) in place.

    ``doc``/``word``/``cnt`` are the nonzeros sorted by doc, every doc
    0..n_docs-1 owning at least one. Docs are processed in chunks of about
    CHUNK_NNZ nonzeros (a doc larger than that is a chunk of its own).
    Returns the M-step's sufficient statistics Σ_d n_dw φ_dwt (k×V)."""
    n_docs = gamma.shape[0]
    starts = np.searchsorted(doc, np.arange(n_docs + 1))
    bounds = np.unique(np.concatenate((
        np.searchsorted(starts[:-1], np.arange(0, len(doc), CHUNK_NNZ)), [n_docs],
    )))
    sstats = np.zeros_like(exp_elog_beta)
    for d0, d1 in zip(bounds[:-1], bounds[1:]):
        lo, hi = starts[d0], starts[d1]
        _infer_chunk(word[lo:hi], cnt[lo:hi], np.diff(starts[d0:d1 + 1]),
                     exp_elog_beta, gamma[d0:d1], alpha, sstats)
    return sstats


def fit_lda(doc, word, cnt, n_docs, n_words, topic_count, alpha, seed, max_iter):
    """Batch variational EM: ``max_iter`` passes of E-step then
    λ ← η + sufficient statistics, η = 1/k. λ and γ start from
    Gamma(100, 1/100) draws; γ is warm-started across passes.
    Returns (γ n_docs×k, λ k×n_words)."""
    rng = np.random.default_rng(seed)
    lam = rng.gamma(100.0, 1.0 / 100.0, (topic_count, n_words))
    gamma = rng.gamma(100.0, 1.0 / 100.0, (n_docs, topic_count))
    if not len(cnt):  # an empty day: nothing to infer, and ψ(0) divides by zero
        return gamma, lam
    for _ in range(max_iter):
        exp_elog_beta = _exp_elog(lam)
        sstats = e_step(doc, word, cnt, exp_elog_beta, gamma, alpha)
        lam = 1.0 / topic_count + sstats * exp_elog_beta
    return gamma, lam


def _sorted_codes(column):
    """Dictionary-encode an Arrow column: (its distinct values sorted, null
    last; the int32 position of each row's value among them)."""
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(column, null_encoding="encode").combine_chunks()
    order = pc.array_sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int32)
    rank[order] = np.arange(len(order), dtype=np.int32)
    return enc.dictionary.take(order), rank[enc.indices.to_numpy()]


def _model_table(spark, key, key_type, values, probs, col):
    """DataFrame[key, col array<double>] from a key column and an n×k
    matrix, built through Arrow on the driver."""
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    k = probs.shape[1]
    offsets = pa.array(np.arange(0, probs.size + 1, k, dtype=np.int32))
    table = pa.table({
        key: values,
        col: pa.ListArray.from_arrays(offsets, pa.array(probs.ravel())),
    })
    schema = StructType([StructField(key, key_type), StructField(col, ArrayType(DoubleType()))])
    return spark.createDataFrame(table, schema)


@dataclass
class TopicModel:
    doc_topic_mix: DataFrame  # doc, topic_mix array<double>
    word_probs: DataFrame     # word, word_given_topic array<double>
    topic_count: int
    vocabulary: list[str]
    #: |docs|, known on the driver once fit_topic_model has collected the
    #: corpus, so scoring's size-adaptive broadcast decision is free (None →
    #: the scorer counts lazily once)
    n_docs: int | None = None


def fit_topic_model(
    counts: DataFrame,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    seed: int = 0,
    max_iter: int = 20,
) -> TopicModel:
    """Fit LDA over a (doc, word, count) corpus on the driver.

    One Arrow collect brings the aggregated corpus over: per nonzero an
    int32 doc code, an int32 word code and a float64 count (weighted counts
    stay real-valued). Docs and vocabulary are sorted and duplicate
    (doc, word) rows summed, so the model does not depend on how the input
    was partitioned. The Spark jobs are those of the collect alone,
    whatever ``max_iter`` (the number of EM passes).

    Hyperparameters mirror ml_ops.sh:67 (k=20) and OniLDACWrapper.scala:83-84
    (α=2.5); η=1/k. Numerical parity with the MPI LDA-C is impossible
    (seeded randomized initialization, SURVEY.md §7.4.1) — consumers should
    test distributional invariants, not values.
    """
    spark = counts.sparkSession
    table = counts.select(
        "doc", "word", F.col("count").cast("double").alias("count")
    ).toArrow()
    docs, doc_codes = _sorted_codes(table.column("doc"))
    vocab, word_codes = _sorted_codes(table.column("word"))
    n_docs, n_words = len(docs), len(vocab)
    keys, inverse = np.unique(
        doc_codes.astype(np.int64) * n_words + word_codes, return_inverse=True
    )
    cnt = np.bincount(inverse, weights=table.column("count").to_numpy())
    doc, word = (a.astype(np.int32) for a in np.divmod(keys, max(n_words, 1)))

    gamma, lam = fit_lda(doc, word, cnt, n_docs, n_words, topic_count,
                         doc_concentration, seed, max_iter)
    doc_topic_mix = _model_table(
        spark, "doc", counts.schema["doc"].dataType, docs,
        gamma / gamma.sum(axis=1, keepdims=True), "topic_mix",
    )
    word_probs = _model_table(
        spark, "word", counts.schema["word"].dataType, vocab,
        (lam / lam.sum(axis=1, keepdims=True)).T, "word_given_topic",
    )
    return TopicModel(doc_topic_mix, word_probs, topic_count, vocab.to_pylist(), n_docs)


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
