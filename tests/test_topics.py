"""Topic-model unit tests: the reference's normalization goldens
(OniLDACWrapperTest.scala), corpus aggregation semantics and the batch
variational-EM kernel."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oni_ml_spark import topics
from oni_ml_spark.topics import (
    CHUNK_NNZ,
    GAMMA_TOL,
    MAX_INNER_ITER,
    corpus_counts,
    digamma,
    e_step,
    fit_topic_model,
    normalize_log_probs,
    normalize_topic_mix,
)


class TestNormalizationGoldens:
    def test_beta_exp_normalize(self):
        # OniLDACWrapperTest.scala:11-23
        got = normalize_log_probs([1.0, 2.0, 3.0, 4.0, 5.0])
        want = [
            0.011656230956039607, 0.03168492079612427, 0.0861285444362687,
            0.23412165725273662, 0.6364086465588308,
        ]
        assert got == pytest.approx(want, abs=1e-15)

    def test_gamma_normalize(self):
        # OniLDACWrapperTest.scala:25-41
        line = [0.0124531442] * 20
        line[11] = 23983.5532262138
        line[18] = 22999.4716800747
        got = normalize_topic_mix(line)
        assert got[11] == pytest.approx(0.5104702996191969, abs=1e-12)
        assert got[18] == pytest.approx(0.48952492939114034, abs=1e-12)
        assert got[0] == pytest.approx(2.6505498126219955e-7, abs=1e-18)

    def test_gamma_zero_sum(self):
        # OniLDACWrapperTest.scala:43-51: cancelling values → all zeros
        line = [0.0] * 20
        line[2], line[3] = 1.0, -1.0
        assert normalize_topic_mix(line) == [0.0] * 20


class TestCorpus:
    def test_corpus_counts(self, spark):
        # the createModel fixture (OniLDACWrapperTest.scala:53-75) as a
        # (doc, word) → count aggregation — the LDA-C serialization itself is
        # intentionally gone (the corpus reaches the kernel as Arrow)
        rows = [
            ("192.168.1.1", "333333_7.0_0.0_1.0")] * 8 + [
            ("10.10.98.123", "1111111_6.0_3.0_5.0")] * 4 + [
            ("66.23.45.11", "-1_43_7.0_2.0_6.0")] * 2 + [
            ("192.168.1.1", "-1_80_6.0_1.0_1.0")] * 5
        df = spark.createDataFrame(rows, "ip string, word string")
        got = {
            (r["doc"], r["word"]): r["count"]
            for r in corpus_counts(df, "ip", "word").collect()
        }
        assert got == {
            ("192.168.1.1", "333333_7.0_0.0_1.0"): 8,
            ("10.10.98.123", "1111111_6.0_3.0_5.0"): 4,
            ("66.23.45.11", "-1_43_7.0_2.0_6.0"): 2,
            ("192.168.1.1", "-1_80_6.0_1.0_1.0"): 5,
        }

    def test_fit_produces_full_model_tables(self, spark):
        corpus = spark.createDataFrame(
            [(f"d{i % 7}", f"w{(i * 3) % 11}", 1 + i % 4) for i in range(200)],
            "doc string, word string, count long",
        )
        m = fit_topic_model(corpus, topic_count=4, seed=3, max_iter=5)
        assert m.doc_topic_mix.count() == 7
        assert m.word_probs.count() == len(m.vocabulary) == 11
        assert m.topic_count == 4


def _planted_events(spark):
    """60 docs × 30 events; doc i draws its words from planted group i % 3,
    three disjoint 10-word vocabularies."""
    rng = np.random.default_rng(11)
    rows = [
        (f"d{i:02d}", f"{'abc'[i % 3]}{w}")
        for i in range(60)
        for w in rng.integers(0, 10, size=30)
    ]
    return spark.createDataFrame(rows, "doc string, word string")


def _mixes(model):
    return {r["doc"]: r["topic_mix"] for r in model.doc_topic_mix.collect()}


class TestBatchLDA:
    @pytest.mark.parametrize("seed", range(5))
    def test_planted_topics_are_recovered(self, spark, seed):
        counts = corpus_counts(_planted_events(spark), "doc", "word")
        mix = _mixes(fit_topic_model(counts, topic_count=3, seed=seed, max_iter=5))
        assert len(mix) == 60
        majority = {}
        for g in range(3):
            tops = [int(np.argmax(mix[f"d{i:02d}"])) for i in range(g, 60, 3)]
            topic = max(set(tops), key=tops.count)
            assert tops.count(topic) >= 0.9 * len(tops), (g, tops)
            majority[g] = topic
        assert len(set(majority.values())) == 3, majority

    def test_output_does_not_depend_on_partitioning(self, spark):
        counts = corpus_counts(_planted_events(spark), "doc", "word")
        one = fit_topic_model(counts.repartition(1), topic_count=4, seed=5, max_iter=4)
        seven = fit_topic_model(counts.repartition(7, "word"), topic_count=4, seed=5, max_iter=4)
        a, b = _mixes(one), _mixes(seven)
        assert a.keys() == b.keys()
        for doc in a:
            assert a[doc] == pytest.approx(b[doc], abs=1e-9)
        assert one.vocabulary == seven.vocabulary == sorted(one.vocabulary)

    def test_digamma(self):
        assert digamma(1.0) == pytest.approx(-0.5772156649015329, abs=1e-12)
        assert digamma(0.5) == pytest.approx(-1.9635100260214235, abs=1e-12)
        assert digamma(10.0) == pytest.approx(2.251752589066721, abs=1e-12)
        x = np.geomspace(1e-3, 1e3, 2001)
        np.testing.assert_allclose(digamma(x + 1), digamma(x) + 1 / x, rtol=1e-12, atol=1e-11)

    @pytest.mark.parametrize("chunk_nnz", [CHUNK_NNZ, 997])
    def test_chunked_e_step_equals_per_doc_loop(self, chunk_nnz, monkeypatch):
        monkeypatch.setattr(topics, "CHUNK_NNZ", chunk_nnz)
        rng = np.random.default_rng(2)
        n_docs, per_doc, n_words, k, alpha = 1200, 60, 400, 4, 2.5
        doc = np.repeat(np.arange(n_docs, dtype=np.int32), per_doc)
        word = np.concatenate([
            np.sort(rng.choice(n_words, per_doc, replace=False)) for _ in range(n_docs)
        ]).astype(np.int32)
        cnt = rng.integers(1, 6, size=doc.size) * rng.choice([1.0, 0.5, 40.0], size=doc.size)
        assert doc.size > CHUNK_NNZ  # the default spans more than one chunk
        lam = rng.gamma(1.0, 1.0, (k, n_words))
        exp_elog_beta = np.exp(digamma(lam) - digamma(lam.sum(1))[:, None])
        gamma0 = rng.gamma(100.0, 1.0 / 100.0, (n_docs, k))

        gamma = gamma0.copy()
        sstats = e_step(doc, word, cnt, exp_elog_beta, gamma, alpha)
        want_gamma, want_sstats = _per_doc_e_step(doc, word, cnt, exp_elog_beta, gamma0, alpha)
        np.testing.assert_allclose(gamma, want_gamma, rtol=1e-8, atol=1e-8)
        np.testing.assert_allclose(sstats, want_sstats, rtol=1e-8, atol=1e-8)

    def test_job_count_does_not_grow_with_passes(self, spark):
        sc = spark.sparkContext
        events = spark.range(3000).select(
            (F.col("id") % 50).cast("string").alias("doc"),
            F.concat(F.lit("w"), ((F.col("id") * 7) % 23).cast("string")).alias("word"),
        )
        counts = corpus_counts(events, "doc", "word")
        fit_topic_model(counts, topic_count=3, seed=1, max_iter=2)  # warm-up
        jobs = {}
        for max_iter in (3, 10):
            group = f"fit-jobs-{max_iter}"
            sc.setJobGroup(group, "fit_topic_model job count")
            try:
                fit_topic_model(counts, topic_count=3, seed=1, max_iter=max_iter)
                jobs[max_iter] = len(sc.statusTracker().getJobIdsForGroup(group))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        assert jobs[3] == jobs[10] and 0 < jobs[3] <= 6, jobs


def _per_doc_e_step(doc, word, cnt, exp_elog_beta, gamma0, alpha):
    """The E-step as a plain loop over docs: the reference for the chunked,
    vectorized kernel."""
    gamma = gamma0.copy()
    sstats = np.zeros_like(exp_elog_beta)
    for d in range(gamma.shape[0]):
        sel = doc == d
        ids, cts = word[sel], cnt[sel]
        beta_d = exp_elog_beta[:, ids]
        g = gamma[d]
        for _ in range(MAX_INNER_ITER):
            theta = np.exp(digamma(g) - digamma(g.sum()))
            new = alpha + theta * (beta_d @ (cts / (theta @ beta_d + 1e-100)))
            change = np.abs(new - g).mean()
            g = new
            if change < GAMMA_TOL:
                break
        gamma[d] = g
        theta = np.exp(digamma(g) - digamma(g.sum()))
        phinorm = theta @ beta_d + 1e-100
        for w, c, p in zip(ids, cts, phinorm):
            sstats[:, w] += theta * c / p
    return gamma, sstats
