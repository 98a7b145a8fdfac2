"""Time ``topics.fit_topic_model`` on the `events` corpora, the driver-side
LDA kernel's scale check (SCALE.md, LDA row).

For each scale-factor directory given (each holding ``events.parquet``) the
script featurizes the events as the events pipeline does (exact quantile
cuts), aggregates the (user, word) corpus, caches it, runs one
warm-up fit and then times ``--repeats`` fits at k=10, 10 EM passes. With
``--synthetic-nnz N`` it also times the numpy kernel alone (``fit_lda``) on a
random corpus of N nonzeros at k=20, where the kernel exists. It reads its
inputs and writes nothing; the result is one JSON line on stdout.

Usage (from the repository root):
    python scripts/lda_scale_check.py DATA/sf0.01 DATA/sf0.1 [--synthetic-nnz 1000000]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOPICS, PASSES = 10, 10


def time_events_fit(spark, sf_dir: str, repeats: int) -> dict:
    from pyspark.sql import functions as F

    from oni_ml_spark.pipelines import events
    from oni_ml_spark.topics import corpus_counts, fit_topic_model

    featurized = events.featurize(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).withColumn("doc", F.col("user_id").cast("string"))
    counts = corpus_counts(featurized, "doc", "word").cache()
    nnz = counts.count()
    model = fit_topic_model(counts, topic_count=TOPICS, seed=0, max_iter=PASSES)  # warm-up
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fit_topic_model(counts, topic_count=TOPICS, seed=0, max_iter=PASSES)
        times.append(time.perf_counter() - t0)
    counts.unpersist()
    return {
        "sf_dir": sf_dir, "nnz": nnz, "n_docs": model.n_docs,
        "vocab_size": len(model.vocabulary), "fit_s": times,
        "fit_s_median": statistics.median(times),
    }


def time_kernel(nnz: int, topics: int = 20, passes: int = 2) -> dict:
    """Per-pass time of the numpy kernel on a random corpus: docs of 50
    uniform draws from a 10⁴-word vocabulary, counts 1-5."""
    import numpy as np

    from oni_ml_spark import topics as tm

    rng = np.random.default_rng(0)
    per_doc, n_words = 50, 10_000
    n_docs = max(nnz // per_doc, 1)
    doc = np.repeat(np.arange(n_docs, dtype=np.int32), per_doc)
    word = np.sort(rng.integers(0, n_words, (n_docs, per_doc)), axis=1).ravel().astype(np.int32)
    cnt = rng.integers(1, 6, doc.size).astype(np.float64)
    t0 = time.perf_counter()
    tm.fit_lda(doc, word, cnt, n_docs, n_words, topics, 2.5, 0, passes)
    elapsed = time.perf_counter() - t0
    return {"nnz": int(doc.size), "topics": topics, "passes": passes,
            "s_per_pass": elapsed / passes,
            "us_per_nnz_per_pass": 1e6 * elapsed / passes / doc.size}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dirs", nargs="+", help="directories holding events.parquet")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--synthetic-nnz", type=int, default=0,
                    help="also time the numpy kernel on this many random nonzeros")
    args = ap.parse_args()

    from oni_ml_spark import topics
    from oni_ml_spark.session import get_spark

    spark = get_spark("lda_scale_check")
    out = {"events": [time_events_fit(spark, d, args.repeats) for d in args.sf_dirs]}
    spark.stop()
    if args.synthetic_nnz and hasattr(topics, "fit_lda"):
        out["synthetic"] = time_kernel(args.synthetic_nnz)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
