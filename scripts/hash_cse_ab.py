#!/usr/bin/env python
"""Does HashAggregate codegen CSE the md5 subexpressions embedded in the
64 simhash sum() terms / 8 minhash min() terms, or does every aggregate
term re-evaluate its md5?  Guide §1 (measure first) + §4.1 (per-task
work): A/B the current aggregate-embedded form against an explicit
pre-aggregation projection of the hash words, on the entry's own corpus.

Usage: python scripts/hash_cse_ab.py [--sf /root/testdata/sf0.1] [--rounds 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def simhash_current(tok):
    from oni_ml_spark.datapipe.dedup import _md5_hash32

    h_lo = _md5_hash32(F.col("token"), 0)
    h_hi = _md5_hash32(F.col("token"), 1)
    contribs = [
        F.sum(
            F.when(((h_lo if b < 32 else h_hi).bitwiseAND(F.lit(1 << (b % 32)))) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    return tok.groupBy("id").agg(*contribs)


def simhash_projected(tok):
    from oni_ml_spark.datapipe.dedup import _md5_hash32

    tok = tok.select(
        "id",
        _md5_hash32(F.col("token"), 0).alias("__hlo"),
        _md5_hash32(F.col("token"), 1).alias("__hhi"),
    )
    contribs = [
        F.sum(
            F.when(
                (F.col("__hlo") if b < 32 else F.col("__hhi")).bitwiseAND(
                    F.lit(1 << (b % 32))
                )
                != 0,
                1,
            ).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    return tok.groupBy("id").agg(*contribs)


def minhash_current(sh, num_hashes=8):
    from oni_ml_spark.datapipe.dedup import minhash_hash_exprs

    hashes = minhash_hash_exprs(F.col("shingle"), num_hashes)
    mins = [F.min(h).alias(f"h{i}") for i, h in enumerate(hashes)]
    return sh.groupBy("id").agg(*mins)


def minhash_projected(sh, num_hashes=8):
    from oni_ml_spark.datapipe.dedup import minhash_hash_exprs

    hashes = minhash_hash_exprs(F.col("shingle"), num_hashes)
    sh = sh.select("id", *[h.alias(f"__h{i}") for i, h in enumerate(hashes)])
    mins = [F.min(f"__h{i}").alias(f"h{i}") for i in range(num_hashes)]
    return sh.groupBy("id").agg(*mins)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    from oni_ml_spark.datapipe.dedup import shingle_table, tokens
    from oni_ml_spark.entry_queries import _docs
    from oni_ml_spark.session import get_spark

    spark = get_spark("hash_cse_ab")
    spark.range(1000).count()

    d = _docs(spark, args.sf)
    tok = d.select(
        F.col("doc_id").alias("id"), F.explode(tokens("text")).alias("token")
    ).localCheckpoint()
    sh = shingle_table(d, "doc_id", "text", 3).localCheckpoint()
    print(f"tokens={tok.count()} shingles={sh.count()}", file=sys.stderr)

    variants = {
        "simhash_current": lambda: simhash_current(tok),
        "simhash_projected": lambda: simhash_projected(tok),
        "minhash_current": lambda: minhash_current(sh),
        "minhash_projected": lambda: minhash_projected(sh),
    }
    # correctness: projected ≡ current (order-insensitive full outer compare)
    for fam in ("simhash", "minhash"):
        a = variants[f"{fam}_current"]()
        b = variants[f"{fam}_projected"]()
        diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        print(f"{fam}: exceptAll diff rows = {diff}", file=sys.stderr)
        if diff != 0:
            raise SystemExit(f"{fam}: variants differ by {diff} rows")

    timings: dict[str, list[float]] = {k: [] for k in variants}
    for rnd in range(args.rounds):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            timings[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext._jvm.System.gc()
    import json

    print(json.dumps(timings))


if __name__ == "__main__":
    main()
