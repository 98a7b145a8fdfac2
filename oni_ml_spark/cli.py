"""Command-line entry point — argparse mirror of the reference CLI.

Reference: SuspiciousConnectsArgumentParser.scala:9-110 (scopt) dispatched by
SuspiciousConnects.scala:45-50 on --analysis {flow,dns,proxy}; shell wrapper
ml_ops.sh:5-36 supplies the same values. Defaults follow ml_ops.sh
(TOPIC_COUNT=20 at :67, DUPFACTOR=1000 at :49).

Usage:
    python -m oni_ml_spark.cli --analysis flow --input /path/day.parquet \
        --feedback /path/flow_scores.csv --dupfactor 1000 \
        --threshold 1e-20 --maxresults 20 --output /path/out
"""

from __future__ import annotations

import argparse
import math
import sys


def _positive_int(s: str) -> int:
    # LDA arguments fail at parse time, not after minutes of featurization
    # (k = 0 would divide by zero in η = 1/k)
    v = int(s)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {v}")
    return v


def _top_k(s: str) -> int:
    v = int(s)
    if v < -1:
        raise argparse.ArgumentTypeError(f"must be >= -1 (-1 = all), got {v}")
    return v


def _positive_float(s: str) -> float:
    v = float(s)
    if not (math.isfinite(v) and v > 0):
        raise argparse.ArgumentTypeError(f"must be a finite number > 0, got {s}")
    return v


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="oni_ml_spark",
        description="Suspicious-connects analysis (flow | dns | proxy), Spark-native.",
    )
    p.add_argument("--analysis", required=True, choices=["flow", "dns", "proxy"],
                   help="which data source to analyze (SuspiciousConnects.scala:45-50)")
    p.add_argument("--input", required=True,
                   help="parquet path(s) for one day of data, comma-separated")
    p.add_argument("--output", required=True, help="output directory for the scored TSV")
    p.add_argument("--feedback", default=None,
                   help="analyst feedback TSV (severity-3 rows weighted ×dupfactor)")
    p.add_argument("--dupfactor", type=_positive_int, default=1000,
                   help="weight of each severity-3 feedback row in training "
                        "(ml_ops.sh:49)")
    p.add_argument("--ldatopiccount", type=_positive_int, default=20,
                   help="LDA topic count (ml_ops.sh:67)")
    p.add_argument("--lda-alpha", type=_positive_float, default=2.5,
                   help="doc concentration (OniLDACWrapper.scala:83-84)")
    p.add_argument("--lda-maxiter", type=_positive_int, default=20,
                   help="LDA variational-EM passes")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--threshold", type=float, default=1.0,
                   help="max score to report (P4 predicate)")
    p.add_argument("--maxresults", type=_top_k, default=-1,
                   help="bottom-K size; -1 = all below threshold")
    p.add_argument("--topdomains", default=None,
                   help="Alexa-style rank,domain CSV for the top-domain flag")
    def _one_char(s: str) -> str:
        # Spark's CSV writer requires a single-character sep; fail at parse
        # time, not after minutes of featurize+LDA
        if len(s) != 1:
            raise argparse.ArgumentTypeError(
                f"delimiter must be exactly one character, got {s!r}"
            )
        return s

    p.add_argument("--delimiter", default="\t", type=_one_char,
                   help="output field delimiter, one character "
                        "(SuspiciousConnectsArgumentParser.scala:107)")
    p.add_argument("--audit", action="store_true",
                   help="print per-stage row counts (input / suspicious) to "
                        "stderr as one JSON line — measured via df.observe "
                        "during the run's own jobs, no extra scans")
    p.add_argument("--single-file", action="store_true",
                   help="coalesce the TSV to one part file")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from oni_ml_spark.io import load_top_domains, write_tsv
    from oni_ml_spark.session import get_spark
    from oni_ml_spark.transforms.feedback import load_feedback_tsv
    from oni_ml_spark import schemas

    spark = get_spark(f"suspicious_connects_{args.analysis}")
    df = spark.read.parquet(*args.input.split(","))

    audit = None
    if args.audit:
        from oni_ml_spark.plans.audit import PipelineAudit

        audit = PipelineAudit()
        df = audit.observe(df, "input")

    top_domains = (
        load_top_domains(spark, args.topdomains) if args.topdomains else []
    )

    feedback = None
    kwargs = dict(
        dup_factor=args.dupfactor,
        topic_count=args.ldatopiccount,
        doc_concentration=args.lda_alpha,
        threshold=args.threshold,
        top_k=args.maxresults,
        seed=args.seed,
        max_iter=args.lda_maxiter,
    )

    if args.analysis == "flow":
        from oni_ml_spark.pipelines import flow as pipe

        if args.feedback:
            from oni_ml_spark.transforms.feedback import flow_feedback_to_raw

            feedback = flow_feedback_to_raw(
                load_feedback_tsv(spark, args.feedback, schemas.FLOW_FEEDBACK_COLUMNS)
            )
        result = pipe.run(df, feedback, **kwargs)
    elif args.analysis == "dns":
        from oni_ml_spark.pipelines import dns as pipe

        if args.feedback:
            feedback = load_feedback_tsv(spark, args.feedback, schemas.DNS_FEEDBACK_COLUMNS)
        result = pipe.run(df, feedback, top_domains=top_domains, **kwargs)
    else:
        from oni_ml_spark.pipelines import proxy as pipe

        if args.feedback:
            feedback = load_feedback_tsv(spark, args.feedback, schemas.PROXY_FEEDBACK_COLUMNS)
        result = pipe.run(df, feedback, top_domains=top_domains, **kwargs)

    suspicious = result.suspicious
    if audit is not None:
        suspicious = audit.observe(suspicious, "suspicious")
    try:
        write_tsv(
            suspicious, args.output,
            single_file=args.single_file, delimiter=args.delimiter,
        )
    finally:
        # a later analysis in the same session must not be served this
        # one's cached frames (stale if the input files were rewritten)
        result.release()
    if audit is not None:
        import json as _json
        import sys as _sys

        print("AUDIT " + _json.dumps(audit.report()), file=_sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
