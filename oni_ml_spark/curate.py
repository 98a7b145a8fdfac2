"""Training-data curation CLI — the one-command front door to the
``datapipe`` stack, the way ``oni_ml_spark.cli`` is the front door to the
suspicious-connects analyses:

    python -m oni_ml_spark.curate --input /data/raw.parquet \
        --output /data/curated \
        --c4-clean --eval /data/benchmarks.parquet \
        --model /models/quality_weights.parquet --shuffle-seed 0

Stage order (the production curation order; every stage optional by flag):

1. C4 line cleaning (``textstats.line_filter`` — boilerplate lines out,
   optional within-doc line dedup), documents left with zero kept lines
   dropped;
2. Gopher rule gate (``textstats.quality_filter``);
3. near-duplicate removal (``dedup.near_dup_clusters`` — MinHash bands →
   exact-Jaccard verify → connected components of the verified pairs,
   collected and labelled on the driver; cluster-smallest id survives);
4. benchmark decontamination (``textstats.remove_contaminated`` — strict
   raw-count policy against the eval corpus's distinct shingle set);
5. model-based quality gate (``classify.hashed_linear_score`` under a
   frozen (bucket, w_micro) parquet model + threshold);
6. deterministic shuffle (``sampling.deterministic_shuffle`` — seeded,
   engine-portable training order).

Scale shape: every stage boundary is pinned with ``localCheckpoint`` —
the near-dup and decontamination stages each scan their input several
times internally (MinHash signatures, LSH bands and Jaccard verify over
one cached shingle table; two shingle passes), so an unpinned chain
would re-run the whole upstream pipeline per internal pass (a dedup →
chunk → pack chain measured 51 s → 4 s from exactly this pin at sf0.1;
on a real cluster use the same boundaries with ``persist(DISK_ONLY)``).
Each stage's count is an ``Observation`` on the frame being pinned, so
it costs no job of its own.  The report lands under
``<output>/_curation_report`` (underscore-hidden from parquet discovery
of the curated data), built from an Arrow table so that no Python worker
starts, and is printed as one JSON line.

Crash-resume (r12): with ``--resume-dir`` each stage's survivor frame is
persisted as parquet under the resume dir and sealed with a marker file
(written tmp→rename AFTER the data lands, so a crash can never leave a
marker without its data).  A rerun skips every leading stage whose
marker matches the run's chained config fingerprint and recomputes from
the first miss onward — at 100 TB a crash in stage 5 of 6 costs one
stage, not a day.  Markers chain: each stage's fingerprint folds in all
upstream stage configs, so changing any earlier flag invalidates
everything downstream automatically.  Resume only ever skips a PREFIX —
once one stage recomputes, later markers are ignored (and overwritten).

Multimodal corpora note: the header sniffer classifies by magic bytes;
plain text that literally starts with ``GIF87a``/``GIF89a`` (the one
all-ASCII image magic with no structural discriminator) is classified as
GIF — the same call libmagic makes.  If such prose exists in a mixed
corpus, route the decode stage through an explicit
``extract_media_metadata(decoder=...)`` instead of the default sniffer.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from oni_ml_spark.cli import _positive_int


def _jaccard_threshold(s: str) -> float:
    v = float(s)
    if not 0 < v <= 1:
        raise argparse.ArgumentTypeError(f"must be in (0, 1], got {s}")
    return v


class _Parser(argparse.ArgumentParser):
    # the LSH band layout fails at parse time, not when stage 3 is built
    # after the input scan and the quality gate
    def parse_known_args(self, args=None, namespace=None):
        ns, rest = super().parse_known_args(args, namespace)
        if ns.dedup_hashes % ns.dedup_bands:
            self.error(
                f"--dedup-bands ({ns.dedup_bands}) must divide "
                f"--dedup-hashes ({ns.dedup_hashes})"
            )
        return ns, rest


def build_parser() -> argparse.ArgumentParser:
    p = _Parser(
        prog="oni_ml_spark.curate",
        description="End-to-end training-data curation (clean -> gate -> "
                    "dedup -> decontaminate -> model gate -> shuffle).",
    )
    p.add_argument("--input", required=True,
                   help="parquet path(s) of the raw corpus, comma-separated")
    p.add_argument("--output", required=True,
                   help="output directory for the curated parquet")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    # stage 1: C4 line cleaning
    p.add_argument("--c4-clean", action="store_true",
                   help="apply C4-style line cleaning before the gates")
    p.add_argument("--c4-min-words", type=int, default=3)
    p.add_argument("--c4-dedup-lines", action="store_true",
                   help="also drop within-document repeated lines")
    p.add_argument("--c4-no-terminal-punct", action="store_true",
                   help="keep lines without sentence-final punctuation "
                        "(non-prose corpora: code, logs, titles)")
    # stage 2: Gopher rules
    p.add_argument("--skip-quality", action="store_true")
    p.add_argument("--min-tokens", type=int, default=50)
    p.add_argument("--max-tokens", type=int, default=100_000)
    p.add_argument("--min-mean-token-len", type=float, default=3.0)
    p.add_argument("--max-mean-token-len", type=float, default=10.0)
    p.add_argument("--min-stopword-hits", type=int, default=2)
    # within-document repetition rules (r11): OFF unless a threshold is
    # given; Gopher's paper values are 0.30 (unit fractions) / 0.20
    # (character fractions)
    p.add_argument("--max-dup-line-frac", type=float, default=None)
    p.add_argument("--max-dup-line-char-frac", type=float, default=None)
    p.add_argument("--max-dup-para-frac", type=float, default=None)
    p.add_argument("--max-dup-para-char-frac", type=float, default=None)
    # stage 3: near-dup removal
    p.add_argument("--skip-dedup", action="store_true")
    p.add_argument("--dedup-threshold", type=_jaccard_threshold, default=0.7,
                   help="Jaccard threshold for near-duplicate pairs")
    p.add_argument("--dedup-ngram", type=_positive_int, default=3)
    p.add_argument("--dedup-hashes", type=_positive_int, default=16)
    p.add_argument("--dedup-bands", type=_positive_int, default=4)
    # stage 4: decontamination
    p.add_argument("--eval", default=None,
                   help="parquet path of the evaluation corpus to "
                        "decontaminate against (omit to skip)")
    p.add_argument("--eval-text-col", default=None,
                   help="eval corpus text column (defaults to --text-col)")
    p.add_argument("--decon-ngram", type=_positive_int, default=8)
    p.add_argument("--max-contamination", type=float, default=0.0)
    # stage 5: model gate
    p.add_argument("--model", default=None,
                   help="parquet path of frozen (bucket, w_micro) weights "
                        "(train_hashed_linear output; omit to skip)")
    p.add_argument("--n-buckets", type=_positive_int, default=4096)
    p.add_argument("--model-threshold", type=float, default=0.0,
                   help="keep documents with model score >= this")
    p.add_argument("--model-bias-micro", type=int, default=0)
    # stage 6: output order
    p.add_argument("--shuffle-seed", type=int, default=None,
                   help="deterministic training-order shuffle seed "
                        "(omit for input order)")
    p.add_argument("--single-file", action="store_true",
                   help="coalesce(1) before writing (small outputs only)")
    # crash-resume (r12)
    p.add_argument("--resume-dir", default=None,
                   help="directory for per-stage survivor parquet + "
                        "markers; a rerun with the same config skips "
                        "every stage already sealed there")
    return p


def _stage_fingerprint(prev_fp: str, cfg: dict) -> str:
    import hashlib

    blob = prev_fp + json.dumps(cfg, sort_keys=True, default=str)
    return hashlib.md5(blob.encode("utf-8")).hexdigest()


def _engine_fingerprint() -> str:
    """md5 over the SOURCE of every module implementing curation stages.
    Folded into the resume chain's base so sealed survivors computed by
    an older implementation are invalidated by ANY stage-code change —
    resume is crash recovery within one code version, never a license to
    stitch old-semantics survivors into new-semantics stages."""
    import hashlib
    import inspect

    from oni_ml_spark.datapipe import classify, dedup, sampling, textstats

    h = hashlib.md5()
    for mod in (classify, dedup, sampling, textstats):
        h.update(inspect.getsource(mod).encode("utf-8"))
    return h.hexdigest()


class _StageLedger:
    """Crash-resume bookkeeping for the curation stages (r12).

    When ``root`` is set: each completed stage's survivors persist as
    parquet under ``<root>/<NN>_<stage>`` and are sealed by
    ``<root>/_stage_<NN>_<stage>.json`` (tmp→rename, written only after
    the parquet landed — a crash can leave data without a marker, never
    the reverse).  ``lookup`` skips a stage only while the run is still on
    the sealed PREFIX: the first miss (or fingerprint mismatch, from a
    changed flag) flips ``live`` off and every later stage recomputes and
    reseals.  Reading survivors back from parquet doubles as the stage
    pin (replaces localCheckpoint on the resume path).

    When ``root`` is None the ledger is inert and stages pin with
    ``localCheckpoint`` exactly as before."""

    def __init__(self, spark, root: str | None):
        self.spark = spark
        self.root = root
        self.live = root is not None  # still walking the sealed prefix?
        self.ordinal = 0
        if root is not None:
            from oni_ml_spark.plans.compaction import _fs

            self.fs, _, self.jvm = _fs(spark, root)
            self.fs.mkdirs(self.jvm.org.apache.hadoop.fs.Path(root))

    def _paths(self, stage: str) -> tuple[str, str]:
        tag = f"{self.ordinal:02d}_{stage}"
        return f"{self.root}/{tag}", f"{self.root}/_stage_{tag}.json"

    def lookup(self, stage: str, fp: str, with_data: bool = True):
        """(skip?, frame, n_docs) — frame/n from the sealed marker when the
        stage can be skipped."""
        if self.root is None or not self.live:
            return (False, None, 0)
        from oni_ml_spark.plans.compaction import _read_text

        data_path, marker = self._paths(stage)
        jp = self.jvm.org.apache.hadoop.fs.Path
        if not self.fs.exists(jp(marker)):
            self.live = False
            return (False, None, 0)
        try:
            m = json.loads(_read_text(self.fs, self.jvm, marker))
        except Exception:  # noqa: BLE001 — truncated JSON, Hadoop checksum
            # mismatch (Py4JJavaError), any unreadable seal: the stage is
            # NOT-DONE, never a crash — recompute from here
            self.live = False
            return (False, None, 0)
        if m.get("fingerprint") != fp or (
            with_data and not self.fs.exists(jp(f"{data_path}/_SUCCESS"))
        ):
            self.live = False
            return (False, None, 0)
        frame = self.spark.read.parquet(data_path) if with_data else None
        return (True, frame, int(m["n_docs"]))

    def persist(self, stage: str, frame):
        """Land a computed stage's survivors as parquet (no marker yet —
        a crash here leaves data without its seal, which lookup treats
        as not-done).  Returns the parquet-backed frame."""
        data_path, _ = self._paths(stage)
        frame.write.mode("overwrite").parquet(data_path)
        return self.spark.read.parquet(data_path)

    def seal(self, stage: str, fp: str, n_docs: int) -> None:
        """Write the stage marker (tmp→rename) — ONLY after the stage's
        data and count are final; the marker is the commit point."""
        from oni_ml_spark.plans.compaction import _move, _write_text

        _, marker = self._paths(stage)
        _write_text(
            self.fs, self.jvm, marker + ".tmp",
            json.dumps({"stage": stage, "ordinal": self.ordinal,
                        "fingerprint": fp, "n_docs": int(n_docs)}),
        )
        # a recompute reseals over an invalidated marker: Hadoop rename
        # refuses to clobber, so drop the stale seal first (the window
        # with no marker is safe — lookup treats it as not-done)
        jmarker = self.jvm.org.apache.hadoop.fs.Path(marker)
        if self.fs.exists(jmarker):
            self.fs.delete(jmarker, False)
        _move(self.fs, self.jvm, marker + ".tmp", marker)


def run(spark, args) -> dict:
    """The curation flow on an existing session; returns the stage report
    (also written under <output>/_curation_report)."""
    import pyarrow as pa
    from pyspark.sql import Observation

    from oni_ml_spark.datapipe.classify import hashed_linear_score, quality_flags
    from oni_ml_spark.datapipe.dedup import near_dup_clusters
    from oni_ml_spark.datapipe.sampling import deterministic_shuffle
    from oni_ml_spark.datapipe.textstats import (
        line_filter,
        quality_filter,
        remove_contaminated,
    )

    id_col, text_col = args.id_col, args.text_col
    df = spark.read.parquet(*args.input.split(","))
    for c in (id_col, text_col):
        if c not in df.columns:
            raise SystemExit(f"curate: input lacks column {c!r}")

    report: dict[str, int] = {}
    ledger = _StageLedger(spark, getattr(args, "resume_dir", None))
    fp = _stage_fingerprint(
        _engine_fingerprint() if ledger.root is not None else "",
        {"input": args.input, "id_col": id_col, "text_col": text_col},
    )

    def counted(stage: str, cfg: dict, builder):
        """Advance one stage: skip from the ledger's sealed prefix when the
        chained fingerprint matches, else compute, count, and seal.  The
        stage boundary is pinned either way — by the survivor parquet on
        the resume path, by localCheckpoint otherwise (downstream stages
        scan their input several times internally) — and the count is
        observed by the job that pins it."""
        nonlocal fp
        ledger.ordinal += 1
        fp = _stage_fingerprint(fp, cfg)
        skip, frame, n = ledger.lookup(stage, fp)
        if skip:
            report[stage] = n
            return frame
        obs = Observation()
        frame = builder().observe(obs, F.count(F.lit(1)).alias("n"))
        if ledger.root is None:
            frame = frame.localCheckpoint()
            report[stage] = obs.get["n"]
            return frame
        frame = ledger.persist(stage, frame)   # data lands first
        report[stage] = n = obs.get["n"]
        ledger.seal(stage, fp, n)              # marker is the commit point
        return frame

    # stage 0 — id hygiene: every stage is an equi-join / per-id aggregate
    # on id_col, so a duplicate id would FAN OUT multiplicatively through
    # five joins (fabricated row combinations, inflated stage counts) and
    # a null id would vanish at the first join — refuse, offenders named.
    # On resume the sealed marker proves the scan already passed; the
    # input itself is durable parquet, so only the count is recorded.
    ledger.ordinal += 1
    fp = _stage_fingerprint(fp, {"stage": "input"})
    skip, _, n = ledger.lookup("input", fp, with_data=False)
    if skip:
        report["input"] = n
        # lazy pin: if every later stage also skips, the raw input is
        # never scanned at all; if one recomputes, the pin kicks in then
        df = df.localCheckpoint(eager=False)
    else:
        idstats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(id_col)).alias("nd"),
            F.sum(F.col(id_col).isNull().cast("long")).alias("nulls"),
        ).first()
        if idstats["nulls"]:
            raise SystemExit(
                f"curate: input has {idstats['nulls']} null {id_col} row(s) — "
                "every stage joins on the id; null-id rows would silently vanish"
            )
        if idstats["nd"] != idstats["n"]:
            raise SystemExit(
                f"curate: {id_col} is not unique ({idstats['n']} rows, "
                f"{idstats['nd']} distinct) — duplicate ids would fan out "
                "multiplicatively through the stage joins"
            )
        df = df.localCheckpoint()
        report["input"] = idstats["n"]
        if ledger.root is not None:
            ledger.seal("input", fp, idstats["n"])

    if args.c4_clean:
        def _c4(df=df):
            cleaned = line_filter(
                df, id_col, text_col,
                min_words=args.c4_min_words,
                require_terminal_punct=not args.c4_no_terminal_punct,
                dedup_lines=args.c4_dedup_lines,
            ).filter(F.col("n_kept") > 0)
            return df.drop(text_col).join(
                cleaned.select(
                    F.col("id").alias(id_col), F.col("text").alias(text_col)
                ),
                id_col,
            )

        df = counted(
            "after_c4_clean",
            {"min_words": args.c4_min_words,
             "terminal_punct": not args.c4_no_terminal_punct,
             "dedup_lines": args.c4_dedup_lines},
            _c4,
        )

    if not args.skip_quality:
        def _quality(df=df):
            gate = quality_filter(
                df, id_col, text_col,
                min_tokens=args.min_tokens,
                max_tokens=args.max_tokens,
                min_mean_token_len=args.min_mean_token_len,
                max_mean_token_len=args.max_mean_token_len,
                min_stopword_hits=args.min_stopword_hits,
                max_dup_line_frac=args.max_dup_line_frac,
                max_dup_line_char_frac=args.max_dup_line_char_frac,
                max_dup_para_frac=args.max_dup_para_frac,
                max_dup_para_char_frac=args.max_dup_para_char_frac,
            )
            return df.join(
                gate.filter("passes").select(F.col("id").alias(id_col)), id_col
            )

        df = counted(
            "after_quality_gate",
            {"min_tokens": args.min_tokens, "max_tokens": args.max_tokens,
             "min_mean_token_len": args.min_mean_token_len,
             "max_mean_token_len": args.max_mean_token_len,
             "min_stopword_hits": args.min_stopword_hits,
             "max_dup_line_frac": args.max_dup_line_frac,
             "max_dup_line_char_frac": args.max_dup_line_char_frac,
             "max_dup_para_frac": args.max_dup_para_frac,
             "max_dup_para_char_frac": args.max_dup_para_char_frac},
            _quality,
        )

    if not args.skip_dedup:
        def _dedup(df=df):
            clusters = near_dup_clusters(
                df, id_col, text_col,
                n=args.dedup_ngram,
                num_hashes=args.dedup_hashes,
                bands=args.dedup_bands,
                threshold=args.dedup_threshold,
            )
            return df.join(
                clusters.filter("keep").select(F.col("id").alias(id_col)), id_col
            )

        df = counted(
            "after_near_dup",
            {"n": args.dedup_ngram, "num_hashes": args.dedup_hashes,
             "bands": args.dedup_bands, "threshold": args.dedup_threshold},
            _dedup,
        )

    if args.eval:
        def _decon(df=df):
            eval_df = spark.read.parquet(*args.eval.split(","))
            return remove_contaminated(
                df, eval_df, id_col, text_col,
                eval_text_col=args.eval_text_col or text_col,
                n=args.decon_ngram,
                max_contamination=args.max_contamination,
            )

        df = counted(
            "after_decontamination",
            {"eval": args.eval, "eval_text_col": args.eval_text_col,
             "n": args.decon_ngram,
             "max_contamination": args.max_contamination},
            _decon,
        )

    if args.model:
        def _model(df=df):
            weights = spark.read.parquet(args.model)
            scored = quality_flags(
                hashed_linear_score(
                    df, id_col, text_col, weights, args.n_buckets,
                    bias_micro=args.model_bias_micro,
                ),
                args.model_threshold,
            )
            return df.join(
                scored.filter("passes").select(F.col("id").alias(id_col)), id_col
            )

        df = counted(
            "after_model_gate",
            {"model": args.model, "n_buckets": args.n_buckets,
             "threshold": args.model_threshold,
             "bias_micro": args.model_bias_micro},
            _model,
        )

    if args.shuffle_seed is not None:
        df = deterministic_shuffle(df, id_col, seed=args.shuffle_seed)
    if args.single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").parquet(args.output)

    # built from Arrow, the report plans as a local relation; from a list
    # of tuples it would go through a Python RDD and fork Python workers
    spark.createDataFrame(pa.table({
        "stage": pa.array(list(report), pa.string()),
        "n_docs": pa.array(list(report.values()), pa.int64()),
    })).coalesce(1).write.mode("overwrite").parquet(
        f"{args.output}/_curation_report"
    )
    report["output"] = args.output
    return report


def main(argv: list[str] | None = None) -> int:
    from oni_ml_spark.session import get_spark

    args = build_parser().parse_args(argv)
    spark = get_spark("oni_ml_spark_curate")
    report = run(spark, args)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
