"""CLI smoke test: the flow analysis end-to-end through the argparse entry
point, reading parquet input and writing a scored TSV."""

from __future__ import annotations

import glob

import pytest

from oni_ml_spark.cli import build_parser, main
from tests.conftest import SF_DIR
from tests.test_pipelines import _dns_fixture, _flow_fixture


def test_parser_defaults():
    args = build_parser().parse_args(
        ["--analysis", "flow", "--input", "/x", "--output", "/y"]
    )
    assert args.dupfactor == 1000      # ml_ops.sh:49
    assert args.ldatopiccount == 20    # ml_ops.sh:67
    assert args.maxresults == -1


@pytest.mark.parametrize("bad", [
    ["--ldatopiccount", "0"], ["--ldatopiccount", "-3"],
    ["--lda-maxiter", "0"],
    ["--lda-alpha", "0"], ["--lda-alpha", "-1.5"], ["--lda-alpha", "nan"],
])
def test_parser_rejects_bad_lda_arguments(bad):
    # rejected at parse time, before any Spark work (k = 0 would divide by
    # zero in the topic-word prior η = 1/k)
    with pytest.raises(SystemExit):
        build_parser().parse_args(
            ["--analysis", "flow", "--input", "/x", "--output", "/y", *bad]
        )


@pytest.mark.parametrize("bad", [
    # the reference's List.fill(0) drops the feedback; weight 1 is not that
    ["--dupfactor", "0"], ["--dupfactor", "-1"],
    ["--maxresults", "-2"],
])
def test_parser_rejects_bad_analysis_arguments(bad):
    with pytest.raises(SystemExit):
        build_parser().parse_args(
            ["--analysis", "flow", "--input", "/x", "--output", "/y", *bad]
        )


@pytest.mark.parametrize("bad", [
    ["--dedup-hashes", "16", "--dedup-bands", "5"],
    ["--dedup-hashes", "0"], ["--dedup-bands", "0"], ["--dedup-ngram", "0"],
    ["--decon-ngram", "-1"], ["--n-buckets", "0"],
    ["--dedup-threshold", "0"], ["--dedup-threshold", "1.5"],
    ["--dedup-threshold", "nan"],
])
def test_curate_parser_rejects_bad_arguments(bad):
    # rejected before the input scan and the quality gate run
    from oni_ml_spark.curate import build_parser as curate_parser

    with pytest.raises(SystemExit):
        curate_parser().parse_args(["--input", "/x", "--output", "/y", *bad])


def test_curate_parser_accepts_the_edges():
    from oni_ml_spark.curate import build_parser as curate_parser

    args = curate_parser().parse_args(
        ["--input", "/x", "--output", "/y", "--dedup-hashes", "15",
         "--dedup-bands", "5", "--dedup-threshold", "1"]
    )
    assert (args.dedup_hashes, args.dedup_bands, args.dedup_threshold) == (15, 5, 1.0)
    assert build_parser().parse_args(
        ["--analysis", "dns", "--input", "/x", "--output", "/y",
         "--dupfactor", "1", "--maxresults", "-1"]
    ).dupfactor == 1


def test_flow_cli_end_to_end(spark, tmp_path):
    inp = str(tmp_path / "flow.parquet")
    out = str(tmp_path / "out")
    _flow_fixture(spark, n_common=300, n_rare=2).write.parquet(inp)

    rc = main(
        [
            "--analysis", "flow", "--input", inp, "--output", out,
            "--ldatopiccount", "3", "--lda-maxiter", "3",
            "--maxresults", "20", "--single-file",
            "--delimiter", ",",
        ]
    )
    assert rc == 0
    parts = glob.glob(f"{out}/part-*.csv")
    assert len(parts) == 1
    lines = open(parts[0]).read().strip().splitlines()
    assert 0 < len(lines) <= 20
    # --delimiter , (SuspiciousConnectsArgumentParser.scala:107): comma-
    # delimited output, no stray tabs
    assert all("," in ln and "\t" not in ln for ln in lines)


def test_cli_releases_what_the_analysis_cached(spark, tmp_path):
    """cli.main unpersists every frame its pipeline cached, so a later
    analysis in the same session is never served this one's (possibly
    stale) frames: the persistent-RDD count is back where it started."""
    inp = str(tmp_path / "flow.parquet")
    _flow_fixture(spark, n_common=200, n_rare=2).write.parquet(inp)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rc = main(
        ["--analysis", "flow", "--input", inp, "--output", str(tmp_path / "out"),
         "--ldatopiccount", "3", "--lda-maxiter", "3", "--maxresults", "5"]
    )
    assert rc == 0
    assert jsc.getPersistentRDDs().size() == before


def test_curate_releases_what_the_run_cached(spark, tmp_path):
    """curate.run leaves nothing in the cache manager: the shingle table
    the near-dup stage caches is released once its pairs are collected, so
    repeated curations in one session do not pile up cached frames."""
    from oni_ml_spark.curate import build_parser as curate_parser
    from oni_ml_spark.curate import run as curate_run

    spark.catalog.clearCache()
    args = curate_parser().parse_args([
        "--input", f"{SF_DIR}/documents.parquet",
        "--output", str(tmp_path / "curated"),
        "--min-tokens", "10", "--dedup-threshold", "0.5",
    ])
    report = curate_run(spark, args)
    assert report["after_near_dup"] < report["after_quality_gate"]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_cli_empty_dns_day(spark, tmp_path):
    """A day with no records exits 0 with an empty TSV, without the
    divide-by-zero ψ(0) of an E-step over nothing."""
    inp = str(tmp_path / "dns.parquet")
    out = tmp_path / "out"
    _dns_fixture(spark, n_common=10, n_rare=1).limit(0).write.parquet(inp)
    rc = main(["--analysis", "dns", "--input", inp, "--output", str(out),
               "--ldatopiccount", "3", "--lda-maxiter", "3", "--maxresults", "5"])
    assert rc == 0
    assert (out / "_SUCCESS").exists()
    assert all(p.read_text() == "" for p in out.glob("part-*"))


@pytest.mark.slow  # r13 budget: feedback oversampling covered by test_pipelines TestFeedbackLoop; flow CLI e2e by test_flow_cli_end_to_end
def test_flow_cli_with_feedback(spark, tmp_path):
    """The --feedback path end-to-end: feedback TSV in the reference layout
    is mapped onto raw columns, weighted ×dupfactor, and trains without
    error."""
    inp = str(tmp_path / "flow_fb.parquet")
    out = str(tmp_path / "out_fb")
    _flow_fixture(spark, n_common=300, n_rare=2).write.parquet(inp)

    fb = tmp_path / "flow_scores.tsv"
    header = "\t".join(
        ["sev", "tstart", "srcIP", "dstIP", "sport", "dport", "proto", "flag",
         "ipkt", "ibyt", "lda_score", "rank", "srcIpInternal", "destIpInternal",
         "srcGeo", "dstGeo", "srcDomain", "dstDomain", "srcIP_rep", "dstIP_rep",
         "gti_srcIP_rep", "gti_dstIP_rep"]
    )
    row = "\t".join(
        ["3", "2024-01-01 03:13:00", "10.0.0.1", "10.0.1.2", "50001", "6667",
         "TCP", ".AP...", "999999", "99999999", "0.001", "1", "Y", "Y",
         "US", "US", "-", "-", "0", "0", "0", "0"]
    )
    fb.write_text(header + "\n" + row + "\n")

    rc = main(
        ["--analysis", "flow", "--input", inp, "--output", out,
         "--feedback", str(fb), "--dupfactor", "50",
         "--ldatopiccount", "3", "--lda-maxiter", "3", "--lda-alpha", "1.5",
         "--maxresults", "10", "--single-file"]
    )
    assert rc == 0
    parts = glob.glob(f"{out}/part-*.csv")
    lines = open(parts[0]).read().strip().splitlines()
    assert 0 < len(lines) <= 10


@pytest.mark.slow  # r13 budget: audit path covered by the unmarked CLI e2e parse/flag unit tests
def test_flow_cli_audit_flag(spark, tmp_path, capsys):
    """--audit prints one AUDIT JSON line to stderr with input/suspicious
    row counts measured via df.observe — no extra scans of the input."""
    import json

    inp = str(tmp_path / "flow.parquet")
    out = str(tmp_path / "out")
    _flow_fixture(spark, n_common=300, n_rare=2).write.parquet(inp)

    rc = main(
        [
            "--analysis", "flow", "--input", inp, "--output", out,
            "--ldatopiccount", "3", "--lda-maxiter", "3",
            "--maxresults", "10", "--single-file",
            "--audit",
        ]
    )
    assert rc == 0
    err = capsys.readouterr().err
    line = next(ln for ln in err.splitlines() if ln.startswith("AUDIT "))
    rep = json.loads(line[len("AUDIT "):])
    assert rep["input"]["n_rows"] == 302
    assert 0 < rep["suspicious"]["n_rows"] <= 10


@pytest.mark.slow  # r13 budget: curate stages covered per-operator in test_datapipe/test_chunking; CLI wiring by test_curate_cli_* unit parses
def test_curate_cli_end_to_end(spark, tmp_path, capsys):
    """(r10) the curation CLI: every stage live (C4 clean, Gopher gate,
    near-dup removal, decontamination, model gate, deterministic
    shuffle), monotone non-increasing stage counts, the report readable
    from _curation_report, the curated parquet hidden from none of it,
    and the shuffle reproducible run-over-run."""
    import json as _json

    from oni_ml_spark.curate import main as curate_main
    from oni_ml_spark.datapipe.classify import demo_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "raw.parquet")
    docs.write.parquet(inp)
    # eval corpus: 20 of the training docs verbatim — decontamination must
    # remove their training twins (plus any doc sharing an 8-gram)
    evalp = str(tmp_path / "eval.parquet")
    docs.filter("doc_id % 25 = 0").write.parquet(evalp)
    modelp = str(tmp_path / "model.parquet")
    demo_weights(spark).write.parquet(modelp)
    out = str(tmp_path / "curated")

    rc = curate_main([
        "--input", inp, "--output", out,
        "--c4-clean", "--c4-no-terminal-punct",
        "--min-tokens", "10",
        "--dedup-threshold", "0.5",
        "--eval", evalp,
        "--model", modelp, "--model-threshold", "-100.0",
        "--shuffle-seed", "7", "--single-file",
    ])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = ["input", "after_c4_clean", "after_quality_gate",
              "after_near_dup", "after_decontamination", "after_model_gate"]
    assert list(report)[:6] == stages
    counts = [report[s] for s in stages]
    assert counts[0] == 500
    assert all(a >= b for a, b in zip(counts, counts[1:]))  # monotone
    assert counts[-1] > 0
    # decontamination removed at least the eval docs' training twins
    assert report["after_decontamination"] < report["after_near_dup"]

    curated = spark.read.parquet(out)
    assert curated.count() == counts[-1]
    assert set(docs.columns) == set(curated.columns)
    # no eval doc survived
    surviving = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert not any(i % 25 == 0 for i in surviving)

    # stage report persisted next to (but hidden from) the data
    rep_df = spark.read.parquet(f"{out}/_curation_report")
    persisted = {r["stage"]: r["n_docs"] for r in rep_df.collect()}
    assert persisted == {s: report[s] for s in stages}

    # deterministic: same seed -> byte-identical order
    out2 = str(tmp_path / "curated2")
    rc2 = curate_main([
        "--input", inp, "--output", out2,
        "--c4-clean", "--c4-no-terminal-punct",
        "--min-tokens", "10",
        "--dedup-threshold", "0.5",
        "--eval", evalp,
        "--model", modelp, "--model-threshold", "-100.0",
        "--shuffle-seed", "7", "--single-file",
    ])
    assert rc2 == 0
    a = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    b = [r["doc_id"] for r in spark.read.parquet(out2).collect()]
    assert a == b

    # missing column fails fast
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="lacks column"):
        curate_main(["--input", inp, "--output", out, "--id-col", "nope"])


@pytest.mark.slow  # r13 budget: repetition gate logic covered in test_line_filter/test_datapipe
def test_curate_cli_repetition_gate(spark, tmp_path, capsys):
    """(r11) the --max-dup-* flags arm Gopher's within-document repetition
    rules in the curation gate: a planted looping document is removed,
    the same corpus without the flags keeps it."""
    import json as _json

    from oni_ml_spark.curate import main as curate_main

    clean = "the cat and the dog ran off to the park with all of the dogs"
    rows = [(i, f"{clean} variation {i} " + "every single day without fail")
            for i in range(20)]
    rows.append((99, "\n".join([clean] * 12)))  # the looping doc
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "raw")
    )

    def run(extra):
        out = str(tmp_path / f"out{len(extra)}")
        rc = curate_main([
            "--input", str(tmp_path / "raw"), "--output", out,
            "--min-tokens", "10", "--skip-dedup", "--single-file", *extra,
        ])
        assert rc == 0
        _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    unarmed = run([])
    assert 99 in unarmed
    armed = run(["--max-dup-line-frac", "0.30",
                 "--max-dup-line-char-frac", "0.20"])
    assert 99 not in armed
    assert armed == unarmed - {99}


@pytest.mark.slow  # r13 budget: resume manifest logic covered by test_storage/test_incremental unit tests
def test_curate_cli_crash_resume(spark, tmp_path, capsys, monkeypatch):
    """(r12) crash-resume: a crash mid-pipeline leaves sealed per-stage
    survivors under --resume-dir; the rerun SKIPS every sealed stage
    (proven by poisoning the skipped stages' functions — they would raise
    if called), completes, and produces a report and final training order
    byte-identical to an uncrashed reference run.  A changed stage flag
    invalidates that stage and everything downstream via the chained
    fingerprint."""
    import json as _json

    import pytest as _pytest

    import oni_ml_spark.datapipe.dedup as dedup_mod
    import oni_ml_spark.datapipe.textstats as textstats_mod
    from oni_ml_spark.curate import main as curate_main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "raw.parquet")
    docs.write.parquet(inp)

    def flags(out, extra=()):
        return [
            "--input", inp, "--output", out,
            "--c4-clean", "--c4-no-terminal-punct",
            "--min-tokens", "10", "--dedup-threshold", "0.5",
            "--shuffle-seed", "7", "--single-file", *extra,
        ]

    def last_report():
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # uncrashed reference (no resume dir)
    ref_out = str(tmp_path / "ref")
    assert curate_main(flags(ref_out)) == 0
    ref_report = last_report()
    ref_order = [r["doc_id"] for r in spark.read.parquet(ref_out).collect()]

    # run 1: crash INSIDE the near-dup stage, after c4+quality sealed
    resume = str(tmp_path / "resume")
    out = str(tmp_path / "curated")

    def boom(*a, **k):
        raise RuntimeError("synthetic stage-3 crash")

    monkeypatch.setattr(dedup_mod, "near_dup_clusters", boom)
    with _pytest.raises(RuntimeError, match="synthetic stage-3"):
        curate_main(flags(out, ["--resume-dir", resume]))
    monkeypatch.undo()
    capsys.readouterr()
    sealed = sorted(p.name for p in (tmp_path / "resume").glob("_stage_*"))
    assert sealed == [
        "_stage_01_input.json", "_stage_02_after_c4_clean.json",
        "_stage_03_after_quality_gate.json",
    ]

    # run 2: rerun with stages 1-3's functions POISONED — they must never
    # be called (sealed prefix skips them); the run completes and matches
    # the uncrashed reference byte-for-byte
    monkeypatch.setattr(textstats_mod, "line_filter", boom)
    monkeypatch.setattr(textstats_mod, "quality_filter", boom)
    assert curate_main(flags(out, ["--resume-dir", resume])) == 0
    monkeypatch.undo()
    report = last_report()
    assert {k: report[k] for k in ref_report if k != "output"} == {
        k: ref_report[k] for k in ref_report if k != "output"
    }
    got_order = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    assert got_order == ref_order
    # the near-dup stage is now sealed too
    assert (tmp_path / "resume" / "_stage_04_after_near_dup.json").exists()

    # run 3: full-skip rerun — every stage sealed, still byte-identical
    monkeypatch.setattr(textstats_mod, "line_filter", boom)
    monkeypatch.setattr(textstats_mod, "quality_filter", boom)
    monkeypatch.setattr(dedup_mod, "near_dup_clusters", boom)
    assert curate_main(flags(out, ["--resume-dir", resume])) == 0
    monkeypatch.undo()
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == ref_order

    # run 4: a changed quality flag invalidates stage 2 and everything
    # after it (chained fingerprint) while stage 1 still skips
    monkeypatch.setattr(textstats_mod, "line_filter", boom)  # stage 1 skips
    assert curate_main(
        flags(out, ["--resume-dir", resume, "--min-tokens", "40"])
    ) == 0
    monkeypatch.undo()
    report4 = last_report()
    assert report4["after_c4_clean"] == ref_report["after_c4_clean"]
    assert report4["after_quality_gate"] < ref_report["after_quality_gate"]


class TestStageLedger:
    """(r12) unit coverage for the resume ledger's commit-point contract,
    beyond the end-to-end CLI runs: data-without-marker is not-done, a
    corrupt or mismatched seal kills the prefix, and reseal clobbers."""

    def _ledger(self, spark, tmp_path):
        from oni_ml_spark.curate import _StageLedger

        return _StageLedger(spark, str(tmp_path / "ledger"))

    def test_persist_without_seal_is_not_done(self, spark, tmp_path):
        led = self._ledger(spark, tmp_path)
        led.ordinal = 1
        df = spark.range(5)
        led.persist("stage_a", df)  # data lands, NO marker (crash window)
        skip, frame, n = led.lookup("stage_a", "fp1")
        assert not skip and led.live is False

    def test_sealed_stage_skips_and_returns_frame(self, spark, tmp_path):
        led = self._ledger(spark, tmp_path)
        led.ordinal = 1
        led.persist("stage_a", spark.range(5))
        led.seal("stage_a", "fp1", 5)
        skip, frame, n = led.lookup("stage_a", "fp1")
        assert skip and n == 5 and frame.count() == 5

    def test_fingerprint_mismatch_kills_prefix(self, spark, tmp_path):
        led = self._ledger(spark, tmp_path)
        led.ordinal = 1
        led.persist("stage_a", spark.range(3))
        led.seal("stage_a", "fp1", 3)
        led.ordinal = 2
        led.persist("stage_b", spark.range(2))
        led.seal("stage_b", "fp2", 2)
        # fresh ledger, changed config at stage 1: nothing may skip, not
        # even stage 2 whose own marker is intact (prefix-only rule)
        led2 = self._ledger(spark, tmp_path)
        led2.ordinal = 1
        skip, *_ = led2.lookup("stage_a", "CHANGED")
        assert not skip and led2.live is False
        led2.ordinal = 2
        skip, *_ = led2.lookup("stage_b", "fp2")
        assert not skip

    def test_corrupt_marker_is_not_done(self, spark, tmp_path):
        led = self._ledger(spark, tmp_path)
        led.ordinal = 1
        led.persist("stage_a", spark.range(3))
        led.seal("stage_a", "fp1", 3)
        (tmp_path / "ledger" / "_stage_01_stage_a.json").write_text("{trunc")
        led2 = self._ledger(spark, tmp_path)
        led2.ordinal = 1
        skip, *_ = led2.lookup("stage_a", "fp1")
        assert not skip and led2.live is False

    def test_reseal_clobbers_stale_marker(self, spark, tmp_path):
        led = self._ledger(spark, tmp_path)
        led.ordinal = 1
        led.persist("stage_a", spark.range(3))
        led.seal("stage_a", "fp1", 3)
        led.seal("stage_a", "fp2", 99)  # recompute reseals over the old one
        led2 = self._ledger(spark, tmp_path)
        led2.ordinal = 1
        skip, _, n = led2.lookup("stage_a", "fp2")
        assert skip and n == 99
