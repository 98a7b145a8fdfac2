"""(r11) One day in production, end to end — the COMPOSITION of the
operational loops r9+r10 built, exercising the seams between them that
each loop's own e2e test does not cross:

    ingest through the contract gate (one poisoned batch quarantined)
      -> repair the quarantined batch and re-submit THROUGH the gate
      -> drift check of today's feed vs yesterday's corpus
      -> curation CLI over the ingested day
      -> IVF refresh with the day's embedding delta
      -> maintain_dataset compacts the fragment tail the ingest left

Per-stage row accounting is asserted at every boundary so a silently
dropped row anywhere in the chain fails the test, not the audit."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


@pytest.mark.slow  # r13 budget: day-2 composition of operators each unit-tested; runs in the full profile (-m "")
def test_day_in_production(spark, tmp_path, capsys):
    from oni_ml_spark.datapipe.contracts import (
        expect_not_null,
        expect_row_count,
        expect_unique,
    )
    from oni_ml_spark.datapipe.drift import drift_compare, drift_summary
    from oni_ml_spark.datapipe.similarity import (
        build_ivf_index,
        load_ivf_index,
        refresh_ivf_index,
        save_ivf_index,
    )
    from oni_ml_spark.plans.compaction import dataset_files, maintain_dataset
    from oni_ml_spark.streaming.gate_stream import (
        gated_writer,
        quarantined_batches,
        read_quarantined,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    # ---- yesterday's state on disk -------------------------------------
    corpus_dir = str(tmp_path / "corpus")
    yesterday = docs.filter("doc_id < 250")
    n_yesterday = yesterday.count()
    yesterday.write.parquet(corpus_dir)

    ivf_root = str(tmp_path / "ivf")
    base_vecs = emb.filter("vec_id < 300").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_base_vecs = base_vecs.count()
    cent, assigned = build_ivf_index(base_vecs, n_cells=4, seed=7, max_iter=5)
    assert save_ivf_index(cent, assigned, ivf_root, keep_versions=2) == 0

    # ---- stage 1: ingest today's feed through the contract gate --------
    # three micro-batches; batch 2 is poisoned (null ids + a duplicate)
    today = docs.filter("doc_id >= 250")
    b1 = today.filter("doc_id < 330")
    b3 = today.filter("doc_id >= 330")
    n1, n3 = b1.count(), b3.count()
    poisoned = (
        today.filter("doc_id >= 330").limit(10)
        .withColumn("doc_id", F.lit(None).cast("long"))
    )
    n_poisoned = poisoned.count()
    assert n1 > 0 and n3 > 0 and n_poisoned == 10

    landed_batches: list[int] = []

    def land(batch_df, batch_id):
        # each applied batch appends ONE fragment — exactly the small-file
        # tail a streaming ingest leaves for the maintenance loop
        batch_df.coalesce(1).write.mode("append").parquet(corpus_dir)
        landed_batches.append(batch_id)

    qroot = str(tmp_path / "quarantine")
    contract = [
        expect_row_count(1),
        expect_not_null("doc_id"),
        expect_unique("doc_id"),
    ]
    writer = gated_writer(land, contract, qroot)
    writer(b1, 1)
    writer(poisoned, 2)
    writer(b3, 3)

    assert landed_batches == [1, 3]
    assert quarantined_batches(spark, qroot) == [2]
    n_corpus = spark.read.parquet(corpus_dir).count()
    assert n_corpus == n_yesterday + n1 + n3  # poisoned rows kept OUT

    # ---- stage 2: the quarantine feeds the repair path -----------------
    qdata, qreport = read_quarantined(spark, qroot, 2)
    assert qdata.count() == n_poisoned
    failed_rules = {r["rule"] for r in qreport.collect() if not r["ok"]}
    assert "not_null" in failed_rules
    # repair: re-key the rows (the producer's sequence was recoverable),
    # then re-submit THROUGH THE SAME GATE as a new batch id
    repaired = qdata.withColumn(
        "doc_id", 900_000 + F.monotonically_increasing_id()
    )
    writer(repaired, 4)
    assert landed_batches == [1, 3, 4]
    assert quarantined_batches(spark, qroot) == [2]  # nothing new diverted
    n_corpus = spark.read.parquet(corpus_dir).count()
    assert n_corpus == n_yesterday + n1 + n3 + n_poisoned

    # ---- stage 3: drift check, today's feed vs yesterday ---------------
    today_landed = spark.read.parquet(corpus_dir).filter("doc_id >= 250")
    ref = yesterday.select(F.length("text").alias("n_chars"))
    cur = today_landed.select(F.length("text").alias("n_chars"))
    table = drift_compare(ref, cur, "n_chars", n_bins=5)
    rows = table.collect()
    # bin accounting: every row of both sides is in exactly one bin
    assert sum(r["n_ref"] for r in rows) == n_yesterday
    assert sum(r["n_cur"] for r in rows) == n1 + n3 + n_poisoned
    verdict = drift_summary(ref, cur, ["n_chars"], n_bins=5).first()
    assert verdict["column"] == "n_chars"
    assert verdict["psi"] >= 0.0 and verdict["psi"] < float("inf")
    assert verdict["verdict"] in ("stable", "moderate", "action")

    # ---- stage 4: curation CLI over the ingested day --------------------
    from oni_ml_spark.curate import main as curate_main

    day_dir = str(tmp_path / "day_input")
    today_landed.write.parquet(day_dir)
    curated_dir = str(tmp_path / "curated")
    # run resumably, the way an unattended day-2 loop would (r12): a crash
    # planted mid-pipeline, then the rerun completes from the sealed prefix
    resume_dir = str(tmp_path / "curate_ledger")
    curate_flags = [
        "--input", day_dir, "--output", curated_dir,
        "--min-tokens", "10",
        "--dedup-threshold", "0.5",
        "--shuffle-seed", "11", "--single-file",
        "--resume-dir", resume_dir,
    ]
    import oni_ml_spark.datapipe.dedup as _dedup_mod

    real_near_dup = _dedup_mod.near_dup_clusters

    def _crash(*a, **k):
        raise RuntimeError("planted day-2 crash")

    _dedup_mod.near_dup_clusters = _crash
    try:
        with pytest.raises(RuntimeError, match="planted day-2"):
            curate_main(curate_flags)
    finally:
        _dedup_mod.near_dup_clusters = real_near_dup
    capsys.readouterr()
    rc = curate_main(curate_flags)
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["input"] == n1 + n3 + n_poisoned
    stage_counts = [
        report[s]
        for s in ("input", "after_quality_gate", "after_near_dup")
    ]
    assert all(a >= b for a, b in zip(stage_counts, stage_counts[1:]))
    n_curated = spark.read.parquet(curated_dir).count()
    assert n_curated == stage_counts[-1] > 0

    # ---- stage 5: IVF refresh with the day's embedding delta -----------
    delta = emb.filter("vec_id >= 300").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    n_delta = delta.count()
    out = refresh_ivf_index(spark, ivf_root, delta)
    assert out["version"] == 1
    assert out["n_vectors"] == n_base_vecs + n_delta
    _, members, conf = load_ivf_index(spark, ivf_root)
    assert conf["version"] == 1
    assert members.count() == n_base_vecs + n_delta

    # ---- stage 6: compact the fragment tail the ingest left ------------
    before_files = len(dataset_files(spark, corpus_dir))
    assert before_files >= 4  # initial write + three landed fragments
    content_before = (
        spark.read.parquet(corpus_dir)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.hash("text") % 10_007).alias("s"))
        .first()
    )
    out = maintain_dataset(
        spark, corpus_dir, target_bytes=1 << 30, min_small_files=3,
        max_small_frac=0.2,
    )
    assert out["due"]["due"] and out["executed"]
    after_files = len(dataset_files(spark, corpus_dir))
    assert after_files < before_files
    content_after = (
        spark.read.parquet(corpus_dir)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.hash("text") % 10_007).alias("s"))
        .first()
    )
    assert content_after == content_before
    # idempotent close: a second maintenance call finds nothing to do
    out2 = maintain_dataset(
        spark, corpus_dir, target_bytes=1 << 30, min_small_files=3,
        max_small_frac=0.2,
    )
    assert not out2["executed"] and out2["recovered"] == []
