"""Round-7 widening: shard-layout arithmetic, plus the round's new
operators as they land."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestShardPositions:
    def test_layout_matches_write_training_shards_arithmetic(self, spark):
        from oni_ml_spark.datapipe.sampling import shard_positions

        df = spark.range(0, 100).withColumnRenamed("id", "row_id")
        got = {
            r["row_id"]: (r["shard"], r["shard_pos"])
            for r in shard_positions(df, "row_id", 16).collect()
        }
        assert got == {i: (i // 16, i % 16) for i in range(100)}
        # last shard holds the remainder — same contract as the file writer
        assert max(s for s, _ in got.values()) == 6
        assert sum(1 for s, _ in got.values() if s == 6) == 100 - 6 * 16

    def test_big_ids_exact_beyond_double(self, spark):
        """Ids beyond 2^53 must shard by integer arithmetic — a double
        round-trip would collapse adjacent ids into the wrong shard."""
        from oni_ml_spark.datapipe.sampling import shard_positions

        a, b = 2**60 + 1, 2**60 + 2  # indistinguishable after double cast
        df = spark.createDataFrame([(a,), (b,)], "row_id long")
        got = {r["row_id"]: (r["shard"], r["shard_pos"])
               for r in shard_positions(df, "row_id", 3).collect()}
        assert got == {a: (a // 3, a % 3), b: (b // 3, b % 3)}

    def test_pos_name_none_and_validation(self, spark):
        from oni_ml_spark.datapipe.sampling import shard_positions

        df = spark.range(0, 5).withColumnRenamed("id", "row_id")
        out = shard_positions(df, "row_id", 2, pos_name=None)
        assert out.columns == ["row_id", "shard"]
        with pytest.raises(ValueError, match="positive"):
            shard_positions(df, "row_id", 0)
        with pytest.raises(ValueError, match="not in input"):
            shard_positions(df, "zz", 2)
        with pytest.raises(ValueError, match="already exists"):
            shard_positions(df.withColumn("shard", F.lit(1)), "row_id", 2)


class TestPipelineAudit:
    def test_metrics_ride_one_action(self, spark):
        """All audit points report from ONE action — no count() re-scans:
        job count after the single write is exactly one higher, and the
        report matches recomputed stage counts."""
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.audit import PipelineAudit

        e = load_table(spark, SF_DIR, "events")
        audit = PipelineAudit()
        df = audit.observe(e, "ingested", null_cols=["props"])
        df = audit.observe(
            df.filter(F.col("value") > 50),
            "after_filter",
            metrics={"value_sum": F.sum("value")},
        )
        # counted in a job group of its own, after draining the listener
        # bus: a count of all jobs drops by 100 whenever the status store
        # passes spark.ui.retainedJobs (1000) and evicts old ones
        sc = spark.sparkContext
        sc.setJobGroup("audit-one-action", "audit-one-action")
        try:
            df.write.format("noop").mode("overwrite").save()
            report = audit.report()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("audit-one-action")
        assert len(jobs) == 1, "audit.report() triggered extra jobs"
        assert report["ingested"]["n_rows"] == e.count()
        assert report["ingested"]["n_null_props"] == \
            e.filter(F.col("props").isNull()).count()
        kept = e.filter(F.col("value") > 50)
        assert report["after_filter"]["n_rows"] == kept.count()
        assert abs(
            report["after_filter"]["value_sum"]
            - kept.agg(F.sum("value")).collect()[0][0]
        ) < 1e-6
        assert audit.dropped("ingested", "after_filter") == \
            e.count() - kept.count()

    def test_validation(self, spark):
        from oni_ml_spark.plans.audit import PipelineAudit

        df = spark.range(5)
        audit = PipelineAudit()
        audit.observe(df, "a")
        with pytest.raises(ValueError, match="already registered"):
            audit.observe(df, "a")
        with pytest.raises(ValueError, match="not in input"):
            audit.observe(df, "b", null_cols=["zz"])
        with pytest.raises(ValueError, match="unknown audit point"):
            audit.report(["nope"])
        assert audit.collected_points() == ["a"]


class TestTemperatureMix:
    def test_weights_match_duckdb_pow(self, spark):
        import duckdb

        from oni_ml_spark.io import load_table
        from oni_ml_spark.datapipe.sampling import temperature_weights

        d = load_table(spark, SF_DIR, "documents")
        got = {r["source"]: (r["n_rows"], r["weight"], r["fraction"], r["target_rows"])
               for r in temperature_weights(d, "source", alpha=0.3,
                                            total_rows=10_000).collect()}
        con = duckdb.connect()
        want = con.execute(
            f"""WITH c AS (SELECT source, count(*)::BIGINT AS n,
                  pow(count(*), 0.3) AS w
                FROM '{SF_DIR}/documents.parquet' GROUP BY source),
            t AS (SELECT sum(w) AS ws FROM c)
            SELECT source, n, w, w / ws,
                   round(w / ws * 10000, 0)::BIGINT FROM c, t"""
        ).fetchall()
        assert len(got) == len(want) > 1
        for src, n, w, frac, tgt in want:
            gn, gw, gf, gt = got[src]
            assert gn == n
            assert abs(gw - w) < 1e-9 and abs(gf - frac) < 1e-12
            assert gt == tgt
        # alpha=0 is uniform, alpha=1 is natural proportions
        from oni_ml_spark.datapipe.sampling import temperature_weights as tw
        uni = {r["source"]: r["fraction"] for r in tw(d, "source", 0.0).collect()}
        assert all(abs(f - 1 / len(uni)) < 1e-12 for f in uni.values())
        nat = {r["source"]: (r["fraction"], r["n_rows"]) for r in
               tw(d, "source", 1.0).collect()}
        total = sum(n for _, n in nat.values())
        assert all(abs(f - n / total) < 1e-12 for f, n in nat.values())

    def test_mix_hits_temperature_targets(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.datapipe.sampling import (
            temperature_mix,
            temperature_weights,
        )

        d = load_table(spark, SF_DIR, "documents")
        total = 2_000
        out = temperature_mix(d, "source", "doc_id", total, alpha=0.3)
        got = {r["source"]: r["cnt"] for r in
               out.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        targets = {r["source"]: r["target_rows"] for r in
                   temperature_weights(d, "source", 0.3, total).collect()}
        assert set(got) == set(targets)
        for src, tgt in targets.items():
            # md5 thinning is binomial around the target; 5 sigma
            sigma = max(tgt, 1) ** 0.5
            assert abs(got[src] - tgt) <= 5 * sigma + 1, (src, got[src], tgt)
        # determinism: same rows + epochs on a rerun
        a = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
        b = sorted((r["doc_id"], r["epoch"]) for r in
                   temperature_mix(d, "source", "doc_id", total, 0.3).collect())
        assert a == b

    def test_validation_and_null_source(self, spark):
        from oni_ml_spark.datapipe.sampling import (
            temperature_mix,
            temperature_weights,
        )

        df = spark.createDataFrame(
            [("a", 1), ("a", 2), (None, 3)], "source string, doc_id int"
        )
        with pytest.raises(ValueError, match="non-negative"):
            temperature_weights(df, "source", alpha=-0.1)
        with pytest.raises(ValueError, match="not in input"):
            temperature_weights(df, "zz")
        with pytest.raises(ValueError, match="positive"):
            temperature_weights(df, "source", total_rows=0)
        # the null group is REPORTED by the weights frame...
        rep = {r["source"] for r in temperature_weights(df, "source").collect()}
        assert rep == {"a", None}
        # ...but dropped from the mix (can't key the literal weight map)
        out = temperature_mix(df, "source", "doc_id", 10)
        assert out.filter(F.col("source").isNull()).count() == 0


class TestShardManifest:
    def test_manifest_verifies_and_detects_corruption(self, spark, tmp_path):
        from oni_ml_spark.datapipe.sampling import (
            verify_training_shards,
            write_training_shards,
        )
        from oni_ml_spark.io import load_table

        d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        out = str(tmp_path / "shards")
        n_shards = write_training_shards(d, "doc_id", out, shard_size=64)
        man = spark.read.parquet(f"{out}/_shard_manifest")
        assert man.count() == n_shards
        assert man.agg(F.sum("n_rows")).collect()[0][0] == d.count()
        # intact export -> empty discrepancy frame; manifest dir is hidden
        # from the data read (underscore prefix)
        assert verify_training_shards(spark, out).count() == 0
        assert "sample_idx" in spark.read.parquet(out).columns
        # corrupt one shard (drop a row file) -> that shard flagged
        import glob
        import os

        victim = sorted(glob.glob(f"{out}/shard=1/*.parquet"))[0]
        os.remove(victim)
        bad = verify_training_shards(spark, out).collect()
        assert [r["shard"] for r in bad] == [1]
        # count mismatch AND digest mismatch both visible
        assert bad[0]["n_rows"] != bad[0]["m_n_rows"] or bad[0]["n_rows"] is None

    def test_manifest_off(self, spark, tmp_path):
        from oni_ml_spark.datapipe.sampling import write_training_shards

        df = spark.range(10).withColumnRenamed("id", "k")
        out = str(tmp_path / "s2")
        write_training_shards(df, "k", out, 4, manifest=False)
        import os

        assert not os.path.exists(f"{out}/_shard_manifest")


class TestJoinCardinalityEstimate:
    def test_exact_when_heavy_covers_all_keys(self, spark):
        """With top_k >= |keys| every key is measured exactly — the
        estimate must EQUAL the true join output size."""
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import join_cardinality_estimate

        e = load_table(spark, SF_DIR, "events")
        est = join_cardinality_estimate(e, e, "event_type", top_k=64)
        true = e.alias("x").join(e.alias("y"), "event_type").count()
        assert est["estimated_rows"] == true
        assert est["tail_estimate_rows"] == 0
        assert est["heavy_exact_rows"] == true
        # heavy keys sorted by output contribution, counts consistent
        hk = est["heavy_keys"]
        assert all(hk[i]["out"] >= hk[i + 1]["out"] for i in range(len(hk) - 1))
        assert sum(k["n_a"] for k in hk) == est["a"]["n_rows"]

    def test_hot_key_dominates_and_is_exact(self, spark):
        """A planted hot key's quadratic contribution is measured exactly
        even when the tail is approximated (top_k < |keys|)."""
        from oni_ml_spark.plans.diagnostics import join_cardinality_estimate

        a = spark.range(10_000).select(
            F.when(F.col("id") < 5_000, F.lit("HOT"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 500).cast("string")))
            .alias("k")
        )
        est = join_cardinality_estimate(a, a, "k", top_k=8)
        true = a.alias("x").join(a.alias("y"), "k").count()
        assert est["heavy_keys"][0]["key"] == "HOT"
        assert est["heavy_keys"][0]["out"] == 5_000 * 5_000
        # hot key exact => total within the tail's uniform-assumption band
        assert abs(est["estimated_rows"] - true) / true < 0.5
        assert est["estimated_rows"] >= 5_000 * 5_000

    def test_validation(self, spark):
        from oni_ml_spark.plans.diagnostics import join_cardinality_estimate

        df = spark.range(3).withColumnRenamed("id", "k")
        with pytest.raises(ValueError, match="positive"):
            join_cardinality_estimate(df, df, "k", top_k=0)
        with pytest.raises(ValueError, match="lacks key column"):
            join_cardinality_estimate(df, df.withColumnRenamed("k", "z"), "k")


class TestGroupedTopkSalted:
    def test_salted_identical_to_window(self, spark):
        """algorithm='salted' must return bitwise the same rows+ranks as
        the default window plan (the salt prune keeps a superset of the
        per-group top-k under the same total order)."""
        from oni_ml_spark.datapipe.ranking import grouped_topk
        from oni_ml_spark.io import load_table

        e = load_table(spark, SF_DIR, "events")
        base = sorted(
            tuple(r) for r in grouped_topk(
                e, "event_type", "value", 7, tie_col="event_id").collect()
        )
        for asc in (False, True):
            got = sorted(
                tuple(r) for r in grouped_topk(
                    e, "event_type", "value", 7, ascending=asc,
                    tie_col="event_id", algorithm="salted").collect()
            )
            want = sorted(
                tuple(r) for r in grouped_topk(
                    e, "event_type", "value", 7, ascending=asc,
                    tie_col="event_id").collect()
            )
            assert got == want
        assert len(base) > 0
        # nulls/NaN ride Spark's native window order in BOTH algorithms
        df = spark.createDataFrame(
            [("g", None, 1), ("g", float("nan"), 2), ("g", 5.0, 3), ("g", 7.0, 4)],
            "grp string, v double, id int",
        )
        for asc in (False, True):
            # stringify: tuple equality would fail on NaN != NaN
            a = sorted(tuple(map(str, r)) for r in grouped_topk(
                df, "grp", "v", 3, ascending=asc, tie_col="id").collect())
            s = sorted(tuple(map(str, r)) for r in grouped_topk(
                df, "grp", "v", 3, ascending=asc, tie_col="id",
                algorithm="salted").collect())
            assert a == s
        with pytest.raises(ValueError, match="unknown algorithm"):
            grouped_topk(df, "grp", "v", 2, tie_col="id", algorithm="arrow")


class TestTopTermsPerGroup:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from oni_ml_spark.datapipe.retrieval import top_terms_per_group
        from oni_ml_spark.io import load_table

        d = load_table(spark, SF_DIR, "documents")
        got = sorted(
            (r["group"], r["term"], round(r["sum_tfidf"], 6), r["n_docs"], r["rank"])
            for r in top_terms_per_group(d, "source", "doc_id", "text",
                                         k=5, min_df=2).collect()
        )
        con = duckdb.connect()
        want = sorted(con.execute(
            f"""WITH tok AS (
                  SELECT doc_id, source, unnest(string_split(regexp_replace(
                    lower(strip_accents(text)), '[^a-z0-9]+', ' ', 'g'), ' ')) AS term
                  FROM '{SF_DIR}/documents.parquet'),
            tf AS (SELECT doc_id, source, term, count(*)::BIGINT AS tf
                   FROM tok WHERE term <> '' GROUP BY ALL),
            dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
            nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tf),
            w AS (SELECT t.source, t.term,
                    sum(floor(tf * (ln((n + 1) / (df + 1)) + 1) * 1e6)) / 1e6 AS s,
                    count(*)::BIGINT AS n_docs
                  FROM tf t JOIN dfreq USING (term), nd
                  WHERE df >= 2 GROUP BY t.source, t.term),
            r AS (SELECT source, term, s, n_docs, row_number() OVER (
                    PARTITION BY source ORDER BY s DESC, term) AS rank FROM w)
            SELECT source, term, round(s, 6), n_docs, rank FROM r WHERE rank <= 5
            """).fetchall())
        assert len(got) > 0
        assert got == [(s, t, v, n, r) for s, t, v, n, r in want]

    def test_validation(self, spark):
        from oni_ml_spark.datapipe.retrieval import top_terms_per_group

        df = spark.createDataFrame([("a", 1, "x")], "g string, id int, t string")
        with pytest.raises(ValueError, match="not in input"):
            top_terms_per_group(df, "zz", "id", "t")
        with pytest.raises(ValueError, match="min_df"):
            top_terms_per_group(df, "g", "id", "t", min_df=0)


class TestReviewFixesR7:
    def test_audit_report_raises_instead_of_blocking(self, spark):
        """report() before the action (or on a pruned branch) must raise,
        not block forever on Observation.get."""
        from oni_ml_spark.plans.audit import PipelineAudit

        audit = PipelineAudit()
        observed = audit.observe(spark.range(10), "pre")
        with pytest.raises(RuntimeError, match="not ready"):
            audit.report(wait_secs=0.3)
        assert audit.ready_points() == []
        observed.write.format("noop").mode("overwrite").save()
        assert audit.report()["pre"]["n_rows"] == 10
        assert audit.ready_points() == ["pre"]
        # a branch the terminal action never executes stays unready
        audit2 = PipelineAudit()
        audit2.observe(spark.range(5), "never_run")
        kept = audit2.observe(spark.range(3), "ran")
        kept.write.format("noop").mode("overwrite").save()
        with pytest.raises(RuntimeError, match="never_run"):
            audit2.report(wait_secs=0.3)
        assert audit2.report(["ran"])["ran"]["n_rows"] == 3

    def test_join_estimate_ignores_null_keys(self, spark):
        """Null keys never match in an equi join — a null-heavy pair of
        sides must not inflate the estimate."""
        from oni_ml_spark.plans.diagnostics import join_cardinality_estimate

        a = spark.createDataFrame(
            [(None,)] * 50 + [("k1",)] * 5 + [("k2",)] * 3, "k string"
        )
        est = join_cardinality_estimate(a, a, "k", top_k=8)
        true = a.alias("x").join(a.alias("y"), "k").count()  # 25 + 9
        assert est["estimated_rows"] == true == 34
        assert all(h["key"] is not None for h in est["heavy_keys"])
        assert est["a"]["n_rows"] == 8  # non-null rows only

    def test_temperature_mix_null_targets_consistent(self, spark):
        """With null sources present, realized counts must match the
        targets computed over NON-NULL sources (no silent redistribution
        mismatch between report and mix)."""
        from oni_ml_spark.datapipe.sampling import (
            temperature_mix,
            temperature_weights,
        )

        df = spark.createDataFrame(
            [("a", i) for i in range(8)] + [(None, 100 + i) for i in range(8)],
            "source string, doc_id int",
        )
        out = temperature_mix(df, "source", "doc_id", 10, alpha=1.0)
        # single non-null source: exact target 10 (rate 10/8, deterministic
        # floor+thinned-ceil copies sum to the target in expectation; with
        # one source the md5 thinning is the only variance — bound it)
        targets = {r["source"]: r["target_rows"] for r in temperature_weights(
            df.filter(F.col("source").isNotNull()), "source", 1.0, 10).collect()}
        assert targets == {"a": 10}
        n = out.count()
        assert abs(n - 10) <= 5 * 10**0.5
        assert out.filter(F.col("source").isNull()).count() == 0

    def test_salted_scratch_column_collision_rejected(self, spark):
        from oni_ml_spark.datapipe.ranking import grouped_topk

        df = spark.createDataFrame(
            [("g", 1.0, 1)], "grp string, v double, id int"
        ).withColumn("__gtk_salt", F.lit(9))
        with pytest.raises(ValueError, match="__gtk_salt"):
            grouped_topk(df, "grp", "v", 2, tie_col="id", algorithm="salted")

    def test_manifest_reads_back_from_disk(self, spark, tmp_path):
        """The manifest digests what is ON DISK (read-back), and empty
        inputs export zero shards without erroring."""
        from oni_ml_spark.datapipe.sampling import write_training_shards

        empty = spark.range(0).withColumnRenamed("id", "k")
        assert write_training_shards(empty, "k", str(tmp_path / "e"), 4) == 0


class TestAssertPlan:
    def test_contracts_pass_and_fail_with_plan_text(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import assert_plan

        e = load_table(spark, SF_DIR, "events")
        filtered = e.filter(F.col("value") > 50).select("event_id")
        rep = assert_plan(filtered, max_exchanges=0, require_pushed_filters=True)
        assert rep["exchanges"] == 0
        # broadcast requirement: a hinted join plans as BroadcastHashJoin
        dims = spark.range(10).withColumnRenamed("id", "user_id")
        joined = e.join(F.broadcast(dims), "user_id")
        assert_plan(joined, require_broadcast_join=True)
        # violations raise with the plan text attached
        agg = e.groupBy("event_type").count()
        with pytest.raises(AssertionError, match="exchanges"):
            assert_plan(agg, max_exchanges=0)
        with pytest.raises(AssertionError, match="no filters pushed"):
            assert_plan(e.select("event_id"), require_pushed_filters=True)
        cross = e.crossJoin(dims)
        with pytest.raises(AssertionError, match="forbidden node"):
            assert_plan(cross, forbid=["CartesianProduct", "BroadcastNestedLoopJoin"])


class TestAppendTrainingShards:
    def test_append_fills_partial_shard_and_verifies(self, spark, tmp_path):
        from oni_ml_spark.datapipe.sampling import (
            append_training_shards,
            verify_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "shards")
        base = spark.createDataFrame([(i,) for i in range(10)], "k long")
        assert write_training_shards(base, "k", out, 4) == 3  # 4+4+2
        batch = spark.createDataFrame([(100 + i,) for i in range(7)], "k long")
        n = append_training_shards(batch, "k", out, 4)
        assert n == 5  # 17 rows -> shards of 4,4,4,4,1
        back = spark.read.parquet(out)
        assert back.count() == 17
        # indexes continue in batch key order; partial shard 2 filled
        got = {r["k"]: (r["sample_idx"], r["shard"]) for r in back.collect()}
        for i in range(10):
            assert got[i] == (i, i // 4)
        for j in range(7):
            assert got[100 + j] == (10 + j, (10 + j) // 4)
        # manifest refresh covers old+new: full verify is clean
        assert verify_training_shards(spark, out).count() == 0
        # second append keeps extending deterministically
        assert append_training_shards(
            spark.createDataFrame([(200,)], "k long"), "k", out, 4) == 5
        assert verify_training_shards(spark, out).count() == 0

    def test_contracts(self, spark, tmp_path):
        from oni_ml_spark.datapipe.sampling import (
            append_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "s")
        write_training_shards(spark.range(8).withColumnRenamed("id", "k"),
                              "k", out, 4)
        b = spark.range(100, 103).withColumnRenamed("id", "k")
        with pytest.raises(ValueError, match="does not match"):
            append_training_shards(b, "k", out, 5)
        with pytest.raises(ValueError, match="corrupt"):
            append_training_shards(b.withColumn("extra", F.lit(1)), "k", out, 4)
        with pytest.raises(ValueError, match="no readable manifest"):
            append_training_shards(b, "k", str(tmp_path / "missing"), 4)


class TestShardProperties:
    def test_partition_pruned_manifest_refresh_read(self, spark, tmp_path):
        """The append path's manifest refresh reads only shards >= the
        first touched one — locked by the scan's PartitionFilters."""
        from oni_ml_spark.datapipe.sampling import write_training_shards
        from oni_ml_spark.plans.diagnostics import plan_report

        out = str(tmp_path / "p")
        write_training_shards(spark.range(40).withColumnRenamed("id", "k"),
                              "k", out, 8)
        back = (
            spark.read.parquet(out)
            .select("shard", "sample_idx")
            .filter(F.col("shard") >= 3)
        )
        plan = plan_report(back)["plan"]
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "3" in m.group(1), plan
        assert back.count() == 40 - 3 * 8

    def test_shard_arithmetic_property(self, spark):
        """div/mod reconstruct every id for arbitrary sizes (hypothesis
        over the driver-side arithmetic, one Spark check per example set)."""
        from hypothesis import given, settings, strategies as st

        from oni_ml_spark.datapipe.sampling import shard_positions

        @settings(max_examples=15, deadline=None)
        @given(
            ids=st.lists(st.integers(min_value=0, max_value=2**62),
                         min_size=1, max_size=8, unique=True),
            size=st.integers(min_value=1, max_value=2**40),
        )
        def prop(ids, size):
            df = spark.createDataFrame([(i,) for i in ids], "row_id long")
            for r in shard_positions(df, "row_id", size).collect():
                i = r["row_id"]
                assert r["shard"] * size + r["shard_pos"] == i
                assert 0 <= r["shard_pos"] < size

        prop()


class TestEmbeddingStats:
    def test_matches_duckdb_and_counts_pathologies(self, spark):
        import duckdb

        from oni_ml_spark.datapipe.similarity import embedding_stats
        from oni_ml_spark.io import load_table

        emb = load_table(spark, SF_DIR, "embeddings")
        got = embedding_stats(emb, "embedding").collect()[0]
        con = duckdb.connect()
        n, dmin, dmax, nmin, nmax = con.execute(
            f"""SELECT count(*), min(len(embedding)), max(len(embedding)),
                round(min(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))), 6),
                round(max(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))), 6)
                FROM '{SF_DIR}/embeddings.parquet'"""
        ).fetchone()
        assert got["n_rows"] == n and got["n_null"] == 0
        assert got["n_dims"] == 1 and (got["dim_min"], got["dim_max"]) == (dmin, dmax)
        assert got["n_zero"] == 0 and got["n_nan"] == 0
        assert got["n_null_elem"] == 0 and got["n_inf"] == 0
        assert got["norm_min"] == nmin and got["norm_max"] == nmax
        assert got["norm_min"] <= got["norm_avg"] <= got["norm_max"]
        # pathologies are counted, not crashed on — incl. null COMPONENTS
        # and ±Inf, which would otherwise slip through as "clean"
        bad = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, None), (2, [0.0, 0.0]),
             (3, [float("nan"), 1.0]), (4, [1.0, 2.0, 3.0]),
             (5, [None, 1.0]), (6, [float("inf"), 1.0]),
             (7, [1.0, float("-inf")])],
            "id int, embedding array<double>",
        )
        b = embedding_stats(bad, "embedding").collect()[0]
        assert (b["n_rows"], b["n_null"], b["n_zero"], b["n_nan"]) == (8, 1, 1, 1)
        assert (b["n_null_elem"], b["n_inf"]) == (1, 2)
        assert b["n_dims"] == 2 and (b["dim_min"], b["dim_max"]) == (2, 3)
        # norm stats ignore every pathological row: finite bounds only
        assert b["norm_max"] < float("inf") and b["norm_min"] > 0
        with pytest.raises(ValueError, match="not in input"):
            embedding_stats(bad, "zz")


class TestAppendShardsHardening:
    def test_single_shard_wrong_size_rejected(self, spark, tmp_path):
        """A one-shard export satisfies idx_lo = shard*size for EVERY
        size; the recorded shard_size closes that hole."""
        from oni_ml_spark.datapipe.sampling import (
            append_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "one")
        write_training_shards(spark.range(3).withColumnRenamed("id", "k"),
                              "k", out, 4)
        b = spark.range(100, 103).withColumnRenamed("id", "k")
        with pytest.raises(ValueError, match="recorded shard_size"):
            append_training_shards(b, "k", out, 10)
        # the correct size still appends fine
        assert append_training_shards(b, "k", out, 4) == 2

    def test_orphan_rows_block_retry(self, spark, tmp_path):
        """Rows on disk that the manifest does not know about (a crashed
        append's data write) must fail the next append loudly instead of
        double-assigning their index range."""
        from oni_ml_spark.datapipe.sampling import (
            append_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "cr")
        write_training_shards(spark.range(6).withColumnRenamed("id", "k"),
                              "k", out, 4)
        # simulate the crash: data appended, manifest NOT refreshed
        orphan = spark.createDataFrame([(999, 6)], "k long, sample_idx long") \
            .withColumn("shard", F.lit(1))
        orphan.write.mode("append").partitionBy("shard").parquet(out)
        b = spark.range(50, 53).withColumnRenamed("id", "k")
        with pytest.raises(ValueError, match="crashed between"):
            append_training_shards(b, "k", out, 4)

    def test_type_mismatch_rejected(self, spark, tmp_path):
        from oni_ml_spark.datapipe.sampling import (
            append_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "ty")
        write_training_shards(spark.range(4).withColumnRenamed("id", "k"),
                              "k", out, 4)
        b = spark.createDataFrame([(9,)], "k int")  # int vs export's bigint
        with pytest.raises(ValueError, match="schema"):
            append_training_shards(b, "k", out, 4)
