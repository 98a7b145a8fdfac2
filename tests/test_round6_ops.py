"""Round-6 widening: shuffle-bounded grouped top-k, quality-aware canonical
selection, corpus snapshot diffing, one-pass table profiling, plan report."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestGroupedTopk:
    def _oracle(self, sf, k, asc):
        direction = "ASC" if asc else "DESC"
        con = duckdb.connect()
        return sorted(
            con.execute(
                f"SELECT event_type, event_id, rank FROM ("
                f"  SELECT event_type, event_id, row_number() OVER ("
                f"    PARTITION BY event_type ORDER BY value {direction}, event_id) AS rank"
                f"  FROM '{sf}/events.parquet') WHERE rank <= {k}"
            ).fetchall()
        )

    @pytest.mark.parametrize("asc", [False, True])
    def test_matches_row_number_oracle(self, spark, asc):
        from oni_ml_spark.datapipe.ranking import grouped_topk
        from oni_ml_spark.io import load_table

        e = load_table(spark, SF_DIR, "events")
        got = sorted(
            (r["event_type"], r["event_id"], r["rank"])
            for r in grouped_topk(
                e, "event_type", "value", k=7, ascending=asc, tie_col="event_id"
            ).collect()
        )
        assert got == self._oracle(SF_DIR, 7, asc) and len(got) > 0

    def test_k1_fast_path_matches_general_path(self, spark):
        from oni_ml_spark.datapipe.ranking import grouped_topk
        from oni_ml_spark.io import load_table

        e = load_table(spark, SF_DIR, "events")
        fast = sorted(
            (r["event_type"], r["event_id"])
            for r in grouped_topk(e, "event_type", "value", 1, tie_col="event_id").collect()
        )
        assert fast == [(a, b) for a, b, _ in self._oracle(SF_DIR, 1, False)]
        # and the fast path is pure-codegen: no Python evaluation node
        from oni_ml_spark.plans.diagnostics import plan_report

        rep = plan_report(grouped_topk(e, "event_type", "value", 1, tie_col="event_id"))
        assert "MapInPandas" not in rep["plan"] and "BatchEvalPython" not in rep["plan"]

    def test_null_order_values_follow_window_null_order(self, spark):
        from oni_ml_spark.datapipe.ranking import grouped_topk

        df = spark.createDataFrame(
            [("g", None, 1), ("g", 5.0, 2), ("g", 7.0, 3)],
            "grp string, v double, id int",
        )
        desc = [(r["id"], r["rank"]) for r in
                grouped_topk(df, "grp", "v", 2, tie_col="id").orderBy("rank").collect()]
        assert desc == [(3, 1), (2, 2)]  # nulls last under descending
        asc = [(r["id"], r["rank"]) for r in
               grouped_topk(df, "grp", "v", 2, ascending=True, tie_col="id")
               .orderBy("rank").collect()]
        assert asc == [(1, 1), (2, 2)]  # nulls first under ascending
        # k=1 fast path agrees on both directions
        d1 = grouped_topk(df, "grp", "v", 1, tie_col="id").collect()
        a1 = grouped_topk(df, "grp", "v", 1, ascending=True, tie_col="id").collect()
        assert d1[0]["id"] == 3 and a1[0]["id"] == 1

    def test_nan_follows_window_order_both_paths(self, spark):
        """Spark ranks NaN above every value: FIRST under descending, LAST
        under ascending — both the prune and the k=1 fast path must agree
        with what the plain rank window would emit."""
        from oni_ml_spark.datapipe.ranking import grouped_topk

        df = spark.createDataFrame(
            [("g", float("nan"), 1), ("g", 5.0, 2), ("g", 7.0, 3), ("g", 6.0, 4)],
            "grp string, v double, id int",
        )
        desc = [(r["id"], r["rank"]) for r in
                grouped_topk(df, "grp", "v", 2, tie_col="id").orderBy("rank").collect()]
        assert desc == [(1, 1), (3, 2)]  # NaN first under descending
        asc = [(r["id"], r["rank"]) for r in
               grouped_topk(df, "grp", "v", 3, ascending=True, tie_col="id")
               .orderBy("rank").collect()]
        assert asc == [(2, 1), (4, 2), (3, 3)]  # NaN last under ascending
        assert grouped_topk(df, "grp", "v", 1, tie_col="id").collect()[0]["id"] == 1
        # NaN also outranks +infinity (no sentinel collision)
        inf = spark.createDataFrame(
            [("g", float("inf"), 1), ("g", float("nan"), 2)],
            "grp string, v double, id int",
        )
        assert grouped_topk(inf, "grp", "v", 1, tie_col="id").collect()[0]["id"] == 2

    def test_big_longs_exact_on_fast_path(self, spark):
        """Longs beyond 2^53 must not collapse through a double coercion —
        the k=1 fast path negates in the native type and the prune's value
        column is non-null, so pandas keeps int64."""
        from oni_ml_spark.datapipe.ranking import grouped_topk

        a, b = 9007199254740992, 9007199254740993  # equal as doubles
        df = spark.createDataFrame(
            [("g", a, 1), ("g", b, 2)], "grp string, v long, id int"
        )
        assert grouped_topk(df, "grp", "v", 1, ascending=True, tie_col="id") \
            .collect()[0]["v"] == a
        assert grouped_topk(df, "grp", "v", 1, tie_col="id").collect()[0]["v"] == b
        got = [r["v"] for r in grouped_topk(df, "grp", "v", 2, tie_col="id")
               .orderBy("rank").collect()]
        assert got == [b, a]

    def test_long_min_exact_under_ansi(self, spark):
        """LONG_MIN in the data must rank correctly on the descending k=1
        path under ANSI mode — the widened negation (_neg_exact: bigint →
        decimal(20,0)) replaces the old documented-overflow caveat. INT_MIN
        likewise on an int order column (widened to bigint)."""
        from oni_ml_spark.datapipe.ranking import grouped_topk, select_canonical

        long_min = -(2**63)
        df = spark.createDataFrame(
            [("g", long_min, 1), ("g", -5, 2), ("g", 2**63 - 1, 3)],
            "grp string, v long, id int",
        )
        # capture WITHOUT a default fallback: conf.get(key, "false") on an
        # unset key would "restore" an explicit false over Spark 4's
        # ANSI-on default, silently disabling ANSI for every later test in
        # the shared session (caught by the r11 gate test's suite failure)
        old_ansi = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            assert grouped_topk(df, "grp", "v", 1, tie_col="id") \
                .collect()[0]["v"] == 2**63 - 1
            # LONG_MIN itself wins the ascending direction untouched
            assert grouped_topk(df, "grp", "v", 1, ascending=True, tie_col="id") \
                .collect()[0]["v"] == long_min
            # select_canonical shares the negation path
            can = select_canonical(
                df.withColumnRenamed("grp", "cluster"), "v", id_col="id"
            ).collect()
            assert can[0]["v"] == 2**63 - 1
            int_min = -(2**31)
            di = spark.createDataFrame(
                [("g", int_min, 1), ("g", 7, 2)], "grp string, v int, id int"
            )
            assert grouped_topk(di, "grp", "v", 1, tie_col="id") \
                .collect()[0]["v"] == 7
            # and LONG_MIN as the group's ONLY value still returns (its
            # negation is what used to overflow)
            solo = spark.createDataFrame(
                [("g", long_min, 1)], "grp string, v long, id int"
            )
            assert grouped_topk(solo, "grp", "v", 1, tie_col="id") \
                .collect()[0]["v"] == long_min
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old_ansi)

    def test_validation(self, spark):
        from oni_ml_spark.datapipe.ranking import grouped_topk

        df = spark.createDataFrame([("g", 1.0, 1)], "grp string, v double, id int")
        with pytest.raises(ValueError, match="tie_col"):
            grouped_topk(df, "grp", "v", 2)
        with pytest.raises(ValueError, match="positive"):
            grouped_topk(df, "grp", "v", 0, tie_col="id")
        with pytest.raises(ValueError, match="not in input"):
            grouped_topk(df, "grp", "zz", 2, tie_col="id")
        with pytest.raises(ValueError, match="already exists"):
            grouped_topk(df.withColumn("rank", F.lit(1)), "grp", "v", 2, tie_col="id")
        # string order columns are rejected, not silently misordered
        with pytest.raises(ValueError, match="numeric"):
            grouped_topk(df, "grp", "grp", 2, tie_col="id")


class TestSelectCanonical:
    def test_matches_arg_max_oracle(self, spark):
        """Highest score wins, ties break to smallest id — vs DuckDB
        row_number over (score DESC, id ASC)."""
        from oni_ml_spark.datapipe.ranking import select_canonical
        from oni_ml_spark.io import load_table

        d = load_table(spark, SF_DIR, "documents").select(
            F.col("doc_id").alias("id"),
            (F.col("doc_id") % 7).alias("cluster"),
            (F.col("n_chars") % 100).cast("double").alias("score"),
            "source",
        )
        got = sorted(
            (r["cluster"], r["id"]) for r in
            select_canonical(d, "score").collect()
        )
        con = duckdb.connect()
        want = sorted(
            con.execute(
                f"""SELECT cluster, id FROM (
                    SELECT doc_id % 7 AS cluster, doc_id AS id,
                           row_number() OVER (PARTITION BY doc_id % 7
                             ORDER BY (n_chars % 100)::DOUBLE DESC, doc_id) AS rn
                    FROM '{SF_DIR}/documents.parquet') WHERE rn = 1"""
            ).fetchall()
        )
        assert got == want and len(got) == 7

    def test_null_scores_lose_except_alone(self, spark):
        from oni_ml_spark.datapipe.ranking import select_canonical

        df = spark.createDataFrame(
            [(1, "a", None), (2, "a", 0.5), (3, "b", None)],
            "id int, cluster string, score double",
        )
        got = {r["cluster"]: r["id"] for r in select_canonical(df, "score").collect()}
        assert got == {"a": 2, "b": 3}

    def test_null_never_beats_minus_infinity(self, spark):
        """The order-class scheme means no sentinel can collide with a real
        score: a genuine -inf score still beats a null score."""
        from oni_ml_spark.datapipe.ranking import select_canonical

        df = spark.createDataFrame(
            [(1, "a", None), (2, "a", float("-inf"))],
            "id int, cluster string, score double",
        )
        assert select_canonical(df, "score").collect()[0]["id"] == 2

    def test_all_columns_preserved_and_codegen(self, spark):
        from oni_ml_spark.datapipe.ranking import select_canonical
        from oni_ml_spark.plans.diagnostics import plan_report

        df = spark.createDataFrame(
            [(1, "a", 1.0, "x"), (2, "a", 2.0, "y")],
            "id int, cluster string, score double, payload string",
        )
        rows = select_canonical(df, "score").collect()
        assert rows[0]["payload"] == "y" and set(rows[0].asDict()) == {
            "id", "cluster", "score", "payload"
        }
        rep = plan_report(select_canonical(df, "score"))
        assert "MapInPandas" not in rep["plan"]


class TestSnapshotDiff:
    def test_matches_full_outer_oracle(self, spark):
        from oni_ml_spark.datapipe.snapshots import diff_summary, snapshot_diff
        from oni_ml_spark.io import load_table

        old = load_table(spark, SF_DIR, "documents")
        # new snapshot: drop ids %11==0, edit text of %7==0, add shifted ids
        new = (
            old.filter(F.col("doc_id") % 11 != 0)
            .withColumn(
                "text",
                F.when(F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" EDIT")))
                .otherwise(F.col("text")),
            )
            .unionByName(old.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000_000))
        )
        diff = snapshot_diff(old, new, "doc_id", ["text", "source"])
        got = sorted((r["id"], r["status"]) for r in diff.collect())
        con = duckdb.connect()
        want = sorted(
            con.execute(
                f"""WITH old AS (SELECT doc_id, text, source FROM '{SF_DIR}/documents.parquet'),
                new AS (
                  SELECT doc_id,
                         CASE WHEN doc_id % 7 = 0 THEN text || ' EDIT' ELSE text END AS text,
                         source
                  FROM old WHERE doc_id % 11 != 0
                  UNION ALL
                  SELECT doc_id + 10000000, text, source FROM (
                    SELECT * FROM old ORDER BY doc_id LIMIT 5))
                SELECT coalesce(o.doc_id, n.doc_id) AS id,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN o.text = n.text AND o.source = n.source THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id"""
            ).fetchall()
        )
        # the Spark 'new' limit(5) is nondeterministic in principle; both
        # sides add ids far outside the base domain, so compare by status
        # counts for added and exactly by id for the rest
        got_counts = {}
        want_counts = {}
        for rows, counts in ((got, got_counts), (want, want_counts)):
            for _, s in rows:
                counts[s] = counts.get(s, 0) + 1
        assert got_counts == want_counts
        assert sorted(i for i, s in got if s != "added") == sorted(
            i for i, s in want if s != "added"
        )
        summ = {r["status"]: r["n"] for r in diff_summary(diff).collect()}
        assert summ == {**{"added": 0, "removed": 0, "changed": 0, "unchanged": 0},
                        **got_counts}

    def test_null_handling_and_validation(self, spark):
        from oni_ml_spark.datapipe.snapshots import snapshot_diff

        a = spark.createDataFrame([(1, "x"), (2, None)], "id int, t string")
        b = spark.createDataFrame([(1, "x"), (2, "")], "id int, t string")
        got = {r["id"]: r["status"] for r in snapshot_diff(a, b, "id", "t").collect()}
        # null != empty string: the null token is reserved
        assert got == {1: "unchanged", 2: "changed"}
        # null/dup rejection is IN-PLAN (raise_error riding the join's own
        # shuffle — no extra validation scan), so it surfaces as Spark's
        # runtime error at action time, not ValueError at call time
        dup = spark.createDataFrame([(1, "x"), (1, "y")], "id int, t string")
        with pytest.raises(Exception, match="duplicate id"):
            snapshot_diff(dup, b, "id", "t").collect()
        withnull = spark.createDataFrame([(None, "x")], "id int, t string")
        with pytest.raises(Exception, match="null id"):
            snapshot_diff(withnull, b, "id", "t").collect()
        with pytest.raises(ValueError, match="lacks columns"):
            snapshot_diff(a, b, "id", ["zz"])

    def test_validate_flag_and_no_extra_jobs(self, spark):
        from oni_ml_spark.datapipe.snapshots import snapshot_diff

        a = spark.createDataFrame([(1, "x"), (2, "y")], "id int, t string")
        b = spark.createDataFrame([(2, "y"), (3, "z")], "id int, t string")
        # calling snapshot_diff runs NO jobs either way: validation is part
        # of the diff plan (validate=True) or absent (validate=False) —
        # never an eager pre-scan. Assert laziness via the tracker.
        # counted in a job group of its own: a count of all jobs drops
        # whenever the status store passes spark.ui.retainedJobs
        sc = spark.sparkContext
        sc.setJobGroup("snapshot-diff-build", "snapshot-diff-build")
        try:
            lazy = snapshot_diff(a, b, "id", "t")
            lazy_off = snapshot_diff(a, b, "id", "t", validate=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not sc.statusTracker().getJobIdsForGroup("snapshot-diff-build"), \
            "snapshot_diff ran an eager validation job"
        want = {1: "removed", 2: "unchanged", 3: "added"}
        assert {r["id"]: r["status"] for r in lazy.collect()} == want
        assert {r["id"]: r["status"] for r in lazy_off.collect()} == want
        # validate=False really skips the guard: a dup id fans out instead
        # of raising (the documented caller-asserts-uniqueness contract)
        dup = spark.createDataFrame([(1, "x"), (1, "y")], "id int, t string")
        rows = snapshot_diff(dup, b, "id", "t", validate=False).collect()
        assert sum(1 for r in rows if r["id"] == 1) == 2

    def test_field_boundary_no_collision(self, spark):
        from oni_ml_spark.datapipe.snapshots import snapshot_diff

        a = spark.createDataFrame([(1, "ab", "c")], "id int, x string, y string")
        b = spark.createDataFrame([(1, "a", "bc")], "id int, x string, y string")
        got = snapshot_diff(a, b, "id", ["x", "y"]).collect()
        assert got[0]["status"] == "changed"
        # content containing a would-be separator byte cannot alias across
        # field boundaries either (field-wise fixed digests, not concat)
        c = spark.createDataFrame([(1, "a\x1fb", "c")], "id int, x string, y string")
        d = spark.createDataFrame([(1, "a", "b\x1fc")], "id int, x string, y string")
        assert snapshot_diff(c, d, "id", ["x", "y"]).collect()[0]["status"] == "changed"


class TestProfileTable:
    def test_matches_duckdb_exact(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import profile_table

        e = load_table(spark, SF_DIR, "events")
        got = {
            r["column"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
            for r in profile_table(
                e, ["event_type", "value", "props"], exact_distinct=True
            ).collect()
        }
        con = duckdb.connect()
        for col in ("event_type", "value", "props"):
            n, nulls, dis = con.execute(
                f"SELECT count(*), sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END), "
                f"count(DISTINCT {col}) FROM '{SF_DIR}/events.parquet'"
            ).fetchone()
            assert got[col] == (n, nulls, dis), col

    def test_approx_distinct_within_rsd(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import profile_table

        e = load_table(spark, SF01, "events")
        approx = {
            r["column"]: r["n_distinct"]
            for r in profile_table(e, ["event_id"], rsd=0.05).collect()
        }
        exact = e.select("event_id").distinct().count()
        assert abs(approx["event_id"] - exact) <= 0.25 * exact

    def test_single_scan_plan(self, spark):
        """The whole profile is ONE aggregate over ONE scan."""
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import plan_report, profile_table

        e = load_table(spark, SF_DIR, "events")
        rep = plan_report(profile_table(e, ["event_type", "value"]))
        assert rep["scans"] == 1

    def test_validation(self, spark):
        from oni_ml_spark.plans.diagnostics import profile_table

        df = spark.createDataFrame([(1,)], "a int")
        with pytest.raises(ValueError, match="not in input"):
            profile_table(df, ["zz"])

    def test_map_columns_profiled_not_fatal(self, spark):
        """Unorderable (map) columns report rows/nulls with null
        distinct/min/max — the whole profile must not die on them."""
        from oni_ml_spark.plans.diagnostics import profile_table

        df = spark.createDataFrame(
            [(1, {"k": 1}), (2, None)], "a int, mp map<string,int>"
        )
        got = {r["column"]: r for r in profile_table(df).collect()}
        assert got["mp"]["n_rows"] == 2 and got["mp"]["n_nulls"] == 1
        assert got["mp"]["n_distinct"] is None and got["mp"]["min_value"] is None
        assert got["a"]["n_distinct"] == 2


class TestPlanReport:
    def test_counts_joins_and_exchanges(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import plan_report

        li = load_table(spark, SF_DIR, "lineitem")
        p = load_table(spark, SF_DIR, "part").select("p_partkey", "p_size")
        bc = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        rep = plan_report(bc)
        assert rep["broadcast_hash_joins"] >= 1 and rep["scans"] == 2

        agg = li.groupBy("l_returnflag").count()
        rep2 = plan_report(agg)
        # (codegen_spans is best-effort: AQE plans carry no codegen ids
        # before execution, so only the structural counters are asserted)
        assert rep2["exchanges"] >= 1 and rep2["sort_merge_joins"] == 0

    def test_pushed_filters_detected(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import plan_report

        li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") > 30)
        assert plan_report(li.select("l_orderkey"))["has_pushed_filters"]
        assert not plan_report(
            load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
        )["has_pushed_filters"]


class TestUpdateLshIndex:
    def test_update_equals_full_rebuild(self, spark, tmp_path):
        """Index refreshed with an edited+extended batch must be
        row-identical to an index rebuilt from scratch over the merged
        corpus — and drive incremental_near_dups to identical results."""
        from oni_ml_spark.datapipe.dedup import (
            incremental_near_dups,
            lsh_index,
            update_lsh_index,
        )
        from oni_ml_spark.io import load_table

        d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        base = d.filter(F.col("doc_id") < 80)
        idx_path = str(tmp_path / "lsh_index.parquet")
        lsh_index(base, "doc_id", "text").write.parquet(idx_path)
        index = spark.read.parquet(idx_path)

        # batch: re-ingest 10 edited docs (signature must be REPLACED) +
        # 20 genuinely new ones
        edited = d.filter(F.col("doc_id") < 10).withColumn(
            "text", F.concat("text", F.lit(" rewritten entirely"))
        )
        fresh = d.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 100))
        batch = edited.unionByName(fresh)

        updated = update_lsh_index(index, batch, "doc_id", "text")
        merged_corpus = (
            base.filter(F.col("doc_id") >= 10).unionByName(batch)
        )
        rebuilt = lsh_index(merged_corpus, "doc_id", "text")
        assert sorted((r["id"], tuple(r["sig"])) for r in updated.collect()) == \
            sorted((r["id"], tuple(r["sig"])) for r in rebuilt.collect())

        probe = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
        a = sorted(map(tuple, incremental_near_dups(
            probe, updated, "doc_id", "text", threshold=0.5).collect()))
        b = sorted(map(tuple, incremental_near_dups(
            probe, rebuilt, "doc_id", "text", threshold=0.5).collect()))
        assert a == b

    def test_shingleless_batch_doc_removed_not_stale(self, spark):
        """A batch doc edited down to < n words has no shingles → no new
        signature. Its OLD signature must be dropped, not silently kept
        (the content it signed no longer exists) — matching a full rebuild,
        where lsh_index over the merged corpus also emits no row for it."""
        from oni_ml_spark.datapipe.dedup import lsh_index, update_lsh_index

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "two three four five")],
            "doc_id long, text string",
        )
        index = lsh_index(df, "doc_id", "text")
        batch = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
        updated = update_lsh_index(index, batch, "doc_id", "text")
        assert [r["id"] for r in updated.collect()] == [2]

    def test_null_batch_ids_rejected(self, spark):
        """A null id in the batch reaches merge_upsert's null-key guard (it
        could never replace its stale index row). Duplicate batch ids are
        NOT an error here by construction: minhash_signatures groups
        shingles by id, so they merge upstream into one signature row."""
        from oni_ml_spark.datapipe.dedup import lsh_index, update_lsh_index

        df = spark.createDataFrame(
            [(1, "one two three"), (2, "two three four")], "doc_id long, text string"
        )
        index = lsh_index(df, "doc_id", "text")
        null_batch = spark.createDataFrame(
            [(None, "a b c"), (3, "a b d")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="null key"):
            update_lsh_index(index, null_batch, "doc_id", "text")


class TestColumnHistogram:
    def test_matches_duckdb_width_bucket(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import column_histogram

        e = load_table(spark, SF01, "events")
        got = [(r["bin"], r["n"]) for r in
               column_histogram(e, "value", bins=8).collect()]
        con = duckdb.connect()
        lo, hi = con.execute(
            f"SELECT min(value), max(value) FROM '{SF01}/events.parquet'"
        ).fetchone()
        want = con.execute(
            f"""WITH b AS (SELECT least(7, greatest(0,
                  floor((value - {lo}) / (({hi} - {lo}) / 8.0))::INT)) AS bin
                FROM '{SF01}/events.parquet' WHERE value IS NOT NULL),
            c AS (SELECT bin, count(*)::BIGINT AS n FROM b GROUP BY bin)
            SELECT g.bin, coalesce(c.n, 0) FROM range(8) g(bin)
            LEFT JOIN c ON c.bin = g.bin ORDER BY g.bin"""
        ).fetchall()
        assert got == [(int(b), n) for b, n in want]
        assert sum(n for _, n in got) == e.filter(F.col("value").isNotNull()).count()

    def test_bounds_and_validation(self, spark):
        from oni_ml_spark.plans.diagnostics import column_histogram

        df = spark.createDataFrame([(0.0,), (5.0,), (10.0,), (None,)], "v double")
        rows = column_histogram(df, "v", bins=2, lo=0.0, hi=10.0).collect()
        # half-open bins [0,5) [5,10] — 5.0 is bin 1, and 10.0 lands in the
        # LAST (closed-top) bin; null excluded
        assert [(r["bin"], r["n"]) for r in rows] == [(0, 1), (1, 2)]
        with pytest.raises(ValueError, match="positive"):
            column_histogram(df, "v", bins=0)
        with pytest.raises(ValueError, match="hi > lo"):
            column_histogram(df, "v", lo=5.0, hi=5.0)
        empty = spark.createDataFrame([(None,)], "v double")
        with pytest.raises(ValueError, match="no non-null"):
            column_histogram(empty, "v")


class TestNumericCorrelations:
    def test_matches_duckdb_corr(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import numeric_correlations

        li = load_table(spark, SF_DIR, "lineitem")
        got = {(r["col_a"], r["col_b"]): r["corr"] for r in
               numeric_correlations(
                   li, ["l_quantity", "l_extendedprice", "l_discount"]).collect()}
        con = duckdb.connect()
        for a, b in got:
            want = con.execute(
                f"SELECT corr({a}, {b}) FROM '{SF_DIR}/lineitem.parquet'"
            ).fetchone()[0]
            assert abs(got[(a, b)] - want) < 1e-9, (a, b)
        assert len(got) == 3  # upper triangle of 3 columns

    def test_single_scan_and_validation(self, spark):
        from oni_ml_spark.io import load_table
        from oni_ml_spark.plans.diagnostics import (
            numeric_correlations,
            plan_report,
        )

        li = load_table(spark, SF_DIR, "lineitem")
        rep = plan_report(numeric_correlations(li, ["l_quantity", "l_tax"]))
        assert rep["scans"] == 1
        with pytest.raises(ValueError, match="at least two"):
            numeric_correlations(li, ["l_quantity"])
        with pytest.raises(ValueError, match="not in input"):
            numeric_correlations(li, ["l_quantity", "zz"])


class TestWriteTrainingShards:
    def test_shards_are_position_addressable_and_deterministic(self, spark, tmp_path):
        from oni_ml_spark.datapipe.sampling import write_training_shards
        from oni_ml_spark.io import load_table

        d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        out = str(tmp_path / "shards")
        n_shards = write_training_shards(d, "doc_id", out, shard_size=64)
        total = d.count()
        assert n_shards == (total + 63) // 64
        back = spark.read.parquet(out)
        assert back.count() == total
        # shard K holds exactly samples [K*64, (K+1)*64) in doc_id order
        import duckdb

        con = duckdb.connect()
        want = dict(con.execute(
            f"SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 "
            f"FROM '{SF_DIR}/documents.parquet'"
        ).fetchall())
        for r in back.collect():
            assert r["sample_idx"] == want[r["doc_id"]]
            assert r["shard"] == r["sample_idx"] // 64
        # partition pruning: reading one shard touches one directory
        one = spark.read.parquet(out).filter(F.col("shard") == 1)
        assert one.count() == min(64, max(0, total - 64))

    def test_validation(self, spark):
        from oni_ml_spark.datapipe.sampling import write_training_shards

        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="positive"):
            write_training_shards(df, "k", "/tmp/x", 0)
