"""Structured Streaming tests: stream-static scoring parity with batch, and
watermarked windowed corpus counts, driven end-to-end with a file stream
source and memory sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oni_ml_spark.streaming import score_stream, windowed_corpus_counts
from oni_ml_spark.topics import corpus_counts, fit_topic_model


@pytest.fixture(scope="module")
def model(spark):
    events = spark.createDataFrame(
        [(f"u{i % 4}", f"w{(i * 7) % 5}") for i in range(200)],
        "doc string, word string",
    )
    return fit_topic_model(corpus_counts(events, "doc", "word"), topic_count=3, seed=1, max_iter=5)


def test_stream_scoring_matches_batch(spark, model, tmp_path):
    from oni_ml_spark.scoring import score_records

    batch = spark.createDataFrame(
        [("u0", "w1"), ("u1", "w2"), ("unknown", "w0"), ("u2", "nonword")],
        "doc string, word string",
    )
    batch.write.mode("overwrite").parquet(str(tmp_path / "in"))

    stream = spark.readStream.schema("doc string, word string").parquet(str(tmp_path / "in"))
    scored = score_stream(stream, model, "doc", "word")
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["doc"], r["word"]): r["score"]
        for r in spark.sql("SELECT * FROM scored_stream").collect()
    }
    want = {
        (r["doc"], r["word"]): r["score"]
        for r in score_records(batch, model, "doc", "word").collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def test_windowed_corpus_counts(spark, tmp_path):
    rows = [
        ("2024-01-01 00:01:00", "u0", "w0"),
        ("2024-01-01 00:02:00", "u0", "w0"),
        ("2024-01-01 00:14:00", "u0", "w1"),
        ("2024-01-01 00:14:30", "u1", "w0"),
    ]
    df = spark.createDataFrame(rows, "ts_s string, doc string, word string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "doc", "word"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "sin"))

    stream = spark.readStream.schema("ts timestamp, doc string, word string").parquet(
        str(tmp_path / "sin")
    )
    counts = windowed_corpus_counts(stream, "ts", "doc", "word", window="10 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window"]["start"].minute, r["doc"], r["word"]): r["count"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[(0, "u0", "w0")] == 2
    assert got[(10, "u0", "w1")] == 1
    assert got[(10, "u1", "w0")] == 1


def test_stream_dedup(spark, tmp_path):
    from oni_ml_spark.streaming.score_stream import dedup_stream

    rows = [
        ("2024-01-01 00:01:00", "k1"),
        ("2024-01-01 00:02:00", "k1"),  # dup within watermark
        ("2024-01-01 00:03:00", "k2"),
    ]
    df = spark.createDataFrame(rows, "t string, k string").select(
        F.col("t").cast("timestamp").alias("ts"), "k"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "din"))
    stream = spark.readStream.schema("ts timestamp, k string").parquet(str(tmp_path / "din"))
    out = dedup_stream(stream, ["k"], "ts")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(r["k"] for r in spark.sql("SELECT k FROM dedup_stream").collect())
    assert got == ["k1", "k2"]


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization matches the batch sessionizer,
    including state carried across micro-batches: two availableNow runs
    against one checkpoint (deterministic batch order + a full query
    restart between them)."""
    from oni_ml_spark.datapipe.sessions import sessionize as batch_sessionize
    from oni_ml_spark.streaming.stateful import sessionize_stream

    batch1 = [
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-01 10:10:00"),
        ("u2", "2024-01-01 09:00:00"),
    ]
    batch2 = [
        ("u1", "2024-01-01 11:30:00"),   # > 30 min after batch1 → session 2
        ("u2", "2024-01-01 09:05:00"),   # continues session 1
    ]
    # two separate availableNow runs against one checkpoint: batch order is
    # deterministic AND state must survive a full query restart
    for rows in [batch1, batch2]:
        spark.createDataFrame(rows, "user string, t string").select(
            "user", F.col("t").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "sess_in"))
        stream = spark.readStream.schema("user string, ts timestamp").parquet(
            str(tmp_path / "sess_in")
        )
        out = sessionize_stream(stream, "user", "ts", gap_seconds=1800)
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "sess_out"))
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(180)

    got = {
        (r["user"], r["ts"].isoformat()): r["session_no"]
        for r in spark.read.parquet(str(tmp_path / "sess_out")).collect()
    }
    all_rows = batch1 + batch2
    batch_df = spark.createDataFrame(all_rows, "user string, t string").select(
        "user", F.col("t").cast("timestamp").alias("ts")
    )
    want = {
        (r["user"], r["ts"].isoformat()): r["session_no"]
        for r in batch_sessionize(batch_df, "user", "ts", gap_seconds=1800).collect()
    }
    assert got == want


def test_stream_as_of_enrich_matches_batch_asof(spark, tmp_path):
    """Stream-static as-of enrichment must agree with the batch as_of_join
    on the same frames (the interval-join reformulation is semantics-
    preserving, including ties and never-matched rows)."""
    from oni_ml_spark.datapipe.temporal import as_of_join
    from oni_ml_spark.streaming import as_of_enrich_stream

    left = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 12.0), (3, "a", 30.0), (4, "b", 5.0), (5, "c", 9.0)],
        "id long, k string, t double",
    )
    right = spark.createDataFrame(
        [("a", 12.0, "x"), ("a", 20.0, "y"), ("b", 1.0, "z")],
        "k string, rt double, tag string",
    )
    left.write.mode("overwrite").parquet(str(tmp_path / "asof_in"))

    stream = spark.readStream.schema("id long, k string, t double").parquet(
        str(tmp_path / "asof_in")
    )
    q = (
        as_of_enrich_stream(stream, right, key="k", stream_time="t", right_time="rt")
        .writeStream.format("memory").queryName("asof_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = {
        r["id"]: (r["__matched_time"], r["tag"])
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }
    want = {
        r["id"]: (r["__matched_time"], r["tag"])
        for r in as_of_join(left, right, "k", "t", "rt").collect()
    }
    assert got == want
    assert got[1] == (None, None)       # before the first checkpoint
    assert got[2] == (12.0, "x")        # tie matches
    assert got[3] == (20.0, "y")        # open-ended last interval
    assert got[5] == (None, None)       # key never in right


def test_stream_stream_asof_two_batches(spark, tmp_path):
    """Stream-STREAM as-of: rights buffer in per-key state across
    micro-batches; lefts in a LATER batch match rights from an EARLIER one.
    Batch 1 = two rights + one left; batch 2 = lefts only (they must match
    the buffered rights, incl. an update that arrived in batch 1)."""
    import time

    from oni_ml_spark.streaming import as_of_join_stream

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    lschema, rschema = "id long, k string, t double", "k string, rt double, price double"

    def write(d, rows, schema, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    # batch 1 files
    write(rdir, [("a", 10.0, 1.5), ("a", 20.0, 2.5), ("b", 5.0, 9.0)], rschema, "r1")
    write(ldir, [(1, "a", 15.0)], lschema, "l1")

    left = spark.readStream.schema(lschema).parquet(ldir)
    right = spark.readStream.schema(rschema).parquet(rdir)
    out = as_of_join_stream(left, right, key="k", left_time="t", right_time="rt")
    q = (
        out.writeStream.format("memory").queryName("ss_asof")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM ss_asof").collect()[0]["c"] >= 1:
                break
            time.sleep(1)
        # batch 2: lefts only — matches must come from state
        write(ldir, [(2, "a", 25.0), (3, "a", 9.0), (4, "b", 6.0), (5, "zz", 1.0)], lschema, "l2")
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM ss_asof").collect()[0]["c"] >= 5:
                break
            time.sleep(1)
        got = {
            r["id"]: (r["__matched_time"], r["price"])
            for r in spark.sql("SELECT * FROM ss_asof").collect()
        }
    finally:
        q.stop()

    assert got[1] == (10.0, 1.5)     # in-batch match
    assert got[2] == (20.0, 2.5)     # cross-batch: right buffered in state
    assert got[3] is not None and got[3][0] is None   # before first right
    assert got[4] == (5.0, 9.0)
    assert got[5][0] is None         # key never seen on the right


def test_stream_stream_asof_watermarked_retroactive_match(spark, tmp_path):
    """Watermark-aligned variant: a left row is held in state until the
    watermark passes its event time, so a LATE right row (arriving a batch
    later, but within the watermark delay) still matches retroactively —
    the completeness guarantee the emit-on-arrival variant trades away."""
    import time

    from oni_ml_spark.streaming.asof_stream import as_of_join_stream_watermarked

    ldir, rdir = str(tmp_path / "wl"), str(tmp_path / "wr")
    lschema, rschema = "id long, k string, t double", "k string, rt double, price double"

    def write(d, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)

    # batch 1: an early right + the left under test (t=105)
    write(rdir, [("a", 100.0, 1.0)], rschema)
    write(ldir, [(1, "a", 105.0)], lschema)

    left = spark.readStream.schema(lschema).parquet(ldir)
    right = spark.readStream.schema(rschema).parquet(rdir)
    out = as_of_join_stream_watermarked(
        left, right, key="k", left_time="t", right_time="rt",
        watermark_delay="5 seconds",
    )
    q = (
        out.writeStream.format("memory").queryName("ss_asof_wm")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        time.sleep(4)  # let batch 1 process (watermark still 0 → no output)
        # batch 2: the LATE right the left must pick up, plus a future row
        # that drags the watermark past t=105 on the following batch
        write(rdir, [("a", 104.0, 2.0), ("a", 200.0, 9.9)], rschema)
        time.sleep(4)
        # batch 3: unrelated key; its arrival (plus the event-time timeout)
        # lets the now-advanced watermark flush the pending left
        write(ldir, [(7, "zz", 1.0)], lschema)
        deadline = time.time() + 90
        n = 100
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM ss_asof_wm WHERE id = 1").collect()[0]["c"] >= 1:
                break
            time.sleep(1)
            n += 1
            write(ldir, [(n, "zz2", 1.0)], lschema)  # keep batches flowing
        rows = {r["id"]: r for r in spark.sql("SELECT * FROM ss_asof_wm").collect()}
    finally:
        q.stop()

    assert 1 in rows, f"pending left never flushed: {rows}"
    # the late right (rt=104) won over the early one (rt=100)
    assert rows[1]["__matched_time"] == 104.0
    assert rows[1]["price"] == 2.0


def test_windowed_approx_distinct_matches_batch(spark, tmp_path):
    """Streaming per-window approx distinct must equal the identical batch
    expression (same HLL++ sketch merged across micro-batches), and be
    exact-accurate at this tiny cardinality."""
    from oni_ml_spark.streaming import windowed_approx_distinct

    rows = [
        ("2024-01-01 00:01:00", "s1", "u1"),
        ("2024-01-01 00:02:00", "s1", "u1"),  # same user again
        ("2024-01-01 00:03:00", "s1", "u2"),
        ("2024-01-01 00:14:00", "s1", "u1"),
        ("2024-01-01 00:14:30", "s2", "u3"),
    ]
    df = spark.createDataFrame(rows, "ts_s string, src string, user string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "src", "user"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "adin"))
    stream = spark.readStream.schema("ts timestamp, src string, user string").parquet(
        str(tmp_path / "adin")
    )
    out = windowed_approx_distinct(stream, "ts", "user", ["src"], window="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("win_ad")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"].minute, r["src"]): r["approx_distinct"]
        for r in spark.sql("SELECT * FROM win_ad").collect()
    }
    assert got == {(0, "s1"): 2, (10, "s1"): 1, (10, "s2"): 1}


def test_streaming_ingest_dedup_against_growing_lsh_index(spark, tmp_path):
    """The streaming ingest-dedup loop: each micro-batch is checked against
    the persisted LSH index via foreachBatch, duplicate docs are dropped,
    and the survivors' signatures are APPENDED to the index so later
    batches dedup against everything seen so far (including earlier
    batches of the same stream)."""
    from oni_ml_spark.datapipe.dedup import incremental_near_dups, lsh_index

    base = "the quick brown fox jumps over the lazy dog again and again in the park"
    seed_corpus = spark.createDataFrame(
        [(0, "completely different text about spark query engines and shuffles")],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "index")
    lsh_index(seed_corpus, "doc_id", "text").write.mode("overwrite").parquet(idx_path)

    # two files -> two (or one) micro-batches; maxFilesPerTrigger forces order
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [(100, base), (101, "a novel story about gardens and rivers flowing north")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(in_dir / "b1"))
    spark.createDataFrame(
        # 200 is a near-dup of 100 (seen in the previous batch) — must drop
        [(200, base.replace("park", "yard")),
         (201, "unique musings on distributed quantile sketches at dusk")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(in_dir / "b2"))

    accepted: list[int] = []

    def process(batch_df, _bid):
        index = spark.read.parquet(idx_path)
        dups = incremental_near_dups(
            batch_df, index, "doc_id", "text", threshold=0.5
        ).select("new_id").distinct()
        keep = batch_df.join(
            dups.withColumnRenamed("new_id", "doc_id"), "doc_id", "left_anti"
        )
        accepted.extend(r["doc_id"] for r in keep.select("doc_id").collect())
        lsh_index(keep, "doc_id", "text").write.mode("append").parquet(idx_path)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(accepted)
    # novel docs always survive; 100 and 200 are near-dups of each other, so
    # whichever micro-batch ran first wins and the other is dropped by the
    # grown index (file order is mtime-based — don't depend on it)
    assert 101 in got and 201 in got
    assert len({100, 200} & set(got)) == 1
    # the index grew by exactly the accepted docs
    idx_ids = sorted(
        r["id"] for r in spark.read.parquet(idx_path).select("id").collect()
    )
    assert idx_ids == sorted([0] + got)


def test_quality_filter_on_stream_matches_batch(spark, tmp_path):
    """The curation gate is a stateless projection, so it runs unchanged on
    a stream — batch/stream value parity over the same files."""
    from oni_ml_spark.datapipe.textstats import quality_filter

    batch = spark.createDataFrame(
        [(0, "the cat and the dog ran off to the park with all of the other dogs " * 2),
         (1, "tiny"),
         (2, "123 456 789 " * 30)],
        "doc_id long, text string",
    )
    batch.write.mode("overwrite").parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "in")
    )
    out = quality_filter(stream, "doc_id", "text", min_tokens=10)
    q = (
        out.writeStream.format("memory").queryName("qgate_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r["id"]: (tuple(r["failed_rules"]), r["passes"])
        for r in spark.sql("SELECT * FROM qgate_stream").collect()
    }
    want = {
        r["id"]: (tuple(r["failed_rules"]), r["passes"])
        for r in quality_filter(batch, "doc_id", "text", min_tokens=10).collect()
    }
    assert got == want and not want[1][1] and want[0][1]


def test_stream_ann_enrichment_against_persisted_ivf_index(spark, tmp_path):
    """Stream-static ANN enrichment: a query stream is scored per micro-batch
    against a parquet-persisted IVF index via foreachBatch — the serving
    pattern for 'attach nearest corpus neighbors to arriving embeddings'.
    Each batch's results must equal the batch ivf_search over the same
    reloaded index."""
    from pyspark.sql import functions as F

    from oni_ml_spark.datapipe.similarity import build_ivf_index, ivf_search
    from oni_ml_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cent, assigned = build_ivf_index(emb, n_cells=4)
    cent.write.parquet(str(tmp_path / "cent"))
    assigned.write.parquet(str(tmp_path / "assigned"))

    qdir = tmp_path / "queries"
    emb.filter(F.col("vec_id") < 2).write.parquet(str(qdir))
    emb.filter((F.col("vec_id") >= 2) & (F.col("vec_id") < 4)).write.mode(
        "append"
    ).parquet(str(qdir))

    cent2 = spark.read.parquet(str(tmp_path / "cent"))
    assigned2 = spark.read.parquet(str(tmp_path / "assigned"))
    got = []

    def enrich(batch_df, _bid):
        if batch_df.isEmpty():
            return
        got.extend(
            map(tuple, ivf_search(batch_df, cent2, assigned2, k=3, n_probe=2).collect())
        )

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).option("maxFilesPerTrigger", "1").parquet(str(qdir))
    q = stream.writeStream.foreachBatch(enrich).trigger(availableNow=True).start()
    q.awaitTermination(120)

    want = sorted(
        map(
            tuple,
            ivf_search(
                emb.filter(F.col("vec_id") < 4), cent2, assigned2, k=3, n_probe=2
            ).collect(),
        )
    )
    assert sorted(got) == want and len(want) == 12


def test_streaming_topk_leaderboard_matches_batch(spark, tmp_path):
    """topk_writer's snapshot after draining the stream equals batch
    grouped_topk over everything delivered — entity-best semantics (an
    improving entity replaces its row), bounded state, replay-safe."""
    from oni_ml_spark.datapipe.ranking import grouped_topk
    from oni_ml_spark.streaming.upsert_sink import read_upsert_table, topk_writer

    indir = str(tmp_path / "in")
    state = str(tmp_path / "board")
    rows1 = [("g1", i, float(i % 7)) for i in range(20)] + [("g2", 100, 9.0)]
    rows2 = [("g1", 3, 50.0), ("g2", 101, 1.0), ("g2", 100, 9.0)]  # 3 improves; 100 replays
    spark.createDataFrame(rows1, "grp string, ent int, score double") \
        .write.mode("overwrite").parquet(indir)

    def drain():
        stream = spark.readStream.schema("grp string, ent int, score double") \
            .parquet(indir)
        q = stream.writeStream.foreachBatch(
            topk_writer(state, "grp", "score", "ent", k=3)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, "grp string, ent int, score double") \
        .write.mode("append").parquet(indir)
    drain()

    got = sorted(
        (r["grp"], r["ent"], r["score"], r["rank"])
        for r in read_upsert_table(spark, state).collect()
    )
    # batch twin: per-entity best over ALL delivered rows, then top-3
    all_rows = spark.createDataFrame(rows1 + rows2, "grp string, ent int, score double")
    best = all_rows.groupBy("grp", "ent").agg(F.max("score").alias("score"))
    want = sorted(
        (r["grp"], r["ent"], r["score"], r["rank"])
        for r in grouped_topk(best, "grp", "score", 3, tie_col="ent").collect()
    )
    assert got == want
    # entity 3's improved score leads g1; no duplicate entity rows
    g1 = [t for t in got if t[0] == "g1"]
    assert g1[0][1] == 3 and g1[0][2] == 50.0 or any(
        t[1] == 3 and t[2] == 50.0 and t[3] == 1 for t in g1)
    ents = [(t[0], t[1]) for t in got]
    assert len(ents) == len(set(ents))
    # state bounded at k per group
    assert all(sum(1 for t in got if t[0] == g) <= 3 for g in {"g1", "g2"})


def test_streaming_stats_state_matches_batch_and_skips_replays(spark, tmp_path):
    """stats_writer's state after draining the stream equals one-shot
    partial_aggregates over everything delivered; a replayed micro-batch
    id is skipped (sums are not idempotent — the marker makes the state
    exactly-once under foreachBatch's at-least-once replay)."""
    from oni_ml_spark.datapipe.incremental import (
        finalize_aggregates,
        partial_aggregates,
    )
    from oni_ml_spark.streaming.upsert_sink import (
        read_upsert_table,
        stats_writer,
    )

    indir = str(tmp_path / "in")
    state = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [(i % 5, float(i)) for i in range(40)]
    rows2 = [(i % 3, float(100 + i)) for i in range(15)]
    spark.createDataFrame(rows1, "k int, v double").write.mode("overwrite").parquet(indir)

    writer = stats_writer(state, "k", "v")

    def drain():
        stream = spark.readStream.schema("k int, v double").parquet(indir)
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, "k int, v double").write.mode("append").parquet(indir)
    drain()

    got = read_upsert_table(spark, state)
    all_rows = spark.createDataFrame(rows1 + rows2, "k int, v double")
    want = partial_aggregates(all_rows, ["k"], ["v"])

    def rows(df):
        return sorted(
            str(tuple(round(v, 9) if isinstance(v, float) else v for v in r))
            for r in df.collect()
        )

    assert rows(got) == rows(want)
    # finalized stats flow straight out of the stored state
    fin = {r["k"]: r for r in finalize_aggregates(got).collect()}
    assert fin[0]["v_count"] > 0 and fin[0]["v_min"] is not None

    # replay: re-invoking with an ALREADY-APPLIED batch id must not change
    # the state (same contract foreachBatch restart gives us — same id)
    before = rows(read_upsert_table(spark, state))
    writer(spark.createDataFrame(rows1, "k int, v double"), 0)
    assert rows(read_upsert_table(spark, state)) == before
    # a genuinely NEW batch id is applied
    writer(spark.createDataFrame([(9, 1.0)], "k int, v double"), 99)
    after = read_upsert_table(spark, state)
    assert after.where(F.col("k") == 9).count() == 1


def test_streaming_stats_query_token_guards_checkpoint_reset(spark, tmp_path):
    """Batch ids are only monotonic within one checkpoint lineage: a sink
    written under one query_token refuses batches from another (a rebuilt
    checkpoint restarts ids at 0 and would otherwise be silently skipped
    until the id caught up — review finding)."""
    import pytest

    from oni_ml_spark.streaming.upsert_sink import read_upsert_table, stats_writer

    state = str(tmp_path / "stats_tok")
    batch = spark.createDataFrame([(1, 2.0), (1, 4.0)], "k int, v double")
    stats_writer(state, "k", "v", query_token="ckpt-A")(batch, 7)
    assert read_upsert_table(spark, state).count() == 1
    # same token, replayed id: no-op; fresh id: applied
    writer_a = stats_writer(state, "k", "v", query_token="ckpt-A")
    writer_a(batch, 7)
    assert read_upsert_table(spark, state).collect()[0]["n_rows"] == 2
    writer_a(spark.createDataFrame([(2, 1.0)], "k int, v double"), 8)
    assert read_upsert_table(spark, state).count() == 2
    # different token (reset/backfill lineage): raises instead of guessing
    writer_b = stats_writer(state, "k", "v", query_token="ckpt-B")
    with pytest.raises(RuntimeError, match="ckpt-A"):
        writer_b(batch, 0)
    with pytest.raises(ValueError, match="query_token"):
        stats_writer(state, "k", "v", query_token="bad\ntoken")


def test_streaming_dedup_append_exactly_once_first_wins(spark, tmp_path):
    """dedup_append_writer: append-only ingest where the first batch owning
    a key wins, replays are no-ops, data dirs without a ledger commit stay
    invisible, and the final corpus equals batch-side first-occurrence
    dedup over everything delivered."""
    import pytest

    from oni_ml_spark.streaming.upsert_sink import (
        dedup_append_writer,
        read_appended,
        read_upsert_table,
    )

    root = str(tmp_path / "ingest")
    writer = dedup_append_writer(root, "k", query_token="ck", num_bits=1 << 16)
    b0 = spark.createDataFrame(
        [(i, f"b0-{i}") for i in range(50)], "k bigint, payload string"
    )
    b1 = spark.createDataFrame(  # 25 dup keys, 25 new
        [(i, f"b1-{i}") for i in range(25, 75)], "k bigint, payload string"
    )
    writer(b0, 0)
    writer(b1, 1)
    got = read_appended(spark, root)
    rows = {r["k"]: r for r in got.collect()}
    assert set(rows) == set(range(75)) and got.count() == 75
    assert rows[30]["payload"] == "b0-30"  # first batch wins the overlap
    assert rows[60]["payload"] == "b1-60"
    assert rows[30]["ingest_batch"] == 0 and rows[60]["ingest_batch"] == 1
    # ledger holds each key once
    assert read_upsert_table(spark, f"{root}/ledger").count() == 75
    # the incrementally-maintained filter in the CURRENT version dir equals
    # a from-scratch build over the full ledger, bit for bit
    import os

    from oni_ml_spark.plans.bloom import build_bloom_filter
    from oni_ml_spark.streaming.upsert_sink import _read_pointer

    v = _read_pointer(f"{root}/ledger")
    stored = spark.read.parquet(f"{root}/ledger/v{v:08d}/_bloom").first()
    rebuilt = build_bloom_filter(
        read_upsert_table(spark, f"{root}/ledger"), "k", 1 << 16, 5
    ).first()
    assert list(stored["words"]) == list(rebuilt["words"])
    assert os.path.isdir(f"{root}/ledger/v{v:08d}/_bloom")

    # replayed batch id: no-op even with different rows offered
    writer(spark.createDataFrame([(30, "evil")], "k bigint, payload string"), 1)
    assert read_appended(spark, root).where("k = 30").collect()[0]["payload"] == "b0-30"

    # crash window: a data dir whose ledger commit never landed is invisible
    spark.createDataFrame([(999, "orphan")], "k bigint, payload string").write.mode(
        "overwrite"
    ).parquet(f"{root}/data/ingest_batch=9")
    assert read_appended(spark, root).where("k = 999").count() == 0
    # the replay of that batch re-appends + commits, making it visible
    writer(spark.createDataFrame([(999, "orphan")], "k bigint, payload string"), 9)
    assert read_appended(spark, root).where("k = 999").count() == 1

    # equals batch first-occurrence dedup over everything delivered
    from pyspark.sql import Window

    delivered = (
        b0.withColumn("b", F.lit(0))
        .unionByName(b1.withColumn("b", F.lit(1)))
        .unionByName(
            spark.createDataFrame(
                [(999, "orphan")], "k bigint, payload string"
            ).withColumn("b", F.lit(9))
        )
    )
    w = Window.partitionBy("k").orderBy("b")
    want = (
        delivered.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("k", "payload")
    )
    got2 = read_appended(spark, root).select("k", "payload")
    assert sorted(map(str, (tuple(r) for r in got2.collect()))) == sorted(
        map(str, (tuple(r) for r in want.collect()))
    )

    # validation: in-batch dup keys, null keys, reserved column, token drift
    with pytest.raises(ValueError, match="duplicate-key"):
        writer(
            spark.createDataFrame(
                [(1, "a"), (1, "b")], "k bigint, payload string"
            ),
            50,
        )
    with pytest.raises(ValueError, match="null-key"):
        writer(
            spark.createDataFrame([(None, "a")], "k bigint, payload string"), 51
        )
    with pytest.raises(ValueError, match="ingest_batch"):
        writer(
            spark.createDataFrame(
                [(1, 2)], "k bigint, ingest_batch bigint"
            ),
            52,
        )
    with pytest.raises(RuntimeError, match="'ck'"):
        dedup_append_writer(root, "k", query_token="other")(b0, 0)


def test_streaming_dedup_append_plain_anti_and_stream_drain(spark, tmp_path):
    """use_bloom=False parity, and an end-to-end availableNow drain."""
    from oni_ml_spark.streaming.upsert_sink import (
        dedup_append_writer,
        read_appended,
    )

    indir = str(tmp_path / "in")
    root = str(tmp_path / "ingest2")
    ckpt = str(tmp_path / "ckpt2")
    spark.createDataFrame(
        [(i, f"a{i}") for i in range(30)], "k bigint, payload string"
    ).write.mode("overwrite").parquet(indir)
    writer = dedup_append_writer(root, "k", query_token="q1", use_bloom=False)

    def drain():
        stream = spark.readStream.schema("k bigint, payload string").parquet(indir)
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(
        [(i, f"b{i}") for i in range(20, 50)], "k bigint, payload string"
    ).write.mode("append").parquet(indir)
    drain()
    got = read_appended(spark, root)
    assert got.count() == 50
    by_k = {r["k"]: r["payload"] for r in got.collect()}
    assert by_k[25] == "a25" and by_k[45] == "b45"


def test_streaming_dedup_append_rejects_schema_drift(spark, tmp_path):
    """A restarted query with a widened/narrowed schema must refuse to
    append: mixed-schema parquet dirs make a non-mergeSchema read silently
    drop or null columns (review finding)."""
    import pytest

    from oni_ml_spark.streaming.upsert_sink import dedup_append_writer

    root = str(tmp_path / "ingest3")
    writer = dedup_append_writer(root, "k", query_token="q")
    writer(spark.createDataFrame([(1, "a")], "k bigint, payload string"), 0)
    with pytest.raises(ValueError, match="schema does not match"):
        writer(
            spark.createDataFrame(
                [(2, "b", 1.0)], "k bigint, payload string, extra double"
            ),
            1,
        )
    with pytest.raises(ValueError, match="schema does not match"):
        writer(spark.createDataFrame([(2,)], "k bigint"), 1)
    # same schema still appends
    writer(spark.createDataFrame([(2, "b")], "k bigint, payload string"), 1)


def test_streaming_drift_state_matches_batch_and_report(spark, tmp_path):
    """drift_writer's accumulated histogram after draining the stream
    equals one-shot binned_counts over everything delivered (nulls in the
    -1 bin); a replayed micro-batch id is a no-op (bin sums are not
    idempotent); stream_drift_report over the state is row-identical to
    batch drift_compare on the same data."""
    from oni_ml_spark.datapipe.drift import binned_counts, drift_compare
    from oni_ml_spark.streaming.drift_stream import drift_writer, stream_drift_report
    from oni_ml_spark.streaming.upsert_sink import read_upsert_table

    edges = [2.0, 5.0, 8.0]
    indir = str(tmp_path / "in")
    state = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [(float(i % 11),) for i in range(60)]
    rows2 = [(None,)] * 7 + [(float(3 + i % 9),) for i in range(25)]
    spark.createDataFrame(rows1, "v double").write.mode("overwrite").parquet(indir)

    writer = drift_writer(state, "v", edges)

    def drain():
        stream = spark.readStream.schema("v double").parquet(indir)
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, "v double").write.mode("append").parquet(indir)
    drain()

    all_df = spark.createDataFrame(rows1 + rows2, "v double")
    got = {r["bin"]: r["n_cur"] for r in read_upsert_table(spark, state).collect()}
    want = {
        r["bin"]: r["n_cur"]
        for r in binned_counts(all_df, "v", edges, "cur").collect()
    }
    assert got == want and got[-1] == 7  # null bin live

    # replay of an already-applied batch id must not double-count
    writer(spark.createDataFrame(rows1, "v double"), 0)
    after = {r["bin"]: r["n_cur"] for r in read_upsert_table(spark, state).collect()}
    assert after == want

    # report over the state == batch drift_compare on the same data
    ref = spark.createDataFrame(
        [(float((i * 3) % 13),) for i in range(80)], "v double"
    )
    rep = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in stream_drift_report(spark, state, ref, "v", edges).collect()
    )
    batch = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in drift_compare(ref, all_df, "v", edges=edges)
        .drop("lo", "hi")
        .collect()
    )
    assert rep == batch


def test_streaming_drift_report_requires_state_and_guards_lineage(spark, tmp_path):
    from oni_ml_spark.streaming.drift_stream import drift_writer, stream_drift_report

    with pytest.raises(ValueError, match="no committed drift state"):
        stream_drift_report(
            spark,
            str(tmp_path / "missing"),
            spark.createDataFrame([(1.0,)], "v double"),
            "v",
            [1.0],
        )
    state = str(tmp_path / "drift")
    batch = spark.createDataFrame([(1.0,), (4.0,)], "v double")
    drift_writer(state, "v", [2.0], query_token="ckpt-A")(batch, 3)
    # same lineage, old id: skipped; new id: applied
    drift_writer(state, "v", [2.0], query_token="ckpt-A")(batch, 3)
    # a different lineage must refuse to compare batch ids
    with pytest.raises(RuntimeError, match="not comparable across streaming"):
        drift_writer(state, "v", [2.0], query_token="ckpt-B")(batch, 9)
    with pytest.raises(ValueError, match="edges must be non-empty"):
        drift_writer(state, "v", [])
    # the binning travels with the state: a writer or reader re-supplying
    # DIFFERENT edges refuses instead of producing a phantom-bin PSI
    with pytest.raises(ValueError, match="built with edges"):
        drift_writer(state, "v", [2.0, 9.0], query_token="ckpt-A")(batch, 8)
    ref = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="built with edges"):
        stream_drift_report(spark, state, ref, "v", edges=[3.0])
    # edges omitted: read from the state (identical binning by construction)
    assert stream_drift_report(spark, state, ref, "v").count() == 2


def test_streaming_drift_writer_refuses_edgeless_root(spark, tmp_path):
    """ADVICE r8: a state root WITHOUT a committed _edges table (written
    by another sink / an older writer) has unknown binning — merging into
    it is the phantom-bin hazard and must refuse, not silently proceed."""
    from oni_ml_spark.streaming.drift_stream import drift_writer
    from oni_ml_spark.streaming.upsert_sink import _commit_snapshot

    root = str(tmp_path / "foreign")
    # a committed version with the right schema but NO _edges table
    _commit_snapshot(
        root,
        spark.createDataFrame([(0, 5)], "bin int, n_cur bigint"),
        keep_versions=2,
        batch_marker="default\n0",
    )
    batch = spark.createDataFrame([(1.0,), (4.0,)], "v double")
    with pytest.raises(ValueError, match="no committed _edges table"):
        drift_writer(root, "v", [2.0])(batch, 1)


def test_streaming_categorical_drift_state_matches_batch_and_report(spark, tmp_path):
    """drift_writer_categorical accumulates frozen-dictionary-coarsened
    per-key counts exactly-once ('__null' and '__other' live); the report
    over the state equals the smoothed PSI arithmetic computed directly
    from the delivered rows."""
    import math
    from collections import Counter

    from oni_ml_spark.streaming.drift_stream import (
        categorical_counts,
        drift_writer_categorical,
        stream_drift_report_categorical,
    )
    from oni_ml_spark.streaming.upsert_sink import read_upsert_table

    keys = ["a", "b", "c"]
    indir = str(tmp_path / "in")
    state = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [("a",)] * 30 + [("b",)] * 12 + [("zz",)] * 5 + [(None,)] * 3
    rows2 = [("c",)] * 9 + [("a",)] * 4 + [("qq",)] * 2
    spark.createDataFrame(rows1, "k string").write.mode("overwrite").parquet(indir)

    writer = drift_writer_categorical(state, "k", keys)

    def drain():
        stream = spark.readStream.schema("k string").parquet(indir)
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, "k string").write.mode("append").parquet(indir)
    drain()

    def coarse(v):
        return "__null" if v is None else (v if v in keys else "__other")

    want = Counter(coarse(v) for (v,) in rows1 + rows2)
    got = {r["key"]: r["n_cur"] for r in read_upsert_table(spark, state).collect()}
    assert got == dict(want)
    assert got["__other"] == 7 and got["__null"] == 3

    # replay of an already-applied batch id must not double-count
    writer(spark.createDataFrame(rows1, "k string"), 0)
    after = {r["key"]: r["n_cur"] for r in read_upsert_table(spark, state).collect()}
    assert after == dict(want)

    # report vs hand-computed smoothed PSI over the same coarsening
    ref_rows = [("a",)] * 20 + [("b",)] * 20 + [("c",)] * 5 + [("xx",)] * 5
    ref = spark.createDataFrame(ref_rows, "k string")
    rep = {r["key"]: r for r in stream_drift_report_categorical(
        spark, state, ref, "k"
    ).collect()}
    nr = Counter(coarse(v) for (v,) in ref_rows)
    all_keys = set(want) | set(nr)
    tr, tc, nb, s = sum(nr.values()), sum(want.values()), len(all_keys), 0.5
    for k in all_keys:
        pr = (nr.get(k, 0) + s) / (tr + s * nb)
        pc = (want.get(k, 0) + s) / (tc + s * nb)
        assert rep[k]["n_ref"] == nr.get(k, 0) and rep[k]["n_cur"] == want.get(k, 0)
        assert rep[k]["psi_term"] == pytest.approx(
            (pc - pr) * math.log(pc / pr), rel=1e-9
        )
    # the ref side was coarsened with the STORED dictionary (xx -> __other)
    assert rep["__other"]["n_ref"] == 5

    # batch-parity of the building block itself
    direct = {
        r["key"]: r["n_cur"]
        for r in categorical_counts(
            spark.createDataFrame(rows1 + rows2, "k string"), "k", keys, "cur"
        ).collect()
    }
    assert direct == dict(want)


def test_streaming_categorical_drift_guards(spark, tmp_path):
    from oni_ml_spark.streaming.drift_stream import (
        drift_writer_categorical,
        stream_drift_report_categorical,
    )
    from oni_ml_spark.streaming.upsert_sink import _commit_snapshot

    state = str(tmp_path / "drift")
    batch = spark.createDataFrame([("a",), ("b",)], "k string")
    with pytest.raises(ValueError, match="non-empty frozen dictionary"):
        drift_writer_categorical(state, "k", [])
    with pytest.raises(ValueError, match="distinct"):
        drift_writer_categorical(state, "k", ["a", "a"])
    with pytest.raises(ValueError, match="reserved sentinels"):
        drift_writer_categorical(state, "k", ["a", "__other"])

    drift_writer_categorical(state, "k", ["a", "b"], query_token="ckpt-A")(batch, 3)
    # same lineage, old id: skipped; different lineage: refuses
    drift_writer_categorical(state, "k", ["a", "b"], query_token="ckpt-A")(batch, 3)
    with pytest.raises(RuntimeError, match="not comparable across streaming"):
        drift_writer_categorical(state, "k", ["a", "b"], query_token="ckpt-B")(batch, 9)
    # a different dictionary must refuse (order-insensitive: stored sorted)
    with pytest.raises(ValueError, match="built with keys"):
        drift_writer_categorical(state, "k", ["a", "zz"], query_token="ckpt-A")(batch, 8)
    drift_writer_categorical(state, "k", ["b", "a"], query_token="ckpt-A")(batch, 8)

    # a real '__null' value raises in-plan through the sink
    dirty = spark.createDataFrame([("__null",)], "k string")
    with pytest.raises(Exception, match="reserved sentinel"):
        drift_writer_categorical(state, "k", ["a", "b"], query_token="ckpt-A")(dirty, 10)

    ref = spark.createDataFrame([("a",)], "k string")
    out = stream_drift_report_categorical(spark, state, ref, "k")
    assert {r["key"] for r in out.collect()} >= {"a", "b"}
    with pytest.raises(ValueError, match="no committed drift state"):
        stream_drift_report_categorical(spark, str(tmp_path / "nope"), ref, "k")

    # a root with committed versions but NO _keys table refuses (writer
    # AND reader) — unknown dictionary
    foreign = str(tmp_path / "foreign")
    _commit_snapshot(
        foreign,
        spark.createDataFrame([("a", 5)], "key string, n_cur bigint"),
        keep_versions=2,
        batch_marker="default\n0",
    )
    with pytest.raises(ValueError, match="no committed _keys table"):
        drift_writer_categorical(foreign, "k", ["a"])(batch, 1)
    with pytest.raises(ValueError, match="no committed _keys table"):
        stream_drift_report_categorical(spark, foreign, ref, "k")


def test_streaming_reservoir_sample_batching_invariant(spark, tmp_path):
    """The reservoir sink's final k rows are IDENTICAL (a) for any
    micro-batch partitioning of the same rows and (b) to the batch
    weighted_sample_k over everything delivered — the bottom-k-arrivals
    construction makes the sample exact, not approximate; replay of an
    applied batch id is a no-op."""
    from oni_ml_spark.datapipe.sampling import weighted_sample_k
    from oni_ml_spark.streaming.sample_stream import sample_writer, stream_sample

    rows = [(i, float(1 + i % 5), f"payload{i}") for i in range(500)]
    schema = "doc_id bigint, w double, body string"
    all_df = spark.createDataFrame(rows, schema)

    def run(root, chunks):
        w = sample_writer(str(tmp_path / root), "doc_id", 20, weight_col="w")
        for bid, chunk in enumerate(chunks):
            w(spark.createDataFrame(chunk, schema), bid)
        return {
            tuple(r) for r in stream_sample(spark, str(tmp_path / root)).collect()
        }

    one_shot = run("a", [rows])
    three_batches = run("b", [rows[:100], rows[100:350], rows[350:]])
    assert one_shot == three_batches and len(one_shot) == 20

    batch_side = {
        tuple(r) for r in weighted_sample_k(all_df, "doc_id", "w", 20).collect()
    }
    assert one_shot == batch_side

    # replay: same batch id again changes nothing
    w = sample_writer(str(tmp_path / "b"), "doc_id", 20, weight_col="w")
    w(spark.createDataFrame(rows[:100], schema), 0)
    assert {
        tuple(r) for r in stream_sample(spark, str(tmp_path / "b")).collect()
    } == one_shot

    # uniform mode: any committed version is a valid exact sample of the
    # prefix applied so far, and the uniform draw equals the weighted
    # draw at weight 1 (same key/salt -> same clocks)
    u = sample_writer(str(tmp_path / "u"), "doc_id", 10)
    u(spark.createDataFrame(rows[:200], schema), 0)
    mid = {r["doc_id"] for r in stream_sample(spark, str(tmp_path / "u")).collect()}
    prefix_df = spark.createDataFrame(rows[:200], schema).withColumn(
        "__one", F.lit(1.0)
    )
    want = {
        r["doc_id"]
        for r in weighted_sample_k(prefix_df, "doc_id", "__one", 10).collect()
    }
    assert mid == want and len(mid) == 10


def test_streaming_reservoir_sample_guards(spark, tmp_path):
    from oni_ml_spark.streaming.sample_stream import sample_writer, stream_sample
    from oni_ml_spark.streaming.upsert_sink import _commit_snapshot

    schema = "doc_id bigint, w double"
    batch = spark.createDataFrame([(1, 1.0), (2, 2.0)], schema)
    root = str(tmp_path / "s")
    with pytest.raises(ValueError, match="k must be positive"):
        sample_writer(root, "doc_id", 0)
    with pytest.raises(ValueError, match="hash_fn"):
        sample_writer(root, "doc_id", 5, hash_fn="sha1")

    sample_writer(root, "doc_id", 5, weight_col="w", query_token="tok-A")(batch, 0)
    # a different configuration must refuse (k, salt, weight col, hash)
    for kw in ({"weight_col": None}, {"weight_col": "w", "salt": "x"},):
        with pytest.raises(ValueError, match="sampling configuration|built with"):
            sample_writer(root, "doc_id", 5, query_token="tok-A", **kw)(batch, 1)
    with pytest.raises(RuntimeError, match="not comparable across streaming"):
        sample_writer(root, "doc_id", 5, weight_col="w", query_token="tok-B")(batch, 9)

    # zero weights are never sampled; negative raises in-plan
    zw = spark.createDataFrame([(3, 0.0), (4, 1.0)], schema)
    sample_writer(root, "doc_id", 5, weight_col="w", query_token="tok-A")(zw, 1)
    got = {r["doc_id"] for r in stream_sample(spark, root).collect()}
    assert 4 in got and 3 not in got
    neg = spark.createDataFrame([(5, -1.0)], schema)
    with pytest.raises(Exception, match="must be >= 0"):
        sample_writer(root, "doc_id", 5, weight_col="w", query_token="tok-A")(neg, 2)

    # reserved column + missing column
    bad = spark.createDataFrame([(1, 1.0, 0.0)], schema + ", __arrival double")
    with pytest.raises(ValueError, match="reserved column"):
        sample_writer(str(tmp_path / "r"), "doc_id", 5)(bad, 0)
    with pytest.raises(ValueError, match="missing from the stream"):
        sample_writer(str(tmp_path / "m"), "nope", 5)(batch, 0)

    # foreign root without a committed configuration refuses (writer + reader)
    foreign = str(tmp_path / "foreign")
    _commit_snapshot(
        foreign,
        spark.createDataFrame([(1, 1.0, 0.5)], schema + ", __arrival double"),
        keep_versions=2,
        batch_marker="default\n0",
    )
    with pytest.raises(ValueError, match="no committed _sample_conf"):
        sample_writer(foreign, "doc_id", 5, weight_col="w")(batch, 1)
    with pytest.raises(ValueError, match="no committed _sample_conf"):
        stream_sample(spark, foreign)
    with pytest.raises(ValueError, match="no committed sample state"):
        stream_sample(spark, str(tmp_path / "missing"))


def test_streaming_stratified_reservoir(spark, tmp_path):
    """group_col mode: k rows PER STRATUM, batching-invariant per
    stratum, equal to batch weighted_sample_k with group_cols; a null
    group is its own stratum; configuration guard covers group_col."""
    from oni_ml_spark.datapipe.sampling import weighted_sample_k
    from oni_ml_spark.streaming.sample_stream import sample_writer, stream_sample

    rows = [
        (i, float(1 + i % 3), ("s" + str(i % 4)) if i % 17 else None)
        for i in range(400)
    ]
    schema = "doc_id bigint, w double, src string"
    all_df = spark.createDataFrame(rows, schema)

    def run(root, chunks):
        w = sample_writer(
            str(tmp_path / root), "doc_id", 5, weight_col="w", group_col="src"
        )
        for bid, chunk in enumerate(chunks):
            w(spark.createDataFrame(chunk, schema), bid)
        return {
            tuple(r) for r in stream_sample(spark, str(tmp_path / root)).collect()
        }

    one = run("a", [rows])
    three = run("b", [rows[:50], rows[50:300], rows[300:]])
    assert one == three
    # 5 strata (s0..s3 + null), 5 rows each
    by_group = {}
    for r in one:
        by_group.setdefault(r[2], set()).add(r)
    assert set(by_group) == {"s0", "s1", "s2", "s3", None}
    assert all(len(v) == 5 for v in by_group.values())

    batch_side = {
        tuple(r)
        for r in weighted_sample_k(all_df, "doc_id", "w", 5, group_cols="src").collect()
    }
    assert one == batch_side

    # configuration guard: a grouped root refuses an ungrouped writer
    batch = spark.createDataFrame(rows[:10], schema)
    with pytest.raises(ValueError, match="sampling configuration|built with"):
        sample_writer(str(tmp_path / "a"), "doc_id", 5, weight_col="w")(batch, 7)
    with pytest.raises(ValueError, match="group_col must differ"):
        sample_writer(str(tmp_path / "x"), "doc_id", 5, group_col="doc_id")
    # reserved 'rank' only in grouped mode
    ranked = batch.withColumn("rank", F.lit(1))
    with pytest.raises(ValueError, match="reserved column"):
        sample_writer(str(tmp_path / "y"), "doc_id", 5, group_col="src")(ranked, 0)


def test_accumulating_sink_crash_window_orphan_version(spark, tmp_path):
    """A crash BETWEEN writing the next version directory and swapping
    the pointer leaves an orphan vdir; the pointer still names the last
    consistent (snapshot, marker) pair, so the retried batch must fold
    in exactly once and the orphan must be overwritten, not read."""
    import os

    from oni_ml_spark.streaming.drift_stream import drift_writer
    from oni_ml_spark.streaming.upsert_sink import read_upsert_table

    root = str(tmp_path / "drift")
    edges = [2.0, 5.0]
    b0 = spark.createDataFrame([(1.0,), (3.0,), (9.0,)], "v double")
    drift_writer(root, "v", edges)(b0, 0)
    before = {r["bin"]: r["n_cur"] for r in read_upsert_table(spark, root).collect()}

    # simulate the crash: v2 written (data only, marker and pointer never
    # landed) — the reader must still see v1
    orphan = os.path.join(root, "v00000002")
    spark.createDataFrame([(0, 999)], "bin int, n_cur bigint").write.mode(
        "overwrite"
    ).parquet(orphan)
    assert {
        r["bin"]: r["n_cur"] for r in read_upsert_table(spark, root).collect()
    } == before

    # the retried batch (same id = replay no-op; next id = applied once)
    drift_writer(root, "v", edges)(b0, 0)
    b1 = spark.createDataFrame([(1.0,), (6.0,)], "v double")
    drift_writer(root, "v", edges)(b1, 1)
    got = {r["bin"]: r["n_cur"] for r in read_upsert_table(spark, root).collect()}
    # b0: bins 0,1,2 one each; b1: bin 0 and bin 2 — never 999
    assert got == {0: 2, 1: 1, 2: 2}


def test_streaming_reservoir_via_real_stream(spark, tmp_path):
    """The reservoir sink driven by an actual file stream (availableNow,
    two drains against one checkpoint): the committed sample equals the
    batch weighted_sample_k over everything delivered."""
    from oni_ml_spark.datapipe.sampling import weighted_sample_k
    from oni_ml_spark.streaming.sample_stream import sample_writer, stream_sample

    indir, state, ckpt = (str(tmp_path / d) for d in ("in", "state", "ckpt"))
    rows1 = [(i, float(1 + i % 4)) for i in range(300)]
    rows2 = [(1000 + i, float(1 + i % 7)) for i in range(200)]
    schema = "doc_id bigint, w double"
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(indir)

    writer = sample_writer(state, "doc_id", 25, weight_col="w")

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(indir)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(indir)
    drain()

    got = {tuple(r) for r in stream_sample(spark, state).collect()}
    want = {
        tuple(r)
        for r in weighted_sample_k(
            spark.createDataFrame(rows1 + rows2, schema), "doc_id", "w", 25
        ).collect()
    }
    assert got == want and len(got) == 25


def test_streaming_model_score_monitor(spark, tmp_path):
    """(r9) Composition: score each text micro-batch with the FROZEN
    hashed linear quality model inside foreachBatch and accumulate the
    score distribution with drift_writer — the production "is my quality
    model's output drifting" monitor. The accumulated histogram equals
    one-shot binned_counts over the scores of everything delivered, and
    stream_drift_report gives the PSI vs a frozen reference corpus's
    scores without rescanning any batch."""
    from oni_ml_spark.datapipe.classify import demo_weights, hashed_linear_score
    from oni_ml_spark.datapipe.drift import binned_counts
    from oni_ml_spark.streaming.drift_stream import drift_writer, stream_drift_report
    from oni_ml_spark.streaming.upsert_sink import read_upsert_table

    words = ["river", "stone", "zzgood", "zzbad", "lamp", "quiet", "offer"]

    def doc(i):
        return " ".join(words[(i + j) % len(words)] for j in range(5))

    model = demo_weights(spark, 512).localCheckpoint()
    edges = [-2000.0, -500.0, 0.0, 500.0, 2000.0]  # score_micro space
    indir, state, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "scores"), str(tmp_path / "ckpt")
    )
    rows1 = [(i, doc(i)) for i in range(80)]
    rows2 = [(100 + i, doc(3 * i)) for i in range(40)]
    schema = "doc_id bigint, text string"
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(indir)

    inner = drift_writer(state, "score_micro", edges)

    def scored_writer(batch_df, batch_id):
        inner(
            hashed_linear_score(batch_df, "doc_id", "text", model, 512)
            .withColumn("score_micro", F.col("score_micro").cast("double")),
            batch_id,
        )

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(indir)
            .writeStream.foreachBatch(scored_writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(indir)
    drain()

    everything = spark.createDataFrame(rows1 + rows2, schema)
    all_scored = hashed_linear_score(
        everything, "doc_id", "text", model, 512
    ).withColumn("score_micro", F.col("score_micro").cast("double"))
    got = {r["bin"]: r["n_cur"] for r in read_upsert_table(spark, state).collect()}
    want = {
        r["bin"]: r["n_cur"]
        for r in binned_counts(all_scored, "score_micro", edges, "cur").collect()
    }
    assert got == want and sum(got.values()) == 120

    # replayed batch id is a no-op (exactly-once carries through the
    # composed writer untouched)
    scored_writer(spark.createDataFrame(rows1, schema), 0)
    after = {r["bin"]: r["n_cur"] for r in read_upsert_table(spark, state).collect()}
    assert after == want

    # PSI report vs the reference corpus's OWN scores — all from the
    # k-bounded state, no batch rescan
    ref_scored = hashed_linear_score(
        spark.createDataFrame([(1000 + i, doc(2 * i)) for i in range(60)], schema),
        "doc_id", "text", model, 512,
    ).withColumn("score_micro", F.col("score_micro").cast("double"))
    rep = stream_drift_report(spark, state, ref_scored, "score_micro", edges)
    rows = rep.collect()
    assert rows  # only mass-bearing bins are reported
    assert sum(r["p_cur"] for r in rows) == pytest.approx(1.0)
    assert sum(r["p_ref"] for r in rows) == pytest.approx(1.0)
    assert sum(r["n_cur"] for r in rows) == 120


def test_streaming_contract_gate_quarantines_bad_batch(spark, tmp_path):
    """(r9) gated_writer: the streaming contract gate routes a poisoned
    micro-batch (null keys) to quarantine — data + rule report — while
    good batches flow to the wrapped exactly-once ingest writer and the
    stream never stops. A replayed failing batch overwrites its own
    quarantine dir (no duplication); on_fail='raise' restores the
    batch-side hard stop."""
    from oni_ml_spark.datapipe.contracts import expect_not_null, expect_row_count
    from oni_ml_spark.streaming.gate_stream import (
        gated_writer,
        quarantined_batches,
        read_quarantined,
    )
    from oni_ml_spark.streaming.upsert_sink import dedup_append_writer, read_appended

    indir = str(tmp_path / "in")
    root = str(tmp_path / "ingest")
    qroot = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = "k bigint, v double"
    contract = [expect_row_count(min_rows=1), expect_not_null("k")]
    writer = gated_writer(
        dedup_append_writer(root, "k", query_token="gate-e2e", num_bits=1 << 16),
        contract,
        qroot,
    )

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(indir)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    good1 = [(i, float(i)) for i in range(40)]
    spark.createDataFrame(good1, schema).write.mode("overwrite").parquet(indir)
    drain()
    bad = [(None, 1.0), (900, 2.0), (None, 3.0)]
    spark.createDataFrame(bad, schema).write.mode("append").parquet(indir)
    drain()
    good2 = [(100 + i, float(i)) for i in range(20)]
    spark.createDataFrame(good2, schema).write.mode("append").parquet(indir)
    drain()

    # good rows ingested, bad batch absent from the fact table
    ingested = {r["k"] for r in read_appended(spark, root).collect()}
    assert ingested == {k for k, _ in good1} | {k for k, _ in good2}

    # exactly one quarantined batch, with data + failing rule named
    qb = quarantined_batches(spark, qroot)
    assert len(qb) == 1
    data, report = read_quarantined(spark, qroot, qb[0])
    assert data.count() == 3
    bad_rules = {r["rule"] for r in report.collect() if not r["ok"]}
    assert bad_rules == {"not_null"}

    # replaying the failing batch id overwrites, never duplicates
    writer(spark.createDataFrame(bad, schema), qb[0])
    assert quarantined_batches(spark, qroot) == qb
    data2, _ = read_quarantined(spark, qroot, qb[0])
    assert data2.count() == 3

    # hard-stop variant
    strict = gated_writer(
        dedup_append_writer(root, "k", query_token="gate-e2e", num_bits=1 << 16),
        contract, qroot, on_fail="raise",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not_null"):
        strict(spark.createDataFrame(bad, schema), 99)

    # unknown mode rejected at construction
    with _pytest.raises(ValueError, match="on_fail"):
        gated_writer(lambda a, b: None, contract, qroot, on_fail="skip")

    # schema-drift batch (rule column gone) quarantines with a
    # __contract_error row instead of killing the stream
    drifted = spark.createDataFrame([(1.0,)], "v double")
    writer(drifted, 55)
    assert 55 in quarantined_batches(spark, qroot)
    _, rep55 = read_quarantined(spark, qroot, 55)
    row = rep55.first()
    assert row["rule"] == "__contract_error" and "missing" in row["observed"]

    # a stray non-numeric batch= dir must not crash the repair loop
    import os

    os.makedirs(f"{qroot}/batch=tmp", exist_ok=True)
    assert set(quarantined_batches(spark, qroot)) == set(qb) | {55}


def test_streaming_contract_gate_quarantines_type_drift(spark, tmp_path):
    """(r10) a producer that CHANGES a rule column's type (not drops it)
    makes the rule die at evaluation with an AnalysisException, not the
    gate's own ValueError — that too must quarantine with a
    __contract_error row, never kill the stream (ADVICE r9)."""
    from oni_ml_spark.datapipe.contracts import expect_regex
    from oni_ml_spark.streaming.gate_stream import (
        gated_writer,
        quarantined_batches,
        read_quarantined,
    )

    qroot = str(tmp_path / "q_typedrift")
    passed = []
    contract = [expect_regex("k", r"^[a-z]+$")]
    writer = gated_writer(lambda df, bid: passed.append(bid), contract, qroot)

    writer(spark.createDataFrame([("abc",)], "k string"), 1)
    assert passed == [1]

    # rlike over array<int> fails analysis — the poisoned-producer case
    drifted = spark.createDataFrame([([1, 2],)], "k array<int>")
    writer(drifted, 2)
    assert passed == [1]
    assert 2 in quarantined_batches(spark, qroot)
    data, rep = read_quarantined(spark, qroot, 2)
    row = rep.first()
    assert row["rule"] == "__contract_error" and not row["ok"]
    assert data.count() == 1


def test_streaming_router_partitions_replay_and_parity(spark, tmp_path):
    """(r10) routed_append_writer: a real availableNow stream routed under
    a frozen hand model lands label-partitioned, matches the batch
    operator doc-for-doc, replays idempotently, prunes per-label reads to
    that label's directories, and keeps the per-class ledger counts in
    lockstep with the data."""
    from oni_ml_spark.datapipe.classify import feature_bucket, hashed_linear_argmax
    from oni_ml_spark.streaming.route_stream import (
        read_routed,
        routed_append_writer,
        routing_counts,
    )

    b = spark.createDataFrame([("the",), ("el",)], "t string").select(
        "t", feature_bucket(F.col("t"), 4096).alias("b")
    ).collect()
    buckets = {r["t"]: r["b"] for r in b}
    w = spark.createDataFrame(
        [(buckets["the"], "en", 500_000), (buckets["el"], "es", 500_000)],
        "bucket bigint, cls string, w_micro bigint",
    )

    indir = str(tmp_path / "in")
    root = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id bigint, text string"
    writer = routed_append_writer(
        root, w, 4096, ["en", "es"], "doc_id", "text", query_token="route-e2e"
    )

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(indir)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch1 = [(i, "the doc number %d" % i) for i in range(30)] + [
        (100 + i, "el documento %d" % i) for i in range(20)
    ]
    spark.createDataFrame(batch1, schema).write.mode("overwrite").parquet(indir)
    drain()
    batch2 = [(200 + i, "el otro %d" % i) for i in range(10)]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(indir)
    drain()

    # batch/stream parity: same labels the batch operator assigns
    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    expect = {
        r["id"]: r["label"]
        for r in hashed_linear_argmax(
            all_rows, "doc_id", "text", w, 4096, ["en", "es"]
        ).collect()
    }
    got = {r["doc_id"]: r["label"] for r in read_routed(spark, root).collect()}
    assert got == expect
    assert sum(1 for v in got.values() if v == "en") == 30
    assert sum(1 for v in got.values() if v == "es") == 30

    # per-label read is PARTITION-PRUNED to that label's directories: the
    # label predicate lands in the scan's PartitionFilters (inputFiles()
    # would list the whole relation — pruning happens at planning)
    es = read_routed(spark, root, label="es")
    assert es.count() == 30
    plan = es._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "label" in plan.split("PartitionFilters", 1)[1][:200]

    # ledger counts in lockstep
    counts = {r["label"]: r["n_cur"] for r in routing_counts(spark, root).collect()}
    assert counts == {"en": 30, "es": 30}

    # replayed batch id: data overwritten, counts NOT double-summed
    writer(spark.createDataFrame(batch2, schema), 1)
    counts2 = {r["label"]: r["n_cur"] for r in routing_counts(spark, root).collect()}
    assert counts2 == counts
    assert read_routed(spark, root).count() == 60

    # guards: reserved column, duplicate ids, null ids
    with pytest.raises(ValueError, match="reserved"):
        writer(
            spark.createDataFrame([(1, "x", "en")], schema + ", label string"), 99
        )
    with pytest.raises(ValueError, match="duplicate"):
        writer(spark.createDataFrame([(1, "a"), (1, "b")], schema), 99)
    with pytest.raises(ValueError, match="null"):
        writer(spark.createDataFrame([(None, "a")], schema), 99)


def test_streaming_router_interleaved_replays_cannot_double_sum(spark, tmp_path):
    """(r11) the single-writer ledger contract pinned: replays of ANY
    already-applied batch-id, in ANY interleaving with fresh batches, are
    skipped before the ledger merge — the per-class counts stay exactly
    the once-applied sums throughout."""
    from oni_ml_spark.datapipe.classify import feature_bucket
    from oni_ml_spark.streaming.route_stream import (
        read_routed,
        routed_append_writer,
        routing_counts,
    )

    b = spark.createDataFrame([("the",), ("el",)], "t string").select(
        "t", feature_bucket(F.col("t"), 4096).alias("b")
    ).collect()
    buckets = {r["t"]: r["b"] for r in b}
    w = spark.createDataFrame(
        [(buckets["the"], "en", 500_000), (buckets["el"], "es", 500_000)],
        "bucket bigint, cls string, w_micro bigint",
    )
    root = str(tmp_path / "routed_ilv")
    schema = "doc_id bigint, text string"
    writer = routed_append_writer(
        root, w, 4096, ["en", "es"], "doc_id", "text", query_token="route-ilv"
    )
    b0 = spark.createDataFrame([(i, "the doc %d" % i) for i in range(5)], schema)
    b1 = spark.createDataFrame([(10 + i, "el doc %d" % i) for i in range(3)], schema)
    b2 = spark.createDataFrame([(20, "the last"), (21, "el final")], schema)

    def counts():
        df = routing_counts(spark, root)
        return {r["label"]: r["n_cur"] for r in df.collect()}

    writer(b0, 0)
    writer(b1, 1)
    want = {"en": 5, "es": 3}
    assert counts() == want
    # interleaved replays: 0, 1, 0 again — every one skipped pre-merge
    writer(b0, 0)
    writer(b1, 1)
    writer(b0, 0)
    assert counts() == want
    # a fresh batch still lands after the replay storm...
    writer(b2, 2)
    want2 = {"en": 6, "es": 4}
    assert counts() == want2
    assert read_routed(spark, root).count() == 10
    # ...and replaying an OLD id afterwards still cannot double-sum
    writer(b1, 1)
    writer(b2, 2)
    assert counts() == want2
    assert read_routed(spark, root).count() == 10


def test_streaming_gate_ansi_data_error_quarantines_by_condition(spark, tmp_path):
    """(r11, ADVICE) runtime failures classify by Spark error CONDITION,
    not exception type: on PySpark 4.x an ANSI cast error surfaces as
    NumberFormatException (not SparkRuntimeException), and the old
    type-based gate would have KILLED the stream on it.  The
    condition-based gate quarantines it with the condition named."""
    from pyspark.sql import Column
    from oni_ml_spark.datapipe.contracts import Expectation
    from oni_ml_spark.streaming.gate_stream import (
        gated_writer,
        quarantined_batches,
        read_quarantined,
    )

    qroot = str(tmp_path / "q_ansi")
    passed = []
    # a contract that aggregates a cast — the poisoned batch's own DATA
    # kills evaluation deterministically (ANSI CAST_INVALID_INPUT)
    rule = Expectation(
        "int_sum", "v", F.sum(F.col("v").cast("int")),
        lambda o: o.isNotNull(), "v castable to int",
    )
    assert isinstance(rule.observed, Column)
    writer = gated_writer(lambda df, bid: passed.append(bid), [rule], qroot)

    # pin ANSI on for the test body (order-independent in the shared
    # session: the scenario IS "an ANSI pipeline's cast error")
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        writer(spark.createDataFrame([("7",), ("35",)], "v string"), 1)
        assert passed == [1]
        writer(spark.createDataFrame([("7",), ("abc",)], "v string"), 2)
        assert passed == [1]
        assert 2 in quarantined_batches(spark, qroot)
        data, rep = read_quarantined(spark, qroot, 2)
        row = rep.first()
        assert row["rule"] == "__contract_error" and not row["ok"]
        assert "CAST_INVALID_INPUT" in row["observed"]
        assert data.count() == 2
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)


def test_streaming_gate_infra_suspect_error_fails_the_batch(spark, tmp_path, monkeypatch):
    """(r11, ADVICE) an unclassified / non-data runtime failure must NOT
    quarantine a (possibly healthy) batch — it re-raises so the streaming
    engine retries the micro-batch."""
    from pyspark.errors import PySparkException
    import oni_ml_spark.datapipe.contracts as contracts
    from oni_ml_spark.streaming.gate_stream import (
        gated_writer,
        quarantined_batches,
    )

    class FakeInfraError(PySparkException):
        def __init__(self):
            Exception.__init__(self, "executor lost on node 17")

        def getCondition(self):
            return None  # infra faults carry no data-error condition

    def boom(df, rules):
        raise FakeInfraError()

    monkeypatch.setattr(contracts, "run_expectations", boom)
    qroot = str(tmp_path / "q_infra")
    writer = gated_writer(
        lambda df, bid: None, [contracts.expect_not_null("v")], qroot
    )
    with pytest.raises(FakeInfraError):
        writer(spark.createDataFrame([("x",)], "v string"), 1)
    assert quarantined_batches(spark, qroot) == []


def test_gate_error_condition_classifier_unit():
    """Pure-classifier pins: data-error prefixes in, everything else out."""
    from oni_ml_spark.streaming.gate_stream import _is_deterministic_data_error

    class E(Exception):
        def __init__(self, cond):
            self._c = cond

        def getCondition(self):
            return self._c

    assert _is_deterministic_data_error(E("CAST_INVALID_INPUT"))
    assert _is_deterministic_data_error(E("DIVIDE_BY_ZERO"))
    assert _is_deterministic_data_error(E("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"))
    assert not _is_deterministic_data_error(E(None))
    assert not _is_deterministic_data_error(E("CONNECT_SESSION_EXPIRED"))
    assert not _is_deterministic_data_error(Exception("plain"))


def test_streaming_contract_gate_vector_rules_quarantine_nan_batch(spark, tmp_path):
    """(r10) the gate composes with the vector rules: an embedding feed
    whose batch carries a NaN vector (or a ragged one) is quarantined
    whole — NaN would otherwise sail through not_null and poison every
    downstream dot product/index."""
    from oni_ml_spark.datapipe.contracts import expect_array_dim, expect_no_nan
    from oni_ml_spark.streaming.gate_stream import (
        gated_writer,
        quarantined_batches,
        read_quarantined,
    )

    qroot = str(tmp_path / "q_vec")
    passed = []
    contract = [
        expect_array_dim("embedding", 4),
        expect_no_nan("embedding", elementwise=True),
    ]
    writer = gated_writer(lambda df, bid: passed.append(bid), contract, qroot)

    ok = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id bigint, embedding array<double>"
    )
    writer(ok, 1)
    assert passed == [1]

    nan_batch = spark.createDataFrame(
        [(2, [1.0, float("nan"), 3.0, 4.0]), (3, [1.0, 2.0, 3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    writer(nan_batch, 2)
    ragged = spark.createDataFrame(
        [(4, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    writer(ragged, 3)
    assert passed == [1]
    assert set(quarantined_batches(spark, qroot)) == {2, 3}
    _, rep2 = read_quarantined(spark, qroot, 2)
    assert {r["rule"] for r in rep2.collect() if not r["ok"]} == {"no_nan"}
    _, rep3 = read_quarantined(spark, qroot, 3)
    assert {r["rule"] for r in rep3.collect() if not r["ok"]} == {"array_dim"}


def test_streaming_media_decode_matches_batch(spark, tmp_path):
    """(r12) the multimodal decode stage runs under Structured Streaming:
    extract_media_metadata's mapInPandas applies to a readStream frame
    unchanged (parallelize_for_decode steps aside — micro-batch sizing is
    the source's job), and a planted real-header corpus decodes to the
    same metadata the batch path produces."""
    from oni_ml_spark.datapipe.multimodal import extract_media_metadata
    from tests.media_fixtures import (
        planted_av_containers,
        planted_image_headers,
    )

    rows = [
        (i, bytearray(b))
        for i, b in planted_image_headers() + planted_av_containers()
    ] + [(100, bytearray(b"just some text payload"))]
    batch = spark.createDataFrame(rows, "media_id long, payload binary")
    batch.write.mode("overwrite").parquet(str(tmp_path / "media_in"))

    stream = spark.readStream.schema("media_id long, payload binary").parquet(
        str(tmp_path / "media_in")
    )
    out = extract_media_metadata(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("media_meta_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["media_id"]: r
        for r in spark.sql("SELECT * FROM media_meta_stream").collect()
    }
    want = {r["media_id"]: r for r in extract_media_metadata(batch).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k].asDict() == want[k].asDict(), k
    # spot: the stream really decoded, not stubbed
    assert (got[-7]["format"], got[-7]["duration_ms"]) == ("mp4", 5000)
    assert got[100]["format"] == "fake/raw"
