"""Physical-plan regression tests: the optimizations the front doors rely
on at scale must stay visible in the plan (SURVEY.md §4) — TakeOrderedAndProject
for the bottom-K, whole-stage codegen over the word assembly, no all-pairs
join and no data-sized global window in the frames ``oni_ml_spark.cli`` and
``oni_ml_spark.curate`` build — and the same guards over the entries of
``tests.oracle_battery``, which exercise the package code outside the front
doors.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_battery import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan_of(spark, df, mode: str = "simple") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


# Plan text per battery entry, built once per module run: entries with eager
# construction (fits, cached pins) pay that work when built, and the
# battery-wide window walk below reads every entry again. Plans are
# deterministic per session config, so the cache cannot mask a plan change
# within one run.
_PLAN_CACHE: dict[str, str] = {}


def _plan(spark, name: str) -> str:
    if name not in _PLAN_CACHE:
        _PLAN_CACHE[name] = _plan_of(spark, QUERIES[name](spark, SF_DIR))
    return _PLAN_CACHE[name]


def test_topk_is_take_ordered(spark):
    """scoring.most_suspicious: threshold filter then bottom-K as one
    TakeOrderedAndProject, never a full global sort."""
    from oni_ml_spark.scoring import most_suspicious

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    scored = e.select("event_id", "user_id", (F.col("value") / 100).alias("score"))
    p = _plan_of(spark, most_suspicious(scored, threshold=0.5, top_k=100))
    assert "TakeOrderedAndProject" in p
    assert "Sort [" not in p  # no Sort node anywhere, the root included


def test_word_assembly_single_codegen_no_shuffle(spark):
    """The flow word columns (flow_word_cols) are pure map-side expression
    work: one whole-stage codegen span, no exchange, and only the columns
    they read reach the scan."""
    from oni_ml_spark.transforms import flow_word_cols

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumns({
        "sip": F.concat_ws(".", F.lit("10"), F.lit("0"),
                           (F.col("l_partkey") % 64).cast("string"),
                           (F.col("l_suppkey") % 64).cast("string")),
        "dip": F.concat_ws(".", F.lit("10"), F.lit("1"),
                           (F.col("l_suppkey") % 64).cast("string"),
                           (F.col("l_orderkey") % 64).cast("string")),
        "sport": (F.col("l_partkey") % 2000).cast("int"),
        "dport": (F.col("l_orderkey") % 2000).cast("int"),
        "time_bin": (F.col("l_linenumber") % 10).cast("int"),
        "ibyt_bin": (F.col("l_partkey") % 10).cast("int"),
        "ipkt_bin": (F.col("l_suppkey") % 5).cast("int"),
    })
    cols = flow_word_cols("sip", "dip", "sport", "dport", "time_bin", "ibyt_bin", "ipkt_bin")
    p = _plan_of(spark, li.select("l_orderkey", "l_linenumber", *[
        cols[c].alias(c) for c in ("word_port", "ip_pair", "source_word", "destination_word")
    ]))
    assert "*(1)" in p and "*(2)" not in p  # one whole-stage codegen span
    assert "Exchange" not in p              # pure map-side expression work
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col in read
    assert "l_extendedprice" not in read


def test_as_of_join_plans_as_window_not_join(spark):
    """The as-of core must plan as union → one hash exchange on the key →
    window carry-forward, with NO join node (a naive non-equi formulation
    plans a per-key nested loop that is quadratic per key)."""
    from oni_ml_spark.datapipe.temporal import as_of_join
    from oni_ml_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    left = e.select("event_id", "user_id", "ts")
    right = (
        e.filter(F.col("event_id") % 10 == 0)
        .select("user_id", F.col("ts").alias("rt"), "value")
        .groupBy("user_id", "rt")
        .agg(F.max("value").alias("rv"))
    )
    out = as_of_join(left, right, key="user_id", left_time="ts",
                     right_time="rt", right_cols=["rv"])
    p = _plan_of(spark, out)
    assert "Join" not in p
    assert p.count("Window") == 1
    assert "Exchange hashpartitioning" in p
    # the battery entry adds a composite-key as-of and a resample, whose
    # grid legitimately joins back; it must still never plan all-pairs
    p_entry = _plan(spark, "as_of_join")
    assert "CartesianProduct" not in p_entry
    assert "BroadcastNestedLoopJoin" not in p_entry


def test_grouped_quantiles_no_single_partition(spark):
    """The grouped-cuts core never single-partitions (window partitioned by
    group)."""
    from oni_ml_spark.transforms.quantiles import grouped_quantile_cuts

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = grouped_quantile_cuts(li, "l_returnflag", "l_quantity",
                                [0.25, 0.5, 0.75, 1.0])
    assert "Exchange SinglePartition" not in _plan_of(spark, out)


def test_quantile_cuts_plan_is_lazy_and_join_free(spark):
    """The exact-quantile path must (a) build with ZERO driver actions — the
    r02 version ran an approxQuantile job and a subtotal collect during
    DataFrame construction — and (b) select cutoffs by interval-cover
    explode, never a nested-loop probs join."""
    from oni_ml_spark.transforms.quantiles import DECILES, ecdf, quantile_cuts_df

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.schema  # absorb the read-side footer job before counting
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    ec = ecdf(li, "l_quantity")
    cuts = quantile_cuts_df(li, "l_extendedprice", DECILES)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "building the quantile plans ran Spark jobs"
    p = _plan_of(spark, cuts)
    e = _plan_of(spark, ec)
    # the only nested-loop join allowed is the 1-row boundary-array attach
    # (broadcasting a scalar aggregate). It feeds both the cdf branch and
    # the subtotal branch, and pre-AQE explain prints the shared subtree
    # once per consumer — up to 2 occurrences per side; the old
    # data×probs nested loop would add a third.
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert e.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in p
    # cutoff selection is the interval-cover explode, not a join + re-agg
    assert "Generate explode" in p
    # the boundary sketch must be in-plan (percentile_approx), not collected
    assert "percentile_approx" in p.lower() or "approximatepercentile" in p.lower()
    assert "percentile_approx" in e.lower() or "approximatepercentile" in e.lower()
    # the battery entry joins cuts and ecdf over one shared parts table:
    # interval-cover explode retained, still no cartesian anywhere
    ent = _plan(spark, "ecdf_quantile_cuts")
    assert "CartesianProduct" not in ent
    assert "Generate explode" in ent


def test_bucketed_near_dup_has_no_cartesian(spark):
    """The embedding near-dup entry must candidate-generate through the
    banded-SRP bucket self-join — never a cross join."""
    p = _plan(spark, "embedding_near_dup_bucketed")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_no_single_partition_exchange_in_similarity_battery(spark):
    """No similarity entry may funnel the corpus through a single-partition
    exchange feeding a Window (the global-window scale-killer). The
    ann_ivf_kmeans entry legitimately contains SinglePartition exchanges for
    its 1-row invariant aggregates (partial agg upstream, 1 row moved), so
    the assertion targets the precise pattern: SinglePartition below a
    Window node."""
    for name in ("embedding_near_dup_bucketed", "ann_ivf_kmeans"):
        assert not _fed_window_count(_plan(spark, name)), name
    # the bucketed near-dup path additionally allows NO single-partition
    # exchange at all (pure bucket-join composition)
    assert "Exchange SinglePartition" not in _plan(spark, "embedding_near_dup_bucketed")


def test_new_dedup_entries_have_no_cartesian(spark):
    """Candidate generation in the dedup and retrieval entries must be a
    bucket/equi join — never an all-pairs plan."""
    for name in ("simhash_near_dups", "near_dup_clusters", "tf_idf_bm25",
                 "unigram_logprob", "grouped_quantile_cuts"):
        assert "CartesianProduct" not in _plan(spark, name), name


def test_span_mix_rangejoin_entries_plan_clean(spark):
    """No all-pairs plan in the span, mixing and range-join entries, and the
    range join must be the bucket EQUI join (no BroadcastNestedLoop from a
    raw BETWEEN theta join)."""
    for name in ("ngram_diagnostics", "weighted_mix", "range_join_bucketed"):
        assert "CartesianProduct" not in _plan(spark, name), name
    assert "BroadcastNestedLoopJoin" not in _plan(spark, "range_join_bucketed")


def test_weighted_mix_reads_only_needed_columns(spark):
    """The mixture resampler must not drag full document bodies through the
    shuffle: the per-source count aggregate prunes to the source column."""
    reads = [l for l in _plan(spark, "weighted_mix").splitlines() if "ReadSchema" in l]
    assert any("source" in l and "text" not in l for l in reads)


def _fed_window_count(plan: str) -> int:
    """Count Window nodes fed by a single-partition exchange — the plan
    shape of a GLOBAL (unpartitioned) window.  The mandatory Sort sits
    between Window and Exchange, so look a few lines past the node."""
    lines = plan.splitlines()
    return sum(
        1
        for i, line in enumerate(lines)
        if "Window" in line
        and any("Exchange SinglePartition" in nxt for nxt in lines[i + 1 : i + 4])
    )


@pytest.fixture(scope="module")
def front_door_plans(spark) -> dict[str, str]:
    """Plans of the frames the two front doors build, at their default
    settings: each analysis' scored rows and bottom-K (small synthetic
    days), and each curation stage over the documents table."""
    from oni_ml_spark.datapipe.classify import (
        demo_weights,
        hashed_linear_score,
        quality_flags,
    )
    from oni_ml_spark.datapipe.dedup import near_dup_clusters
    from oni_ml_spark.datapipe.sampling import deterministic_shuffle
    from oni_ml_spark.datapipe.textstats import (
        line_filter,
        quality_filter,
        remove_contaminated,
    )
    from oni_ml_spark.pipelines import dns, flow, proxy
    from tests.test_pipelines import _dns_fixture, _flow_fixture, _proxy_fixture

    small = dict(topic_count=3, max_iter=2, top_k=20)
    results = {
        "dns": dns.run(_dns_fixture(spark, 200, 3), top_domains=["amazon"], **small),
        "flow": flow.run(_flow_fixture(spark, 200, 3), **small),
        "proxy": proxy.run(_proxy_fixture(spark, 200, 3), top_domains=["amazon"], **small),
    }
    plans = {}
    for name, res in results.items():
        plans[f"{name}.scored"] = _plan_of(spark, res.scored)
        plans[f"{name}.suspicious"] = _plan_of(spark, res.suspicious)
        res.release()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    train, evald = docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0")
    stages = {
        "curate.line_filter": line_filter(docs, "doc_id", "text"),
        "curate.quality_filter": quality_filter(docs, "doc_id", "text"),
        "curate.near_dup_clusters": near_dup_clusters(
            docs, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.7
        ),
        "curate.remove_contaminated": remove_contaminated(train, evald, "doc_id", "text"),
        "curate.model_gate": quality_flags(
            hashed_linear_score(docs, "doc_id", "text", demo_weights(spark), 4096), 0.0
        ),
        "curate.deterministic_shuffle": deterministic_shuffle(docs, "doc_id", seed=0),
    }
    plans.update({name: _plan_of(spark, df) for name, df in stages.items()})
    return plans


def test_front_door_frames_have_no_cartesian(front_door_plans):
    """Candidate generation (near-dup bands, decontamination shingles) and
    scoring are equi or broadcast hash joins — never an all-pairs plan,
    shuffled (CartesianProduct) or broadcast (BroadcastNestedLoopJoin)."""
    bad = [
        n for n, p in front_door_plans.items()
        if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p
    ]
    assert not bad


def test_front_door_frames_have_no_global_window(front_door_plans):
    """A Window fed by an Exchange SinglePartition funnels its whole input
    through one task: the data-sized global window that does not scale.
    No front-door frame has one."""
    offenders = {
        name: n for name, p in front_door_plans.items() if (n := _fed_window_count(p))
    }
    assert not offenders, f"single-partition-fed Window nodes in {offenders}"


def test_curation_report_plans_as_local_relation(spark, tmp_path, monkeypatch):
    """The stage report curate.run writes to _curation_report is a local
    relation: built from a list of tuples it would plan as a scan of
    an existing (Python) RDD, whose evaluation forks Python workers that
    nothing else in the curation run needs."""
    from pyspark.sql.readwriter import DataFrameWriter

    from oni_ml_spark.curate import build_parser, run

    written = {}
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written[path] = self._df
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    out = str(tmp_path / "curated")
    run(spark, build_parser().parse_args([
        "--input", f"{SF_DIR}/documents.parquet", "--output", out,
        "--skip-quality", "--skip-dedup",
    ]))
    p = _plan_of(spark, written[f"{out}/_curation_report"], "extended")
    assert "LocalRelation" in p or "LocalTableScan" in p
    assert "ExistingRDD" not in p and "PythonRDD" not in p and "LogicalRDD" not in p


# Battery entries whose single-partition windows are k-bounded: bucket-subtotal
# ecdf windows over <= b rows (transforms/quantiles.py, classify.py),
# drift-bin sums and distinct-dimension ranks (drift.py), the reservoir/top-k
# rank in deterministic_sampling (sampling.py), and tf_idf_bm25's RRF
# row_number over fused top-k lists. Frames there hold O(k) rows by
# construction, never the corpus.
_KBOUNDED_WINDOW_ENTRIES = frozenset({
    "dimension_profile",
    "ecdf_quantile_cuts",
    "deterministic_sampling",
    "tf_idf_bm25",
    "grouped_quantile_cuts",
    "quality_gate",
})


def test_battery_global_windows_are_whitelisted(spark):
    """Walk EVERY battery entry's physical plan: any Window fed by an
    Exchange SinglePartition outside the k-bounded whitelist is the
    data-sized global window that does not scale, and fails here."""
    offenders = {}
    for name in sorted(QUERIES):
        n = _fed_window_count(_plan(spark, name))
        if n and name not in _KBOUNDED_WINDOW_ENTRIES:
            offenders[name] = n
    assert not offenders, (
        f"NEW single-partition-fed Window nodes in {offenders} — if the "
        "frame is provably k-bounded, document it and extend "
        "_KBOUNDED_WINDOW_ENTRIES; if it is data-sized, partition it"
    )


def test_global_window_detector_fires_on_injected_offender(spark):
    """Self-check for the global-window guard: a deliberately unpartitioned
    window over the documents corpus MUST trip the detector (otherwise a
    green guard proves nothing)."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bad = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert _fed_window_count(_plan_of(spark, bad)) >= 1
