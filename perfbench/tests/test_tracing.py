"""Span bookkeeping, self-time arithmetic and status-store harvesting, on
synthetic spans and a fake Spark, plus the agreement of BENCHMARK.json with
the metrics the runner prints."""

import json
import sys
import types
from pathlib import Path
from types import SimpleNamespace

import pytest

from perfbench import run, tracing
from perfbench.tracing import Span, Stage, StatusStore, Tracer, check_spans, self_times


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _curate_like_trace():
    """curate.run with two sticky stages and the unpinned shuffle."""
    clock, groups = Clock(), []
    tr = Tracer(lambda group, description: groups.append(description), clock)
    root = tr.enter("curate.run")
    clock.t = 1
    lf = tr.enter("datapipe.textstats.line_filter", sticky=True)
    clock.t = 2
    tr.exit(lf)
    after_lf = groups[-1]
    clock.t = 5
    qf = tr.enter("datapipe.textstats.quality_filter", sticky=True)
    clock.t = 6
    tr.exit(qf)
    clock.t = 8
    sh = tr.enter("datapipe.sampling.deterministic_shuffle")
    clock.t = 9
    tr.exit(sh)
    after_sh = groups[-1]
    clock.t = 12
    tr.exit(root)
    return tr, (root, lf, qf, sh), (after_lf, after_sh, groups[-1])


def test_sticky_span_stays_open_until_the_next_span_starts():
    _, (root, lf, qf, sh), (after_lf, after_sh, last) = _curate_like_trace()
    assert [(s.start, s.end) for s in (root, lf, qf, sh)] == [(0, 12), (1, 5), (5, 8), (8, 9)]
    # jobs issued after line_filter returned (the stage's pin) are its own
    assert after_lf == "datapipe.textstats.line_filter"
    # the final write, after the unpinned shuffle, is curate.run's
    assert after_sh == "curate.run"
    assert last is None


def test_self_times_of_a_checked_tree():
    tr, (root, lf, qf, sh), _ = _curate_like_trace()
    check_spans(tr.spans)
    selfs = self_times(tr.spans)
    assert selfs == {root.id: 12 - 4 - 3 - 1, lf.id: 4, qf.id: 3, sh.id: 1}
    assert all(v >= 0 for v in selfs.values())
    assert sum(selfs.values()) == root.end - root.start


def test_check_spans_rejects_a_child_outside_its_parent():
    spans = [Span(0, "cli.main", None, 0.0, 10.0), Span(1, "io.write_tsv", 0, 5.0, 11.0)]
    with pytest.raises(ValueError, match="outside its parent"):
        check_spans(spans)


def test_check_spans_rejects_overlapping_siblings():
    spans = [Span(0, "cli.main", None, 0.0, 10.0),
             Span(1, "io.load_top_domains", 0, 1.0, 5.0),
             Span(2, "pipelines.dns.featurize", 0, 4.0, 6.0)]
    # the sum of self times would still equal the root's wall time
    assert sum(self_times(spans).values()) == 10.0
    with pytest.raises(ValueError, match="overlap"):
        check_spans(spans)


def test_check_spans_rejects_an_open_span():
    with pytest.raises(ValueError, match="never closed"):
        check_spans([Span(0, "curate.run", None, 0.0)])


def test_exit_out_of_order_raises():
    tr = Tracer(lambda group, description: None, Clock())
    outer = tr.enter("cli.main")
    tr.enter("io.write_tsv")
    with pytest.raises(RuntimeError, match="out of order"):
        tr.exit(outer)


def test_span_metrics_attributes_stages_by_group():
    spans = [Span(0, "cli.main", None, 0.0, 10.0), Span(1, "io.write_tsv", 0, 6.0, 9.0)]
    stages = [Stage("span-1", 6.5, 8.5, run_s=3.0, shuffle_write_bytes=2**20,
                    spill_bytes=2**19, failed_tasks=1),
              Stage("span-0", 1.0, 2.0, run_s=0.5, shuffle_write_bytes=0,
                    spill_bytes=0, failed_tasks=0)]
    m = tracing.span_metrics(spans, stages, {"span-1": 2, "span-0": 1})
    assert m["io.write_tsv.wall_s"] == 3.0
    assert m["io.write_tsv.self_s"] == 3.0
    assert m["io.write_tsv.busy_s"] == 3.0
    assert m["io.write_tsv.idle_s"] == pytest.approx(1.0)
    assert m["io.write_tsv.jobs"] == 2
    assert m["io.write_tsv.shuffle_mb"] == 1.0
    assert m["io.write_tsv.spill_mb"] == 0.5
    assert m["cli.main.self_s"] == 7.0
    assert m["cli.main.idle_s"] == pytest.approx(7.0)
    assert m["spark.failed_tasks"] == 1
    # a span that never ran, and a count no layer reported, read 0
    assert m["curate.run.wall_s"] == 0.0 and m["curate.input.docs"] == 0.0


def test_patched_wraps_and_restores(monkeypatch):
    mod = types.ModuleType("fake_layer")
    mod.work = lambda x: x + 1
    original = mod.work
    monkeypatch.setitem(sys.modules, "fake_layer", mod)
    tr = Tracer(lambda group, description: None, Clock())
    with tr.patched([("fake_layer", "work", "fake.work")]):
        assert mod.work(1) == 2
    assert mod.work is original
    assert [s.name for s in tr.spans] == ["fake.work"]


# --- status store -----------------------------------------------------------------


class Seq(list):
    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class Opt:
    def __init__(self, value=None):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


def _date(seconds):
    return SimpleNamespace(getTime=lambda: int(seconds * 1000))


class FakeStage:
    def __init__(self, sid, submitted, completed):
        self.sid, self.submitted, self.completed = sid, submitted, completed

    def stageId(self):
        return self.sid

    def attemptId(self):
        return 0

    def submissionTime(self):
        return Opt(_date(self.submitted))

    def completionTime(self):
        return Opt(_date(self.completed) if self.completed is not None else None)

    def executorRunTime(self):
        return 250

    def shuffleWriteBytes(self):
        return 0

    def memoryBytesSpilled(self):
        return 0

    def numFailedTasks(self):
        return 0


def _fake_spark(jobs, stages, pending):
    """A SparkContext whose listener bus, when drained, runs ``pending``."""
    bus = SimpleNamespace(waitUntilEmpty=lambda: [f() for f in pending])
    store = SimpleNamespace(jobsList=lambda statuses: Seq(jobs),
                            stageList=lambda *args: Seq(stages))
    scala_sc = SimpleNamespace(statusStore=lambda: store, listenerBus=lambda: bus)
    return SimpleNamespace(
        _jvm=SimpleNamespace(java=SimpleNamespace(util=SimpleNamespace(ArrayList=list)),
                             double=float),
        _gateway=SimpleNamespace(new_array=lambda kind, n: []),
        _jsc=SimpleNamespace(sc=lambda: scala_sc),
    )


def test_harvest_counts_a_stage_that_completes_late():
    job = SimpleNamespace(jobId=lambda: 0, jobGroup=lambda: Opt("span-3"),
                          stageIds=lambda: Seq([0, 1]))
    early, late = FakeStage(0, 1.0, 2.0), FakeStage(1, 2.0, None)
    # the late stage's completion event is still queued on the listener bus
    pending = [lambda: setattr(late, "completed", 3.5)]
    store = StatusStore(_fake_spark([job], [early, late], pending))
    stages, jobs = store.harvest()
    assert sorted((s.submitted, s.completed, s.group) for s in stages) == [
        (1.0, 2.0, "span-3"), (2.0, 3.5, "span-3")]
    assert jobs == {"span-3": 1}
    assert store.harvest() == ([], {})


# --- BENCHMARK.json agrees with the runner ------------------------------------------


def test_benchmark_json_names_what_the_runner_prints():
    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run._workloads())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer()
