"""Benchmark-side tracing: spans around calls into each layer's public
functions, Spark jobs attributed to the innermost open span, and per-stage
engine metrics pulled from Spark's status store.

Nothing here edits the program. ``Tracer.patched()`` swaps the layer
functions for wrappers at the binding each caller looks up, and restores
the originals on exit, so untraced analyses run the program unchanged.

Span clock: ``time.time()`` (epoch seconds), the clock Spark stamps stage
submission and completion with, so span and stage intervals compare
directly.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

# per-span metric suffixes, with their units
SUFFIXES = {"wall_s": "s", "self_s": "s", "busy_s": "s", "idle_s": "s", "jobs": "count",
            "shuffle_mb": "MB", "spill_mb": "MB"}

# (module, attribute, span name), patched at the binding each caller looks up:
# pipelines.common binds fit_topic_model by name at import time, so it is
# patched there; cli.main, featurize and curate.run import their callees
# inside the function, so those are patched on the source module.
SUSPICIOUS_CONNECTS = [
    ("oni_ml_spark.cli", "main", "cli.main"),
    ("oni_ml_spark.session", "get_spark", "session.get_spark"),
    ("oni_ml_spark.io", "load_top_domains", "io.load_top_domains"),
    ("oni_ml_spark.transforms.feedback", "load_feedback_tsv",
     "transforms.feedback.load_feedback_tsv"),
    ("oni_ml_spark.pipelines.dns", "featurize", "pipelines.dns.featurize"),
    ("oni_ml_spark.transforms.quantiles", "quantile_cuts_multi",
     "transforms.quantiles.quantile_cuts_multi"),
    ("oni_ml_spark.pipelines.common", "fit_topic_model", "topics.fit_topic_model"),
    ("oni_ml_spark.io", "write_tsv", "io.write_tsv"),
]
CURATION = [
    ("oni_ml_spark.curate", "run", "curate.run"),
    ("oni_ml_spark.datapipe.textstats", "line_filter", "datapipe.textstats.line_filter"),
    ("oni_ml_spark.datapipe.textstats", "quality_filter", "datapipe.textstats.quality_filter"),
    ("oni_ml_spark.datapipe.dedup", "near_dup_clusters", "datapipe.dedup.near_dup_clusters"),
    ("oni_ml_spark.datapipe.textstats", "remove_contaminated",
     "datapipe.textstats.remove_contaminated"),
    ("oni_ml_spark.datapipe.classify", "hashed_linear_score",
     "datapipe.classify.hashed_linear_score"),
    ("oni_ml_spark.datapipe.sampling", "deterministic_shuffle",
     "datapipe.sampling.deterministic_shuffle"),
]
# curate builds each of these stages lazily and pins it with localCheckpoint
# after the datapipe call returns, so their spans stay open until the next
# span starts or their parent ends: the stage's jobs run in that window.
# deterministic_shuffle is not pinned; its span ends when it returns, and the
# final output write and the stage report run in curate.run's self time.
STICKY = {
    "datapipe.textstats.line_filter",
    "datapipe.textstats.quality_filter",
    "datapipe.dedup.near_dup_clusters",
    "datapipe.textstats.remove_contaminated",
    "datapipe.classify.hashed_linear_score",
}
SPAN_NAMES = [n for _, _, n in SUSPICIOUS_CONNECTS + CURATION]
CURATE_STAGES = ["input", "after_c4_clean", "after_quality_gate", "after_near_dup",
                 "after_decontamination", "after_model_gate"]
COUNTS = ["topics.fit_topic_model.n_docs", "topics.fit_topic_model.vocab_size",
          "io.write_tsv.rows", *(f"curate.{s}.docs" for s in CURATE_STAGES),
          "spark.failed_tasks"]
# every per-layer metric the spans and counts give, with its unit
PER_LAYER = {
    **{f"{n}.{sfx}": unit for n in SPAN_NAMES for sfx, unit in SUFFIXES.items()},
    **dict.fromkeys(COUNTS, "count"),
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    sticky: bool = False
    returned: bool = False
    counts: dict[str, float] = field(default_factory=dict)


@dataclass
class Stage:
    """One executed stage attempt, as the status store reports it."""

    group: str | None        # job group of the job that ran it
    submitted: float         # epoch seconds
    completed: float
    run_s: float             # executor run time summed over tasks
    shuffle_write_bytes: int
    spill_bytes: int
    failed_tasks: int


class Tracer:
    """Span stack plus job-group attribution.

    ``set_group(group_id, description)`` is called whenever the innermost
    open span changes (``None`` clears it); with Spark it is
    ``SparkContext.setJobGroup``, so every job submitted meanwhile carries
    the span's id as its group.
    """

    def __init__(self, set_group: Callable[[str | None, str | None], None],
                 clock: Callable[[], float] = time.time):
        self.set_group = set_group
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    def _sync_group(self) -> None:
        top = self.stack[-1] if self.stack else None
        self.set_group(f"span-{top.id}" if top else None, top.name if top else None)

    def _close_returned(self, keep: Span | None = None) -> None:
        now = self.clock()
        while self.stack and self.stack[-1] is not keep and self.stack[-1].returned:
            self.stack.pop().end = now

    def enter(self, name: str, sticky: bool = False) -> Span:
        # a sticky span whose function already returned ends when the next
        # span starts: the new span is its sibling, not its child
        self._close_returned()
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, parent, self.clock(), sticky=sticky)
        self.spans.append(span)
        self.stack.append(span)
        self._sync_group()
        return span

    def exit(self, span: Span) -> None:
        self._close_returned(keep=span)
        if self.stack[-1] is not span:
            raise RuntimeError(f"span {span.name} exited out of order")
        if span.sticky:
            span.returned = True
        else:
            self.stack.pop().end = self.clock()
        self._sync_group()

    def close_all(self) -> None:
        """End any span still open (sticky spans at the end of an analysis)."""
        now = self.clock()
        while self.stack:
            self.stack.pop().end = now
        self._sync_group()

    def wrap(self, fn: Callable, name: str) -> Callable:
        sticky = name in STICKY

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.enter(name, sticky)
            try:
                result = fn(*args, **kwargs)
                _record_counts(span, result)
                return result
            finally:
                self.exit(span)

        return traced

    @contextmanager
    def patched(self, targets: list[tuple[str, str, str]]):
        """Swap each (module, attribute) for a traced wrapper; restore on exit."""
        saved = []
        try:
            for mod_name, attr, name in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(orig, name))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)
            self.close_all()


def _record_counts(span: Span, result) -> None:
    """Counts a layer returns anyway, keyed by their metric name."""
    if span.name == "topics.fit_topic_model":
        span.counts["topics.fit_topic_model.n_docs"] = result.n_docs
        span.counts["topics.fit_topic_model.vocab_size"] = len(result.vocabulary)
    elif span.name == "curate.run":
        for stage, n in result.items():
            if stage != "output":
                span.counts[f"curate.{stage}.docs"] = n


# --- arithmetic over one analysis's spans and stages ----------------------------


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(union: list[tuple[float, float]], a: float, b: float) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in union)


def check_spans(spans: list[Span], slack: float = 1e-6) -> None:
    """Raise ``ValueError`` unless every span is closed, every child lies
    inside its parent and siblings do not overlap. These are what make
    ``self_times`` the time no child covers, and so never negative."""
    by_id = {s.id: s for s in spans}
    problems = [f"{s.name} (span {s.id}) never closed" for s in spans if s.end is None]
    if problems:
        raise ValueError("; ".join(problems))
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
        if s.end < s.start:
            problems.append(f"{s.name} ends before it starts")
        p = by_id.get(s.parent)
        if p is not None and (s.start < p.start - slack or s.end > p.end + slack):
            problems.append(f"{s.name} runs outside its parent {p.name}")
    for sibs in children.values():
        sibs = sorted(sibs, key=lambda s: s.start)
        for a, b in zip(sibs, sibs[1:]):
            if b.start < a.end - slack:
                problems.append(f"siblings {a.name} and {b.name} overlap")
    if problems:
        raise ValueError("; ".join(problems))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its direct children cover. Valid only
    for spans that pass ``check_spans``; then no value is negative."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}


def span_metrics(spans: list[Span], stages: list[Stage],
                 jobs_per_group: dict[str, int]) -> dict[str, float]:
    """Per-span-name metrics over one analysis: ``<name>.<suffix>`` for every
    name in SPAN_NAMES (0 when the span never ran), plus counts."""
    out = {f"{n}.{sfx}": 0.0 for n in SPAN_NAMES for sfx in SUFFIXES}
    out.update(dict.fromkeys(COUNTS, 0.0))
    busy = _union([(st.submitted, st.completed) for st in stages])
    own: dict[str, list[Stage]] = {}
    for st in stages:
        own.setdefault(st.group, []).append(st)
    selfs = self_times(spans)
    for s in spans:
        key = f"span-{s.id}"
        mine = own.get(key, [])
        wall = s.end - s.start
        out[f"{s.name}.wall_s"] += wall
        out[f"{s.name}.self_s"] += selfs[s.id]
        out[f"{s.name}.idle_s"] += wall - _covered(busy, s.start, s.end)
        out[f"{s.name}.busy_s"] += sum(st.run_s for st in mine)
        out[f"{s.name}.jobs"] += jobs_per_group.get(key, 0)
        out[f"{s.name}.shuffle_mb"] += sum(st.shuffle_write_bytes for st in mine) / 2**20
        out[f"{s.name}.spill_mb"] += sum(st.spill_bytes for st in mine) / 2**20
        out.update((k, float(v)) for k, v in s.counts.items())
    out["spark.failed_tasks"] = float(sum(st.failed_tasks for st in stages))
    return out


def median_metrics(per_analysis: list[dict[str, float]]) -> dict[str, float]:
    keys = dict.fromkeys(k for m in per_analysis for k in m)
    return {k: statistics.median(m.get(k, 0.0) for m in per_analysis) for k in keys}


# --- Spark status store -------------------------------------------------------------


class StatusStore:
    """Reads jobs and stages from the driver's AppStatusStore, which Spark
    keeps even with ``spark.ui.enabled=false``. Each ``harvest`` returns
    only what ran since the previous one."""

    def __init__(self, sc):
        self.sc = sc
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[tuple[int, int]] = set()

    def set_group(self, group: str | None, description: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, description)

    def harvest(self) -> tuple[list[Stage], dict[str, int]]:
        # the status store is fed by the asynchronous listener bus: drain it
        # so the last jobs' end and stage-completed events are already
        # recorded, and their stages count toward this analysis, not the next
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        empty = self.jvm.java.util.ArrayList()
        jobs = self.store.jobsList(empty)
        stage_group: dict[int, tuple[int, str | None]] = {}
        jobs_per_group: dict[str, int] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            ids = job.stageIds()
            for j in range(ids.size()):
                sid = ids.apply(j)
                # a stage shared by several jobs ran in the earliest one
                if sid not in stage_group or jid < stage_group[sid][0]:
                    stage_group[sid] = (jid, group)
            if jid not in self.seen_jobs:
                self.seen_jobs.add(jid)
                jobs_per_group[group] = jobs_per_group.get(group, 0) + 1
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        stages = self.store.stageList(None, False, False, quantiles, empty)
        out = []
        for i in range(stages.size()):
            st = stages.apply(i)
            key = (st.stageId(), st.attemptId())
            sub, done = st.submissionTime(), st.completionTime()
            if key in self.seen_stages or not sub.isDefined() or not done.isDefined():
                continue
            self.seen_stages.add(key)
            out.append(Stage(
                group=stage_group.get(st.stageId(), (0, None))[1],
                submitted=sub.get().getTime() / 1000.0,
                completed=done.get().getTime() / 1000.0,
                run_s=st.executorRunTime() / 1000.0,
                shuffle_write_bytes=st.shuffleWriteBytes(),
                spill_bytes=st.memoryBytesSpilled(),
                failed_tasks=st.numFailedTasks(),
            ))
        return out, jobs_per_group
