"""Benchmark of the program's two front doors: suspicious-connects analyses
through ``oni_ml_spark.cli.main`` and training-data curation through
``oni_ml_spark.curate.run``.

    python3 perfbench/run.py --workload dns_feedback_day --seed 7 --seconds 1 --trace 0

Run it from the repository root. One process is one measured run, so the
first analysis in it is a real cold start. The run pins the deployment
settings, generates the workload's inputs from the seed, starts the Spark
session and runs one cold analysis, then, as a closed loop with one client,
warm analyses until ``--seconds`` have passed since the cold one started.
Every output is checked. Everything the run writes lands under
``.perfbench_work/``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs untraced,
traced and untraced warm analyses after the cold one and reports the
per-layer metrics of the traced ones, the untraced warm time and the
tracing overhead.

Lines before the last name the settings and print each metric with its
unit; the last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

GENERATIONS = 3     # input generations per run; setup_s takes their median
DEADLINE_S = 150.0  # no new analysis starts after this much wall time
DRIVER_MEM = "2g"   # get_spark's 64g default exceeds the host's memory
MAX_RESULTS = 100
LDA_MAX_ITER = 5    # the CLI's default of 20 costs 30 more Spark jobs per analysis

END_TO_END = {"setup_s": "s", "cold_run_s": "s", "peak_rss_mb": "MB"}


def _per_layer() -> dict[str, str]:
    from perfbench import tracing

    return {**tracing.PER_LAYER, "warm_run_s": "s", "trace.overhead_s": "s"}


@dataclass(frozen=True)
class Workload:
    generate: Callable      # (seed, directory) -> workloads.Inputs
    analyse: Callable       # (spark, inputs, out) -> result
    check: Callable         # (result, inputs, out) -> counts for the trace
    spans: list


def _run_dns(spark, inputs, out):
    from oni_ml_spark import cli

    return cli.main([
        "--analysis", "dns", "--input", inputs.files["input"], "--output", out,
        "--topdomains", inputs.files["topdomains"], "--feedback", inputs.files["feedback"],
        "--maxresults", str(MAX_RESULTS), "--lda-maxiter", str(LDA_MAX_ITER),
    ])


def _check_dns(status, inputs, out) -> dict[str, float]:
    from perfbench.checks import CheckFailed, check_scored_tsv

    if status != 0:
        raise CheckFailed(f"cli.main returned {status}")
    return {"io.write_tsv.rows": float(check_scored_tsv(out, MAX_RESULTS))}


def _run_curate(spark, inputs, out):
    from oni_ml_spark import curate

    args = curate.build_parser().parse_args([
        "--input", inputs.files["input"], "--output", out, "--c4-clean",
        "--eval", inputs.files["eval"], "--model", inputs.files["model"],
        "--shuffle-seed", "0",
    ])
    return curate.run(spark, args)


def _check_curate(report, inputs, out) -> dict[str, float]:
    import pyarrow.parquet as pq

    from perfbench.checks import check_curation

    ids = pq.read_table(out, columns=["doc_id"]).column(0).to_pylist()
    check_curation(report, ids, inputs.planted_copies)
    return {}


def _workloads() -> dict[str, Workload]:
    from perfbench import tracing, workloads

    return {
        "dns_feedback_day": Workload(workloads.dns_feedback_day, _run_dns,
                                     _check_dns, tracing.SUSPICIOUS_CONNECTS),
        "curate_corpus": Workload(workloads.curate_corpus, _run_curate,
                                  _check_curate, tracing.CURATION),
    }


def _pin_settings() -> dict[str, str]:
    """Fresh work directory and the deployment settings, set before the
    JVM starts. Returns what was set."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True)
    cpus = str(len(os.sched_getaffinity(0)))
    pinned = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_ADVISORY_PARTITION_BYTES": "64m",
        # a fixed heap: G1 then does not resize it run by run
        "SPARK_GRAFT_EXTRA_CONF": ("spark.ui.showConsoleProgress=false;"
                                   f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}"),
        "SPARK_GRAFT_WAREHOUSE": str(WORK / "warehouse"),
        "SPARK_LOCAL_DIRS": str(WORK / "local"),
        "TMPDIR": str(WORK / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    tempfile.tempdir = None
    return pinned


def _digest(directory: Path) -> str:
    h = hashlib.sha256()
    for path in sorted(p for p in directory.rglob("*") if p.is_file()):
        h.update(str(path.relative_to(directory)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of this host's CPU time the hypervisor gave to others."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


@dataclass
class Analysis:
    wall_s: float
    metrics: dict[str, float] = field(default_factory=dict)  # per-layer, when traced


class Runner:
    """One measured run: set-up, then one closed-loop client."""

    def __init__(self, workload: Workload, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.store = None
        self.setup_spans: dict[str, float] = {}

    def setup(self) -> float:
        from perfbench import tracing

        gen_s, digests = [], []
        for g in range(GENERATIONS):
            directory = WORK / "inputs" / str(g)
            t = time.perf_counter()
            inputs = self.workload.generate(self.seed, str(directory))
            gen_s.append(time.perf_counter() - t)
            digests.append(_digest(directory))
            if g == 0:
                self.inputs = inputs
        self.inputs_deterministic = len(set(digests)) == 1
        if not self.inputs_deterministic:
            print("perfbench: one seed generated different inputs", file=sys.stderr)

        from oni_ml_spark import session

        tracer = tracing.Tracer(lambda group, description: None)
        t = time.perf_counter()
        if self.trace:
            with tracer.patched([("oni_ml_spark.session", "get_spark", "session.get_spark")]):
                self.spark = session.get_spark("perfbench")
        else:
            self.spark = session.get_spark("perfbench")
        session_s = time.perf_counter() - t
        if self.trace:
            self.store = tracing.StatusStore(self.spark.sparkContext)
            self.setup_spans = tracing.span_metrics(tracer.spans, [], {})
        return session_s + statistics.median(gen_s)

    def analysis(self, traced: bool) -> Analysis | None:
        """One analysis, timed and checked; None when it raised or its
        output failed its check."""
        from perfbench import tracing

        out = str(WORK / "out")
        tracer = tracing.Tracer(self.store.set_group) if traced else None
        self.attempted += 1
        try:
            t = time.perf_counter()
            if traced:
                with tracer.patched(self.workload.spans):
                    result = self.workload.analyse(self.spark, self.inputs, out)
            else:
                result = self.workload.analyse(self.spark, self.inputs, out)
            done = Analysis(time.perf_counter() - t)
            counts = self.workload.check(result, self.inputs, out)
            if self.store is not None:
                stages, jobs = self.store.harvest()
                if traced:
                    tracing.check_spans(tracer.spans)
                    done.metrics = tracing.span_metrics(tracer.spans, stages, jobs)
                    done.metrics.update(counts)
            return done
        except Exception:  # noqa: BLE001 -- a failed analysis is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            if self.store is not None:
                self.store.harvest()
            return None

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024

    def versions(self) -> dict[str, str]:
        import pyspark

        system = self.spark.sparkContext._jvm.java.lang.System
        return {"pyspark": pyspark.__version__, "java": system.getProperty("java.version"),
                "python": sys.version.split()[0]}

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


def run(args, pinned: dict[str, str]) -> dict:
    from perfbench import tracing

    runner = Runner(_workloads()[args.workload], args.seed, bool(args.trace))
    ticks = _cpu_ticks()
    started = time.perf_counter()
    warm: list[Analysis] = []
    traced: list[Analysis] = []
    try:
        setup_s = runner.setup()
        measuring = time.perf_counter()
        cold = runner.analysis(traced=False)
        # warm analyses run back to back until --seconds have passed since
        # the cold one started. A traced run alternates untraced and traced
        # ones and needs at least untraced, traced, untraced, whatever
        # --seconds says: the traced one's neighbours bracket it, so the
        # warm-up still going on cancels out of the tracing overhead
        i = 0
        while time.perf_counter() - started < DEADLINE_S:
            short = args.trace and (len(warm) < 2 or not traced)
            if not short and time.perf_counter() - measuring >= args.seconds:
                break
            trace_this = bool(args.trace) and i % 2 == 1
            res = runner.analysis(traced=trace_this)
            if res is not None:
                (traced if trace_this else warm).append(res)
            i += 1
        if cold is None or (args.trace and (len(warm) < 2 or not traced)):
            raise RuntimeError("the analyses this run reports did not succeed")
        print("settings " + " ".join(f"{k}={v}" for k, v in pinned.items()))
        print("versions " + " ".join(f"{k}={v}" for k, v in runner.versions().items()))
        warm_s = statistics.median(a.wall_s for a in warm) if warm else None
        if args.trace:
            metrics = tracing.median_metrics([a.metrics for a in traced])
            for k, v in runner.setup_spans.items():
                if k.startswith("session.get_spark."):
                    metrics[k] = v
            metrics["warm_run_s"] = warm_s
            metrics["trace.overhead_s"] = statistics.median(a.wall_s for a in traced) - warm_s
            units = _per_layer()
        else:
            metrics = {"setup_s": setup_s, "cold_run_s": cold.wall_s,
                       "peak_rss_mb": runner.peak_rss_mb()}
            units = END_TO_END
    finally:
        runner.stop()
    print(f"analyses: 1 cold, {len(warm)} untraced warm, {len(traced)} traced warm, "
          f"{runner.failed} failed of {runner.attempted}")
    print(f"error_rate {runner.failed / runner.attempted} (failed / attempted)")
    print(f"cpu_steal {_steal_share(ticks, _cpu_ticks()):.3f} (share of host CPU time "
          "spent on other guests during the run)")
    if warm and not args.trace:
        print(f"warm analyses {[round(a.wall_s, 3) for a in warm]} s")
    for k, unit in units.items():
        print(f"{k} {metrics[k]:.6g} {unit}")
    return {
        "correct": runner.failed == 0 and runner.inputs_deterministic,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dns_feedback_day", "curate_corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="how long the warm closed loop runs")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (ROOT / "oni_ml_spark" / "cli.py").is_file():
        print(f"perfbench: {ROOT} holds no oni_ml_spark package to measure", file=sys.stderr)
        return 2
    # import the program and the benchmark from the checkout root, not from
    # this script's own directory
    sys.path[0] = str(ROOT)
    pinned = _pin_settings()
    result = run(args, pinned)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
