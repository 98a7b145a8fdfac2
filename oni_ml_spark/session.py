"""SparkSession factory tuned for the target execution profile.

Local testing runs on local[N]; the configs below are chosen so the same
logical plans scale to a multi-executor cluster: AQE handles runtime
shuffle-partition sizing and skew joins, shuffle partitions default low for
local mode but are overridable, Arrow is on for the (rare) Pandas-UDF path.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

JAVA_OPTS = "spark.driver.extraJavaOptions"
DEFAULT_JAVA_OPTS = "spark.driver.defaultJavaOptions"
COLLECTOR = "-XX:+UseParallelGC"


def get_spark(
    app_name: str = "oni_ml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    AQE is enabled so shuffle partition counts and skew handling are decided
    at runtime from actual map output sizes — the setting that lets the same
    plan run at sf0.001 locally and at 100 TB on a large cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode: the driver JVM is the executor — give it real heap
        # (must be set before the JVM launches; ignored on getOrCreate reuse)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (VERDICT r12 item 5 + ADVICE): the r12 session-wide
        # preferSortMergeJoin=false default is REVERTED to Spark's default
        # (sort-merge). The interleaved per-entry A/B (OPTIMIZATION_r13.md)
        # shows SMJ flat-to-better on every join-shaped entry measured
        # (dedup_exact 1.31x, json_properties 1.16x, never >5% worse), and
        # shuffled-hash's build side cannot spill — at 100 TB a skewed
        # build partition OOMs an executor where SMJ degrades gracefully
        # (guide §3.1's own caution). SHJ remains one env flag away for
        # workloads measured to benefit:
        #   SPARK_GRAFT_EXTRA_CONF=spark.sql.join.preferSortMergeJoin=false
        #
        # r13 (VERDICT r12 item 3, guide §2.2/§9): size REDUCERS BY BYTES,
        # not by core count — parallelismFirst=false makes AQE coalesce
        # shuffle reads toward advisoryPartitionSizeInBytes instead of
        # stopping at the default-parallelism floor, so the same plan gets
        # KB-appropriate reducer counts at local SFs and 64m-appropriate
        # counts at 100 TB. The advisory size is the production sizing
        # knob (guide §9 suggests 256m for big batch; Spark's 64m default
        # kept here so local file sizing stays sane) and is parameterised:
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        # read TIMESTAMP(NANOS) parquet (e.g. the events table) as long nanos;
        # io.load_table converts back to a timestamp column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # a cold DNS analysis generates 133 classes; with Spark's default
        # of 100 cache entries every warm analysis recompiled ~100 of them
        # (102 compiles, ~1.4 s of Janino plus JIT). At 2000 entries the
        # recompiles were 0 by the third analysis and a warm analysis took
        # 8.6-9.8 s instead of 12.0 s (4-core host, dns_feedback_day)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/oni_ml_spark_warehouse"),
        )
    )
    # experiment/override hook: SPARK_GRAFT_EXTRA_CONF="key=val;key=val"
    # lets the bench and A/B harnesses toggle configs without code edits
    # (scale-dependent settings stay parameterised per the optimization
    # ground rules); explicit extra_conf still wins over the env
    overrides: dict[str, str] = {}
    for item in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in item:
            k, _, v = item.partition("=")
            overrides[k.strip()] = v.strip()
    overrides.update(extra_conf or {})
    # a builder value replaces spark-defaults.conf's: with that file in the
    # conf directory the driver's options are left as they are
    if not _jvm_running() and not os.path.isfile(
        os.path.join(_conf_dir(), "spark-defaults.conf")
    ):
        if java_opts := _with_collector(
            overrides.get(JAVA_OPTS, ""), overrides.get(DEFAULT_JAVA_OPTS, "")
        ):
            overrides[JAVA_OPTS] = java_opts
    plan = plan_class_data(
        overrides.get("spark.driver.memory", driver_mem), overrides.get(JAVA_OPTS, "")
    )
    if plan.flag:
        overrides[JAVA_OPTS] = f"{overrides.get(JAVA_OPTS, '')} {plan.flag}".lstrip()
    for k, v in overrides.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if plan.conf_dir:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if plan.part:
        _save_writer(plan.part, spark)
    print(f"oni_ml_spark.session: {plan.message}", file=sys.stderr)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _jvm_running() -> bool:
    """A driver JVM is up (this process started one, or spark-submit started
    this process): launch settings no longer apply."""
    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


def _conf_dir() -> str:
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")


# -- Collector ---------------------------------------------------------------
#
# Under G1 most of the driver's resident memory is young generation, not
# data: a perfbench curation at a fixed 2 GB heap grew eden to 1,220 one-MB
# regions while 130-220 MB stayed live, so the JVM touched ~2.1 GB. The
# parallel collector keeps its young generation within a third of the heap,
# and the same curation peaks at ~1.35 GB instead of ~2.3 GB.

_NAMES_A_COLLECTOR = re.compile(
    r"-XX:\+Use(?:Serial|Parallel|ParallelOld|G1|Z|Shenandoah|Epsilon|ConcMarkSweep)GC\b"
)


def _with_collector(java_opts: str, default_opts: str) -> str:
    """``java_opts`` with the parallel collector appended, unless a collector
    is already chosen there, in the driver's default options or in the
    environment the launcher and the JVM read: a JVM given two collectors
    refuses to start."""
    chosen = [java_opts, default_opts] + [os.environ.get(v, "") for v in (
        "PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS",
        "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")]
    if any(_NAMES_A_COLLECTOR.search(opts) for opts in chosen):
        return java_opts
    return f"{java_opts} {COLLECTOR}".lstrip()


# -- Class-data sharing ------------------------------------------------------
#
# A cold driver JVM loads ~13k classes; a JDK dynamic AppCDS archive maps
# them instead of parsing and verifying them (session start 8.2 s -> 4.1 s
# on a 4-core host, perfbench dns_feedback_day). This does by hand what JDK 19's -XX:+AutoCreateSharedArchive
# does: the first session for a key dumps an archive when its JVM exits,
# every later one maps it. A truncated archive kills the JVM with SIGBUS even
# under -Xshare:auto, so a dump lands in a process-unique part file and is
# only published after a probe JVM has mapped it with -Xshare:on.


@dataclass(frozen=True)
class ClassDataPlan:
    """How the driver JVM about to launch uses the class-data archive."""

    message: str                # what get_spark reports on stderr
    flag: str | None = None     # the CDS option appended to extraJavaOptions
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch
    part: Path | None = None    # the part file this launch dumps to


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return Path(base) / "oni_ml_spark" / "cds"


def _java() -> str:
    """Realpath of the java binary spark-class launches."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java or "java")


def archive_key(java: str, spark_home: str, driver_mem: str, java_opts: str) -> str:
    """Digest of what makes an archive valid for a JVM: the JDK build, the
    jars on the classpath and the options that shape the heap (at 64g the
    JVM runs without compressed oops and rejects an archive dumped at 2g)."""
    h = hashlib.sha256()
    release = Path(java).parent.parent / "release"
    h.update(java.encode())
    h.update(release.read_bytes() if release.is_file() else b"")
    h.update(spark_home.encode())
    jars = Path(spark_home) / "jars"
    for entry in sorted(jars.iterdir()) if jars.is_dir() else []:
        st = entry.stat()
        h.update(f"\0{entry.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    h.update(f"\0{driver_mem}\0{java_opts}".encode())
    return h.hexdigest()[:20]


def _pid_alive(pid: int | None) -> bool:
    if not pid:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sidecar(part: Path) -> Path:
    return part.with_name(part.name + ".json")


def _save_writer(part: Path, spark: SparkSession) -> None:
    """Record beside ``part`` the JVM that dumps it and its own class path:
    the launcher's class path is not conf:jars/* (it lists slf4j-api twice),
    and a probe with any other one fails with "shared class paths
    mismatch"."""
    jvm = spark.sparkContext._jvm
    _sidecar(part).write_text(json.dumps({
        "pid": jvm.java.lang.ProcessHandle.current().pid(),
        "classpath": jvm.java.lang.System.getProperty("java.class.path"),
    }))


def _probe(java: str, part: Path, classpath: str, driver_mem: str, java_opts: str) -> bool:
    """True when a JVM started with the driver's heap options maps ``part``
    (0.24 s; a truncated archive crashes the probe, whose error report goes
    beside the part, not into the working directory, and is deleted)."""
    err = part.with_suffix(".err")
    cmd = [java, f"-Xmx{driver_mem}", *shlex.split(java_opts), "-Xshare:on",
           f"-XX:SharedArchiveFile={part}", f"-XX:ErrorFile={err}",
           "-XX:-CreateCoredumpOnCrash", "-cp", classpath, "-version"]
    try:
        ok = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=60).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    err.unlink(missing_ok=True)
    return ok


def _publish(key: str, cache: Path, java: str, driver_mem: str, java_opts: str) -> str | None:
    """Settle every part file of ``key`` whose writer has exited: probe it,
    move a good one into place as ``<key>.jsa`` and delete the rest.
    Returns why no archive can be mapped now, or None."""
    jsa = cache / f"{key}.jsa"
    stems = {p.name.removesuffix(".json") for p in cache.glob(f"{key}.*.part*")}
    failed = None
    for part in sorted(cache / s for s in stems):
        try:
            meta = json.loads(_sidecar(part).read_text())
        except (OSError, ValueError):
            meta = {}
        writer = int(part.name.split(".")[1])
        if _pid_alive(writer) or _pid_alive(meta.get("pid")):
            return f"{part} is still being written"
        if part.is_file() and not jsa.is_file():
            if meta and _probe(java, part, meta["classpath"], driver_mem, java_opts):
                try:
                    os.replace(part, jsa)
                except FileNotFoundError:  # another process published it first
                    pass
            else:
                failed = part
        part.unlink(missing_ok=True)
        _sidecar(part).unlink(missing_ok=True)
    if failed and not jsa.is_file():
        return f"the probe of {failed} failed"
    return None


def plan_class_data(driver_mem: str, java_opts: str) -> ClassDataPlan:
    """Decide how the driver JVM about to launch uses the archive."""
    if _jvm_running():
        return ClassDataPlan("normal start: a JVM is already running")
    spark_home = _find_spark_home()
    # the launcher puts the conf directory first on the class path, and
    # CDS refuses a non-empty directory there: one holding only templates
    # (or none at all) is swapped for an empty one. Hadoop's and YARN's
    # conf directories are on it too when set, and cannot be swapped
    conf_dir = _conf_dir()
    for d in (conf_dir, os.environ.get("HADOOP_CONF_DIR"), os.environ.get("YARN_CONF_DIR")):
        if d and os.path.isdir(d) and any(
            d != conf_dir or not n.endswith(".template") for n in os.listdir(d)
        ):
            return ClassDataPlan(f"normal start: the conf directory {d} has real files")
    cache = cache_dir()
    empty_conf = cache / "conf"
    try:
        empty_conf.mkdir(parents=True, exist_ok=True)
        writable = os.access(cache, os.W_OK | os.X_OK)
    except OSError:
        writable = False
    if not writable:
        return ClassDataPlan(f"normal start: the cache {cache} is not writable")
    java = _java()
    key = archive_key(java, spark_home, driver_mem, java_opts)
    jsa = cache / f"{key}.jsa"
    if not jsa.is_file():
        reason = _publish(key, cache, java, driver_mem, java_opts)
        if reason:
            return ClassDataPlan(f"normal start: {reason}")
    if jsa.is_file():
        return ClassDataPlan(f"mapped {jsa}", f"-XX:SharedArchiveFile={jsa}", str(empty_conf))
    part = cache / f"{key}.{os.getpid()}.part"
    # -Xlog:cds=error: the dump warns on stdout for each of ~600 classes it
    # skips (signed jars, pre-JDK-6 class files)
    return ClassDataPlan(f"writing {part}", f"-XX:ArchiveClassesAtExit={part} -Xlog:cds=error",
                         str(empty_conf), part)
