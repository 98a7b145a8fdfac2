"""How get_spark launches the driver JVM: on the parallel collector unless
the caller chose one, and from a class-data-sharing archive
(session.plan_class_data): its key, the conf-directory rule, publishing a
part file only after a probe JVM mapped it, and a first process that writes
the archive for a second one to map. Every test points XDG_CACHE_HOME at its
own tmp_path."""

from __future__ import annotations

import json
import os
import shlex
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from oni_ml_spark import session

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(autouse=True)
def fresh_launch(tmp_path, monkeypatch):
    """A private cache, and no driver JVM running as far as the plan sees."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("HADOOP_CONF_DIR", raising=False)
    monkeypatch.delenv("YARN_CONF_DIR", raising=False)
    for var in ("PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS",
                "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)


def _key(mem="1g", opts=""):
    return session.archive_key(session._java(), session._find_spark_home(), mem, opts)


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _part(tmp_path, mem, *, opts="", truncate=False, writer=None) -> Path:
    """A real (tiny) dynamic archive dumped by ``java -version`` as a part
    file of the key for ``mem`` and ``opts``, with the sidecar a launch
    writes."""
    classpath = tmp_path / "cp"
    classpath.mkdir(exist_ok=True)
    cache = session.cache_dir()
    cache.mkdir(parents=True, exist_ok=True)
    part = cache / f"{_key(mem, opts)}.{writer or _dead_pid()}.part"
    subprocess.run([session._java(), f"-Xmx{mem}", *shlex.split(opts), "-Xlog:cds=error",
                    f"-XX:ArchiveClassesAtExit={part}", "-cp", str(classpath), "-version"],
                   check=True, capture_output=True)
    if truncate:
        data = part.read_bytes()
        part.chmod(0o600)
        part.write_bytes(data[: len(data) // 5])
    part.with_name(part.name + ".json").write_text(
        json.dumps({"pid": _dead_pid(), "classpath": str(classpath)}))
    return part


def test_key_changes_with_what_the_archive_depends_on(tmp_path):
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    java = str(jdk / "bin" / "java")
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"x")
    base = session.archive_key(java, str(home), "2g", "-Xms2g")

    assert session.archive_key(session._java(), str(home), "2g", "-Xms2g") != base
    (jdk / "release").write_text('JAVA_VERSION="17.0.2"\n')
    assert session.archive_key(java, str(home), "2g", "-Xms2g") != base
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    assert session.archive_key(java, str(home), "2g", "-Xms2g") == base
    (home / "jars" / "b.jar").write_bytes(b"y")
    assert session.archive_key(java, str(home), "2g", "-Xms2g") != base
    (home / "jars" / "b.jar").unlink()
    (home / "jars" / "a.jar").write_bytes(b"xx")
    jars_changed = session.archive_key(java, str(home), "2g", "-Xms2g")
    assert jars_changed != base
    assert session.archive_key(java, str(home), "64g", "-Xms2g") != jars_changed
    assert session.archive_key(java, str(home), "2g", "") != jars_changed


def test_first_launch_writes_a_part_with_an_empty_conf_dir(tmp_path):
    plan = session.plan_class_data("1g", "")
    assert plan.message == f"writing {plan.part}"
    assert plan.part.parent == session.cache_dir()
    assert plan.part.name == f"{_key()}.{os.getpid()}.part"
    assert f"-XX:ArchiveClassesAtExit={plan.part}" in plan.flag
    assert Path(plan.conf_dir).is_dir() and not os.listdir(plan.conf_dir)


def test_template_only_conf_dir_is_swapped(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    plan = session.plan_class_data("1g", "")
    assert plan.flag and plan.conf_dir != str(conf)


def test_real_conf_file_gives_a_normal_start(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    plan = session.plan_class_data("1g", "")
    assert plan.flag is None and plan.conf_dir is None
    assert plan.message == f"normal start: the conf directory {conf} has real files"


def test_unwritable_cache_gives_a_normal_start(tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    plan = session.plan_class_data("1g", "")
    assert plan.flag is None
    assert plan.message.startswith("normal start: the cache") and "not writable" in plan.message


def test_running_jvm_gets_nothing(monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    plan = session.plan_class_data("1g", "")
    assert (plan.flag, plan.message) == (None, "normal start: a JVM is already running")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1234")
    assert session.plan_class_data("1g", "").flag is None


def test_good_part_is_published_and_mapped(tmp_path):
    part = _part(tmp_path, "1g")
    plan = session.plan_class_data("1g", "")
    jsa = session.cache_dir() / f"{_key()}.jsa"
    assert plan.message == f"mapped {jsa}"
    assert plan.flag == f"-XX:SharedArchiveFile={jsa}" and plan.part is None
    assert jsa.is_file() and not part.exists()
    assert not part.with_name(part.name + ".json").exists()


def test_truncated_part_is_deleted_and_never_mapped(tmp_path, monkeypatch):
    part = _part(tmp_path, "1g", truncate=True)
    monkeypatch.chdir(tmp_path)
    plan = session.plan_class_data("1g", "")
    assert plan.flag is None
    assert plan.message == f"normal start: the probe of {part} failed"
    assert not part.exists() and not (session.cache_dir() / f"{_key()}.jsa").exists()
    # the crashed probe's error report is not left behind
    assert not list(tmp_path.rglob("hs_err*")) and not list(tmp_path.rglob("*.err"))
    # the next launch dumps afresh
    assert session.plan_class_data("1g", "").part is not None


def test_probe_uses_the_driver_heap(tmp_path):
    # dumped at 1g (compressed oops); a 64g driver runs without them and
    # would reject it, so the probe at 64g must fail too
    part = _part(tmp_path, "1g")
    for f in (part, part.with_name(part.name + ".json")):
        f.rename(f.with_name(f.name.replace(_key("1g"), _key("64g"))))
    plan = session.plan_class_data("64g", "")
    assert plan.flag is None and "probe" in plan.message


def test_part_with_a_live_writer_is_left_alone(tmp_path):
    part = _part(tmp_path, "1g", writer=os.getpid())
    plan = session.plan_class_data("1g", "")
    assert plan.flag is None and plan.part is None
    assert plan.message == f"normal start: {part} is still being written"
    assert part.exists() and not (session.cache_dir() / f"{_key()}.jsa").exists()


class _Launched(Exception):
    pass


def _launch(monkeypatch, extra_conf=None):
    """Run get_spark up to the JVM launch; returns (builder options, the
    SPARK_CONF_DIR the launch saw)."""
    seen = {}

    def fake_get_or_create(builder):
        seen["options"] = dict(builder._options)
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        raise _Launched

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    with pytest.raises(_Launched):
        session.get_spark("t", extra_conf=extra_conf)
    return seen["options"], seen["conf_dir"]


def test_extra_conf_java_options_survive_the_merge(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF",
                       "spark.ui.showConsoleProgress=false;spark.driver.extraJavaOptions=-Xms2g")
    options, conf_dir = _launch(monkeypatch)
    opts = options[session.JAVA_OPTS]
    # the caller's options first, then the collector, then the archive flag
    assert opts.startswith(f"-Xms2g {session.COLLECTOR} -XX:ArchiveClassesAtExit=")
    assert f"{_key('2g', f'-Xms2g {session.COLLECTOR}')}.{os.getpid()}.part" in opts
    assert conf_dir == str(session.cache_dir() / "conf")
    assert "SPARK_CONF_DIR" not in os.environ  # restored after the launch

    options, _ = _launch(monkeypatch, {session.JAVA_OPTS: "-Xss4m"})
    assert options[session.JAVA_OPTS].startswith(
        f"-Xss4m {session.COLLECTOR} -XX:ArchiveClassesAtExit=")


def test_collector_is_in_the_key_and_the_probe(tmp_path, monkeypatch):
    part = _part(tmp_path, "1g", opts=session.COLLECTOR)
    probes = []
    run = subprocess.run

    def recording_run(cmd, **kwargs):
        probes.append(cmd)
        return run(cmd, **kwargs)

    monkeypatch.setattr(session.subprocess, "run", recording_run)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    options, _ = _launch(monkeypatch)
    jsa = session.cache_dir() / f"{_key('1g', session.COLLECTOR)}.jsa"
    assert options[session.JAVA_OPTS] == f"{session.COLLECTOR} -XX:SharedArchiveFile={jsa}"
    assert jsa.is_file() and not part.exists()
    (probe,) = probes
    assert session.COLLECTOR in probe and f"-XX:SharedArchiveFile={part}" in probe


@pytest.mark.parametrize("where", [
    "SPARK_GRAFT_EXTRA_CONF", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
    "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS",
])
def test_callers_collector_is_kept(monkeypatch, where):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    mine = "-Xms1g"
    if where == "SPARK_GRAFT_EXTRA_CONF":
        mine = "-Xms1g -XX:+UseG1GC"
    elif where == "PYSPARK_SUBMIT_ARGS":
        monkeypatch.setenv(where, "--driver-java-options -XX:+UseG1GC pyspark-shell")
    else:
        monkeypatch.setenv(where, "-XX:+UseG1GC")
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"spark.driver.extraJavaOptions={mine}")
    options, _ = _launch(monkeypatch)
    opts = options[session.JAVA_OPTS]
    assert opts.startswith(f"{mine} -XX:ArchiveClassesAtExit=")
    assert f"{_key('1g', mine)}." in opts and session.COLLECTOR not in opts


def test_spark_defaults_file_leaves_java_options_alone(tmp_path, monkeypatch):
    """A builder value replaces spark-defaults.conf's, so with that file in
    the conf directory no collector is appended; a collector the caller
    names in the driver's default options is kept too."""
    conf = tmp_path / "conf"
    conf.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    (conf / "spark-defaults.conf").write_text("spark.driver.extraJavaOptions -Xss4m\n")
    options, _ = _launch(monkeypatch)
    assert session.JAVA_OPTS not in options
    options, _ = _launch(monkeypatch, {session.JAVA_OPTS: "-Xss8m"})
    assert options[session.JAVA_OPTS] == "-Xss8m"
    (conf / "spark-defaults.conf").unlink()
    options, _ = _launch(monkeypatch, {session.DEFAULT_JAVA_OPTS: "-XX:+UseZGC",
                                       session.JAVA_OPTS: "-Xss8m"})
    opts = options[session.JAVA_OPTS]
    assert opts.startswith("-Xss8m -XX:ArchiveClassesAtExit=") and session.COLLECTOR not in opts


def test_running_jvm_gets_no_collector(monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    options, _ = _launch(monkeypatch)
    assert session.JAVA_OPTS not in options


def test_real_conf_dir_is_left_untouched(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.driver.extraJavaOptions=-Xms1g")
    options, conf_dir = _launch(monkeypatch)
    assert options[session.JAVA_OPTS] == f"-Xms1g {session.COLLECTOR}"
    assert conf_dir == str(conf) and os.environ["SPARK_CONF_DIR"] == str(conf)


_CHILD = """
import json
from oni_ml_spark.session import get_spark
spark = get_spark("child")
rows = spark.range(50).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k").collect()
beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
print(json.dumps({"rows": [list(r) for r in rows], "gcs": sorted(b.getName() for b in beans)}))
"""
_ROWS = [[k, 8 if k == 0 else 7] for k in range(7)]
_PARALLEL = ["PS MarkSweep", "PS Scavenge"]


def _child_env(tmp_path, **env):
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "xdg"), "PYTHONPATH": str(ROOT),
           "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_GRAFT_WAREHOUSE": str(tmp_path / "warehouse"), **env}
    for k in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_CONF_DIR"):
        env.pop(k, None)
    return env


def _child(env):
    """Run get_spark in a fresh process; returns what it printed and its
    session line."""
    r = subprocess.run([sys.executable, "-c", _CHILD], env=env, capture_output=True,
                       text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stderr.splitlines() if ln.startswith("oni_ml_spark.session:")]
    return json.loads(r.stdout.strip().splitlines()[-1]), line


@pytest.mark.parametrize("chosen", [None, "SPARK_GRAFT_EXTRA_CONF", "JAVA_TOOL_OPTIONS"])
def test_launched_jvm_runs_the_chosen_collector(tmp_path, chosen):
    """The parallel collector by default; a caller's own G1 is kept and the
    JVM starts. The cache is a file, so no archive is written."""
    (tmp_path / "xdg").write_text("")
    env = _child_env(tmp_path)
    if chosen == "SPARK_GRAFT_EXTRA_CONF":
        env[chosen] = "spark.driver.extraJavaOptions=-XX:+UseG1GC"
    elif chosen == "JAVA_TOOL_OPTIONS":
        env[chosen] = "-XX:+UseG1GC"
    out, line = _child(env)
    assert line == [f"oni_ml_spark.session: normal start: the cache "
                    f"{tmp_path / 'xdg' / 'oni_ml_spark' / 'cds'} is not writable"]
    assert out["rows"] == _ROWS
    assert out["gcs"] == (_PARALLEL if chosen is None
                          else ["G1 Old Generation", "G1 Young Generation"])


def test_first_process_writes_the_archive_the_second_maps(tmp_path):
    env = _child_env(tmp_path, SPARK_GRAFT_EXTRA_CONF="spark.driver.extraJavaOptions="
                     f"-Xlog:class+load=info:file={tmp_path}/load.%p.log")
    first, first_line = _child(env)
    cache = tmp_path / "xdg" / "oni_ml_spark" / "cds"
    (sidecar,) = cache.glob("*.part.json")
    assert first_line == [f"oni_ml_spark.session: writing {cache / sidecar.stem}"]
    first_jvm = json.loads(sidecar.read_text())["pid"]
    deadline = time.monotonic() + 240
    while session._pid_alive(first_jvm):  # the JVM dumps after its Python exits
        assert time.monotonic() < deadline, "the first JVM did not exit"
        time.sleep(0.5)

    second, second_line = _child(env)
    (jsa,) = cache.glob("*.jsa")
    assert second_line == [f"oni_ml_spark.session: mapped {jsa}"]
    assert not list(cache.glob("*.part*"))
    assert second["rows"] == first["rows"] == _ROWS
    # both JVMs, the dumping and the mapping one, ran the parallel collector
    assert second["gcs"] == first["gcs"] == _PARALLEL
    # the probe JVM logs too; the second driver is the other one that
    # loaded SparkContext
    (log,) = [p for p in tmp_path.glob("load.*.log") if p.name != f"load.{first_jvm}.log"
              and " org.apache.spark.SparkContext " in p.read_text()]
    shared = [ln for ln in log.read_text().splitlines()
              if " org.apache.spark." in ln and "shared objects file (top)" in ln]
    assert len(shared) > 100
