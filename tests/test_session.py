"""Session-factory coverage: the heap parser and the local JVM
profile as pure functions, the profile as the test session's driver
JVM actually received it, and the class-data-sharing archive through
real JVM launches in fresh processes (missing, damaged, foreign-key
and concurrent archives, an unwritable directory, a conf directory
CDS must not hide)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from bigdata_commerce_spark.session import (
    _DEFAULT_HEAP_BYTES,
    _GC_SELECTOR,
    _Cds,
    _cds_key,
    _heap_bytes,
    _session_conf,
)

_OPTS = "spark.driver.extraJavaOptions"
_PROFILE = "-XX:CICompilerCount=2 -XX:+UseSerialGC"
REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def plain_java_env(monkeypatch):
    monkeypatch.delenv("JAVA_TOOL_OPTIONS", raising=False)
    monkeypatch.delenv("JDK_JAVA_OPTIONS", raising=False)


@pytest.mark.parametrize(
    ("value", "want"),
    [
        ("8g", 8 * 1024**3),
        ("8G", 8 * 1024**3),
        ("8gb", 8 * 1024**3),  # round-6 advice: crashed int("8gb")
        ("512mb", 512 * 1024**2),
        ("512m", 512 * 1024**2),
        ("64k", 64 * 1024),
        ("1t", 1024**4),
        ("123456789", 123456789),  # bare bytes
        (" 2g ", 2 * 1024**3),  # whitespace tolerated
    ],
)
def test_heap_bytes_parses_every_spark_accepted_form(value, want):
    assert _heap_bytes(value) == want


@pytest.mark.parametrize("value", ["", "lots", "g8", "8q", "-1g", "8.5g"])
def test_heap_bytes_falls_back_on_unparseable(value):
    # round-6 advice: "" hit heap[-1] IndexError; fall back to the
    # 8g default instead of raising.
    assert _heap_bytes(value) == _DEFAULT_HEAP_BYTES


def test_driver_jvm_runs_the_local_profile(spark):
    """The session get_spark built for this suite started its driver
    JVM with the compiler-count flag, and with the serial collector
    unless the environment already picked a collector."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args
    env_opts = " ".join(
        os.environ.get(k, "") for k in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
    )
    if not _GC_SELECTOR.search(env_opts):
        assert "-XX:+UseSerialGC" in args


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_master_gets_the_profile(plain_java_env, master):
    assert _session_conf(master) == {_OPTS: _PROFILE}
    cds = _Cds(Path("/a/k-9.jsa")).flags()
    assert _session_conf(master, cds=cds) == {_OPTS: " ".join([_PROFILE, *cds])}


def test_extra_conf_wins_over_a_builder_default(monkeypatch):
    """``extra_conf`` is applied after the builder's defaults, so a
    deployment overrides any of them, here the AQE coalesce floor. The
    builder is a recorder and a JVM counts as already running: no
    session starts."""
    from bigdata_commerce_spark import session

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

    class _Builder:
        conf: dict[str, str] = {}

        def config(self, k, v):
            self.conf[k] = v
            return self

        def __getattr__(self, name):
            return lambda *a, **kw: self

        def getOrCreate(self):
            context = type("C", (), {"setLogLevel": lambda level: None})
            return type("S", (), {"sparkContext": context})()

    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", type("SS", (), {"builder": builder}))
    monkeypatch.setattr(session, "SparkContext", type("SC", (), {"_gateway": object()}))
    session.get_spark(master="local[1]")
    assert builder.conf[key] == "64k"
    session.get_spark(master="local[1]", extra_conf={key: "1m"})
    assert builder.conf[key] == "1m"


def test_archive_flags_name_the_archive_or_the_dump():
    use = _Cds(Path("/a/k-9.jsa")).flags()
    dump = _Cds(Path("/a/k.7.tmp"), lock=3).flags()
    assert use[0] == "-XX:SharedArchiveFile=/a/k-9.jsa"
    assert dump[0] == "-XX:ArchiveClassesAtExit=/a/k.7.tmp"
    assert use[1:] == dump[1:] and "-Xlog:cds*=off" in use


def test_caller_java_options_kept_verbatim(plain_java_env):
    conf = {_OPTS: "-Xss4m  -Dfoo=bar", "spark.executor.cores": "2"}
    cds = _Cds(Path("/a/k-9.jsa")).flags()
    assert _session_conf("local[4]", conf) == conf
    assert _session_conf("local[4]", conf, cds) == conf
    assert _session_conf("local[4]", {_OPTS: ""}) == {_OPTS: ""}


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://api:6443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_gets_no_profile(plain_java_env, master):
    assert _session_conf(master) == {}
    assert _session_conf(master, {"spark.executor.cores": "2"}) == {
        "spark.executor.cores": "2"
    }


@pytest.mark.parametrize("var", ["JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS"])
@pytest.mark.parametrize("gc", ["-XX:+UseParallelGC", "-XX:+UseG1GC", "-XX:+UseZGC"])
def test_env_collector_drops_only_the_gc_flag(plain_java_env, monkeypatch, var, gc):
    # two collectors make the JVM refuse to start
    monkeypatch.setenv(var, f"-Xss2m {gc} -XX:-UsePerfData")
    assert _session_conf("local[4]") == {_OPTS: "-XX:CICompilerCount=2"}
    cds = _Cds(Path("/a/k-9.jsa")).flags()
    assert _session_conf("local[4]", cds=cds) == {
        _OPTS: " ".join(["-XX:CICompilerCount=2", *cds])
    }


def test_env_without_collector_keeps_the_full_profile(plain_java_env, monkeypatch):
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Djava.io.tmpdir=/tmp/x -XX:-UsePerfData")
    monkeypatch.setenv("JDK_JAVA_OPTIONS", "-XX:+UseGCOverheadLimit")
    assert _session_conf("local[4]") == {_OPTS: _PROFILE}
    cds = _Cds(Path("/a/k-9.jsa")).flags()
    assert _session_conf("local[4]", cds=cds) == {_OPTS: " ".join([_PROFILE, *cds])}


def test_archive_key_follows_the_jars_and_the_jdk(tmp_path, monkeypatch):
    """A Spark or JDK upgrade changes the key, so it dumps a fresh
    archive; computing the key starts no process."""

    def no_process(*args, **kwargs):
        raise AssertionError("the archive key started a process")

    monkeypatch.setattr(subprocess, "Popen", no_process)
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    jar = home / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.write_bytes(b"x")
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    key = _cds_key(home)
    assert key and key == _cds_key(home)
    jar.rename(jar.with_name("spark-core_2.13-4.1.3.jar"))
    assert _cds_key(home) != key
    key = _cds_key(home)
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert _cds_key(home) != key
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "elsewhere"))
    assert _cds_key(home) != key


# --- the class-data-sharing archive, through real launches ---------------

# One fresh process: get_spark with the archive directory given, one
# small job, and a JSON line on stdout that must be the only line (the
# dump's CDS log stays off stdout).
_PROBE = """
import json, os, sys
from pathlib import Path
sys.path.insert(0, {repo!r})
from bigdata_commerce_spark import session
session._CDS_DIR = Path(sys.argv[1])
before = dict(os.environ)
spark = session.get_spark(master="local[1]", shuffle_partitions=1)
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({{
    "sum": spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
        .selectExpr("sum(k * count)").first()[0],
    "cds": [a for a in args if "Archive" in a],
    "probe": spark.conf.get("spark.bigdata.probe", None),
    "env_kept": dict(os.environ) == before,
    "jvm_pid": jvm.java.lang.ProcessHandle.current().pid(),
    "pid": os.getpid(),
}}))
"""
# sum over id < 1000 of id % 7
_SUM = sum(i % 7 for i in range(1000))


def _start(cds_dir: Path, cwd: Path, **env: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _PROBE.format(repo=str(REPO)), str(cds_dir)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        cwd=cwd,
        env={
            **{k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"},
            "SPARK_DRIVER_MEMORY": "1g",
            **env,
        },
    )


def _finish(proc: subprocess.Popen) -> dict:
    """The probe's record, once its process (and so its JVM, dump
    included) has exited; the session's result must be right, and no
    py4j call may have met the ended JVM on the way out."""
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    assert "Exception while sending command" not in err, err[-3000:]
    lines = out.splitlines()
    assert len(lines) == 1, out[:2000]
    rec = json.loads(lines[0])
    assert rec["sum"] == _SUM and rec["env_kept"]
    assert not Path(f"/proc/{rec['jvm_pid']}").exists(), "the JVM outlived its process"
    return rec


def _launch(cds_dir: Path, cwd: Path, **env: str) -> dict:
    return _finish(_start(cds_dir, cwd, **env))


def _archive(cds_dir: Path) -> Path:
    """The directory's one archive, whole (its size is the one its name
    records); no temp file is left beside it."""
    (archive,) = [p for p in cds_dir.iterdir() if p.is_file() and p.suffix != ".lock"]
    assert archive.name.endswith(f"-{archive.stat().st_size}.jsa"), archive.name
    return archive


def _uses_archive(rec: dict, cds_dir: Path) -> bool:
    return rec["cds"] == [f"-XX:SharedArchiveFile={_archive(cds_dir)}"]


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """An archive directory that held only another key's archive; one
    launch dumped its own key's archive there."""
    cds_dir = tmp_path_factory.mktemp("cds")
    (cds_dir / "0123456789abcdef-21.jsa").write_bytes(b"another key's archive")
    rec = _launch(cds_dir, cds_dir.parent)
    return cds_dir, rec


def test_missing_archive_is_dumped_and_replaces_other_keys(dumped):
    cds_dir, rec = dumped
    archive = _archive(cds_dir)
    key = archive.name.split("-")[0]
    assert key != "0123456789abcdef" and archive.stat().st_size > 1 << 20
    assert rec["cds"] == [f"-XX:ArchiveClassesAtExit={cds_dir / key}.{rec['pid']}.tmp"]


def test_next_session_starts_from_the_archive(dumped, tmp_path):
    cds_dir, _ = dumped
    assert _uses_archive(_launch(cds_dir, tmp_path), cds_dir)


def test_truncated_archive_is_dumped_again(dumped, tmp_path):
    """Mapping a truncated archive crashes the JVM at start; its size
    no longer matches its name, so it is deleted and dumped anew."""
    cds_dir, _ = dumped
    good = _archive(cds_dir)
    mine = tmp_path / "cds"
    mine.mkdir()
    (mine / good.name).write_bytes(good.read_bytes()[: good.stat().st_size // 3])
    assert _launch(mine, tmp_path)["cds"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert _archive(mine).stat().st_size > good.stat().st_size // 3
    assert _uses_archive(_launch(mine, tmp_path), mine)


def test_garbage_archive_is_ignored_by_the_jvm(dumped, tmp_path):
    cds_dir, _ = dumped
    key = _archive(cds_dir).name.split("-")[0]
    mine = tmp_path / "cds"
    mine.mkdir()
    (mine / f"{key}-4096.jsa").write_bytes(os.urandom(4096))
    assert _uses_archive(_launch(mine, tmp_path), mine)


def test_unwritable_archive_directory_means_no_cds(tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("not a directory")
    assert _launch(blocker / "cds", tmp_path)["cds"] == []


def test_concurrent_first_launches_leave_one_whole_archive(tmp_path):
    """Two processes start with no archive at once: the one holding the
    key's lock dumps, to a temp name of its own renamed only after its
    JVM exited cleanly, and the other starts without CDS. The final
    name never holds a partial file and no temp file is left."""
    cds_dir = tmp_path / "cds"
    procs = [_start(cds_dir, tmp_path) for _ in range(2)]
    flags = sorted(_finish(p)["cds"] for p in procs)
    assert flags[0] == [] and flags[1][0].startswith("-XX:ArchiveClassesAtExit=")
    assert _uses_archive(_launch(cds_dir, tmp_path), cds_dir)


def _spark_home_with_conf(tmp_path: Path) -> Path:
    """A copy of $SPARK_HOME (its entries linked) whose conf directory
    holds a real spark-defaults.conf."""
    from pyspark.find_spark_home import _find_spark_home

    real = Path(os.environ.get("SPARK_HOME") or _find_spark_home())
    home = tmp_path / "spark_home"
    home.mkdir()
    for entry in real.iterdir():
        if entry.name != "conf":
            (home / entry.name).symlink_to(entry)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf").write_text("spark.bigdata.probe  honoured\n")
    return home


def test_real_conf_file_turns_cds_off_and_is_honoured(tmp_path):
    home = _spark_home_with_conf(tmp_path)
    rec = _launch(tmp_path / "cds", tmp_path, SPARK_HOME=str(home))
    assert rec["cds"] == [] and rec["probe"] == "honoured"


def test_caller_spark_conf_dir_is_left_alone(tmp_path):
    home = _spark_home_with_conf(tmp_path)
    rec = _launch(tmp_path / "cds", tmp_path, SPARK_CONF_DIR=str(home / "conf"))
    assert rec["cds"] == [] and rec["probe"] == "honoured"
