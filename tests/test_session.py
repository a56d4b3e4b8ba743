"""Session-factory coverage: the heap parser and the local JVM
profile as pure functions, plus the profile as the test session's
driver JVM actually received it."""

from __future__ import annotations

import os

import pytest

from bigdata_commerce_spark.session import (
    _DEFAULT_HEAP_BYTES,
    _GC_SELECTOR,
    _heap_bytes,
    _session_conf,
)

_OPTS = "spark.driver.extraJavaOptions"
_PROFILE = "-XX:CICompilerCount=2 -XX:+UseSerialGC"


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


def test_caller_java_options_kept_verbatim(plain_java_env):
    conf = {_OPTS: "-Xss4m  -Dfoo=bar", "spark.executor.cores": "2"}
    assert _session_conf("local[4]", conf) == conf
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


def test_env_without_collector_keeps_the_full_profile(plain_java_env, monkeypatch):
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Djava.io.tmpdir=/tmp/x -XX:-UsePerfData")
    monkeypatch.setenv("JDK_JAVA_OPTIONS", "-XX:+UseGCOverheadLimit")
    assert _session_conf("local[4]") == {_OPTS: _PROFILE}
