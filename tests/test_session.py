"""The engine's session conf (``session.session_conf``) and what a local
session's driver JVM does with it.

The conf tests need no JVM; they set the JDK gate of the native-heap
trim themselves (``trim_gate``).  The live tests run on the suite's
local[4] session, whose exchange pools are capped at max(4, 8) = 8
threads.
"""

import os

import pytest

from pygeoops_spark import session
from pygeoops_spark.session import local_slots, native_trim_supported, session_conf

POOLS = (
    "spark.sql.broadcastExchange.maxThreadThreshold",
    "spark.sql.shuffleExchange.maxThreadThreshold",
    "spark.sql.resultQueryStage.maxThreadThreshold",
)
GC_KEY = "spark.driver.defaultJavaOptions"
GC = "-XX:+UseParallelGC"
TRIM = "-XX:TrimNativeHeapInterval=1000"


@pytest.fixture
def trim_gate(monkeypatch):
    """Set whether the launched JDK takes the trim flag: ``trim_gate(on)``."""

    def set_gate(on: bool) -> None:
        monkeypatch.setattr(session, "_jdk_trims", lambda home: on)

    set_gate(True)
    return set_gate


def _flags(conf) -> list[str]:
    return conf.get(GC_KEY, "").split()


@pytest.mark.parametrize("master, cap", [("local", "8"), ("local[4]", "8"), ("local[32]", "32")])
def test_local_master_gets_both_defaults(master, cap, trim_gate):
    conf = session_conf(master, 8)
    assert [conf[k] for k in POOLS] == [cap] * 3
    assert _flags(conf) == [GC, TRIM]
    assert conf["spark.sql.shuffle.partitions"] == "8"


def test_local_master_forms_are_parsed():
    cpus = len(os.sched_getaffinity(0))
    assert local_slots("local") == 1
    assert local_slots("local[12]") == 12
    assert local_slots("local[*]") == cpus
    assert local_slots("local[12,3]") == 12
    assert local_slots("local[*, 3]") == cpus
    assert session_conf("local[12,3]", 8)[POOLS[0]] == "12"
    assert session_conf("local[*]", 8)[POOLS[1]] == str(max(cpus, 8))


@pytest.mark.parametrize(
    "key", ["spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions"]
)
@pytest.mark.parametrize("flag", ["-XX:+UseG1GC", "-XX:+UseSerialGC", "-XX:+UseZGC"])
def test_named_collector_suppresses_ours(key, flag, trim_gate):
    opts = f"-Xms2g {flag} -XX:+AlwaysPreTouch"
    conf = session_conf("local[4]", 8, {key: opts})
    assert conf[key] == opts
    assert "UseParallelGC" not in conf.get(GC_KEY, "")
    assert [conf[k] for k in POOLS] == ["8"] * 3


def test_java_options_without_a_collector_keep_ours(trim_gate):
    opts = {"spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch"}
    conf = session_conf("local[4]", 8, opts)
    assert _flags(conf) == [GC, TRIM]


def test_named_collector_keeps_the_trim(trim_gate):
    opts = {"spark.driver.extraJavaOptions": "-Xms2g -XX:+UseG1GC"}
    conf = session_conf("local[4]", 8, opts)
    assert _flags(conf) == [TRIM]
    assert conf["spark.driver.extraJavaOptions"] == "-Xms2g -XX:+UseG1GC"


@pytest.mark.parametrize("value", ["250", "0"])
def test_callers_own_trim_interval_is_kept(value, trim_gate):
    opts = f"-Xms2g -XX:TrimNativeHeapInterval={value}"
    conf = session_conf("local[4]", 8, {"spark.driver.extraJavaOptions": opts})
    assert _flags(conf) == [GC]
    assert conf["spark.driver.extraJavaOptions"] == opts
    # the caller's defaultJavaOptions replaces the engine's flags outright
    conf = session_conf("local[4]", 8, {GC_KEY: opts})
    assert conf[GC_KEY] == opts


def test_jdk_without_the_trim_gets_the_collector_only(trim_gate):
    trim_gate(False)
    assert _flags(session_conf("local[4]", 8)) == [GC]
    opts = {"spark.driver.extraJavaOptions": "-XX:+UseZGC"}
    assert GC_KEY not in session_conf("local[4]", 8, opts)


def _release(version, libc='LIBC="gnu"\n'):
    return f'IMPLEMENTOR="Debian"\nJAVA_VERSION="{version}"\n{libc}OS_ARCH="x86_64"\n'


@pytest.mark.parametrize(
    "release, on",
    [
        (_release("17.0.8"), False),
        (_release("17.0.8.1"), False),
        (_release("17.0.9"), True),
        (_release("17.0.20"), True),
        (_release("17"), False),
        (_release("18.0.2.1"), False),
        (_release("19.0.2"), False),
        (_release("20.0.2"), False),
        (_release("21"), False),
        (_release("21.0.0"), False),
        (_release("21.0.1"), True),
        (_release("22"), True),
        (_release("22-ea"), True),
        (_release("25.0.1"), True),
        (_release("1.8.0_392"), False),
        (_release("11.0.21"), False),
        (_release("17.0.20", 'LIBC="musl"\n'), False),
        (_release("21.0.5", ""), False),
        (_release("garbled"), False),
        ("", False),
        ('JAVA_VERSION=17.0.20\nLIBC=gnu\n', False),
        ("\x00\x01 not a release file", False),
    ],
)
def test_trim_gate_table(release, on):
    assert native_trim_supported(release) is on


def test_gate_reads_the_jdk_spark_launches(tmp_path, monkeypatch):
    """``$JAVA_HOME`` first, else the real path of ``java`` on PATH, as
    ``spark-class`` finds it; the release file decides."""
    jdk = tmp_path / "jdk-21.0.1"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("#!/bin/sh\n")
    (jdk / "bin" / "java").chmod(0o755)
    (jdk / "release").write_text(_release("21.0.1"))
    links = tmp_path / "path"
    links.mkdir()
    (links / "java").symlink_to(jdk / "bin" / "java")

    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", str(links))
    assert session.spark_java_home() == str(jdk)
    assert session._jdk_trims(str(jdk)) is True
    assert _flags(session_conf("local[4]", 8)) == [GC, TRIM]

    old = tmp_path / "jdk-17.0.8"
    old.mkdir()
    (old / "release").write_text(_release("17.0.8"))
    monkeypatch.setenv("JAVA_HOME", str(old))
    assert session.spark_java_home() == str(old)
    assert _flags(session_conf("local[4]", 8)) == [GC]

    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-such-jdk"))
    assert _flags(session_conf("local[4]", 8)) == [GC]
    monkeypatch.delenv("JAVA_HOME")
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    assert session.spark_java_home() is None
    assert _flags(session_conf("local[4]", 8)) == [GC]


@pytest.mark.parametrize("key", POOLS)
def test_extra_conf_overrides_each_threshold(key):
    conf = session_conf("local[4]", 8, {key: "64"})
    assert conf[key] == "64"
    assert [conf[k] for k in POOLS if k != key] == ["8"] * 2


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_keeps_spark_defaults(master, trim_gate):
    assert local_slots(master) is None
    conf = session_conf(master, 8)
    assert not set(POOLS) & set(conf)
    assert GC_KEY not in conf


def _cap(spark) -> int:
    return int(spark.conf.get(POOLS[0]))


def test_driver_runs_the_parallel_collector(spark):
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert {b.getName() for b in beans} == {"PS Scavenge", "PS MarkSweep"}


def test_driver_trims_its_native_heap_when_the_jdk_can(spark):
    """The suite's driver JVM runs with the trim interval whenever the
    gate says the JDK Spark launched takes the flag, and the gate read
    that JDK."""
    jvm = spark.sparkContext._jvm
    launched = jvm.java.lang.System.getProperty("java.home")
    assert os.path.realpath(session.spark_java_home()) == os.path.realpath(launched)
    if not session._jdk_trims(session.spark_java_home()):
        pytest.skip(f"the JDK at {launched} has no -XX:TrimNativeHeapInterval")
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    assert bean.getVMOption("TrimNativeHeapInterval").getValue() == "1000"


def test_broadcast_threads_stay_at_the_cap(spark):
    from pyspark.sql import functions as F

    cap = _cap(spark)
    assert cap == 8
    base = spark.range(50)
    for i in range(2 * cap + 4):
        small = spark.range(i, i + 10).withColumn("v", F.lit(i))
        assert base.join(F.broadcast(small), "id").count() == 10
    threads = spark.sparkContext._jvm.java.lang.Thread.getAllStackTraces().keySet()
    assert 0 < sum(t.getName().startswith("broadcast-exchange-") for t in threads) <= cap


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_nested_broadcasts_past_the_cap(spark, aqe):
    """cap + 1 broadcasts whose build side each holds its own broadcast
    join.  An outer broadcast blocks its pool thread until its inner one
    is built, so had the outer ones been queued first they would fill
    every thread and wait forever.  The plan finishes because the inner
    broadcasts start first (``SparkPlan.prepare`` walks children first;
    AQE builds stages bottom-up)."""
    from pyspark.sql import functions as F

    cap = _cap(spark)
    assert cap == 8
    n = cap + 1
    keys = ("spark.sql.adaptive.enabled", "spark.sql.broadcastTimeout")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.conf.set("spark.sql.broadcastTimeout", "120")
    try:
        df = spark.range(40).withColumnRenamed("id", "k")
        for i in range(n):
            inner = spark.range(i, 40).select(
                F.col("id").alias("k"), (F.col("id") * (i + 1)).alias(f"a{i}")
            )
            build = spark.range(40 - i).withColumnRenamed("id", "k").join(F.broadcast(inner), "k")
            df = df.join(F.broadcast(build.withColumn(f"b{i}", F.lit(i))), "k")
        rows = sorted(tuple(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan()
        plan = (plan.executedPlan() if aqe == "true" else plan).toString()  # AQE: the final plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert plan.count("BroadcastExchange") == 2 * n, plan
    want = [(k, *[v for i in range(n) for v in (k * (i + 1), i)]) for k in range(n - 1, 40 - n + 1)]
    assert rows == want
