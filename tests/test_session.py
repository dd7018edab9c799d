"""The engine's session conf (``session.session_conf``) and what a local
session's driver JVM does with it.

The conf tests need no JVM.  The live tests run on the suite's local[4]
session, whose exchange pools are capped at max(4, 8) = 8 threads.
"""

import os

import pytest

from pygeoops_spark.session import local_slots, session_conf

POOLS = (
    "spark.sql.broadcastExchange.maxThreadThreshold",
    "spark.sql.shuffleExchange.maxThreadThreshold",
    "spark.sql.resultQueryStage.maxThreadThreshold",
)
GC_KEY = "spark.driver.defaultJavaOptions"


@pytest.mark.parametrize("master, cap", [("local", "8"), ("local[4]", "8"), ("local[32]", "32")])
def test_local_master_gets_both_defaults(master, cap):
    conf = session_conf(master, 8)
    assert [conf[k] for k in POOLS] == [cap] * 3
    assert conf[GC_KEY] == "-XX:+UseParallelGC"
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
def test_named_collector_suppresses_ours(key, flag):
    opts = f"-Xms2g {flag} -XX:+AlwaysPreTouch"
    conf = session_conf("local[4]", 8, {key: opts})
    assert conf[key] == opts
    assert "UseParallelGC" not in conf.get(GC_KEY, "")
    assert [conf[k] for k in POOLS] == ["8"] * 3


def test_java_options_without_a_collector_keep_ours():
    opts = {"spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch"}
    conf = session_conf("local[4]", 8, opts)
    assert conf[GC_KEY] == "-XX:+UseParallelGC"


@pytest.mark.parametrize("key", POOLS)
def test_extra_conf_overrides_each_threshold(key):
    conf = session_conf("local[4]", 8, {key: "64"})
    assert conf[key] == "64"
    assert [conf[k] for k in POOLS if k != key] == ["8"] * 2


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_keeps_spark_defaults(master):
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
