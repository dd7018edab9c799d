"""Time the simplify_topo driver query rep by rep in one session, split
into construction and count, with the Spark jobs of each and the
session's DataFrame cache entries after the rep.  With ``clear`` the
caches are cleared before each rep, so no rep can reuse data cached by
an earlier one.

Run:  PYTHONPATH=<tree> python plans/r14/topo_reps.py <sf_dir> [clear]
"""

import statistics
import sys
import time

import __spark_entry__ as entry
from pygeoops_spark.session import get_spark

sf_dir = sys.argv[1]
clear = sys.argv[2:] == ["clear"]
spark = get_spark("topo-reps", master="local[4]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
cache_manager = spark._jsparkSession.sharedState().cacheManager()


def timed(group, action):
    sc.setJobGroup(group, group)
    try:
        t0 = time.time()
        out = action()
        return out, time.time() - t0, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


totals = []
for rep in range(8):
    if clear:
        spark.catalog.clearCache()
    df, build_s, build_jobs = timed(f"build{rep}", lambda: entry._q_simplify_topo(spark, sf_dir))
    _, count_s, count_jobs = timed(f"count{rep}", df.count)
    totals.append(build_s + count_s)
    print(
        f"rep {rep} build {build_s:.3f}s ({build_jobs} jobs) count {count_s:.3f}s "
        f"({count_jobs} jobs) total {build_s + count_s:.3f} "
        f"cache_entries {cache_manager.numCachedEntries()}",
        flush=True,
    )
print("median of reps 1-7:", round(statistics.median(totals[1:]), 3))
spark.stop()
