"""Many-zone prepared PIP: end-to-end time of pip_join_polygons(ship="prepared")
on synth_poly_zones with thousands of zones, where one 10k-row Arrow batch
can hold thousands of zones.

Points are uniform over the zones' lattice, so most zones get a few
candidates per batch. Prints the row count and two checksums (equal
across trees) and the times of ``reps`` collected aggregates after one
warm-up. Run once per tree, alternating the trees:

    PYTHONPATH=<tree> python plans/r12/many_zones.py <zones> <points> <vertices> <reps>
"""

import os
import statistics
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_DRIVER_MEM", "2g")

from pyspark.sql import functions as F  # noqa: E402

import pygeoops_spark  # noqa: E402
from pygeoops_spark.corpus.pages import synth_poly_zones  # noqa: E402
from pygeoops_spark.join.pip import pip_join_polygons  # noqa: E402
from pygeoops_spark.session import get_spark  # noqa: E402


def main(m: int, npts: int, nv: int, reps: int) -> None:
    spark = get_spark("many_zones")
    spark.sparkContext.setLogLevel("ERROR")
    zones = synth_poly_zones(spark, m, nv).cache()
    zones.count()
    rows = (m + 7) // 8  # synth_zones' lattice is 8 zones wide, 125 units a cell
    pts = spark.range(npts, numPartitions=2).select(
        "id", (F.rand(1) * 1000).alias("x"), (F.rand(2) * 125 * rows).alias("y")
    ).cache()
    pts.count()
    j = pip_join_polygons(pts, zones, ship="prepared", level=None)
    q = j.agg(F.count("*").alias("n"), F.sum("zone_id").alias("s"), F.sum("id").alias("i"))
    ts = []
    for r in range(reps + 1):
        t0 = time.perf_counter()
        row = q.first()
        if r:
            ts.append(time.perf_counter() - t0)
    print(
        f"tree={os.path.dirname(pygeoops_spark.__file__)} zones={m} points={npts} verts={nv} "
        f"rows={row['n']} zsum={row['s']} isum={row['i']} "
        f"times={' '.join(f'{t:.2f}' for t in ts)} median={statistics.median(ts):.2f}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main(*(int(a) for a in sys.argv[1:5]))
