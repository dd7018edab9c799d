"""Print the AQE final plan of simplify_topo's checkpointed frame on a
no-hit input: 32 separated squares, so no vertex lies on another
feature's edge and the noding split map is empty.

Run:  PYTHONPATH=<tree> python plans/r14/aqe_nohit.py
"""

from pygeoops_spark import session
from pygeoops_spark.geom import polygon, wkb_dumps
import pygeoops_spark.operators.simplify_topo as st

_checkpoint = session.checkpoint_and_release


def _print_final_plan(result, caches):
    out = _checkpoint(result, caches)
    print(result._jdf.queryExecution().executedPlan().toString())
    return out


st.checkpoint_and_release = _print_final_plan
spark = session.get_spark("aqe-nohit", master="local[4]", shuffle_partitions=4)
rows = []
for i in range(32):
    x0, y0 = float((i % 8) * 40), float((i // 8) * 40)
    rows.append((i, wkb_dumps(polygon([(x0 + 10, y0 + 10), (x0, y0 + 10), (x0, y0), (x0 + 10, y0)]))))
print("rows:", st.simplify_topo(spark.createDataFrame(rows, ["fid", "wkb"]), "fid", "wkb", 1, "rdp").count())
spark.stop()
