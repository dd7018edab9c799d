"""Physical-plan assertions: the scale-critical properties (broadcast
candidate joins, column pruning to the scan) must hold — a correct but
shuffle-heavy plan is a regression even when results match."""

import pandas as pd  # noqa: F401 — pandas_udf pd.Series type hints
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_pip_join_broadcasts_and_prunes(spark, sf_dir):
    from pygeoops_spark.corpus.pages import order_points, synth_zones
    from pygeoops_spark.join.pip import pip_join_rects

    j = pip_join_rects(order_points(spark, sf_dir), synth_zones(spark), level=5)
    plan = _plan(j)
    # the point side joins against a broadcast zone-cell table
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # column pruning: the parquet scan reads only the key column
    assert "o_orderkey" in plan
    assert "o_comment" not in plan


def test_knn_join_broadcasts(spark, sf_dir):
    from pygeoops_spark.corpus.pages import customer_points, synth_zones
    from pygeoops_spark.join.knn import knn_join

    centers = synth_zones(spark).select(
        "zone_id",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("x"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("y"),
    )
    k = knn_join(customer_points(spark, sf_dir), centers, "c_custkey", "zone_id", 3)
    plan = _plan(k)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_dedup_shuffles_hash_not_text(spark, sf_dir):
    from pygeoops_spark.text.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = exact_dedup(docs)
    plan = _plan(d)
    # the pre-shuffle partial aggregation keys include the xxhash64
    assert "xxhash64" in plan


def test_tile_assignment_no_shuffle(spark, sf_dir):
    from pygeoops_spark.corpus.pages import order_points
    from pygeoops_spark.operators.grid import assign_to_grid

    g = assign_to_grid(
        order_points(spark, sf_dir), "x", "y", (0.0, 0.0, 1000.0, 1000.0), 8, 8
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection over the scan


def test_quality_with_repetition_signals_no_shuffle(spark, sf_dir):
    from pygeoops_spark.text.quality import quality_features, repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = repetition_signals("text")
    q = quality_features(docs).select(
        "doc_id", "quality_score", *[c.alias(k) for k, c in rep.items()]
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # rides the scan, incl. top-word coverage


def test_jaccard_candidates_no_cartesian(spark, sf_dir):
    """The prefix-filtered candidate join must be a hash/sort-merge
    equi-join on the shingle hash — never a cartesian/nested-loop —
    and the shuffled keys are 8-byte hashes, not shingle strings."""
    from pygeoops_spark.text.dedup import _jaccard_candidates, shingle_hash_arrays

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arr = shingle_hash_arrays(docs, "doc_id", "text", 3)
    plan = _plan(_jaccard_candidates(arr, "doc_id", 0.2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan


def test_dedup_embedding_single_scan_no_join(spark, sf_dir):
    """cosine_dup_pairs streams the target table through ONE
    mapInPandas matmul — there must be no join/cartesian in the plan
    (the query set is a closed-over broadcast-by-construction matrix)."""
    from pygeoops_spark.ann.cosine import cosine_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(cosine_dup_pairs(emb, threshold=0.4))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_connected_components_star_plan_is_aggregate_shaped(spark):
    """One alternating-star round = groupBy aggregations over the edge
    set; no cartesian products, no nested-loop joins."""
    import pandas as pd

    from pygeoops_spark.text.pipeline import _large_star, _small_star

    edges = spark.createDataFrame(
        pd.DataFrame({"u": [1, 2, 3], "v": [2, 3, 4]})
    )
    plan = _plan(_small_star(_large_star(edges)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_tiled_difference_kernel_stage_stays_parallel(spark):
    """Regression pin for the AQE single-task pathology: the tiled
    difference shuffles only KBs of WKB but each row costs real CPU in
    the overlay kernel — size-based coalescing once collapsed the
    kernel/union stages to ONE task (10x serialization). This drives
    the REAL operator (difference_all_tiled_distributed pins explicit
    partition counts itself) and asserts its final stage executes
    across many partitions."""
    from pyspark.sql.types import BinaryType

    from pygeoops_spark.geom import polygon as mkp, wkb_dumps
    from pygeoops_spark.operators.difference import (
        difference_all_tiled_distributed,
    )

    subs = [wkb_dumps(mkp([(5.0, 5.0), (9.0, 5.0), (9.0, 9.0), (5.0, 9.0)]))]

    @F.pandas_udf(BinaryType())
    def poly(ids: pd.Series) -> pd.Series:
        from pygeoops_spark.geom import polygon as p, wkb_dumps as wd

        out = []
        for i in ids:
            x0 = float(int(i) % 10)
            out.append(wd(p([(x0, 0), (x0 + 8, 0), (x0 + 8, 8), (x0, 8)])))
        return pd.Series(out)

    df = spark.range(40).select(F.col("id").alias("fid"), poly("id").alias("wkb"))
    out = difference_all_tiled_distributed(df, "fid", "wkb", subs, subdivide_coords=4)
    pids = out.select(F.spark_partition_id().alias("pid")).distinct().count()
    assert pids >= 8, f"union stage ran in only {pids} partitions"


def test_geo_knn_broadcasts_no_cartesian(spark):
    """Geographic kNN candidate join: broadcast target cells, no
    cartesian product, ring generation pure-SQL (no PythonUDF in the
    sphere-mode plan)."""
    from pygeoops_spark.join.geo_knn import geodesic_knn_join

    probes = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.col("id") * 3.6 - 180).alias("lon"),
        (F.col("id") * 1.6 - 80).alias("lat"),
    )
    targets = spark.range(20).select(
        F.col("id").alias("tid"),
        (F.col("id") * 18.0 - 180).alias("lon"),
        (F.col("id") * 8.0 - 80).alias("lat"),
    )
    out = geodesic_knn_join(probes, targets, "pid", "tid", k=2, level=3, radius=1)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # sphere mode is pure SQL


def test_geo_knn_shuffle_path_no_cartesian(spark):
    """broadcast_targets=False (the 10^12-target regime): the candidate
    join degrades to a shuffled equi-join on cell ids — still no
    cartesian product, no Python in the sphere-mode plan."""
    from pygeoops_spark.join.geo_knn import geodesic_knn_join

    probes = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.col("id") * 3.6 - 180).alias("lon"),
        (F.col("id") * 1.6 - 80).alias("lat"),
    )
    targets = spark.range(50).select(
        F.col("id").alias("tid"),
        (F.col("id") * 7.2 - 180).alias("lon"),
        (F.col("id") * 3.2 - 80).alias("lat"),
    )
    out = geodesic_knn_join(
        probes, targets, "pid", "tid", k=2, level=3, radius=1,
        broadcast_targets=False,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the equi-join key is the cell id (shuffle or broadcast, AQE may
    # still choose broadcast for tiny test inputs — assert it is an
    # equi-join either way)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_geo_pip_join_broadcasts_no_cartesian(spark):
    """Geographic PIP join: zone cells broadcast (point side never
    shuffled), candidate join is a hash join on cell id — no cartesian
    product anywhere in the plan."""
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps
    from pygeoops_spark.join.pip import geo_pip_join

    zones = spark.createDataFrame(
        [
            (1, 10.0, -10.0, 30.0, 10.0,
             bytearray(wkb_dumps(mk_poly([(10, -10), (30, -10), (30, 10), (10, 10)])))),
            (2, 170.0, -5.0, 190.0, 5.0,
             bytearray(wkb_dumps(mk_poly([(170, -5), (190, -5), (190, 5), (170, 5)])))),
        ],
        "zone_id long, lonmin double, latmin double, lonmax double, latmax double, zone_wkb binary",
    )
    pts = spark.range(500).select(
        F.col("id").alias("pid"),
        (F.col("id") * 0.72 - 180).alias("lon"),
        (F.col("id") * 0.32 - 80).alias("lat"),
    )
    out = geo_pip_join(pts, zones, level=3)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pip_join_polygons_prepared_plan_is_narrow(spark, sf_dir):
    """Prepared-broadcast polygon PIP: the zone WKB column must NOT
    appear anywhere in the distributed plan (it travels as a broadcast
    variable keyed by zone_id), the candidate join stays a broadcast
    hash join, and the zone-purity sort is partition-local (no extra
    Exchange beyond the broadcast one)."""
    from pygeoops_spark.corpus.pages import order_points, synth_poly_zones
    from pygeoops_spark.join.pip import pip_join_polygons

    zones = synth_poly_zones(spark, n_vertices=32)
    j = pip_join_polygons(order_points(spark, sf_dir), zones, level=5)
    plan = _plan(j)
    physical = plan.split("== Physical Plan ==")[-1]
    # the WKB bytes never enter the executed plan (they ride a
    # broadcast VARIABLE, not a column); earlier logical phases still
    # name the column before the drop-projection prunes it
    assert "zone_wkb" not in physical
    assert "BroadcastHashJoin" in physical or "BroadcastExchange" in physical
    assert "CartesianProduct" not in physical
    # exactly the broadcast exchange — the local sort adds none
    n_exchanges = sum(
        1
        for line in physical.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )
    assert n_exchanges == 0, physical


def test_connected_components_self_pairs_run_union_find_once(spark):
    """On the single-task path the self-pairs go into the union-find
    with the edges, so the executed plan runs it (one MapInPandas) once,
    not twice, and needs no anti-join."""
    from pygeoops_spark.text.pipeline import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 4), (6, 6), (6, 7)], "id_a long, id_b long"
    )
    cc = connected_components(pairs)
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 6: 6, 7: 6}
    plan = cc._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("MapInPandas") == 1, plan
    assert "Join" not in final, plan
