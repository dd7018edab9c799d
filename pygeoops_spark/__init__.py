"""pygeoops_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-realizes the semantics of the reference library pygeoops (see
/root/reference, studied behaviorally only) as vectorized numpy kernels
wrapped in Arrow-batched pandas UDFs over Spark DataFrames, plus a
brand-new quadkey cell-indexed spatial-join layer (point-in-polygon,
kNN, bbox join, raster<->vector tile assignment) that the reference
does not have.

Design rules (enforced throughout):
  * DataFrame/SQL first: everything relational stays in Catalyst
    (whole-stage codegen, AQE, broadcast joins, predicate pushdown).
  * No per-row Python UDFs anywhere. Geometry kernels are numpy over
    Arrow batches (pandas_udf / applyInPandas) only where built-in SQL
    functions genuinely cannot express the semantics.
  * Geometry is carried as WKB bytes in BinaryType columns; the codec
    is our own (no shapely/GEOS available nor wanted on executors).
"""

__version__ = "0.1.0"

# Lazy top-level API (PEP 562): every reference-parity kernel and every
# Spark-level operator is importable as pygeoops_spark.<name>, without
# paying submodule import cost at package import (executors import this
# package inside every pandas-UDF worker — keep it instant).
_EXPORTS = {
    # reference-parity scalar kernels (geometry in / geometry out;
    # reference: pygeoops/__init__.py re-exports of _general/_grid/...)
    "centerline": "pygeoops_spark.geom.centerline",
    "average_width": "pygeoops_spark.geom.centerline",
    "compactness": "pygeoops_spark.geom.centerline",
    "simplify": "pygeoops_spark.geom.simplify_geom",
    "simplify_geometry": "pygeoops_spark.geom.simplify_geom",
    "simplify_coords": "pygeoops_spark.geom.simplify_geom",
    "simplify_linestring": "pygeoops_spark.geom.simplify_geom",
    "simplify_polygon": "pygeoops_spark.geom.simplify_geom",
    "simplify_coords_lang": "pygeoops_spark.geom.simplify",
    "simplify_coords_lang_idx": "pygeoops_spark.geom.simplify",
    "simplify_coords_idx": "pygeoops_spark.geom.simplify",
    "keep_geom_type2primitivetype_id": "pygeoops_spark.geom.difference",
    "buffer_by_m": "pygeoops_spark.geom.buffer_by_m",
    "view_angles": "pygeoops_spark.geom.view_angles",
    "difference_all": "pygeoops_spark.geom.difference",
    "difference_all_tiled": "pygeoops_spark.geom.difference",
    "extend_line_by_distance": "pygeoops_spark.geom.extend_line",
    "extend_line_to_geometry": "pygeoops_spark.geom.extend_line",
    "extend_segment_by_ratio": "pygeoops_spark.geom.extend_line",
    "collect": "pygeoops_spark.geom.general",
    "collection_extract": "pygeoops_spark.geom.general",
    "get_parts_recursive": "pygeoops_spark.geom.general",
    "remove_inner_rings": "pygeoops_spark.geom.general",
    "subdivide": "pygeoops_spark.geom.general",
    "make_valid": "pygeoops_spark.geom.validity",
    "explode": "pygeoops_spark.geom.general",
    "format_short": "pygeoops_spark.geom.types",
    "GeometryType": "pygeoops_spark.geom.types",
    "PrimitiveType": "pygeoops_spark.geom.types",
    "get_primitivetype_id": "pygeoops_spark.geom.kernels",
    "empty": "pygeoops_spark.geom.wkb",
    "wkb_dumps": "pygeoops_spark.geom.wkb",
    "wkb_loads": "pygeoops_spark.geom.wkb",
    "wkt_dumps": "pygeoops_spark.geom.wkb",
    "wkt_loads": "pygeoops_spark.geom.wkb",
    "polygon_union": "pygeoops_spark.geom.overlay",
    "dissolve_partition": "pygeoops_spark.geom.overlay",
    "ring_area_ellipsoidal": "pygeoops_spark.geom.geodesic",
    "polygon_area_ellipsoidal": "pygeoops_spark.geom.geodesic",
    "geodesic_inverse": "pygeoops_spark.geom.geodesic",
    "geodesic_direct": "pygeoops_spark.geom.geodesic",
    # Spark Column / DataFrame operators
    "centerline_col": "pygeoops_spark.operators.centerline",
    "buffer_by_m_col": "pygeoops_spark.operators.centerline",
    "simplify_col": "pygeoops_spark.operators.simplify",
    "simplify_df": "pygeoops_spark.operators.simplify",
    "simplify_topo": "pygeoops_spark.operators.simplify_topo",
    "geodesic_distance_col": "pygeoops_spark.operators.geodesic",
    "geodesic_azimuth_col": "pygeoops_spark.operators.geodesic",
    "geodesic_destination_cols": "pygeoops_spark.operators.geodesic",
    "view_angles_col": "pygeoops_spark.operators.view_angles",
    "view_angles_pairs": "pygeoops_spark.operators.view_angles",
    "difference_all_col": "pygeoops_spark.operators.difference",
    "difference_all_tiled_distributed": "pygeoops_spark.operators.difference",
    "subdivide_col": "pygeoops_spark.operators.difference",
    "collect_agg": "pygeoops_spark.operators.collection",
    "collection_extract_col": "pygeoops_spark.operators.collection",
    "remove_inner_rings_col": "pygeoops_spark.operators.collection",
    "make_valid_col": "pygeoops_spark.operators.collection",
    "extend_line_by_distance_col": "pygeoops_spark.operators.collection",
    "extend_line_to_geometry_col": "pygeoops_spark.operators.collection",
    "create_grid": "pygeoops_spark.operators.grid",
    "create_grid2": "pygeoops_spark.operators.grid",
    "create_grid3": "pygeoops_spark.operators.grid",
    "split_tiles": "pygeoops_spark.operators.grid",
    "assign_to_grid": "pygeoops_spark.operators.grid",
    # spatial-join layer
    "cell_id": "pygeoops_spark.join.cells",
    "cover_cells_bbox": "pygeoops_spark.join.cells",
    "pip_join_rects": "pygeoops_spark.join.pip",
    "pip_join_polygons": "pygeoops_spark.join.pip",
    "knn_join": "pygeoops_spark.join.knn",
    "geodesic_knn_join": "pygeoops_spark.join.geo_knn",
    "geo_cell_id": "pygeoops_spark.join.cells",
    "geo_cover_cells_bbox": "pygeoops_spark.join.cells",
    "geo_bbox_join": "pygeoops_spark.join.bbox",
    "geo_pip_join": "pygeoops_spark.join.pip",
    "bbox_join": "pygeoops_spark.join.bbox",
    # text / dedup / ann pipeline
    "exact_dedup": "pygeoops_spark.text.dedup",
    "jaccard_pairs": "pygeoops_spark.text.dedup",
    "minhash_lsh_pairs": "pygeoops_spark.text.dedup",
    "simhash_pairs": "pygeoops_spark.text.dedup",
    "url_host": "pygeoops_spark.text.url",
    "url_normalize": "pygeoops_spark.text.url",
    "url_path_depth": "pygeoops_spark.text.url",
    "host_stats": "pygeoops_spark.text.url",
    "host_balanced_sample": "pygeoops_spark.text.url",
    "det_sample": "pygeoops_spark.text.sampling",
    "stratified_sample": "pygeoops_spark.text.sampling",
    "topk_per_group": "pygeoops_spark.text.sampling",
    "det_hash_bucket": "pygeoops_spark.text.sampling",
    "connected_components": "pygeoops_spark.text.pipeline",
    "sessionize": "pygeoops_spark.text.pipeline",
    "quality_features": "pygeoops_spark.text.quality",
    "langid": "pygeoops_spark.text.quality",
    "extract_text": "pygeoops_spark.text.quality",
    "cosine_topk_bruteforce": "pygeoops_spark.ann.cosine",
    "cosine_topk_lsh": "pygeoops_spark.ann.cosine",
    "cosine_topk_ivf": "pygeoops_spark.ann.cosine",
    "ivf_build_index": "pygeoops_spark.ann.cosine",
    "ivf_query_index": "pygeoops_spark.ann.cosine",
    # sources / streaming / checkpointed runs
    "synth_pages": "pygeoops_spark.corpus.pages",
    "synth_zones": "pygeoops_spark.corpus.pages",
    "read_geojson_seq": "pygeoops_spark.sources.geojson",
    "write_geojson_seq": "pygeoops_spark.sources.geojson",
    "sessionize_stream": "pygeoops_spark.streaming.sessions",
    "assign_stream_to_grid": "pygeoops_spark.streaming.tiles",
    "geofence_stream": "pygeoops_spark.streaming.tiles",
    "run_checkpointed": "pygeoops_spark.run.checkpoint",
    "get_spark": "pygeoops_spark.session",
}


def __getattr__(name: str):
    target = _EXPORTS.get(name)
    if target is None:
        raise AttributeError(f"module 'pygeoops_spark' has no attribute {name!r}")
    import importlib

    obj = getattr(importlib.import_module(target), name)
    globals()[name] = obj  # cache for next access
    return obj


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
