"""Cell-indexed spatial-join layer (brand-new surface, no reference
counterpart — required by the engine north rule).

All candidate generation is pure Spark SQL (planar quadkey or
geographic lon/lat cell ids via integer arithmetic — whole-stage
codegen, no UDF; see cells.CellScheme); exact geometry
filters drop into vectorized pandas UDF kernels only for non-rectangular
polygons.
"""
