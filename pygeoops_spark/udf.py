"""The one row-UDF factory behind every per-row geometry column.

Each per-row operator (simplify, centerline, difference, make_valid,
GeoJSON parse/serialize, ...) is an Arrow-batched pandas UDF over WKB
columns. The boundary work — WKB decode of binary arguments, the null
rule, WKB encode of geometry results, struct assembly — is written
here once; an operator supplies only its kernel.

Grouped and mapped bodies go through it too: a grouped operator
collects each group's rows into an array column (``collect_list``) and
runs one row kernel per group (operators/collection.py collect_agg,
the per-feature rebuild of operators/simplify_topo.py), and a row that
fans out returns an array that is exploded in SQL (simplify_topo's
segments) — no mapInPandas/applyInPandas body decodes WKB itself.

UDFs whose batch loop is numpy rather than per row
(join/pip.py:_pip_udf, operators/geodesic.py, corpus/pages.py
with_point_wkb, the simhash kernel in text/dedup.py) stay vectorized
and do not use it. tests/test_udf_guard.py enforces the split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from pygeoops_spark.geom.wkb import Geometry, wkb_dumps, wkb_loads


def _decode(v):
    if isinstance(v, (bytes, bytearray, memoryview)):
        return wkb_loads(bytes(v))
    if isinstance(v, np.ndarray) and v.dtype == object:  # array<binary>
        return [_decode(b) for b in v]
    return v


def _encode(v):
    if isinstance(v, Geometry):
        return wkb_dumps(v)
    if isinstance(v, list):
        return [_encode(b) for b in v]
    return v


def row_udf(kernel, returns: DataType | str, null=None):
    """Wrap ``kernel`` (one row's arguments -> one row's result) as an
    Arrow-batched pandas UDF returning ``returns``.

    * arguments: binary values (and arrays of them) arrive decoded as
      ``Geometry``; everything else (coordinates, type codes, GeoJSON
      strings, arrays of structs as dicts, nulls in later arguments) is
      passed through as is.
    * results: a ``Geometry`` or list of them is WKB-encoded; for a
      ``StructType`` the kernel returns a tuple per row, whose fields
      are encoded the same way.
    * nulls: the first argument is the row's geometry (or what it is
      built from) — a null there, or a ``None`` kernel result, emits
      ``null`` (default: SQL NULL; an all-null struct for structs).

    A geometry shared by every row is decoded once on the driver and
    captured by ``kernel``, never passed per row.
    """
    struct = isinstance(returns, StructType)
    if struct and null is None:
        null = (None,) * len(returns.fields)

    @F.pandas_udf(returns)
    def _rows(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            r = None if row[0] is None else kernel(*map(_decode, row))
            out.append(null if r is None else tuple(map(_encode, r)) if struct else _encode(r))
        return pd.DataFrame(out, columns=returns.names) if struct else pd.Series(out)

    return _rows
