"""Output pins for simplify_topo and collect_agg.

simplify_topo: one sha256 per case over every ``(fid, simplified WKB)``
row, sorted by fid. The cases are the tests/test_simplify_topo.py
shapes, the 64-square frame of the ``simplify_topo`` driver query, a
broadcast ``keep_points_on_wkb``, lines sharing polygon boundaries,
T-junctions that node several points into one segment, and null and
unsupported rows.

collect_agg: per group, the sorted WKB of the collected geometry's
parts, ``n_parts`` and ``geom_type_id`` — the order of the parts inside
the collected geometry is the order rows reach the aggregate, which no
plan fixes, so it is left out.

A refactor of either operator must leave every pin as it is.
"""

import hashlib

import numpy as np
import pytest

from pygeoops_spark.geom import linestring, multi, point, polygon, wkb_dumps, wkb_loads
from pygeoops_spark.geom.wkb import MULTILINESTRING, MULTIPOINT, MULTIPOLYGON, get_parts

POLY1 = [(10, 10), (0, 10), (0, 0), (10, 0)]
POLY2 = [(10, 10), (0, 10), (0, 0), (11, 0)]
SQUARES = [
    [(0, 0), (10, 0), (10, 10), (0, 10)],
    [(10, 0), (20, 0), (20, 10), (10, 10)],
    [(20, 0), (30, 0), (30, 10), (20, 10)],
]
HOLE_PTS = [(3, 3), (5, 2.9), (7, 3), (8, 5), (7, 7), (5, 7.1), (3, 7), (2, 5)]


def _driver_squares():
    rows = []
    for i in range(32):
        x0, y0 = float((i % 8) * 40), float((i // 8) * 40)
        rows.append((2 * i, polygon([(x0 + 10, y0 + 10), (x0, y0 + 10), (x0, y0), (x0 + 10, y0)])))
        rows.append((2 * i + 1, polygon([(x0 + 10, y0 + 10), (x0, y0 + 10), (x0, y0), (x0 + 11, y0)])))
    return rows


def _t_junctions():
    """A wide cell beside a column of small cells whose corners land on
    its edge (several split points on one segment), plus jittered
    vertices along the shared edge."""
    rng = np.random.default_rng(7)
    rows = [(0, polygon([(0, 0), (20, 0), (20, 12), (0, 12)]))]
    ys = [0.0, 3.0, 4.5, 9.0, 12.0]
    for i in range(4):
        y0, y1 = ys[i], ys[i + 1]
        bump = float(rng.uniform(0.01, 0.4))
        rows.append(
            (i + 1, polygon([(20, y0), (30, y0), (30 + bump, (y0 + y1) / 2), (30, y1), (20, y1)]))
        )
    return rows


TOPO_CASES = {
    **{
        f"shared_{alg}": ([(i, polygon(p)) for i, p in enumerate([POLY1, POLY2])], tol, alg, None)
        for alg, tol in [("rdp", 1), ("lang", 1), ("lang+", 1), ("vw", 5)]
    },
    "adjacent_lang": ([(i, polygon(p)) for i, p in enumerate(SQUARES)], 1, "lang", None),
    "hole": (
        [
            (0, polygon([(0, 0), (20, 0), (20, 20), (0, 20)], [[(5, 5), (8, 5), (8, 8), (5, 8)]])),
            (1, polygon([(20, 0), (40, 0), (40, 20), (20, 20)])),
        ],
        1, "rdp", None,
    ),
    "multipolygon": (
        [(0, multi(MULTIPOLYGON, [polygon(SQUARES[0]), polygon([(30, 0), (40, 0), (40, 10), (30, 10)])]))],
        1, "rdp", None,
    ),
    "island": (
        [
            (0, polygon([(0, 0), (10, 0), (10, 10), (0, 10)], [list(reversed(HOLE_PTS))])),
            (1, polygon(HOLE_PTS[3:] + HOLE_PTS[:3])),
        ],
        1.5, "rdp", None,
    ),
    "driver_64_squares": (_driver_squares(), 1, "rdp", None),
    "keep_points_on": (
        [(i, polygon(p)) for i, p in enumerate([POLY1, POLY2])], 1, "rdp", point(11.0, 0.0),
    ),
    "keep_points_on_multipoint": (
        _driver_squares()[:8], 1, "lang",
        multi(MULTIPOINT, [point(11.0, 0.0), point(40.0, 10.0), point(0.0, 5.0)]),
    ),
    "line_plus_polygon": (
        [
            (0, polygon(POLY1)),
            (1, linestring([(10, 10), (0, 10), (0, 0), (11, 0)])),
            (2, multi(MULTILINESTRING, [linestring([(10, 0), (10, 5), (10.2, 7), (10, 10)]),
                                        linestring([(40, 0), (41, 3), (40, 6)])])),
        ],
        1, "lang", None,
    ),
    "t_junctions": (_t_junctions(), 0.5, "rdp", None),
    "null_and_unsupported": (
        [(0, polygon(POLY1)), (1, None), (2, point(3.0, 4.0)), (3, polygon(POLY2))],
        1, "rdp", None,
    ),
}

TOPO_PINS = {
    "shared_rdp": "3cbc17c51cdd220912497e8efbbc3d196af5a7da1c7b5605d5049358a3988321",
    "shared_lang": "3cbc17c51cdd220912497e8efbbc3d196af5a7da1c7b5605d5049358a3988321",
    "shared_lang+": "3cbc17c51cdd220912497e8efbbc3d196af5a7da1c7b5605d5049358a3988321",
    "shared_vw": "3cbc17c51cdd220912497e8efbbc3d196af5a7da1c7b5605d5049358a3988321",
    "adjacent_lang": "64bb6ff488a50c38b3dfcfe1e3d72aa5854164a9ea2f988e174280b48a135b40",
    "hole": "2f317caf6b39eddcc41a980bfd175078ba7edf7b42b3fa3899b5ca905d665656",
    "multipolygon": "8c9af61501dfde6f5566b40567c36a524ce398fa755f58aa2fe3e99071caa9d9",
    "island": "324d66dc7d143c7260c73cf7d95449397fdb82a741c78979f798b8992c691b98",
    "driver_64_squares": "6d1dc6df1ec8d4f734fd7c1f506dff49fe5b21b8e0790d452e182d16ae5f1cdf",
    "keep_points_on": "6accefcbd349275f8e0c2e9ab6a8858d06912f7c03363d8eaff9525f84d6608b",
    "keep_points_on_multipoint": "12a70e4d3a6c0a60e5344539cf34243240a47a6f2f9d8c2e4fa18916bc44bcf1",
    "line_plus_polygon": "f2f72bb2919c9d9477711624dedf7942e3c7dcc8bb3289320bcf214c50848024",
    "t_junctions": "3f17069adf38fcbd9b7d38c9e2003038f39cb7494634ec3c71c1c65af6d86d4e",
    "null_and_unsupported": "165c8503f9eca73469093be341dc507798da12a0ee213329852c95859f3509ea",
}


def _topo_digest(spark, case):
    import pandas as pd

    from pygeoops_spark.operators.simplify_topo import simplify_topo

    rows, tol, alg, keep = TOPO_CASES[case]
    df = spark.createDataFrame(
        pd.DataFrame({"fid": [f for f, _ in rows], "wkb": [None if g is None else wkb_dumps(g) for _, g in rows]})
    )
    out = simplify_topo(
        df, "fid", "wkb", tol, alg, keep_points_on_wkb=None if keep is None else wkb_dumps(keep)
    ).collect()
    h = hashlib.sha256()
    for r in sorted(out, key=lambda r: r["fid"]):
        w = r["simplified_wkb"]
        h.update(f"{r['fid']}:{'-' if w is None else bytes(w).hex()};".encode())
    return len(out), h.hexdigest()


@pytest.mark.parametrize("case", sorted(TOPO_CASES))
def test_simplify_topo_pins(spark, case):
    n, digest = _topo_digest(spark, case)
    assert n == len(TOPO_CASES[case][0])
    assert digest == TOPO_PINS[case]


def _collect_rows():
    """(group, wkb) rows: multipoints, mixed types, nested multis,
    shared-boundary polygons, a group of nulls only, single members."""
    rng = np.random.default_rng(11)
    rows = []
    for g in range(6):
        for _ in range(int(rng.integers(1, 9))):
            rows.append((g, point(*np.round(rng.uniform(0, 100, 2), 3))))
    rows += [(10, linestring([(0, 0), (1, 1)])), (10, linestring([(2, 2), (3, 5)]))]
    rows += [(11, polygon(SQUARES[0])), (11, polygon([(30, 0), (40, 0), (40, 10), (30, 10)]))]
    rows += [(12, polygon(SQUARES[0])), (12, polygon(SQUARES[1]))]  # shared edge
    rows += [(13, point(1.0, 2.0)), (13, linestring([(0, 0), (5, 5)])), (13, None)]
    rows += [(14, multi(MULTIPOLYGON, [polygon(SQUARES[2])])), (14, polygon(POLY1))]
    rows += [(15, None), (15, None)]
    rows += [(16, polygon(POLY2))]
    return rows


COLLECT_PIN = "9e4e8ffd5ba264fa7952675a500f49729c111f10384407248a2ce04ed4d64105"


def _collect_digest(spark):
    import pandas as pd

    from pygeoops_spark.operators.collection import collect_agg

    rows = _collect_rows()
    df = spark.createDataFrame(
        pd.DataFrame({"g": [g for g, _ in rows], "wkb": [None if w is None else wkb_dumps(w) for _, w in rows]})
    )
    out = collect_agg(df, ["g"], "wkb")
    assert out.columns == ["g", "collected_wkb", "n_parts", "geom_type_id"]
    h = hashlib.sha256()
    for r in sorted(out.collect(), key=lambda r: r["g"]):
        w = r["collected_wkb"]
        parts = [] if w is None else sorted(wkb_dumps(p).hex() for p in get_parts(wkb_loads(bytes(w))))
        h.update(f"{r['g']}:{parts}:{r['n_parts']}:{r['geom_type_id']};".encode())
    return out.schema.simpleString(), h.hexdigest()


def test_collect_agg_pin(spark):
    schema, digest = _collect_digest(spark)
    assert schema == "struct<g:bigint,collected_wkb:binary,n_parts:int,geom_type_id:int>"
    assert digest == COLLECT_PIN
