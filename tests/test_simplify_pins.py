"""Byte-level pin for geometry simplification (geom/simplify_geom.py).

Every polygon result of `simplify_geometry` goes through `make_valid`,
so this pin also grades the overlay core's self-noding path on the
shapes simplification actually produces: densified 101-vertex
rectangles (collinear runs the kernels collapse) and jittered rings
(whose simplified shells self-touch and self-cross). Each of rdp, lang,
lang+ and vw runs at three tolerances, with and without
`keep_points_on`; one sha256 over the concatenated result WKB pins the
lot, so any change to a kept vertex, ring order or part order shows
here.
"""

import hashlib

import numpy as np

from pygeoops_spark.geom import polygon
from pygeoops_spark.geom.simplify_geom import simplify_geometry
from pygeoops_spark.geom.wkb import linestring, wkb_dumps


def _rectangle(rng):
    """A rectangle densified to 100 edges (101 coordinates, closed)."""
    x0, y0 = rng.uniform(-50, 50, 2)
    w, h = rng.uniform(5, 40, 2)
    per = 2 * (w + h)
    s = np.linspace(0.0, per, 101)[:-1]
    xy = np.empty((100, 2))
    for i, d in enumerate(s):
        if d < w:
            xy[i] = (x0 + d, y0)
        elif d < w + h:
            xy[i] = (x0 + w, y0 + d - w)
        elif d < 2 * w + h:
            xy[i] = (x0 + w - (d - w - h), y0 + h)
        else:
            xy[i] = (x0, y0 + h - (d - 2 * w - h))
    return polygon(xy)


def _jittered_ring(rng, spikes: bool, jitter: float):
    """A star-shaped ring with radial noise; ``spikes`` pulls every fifth
    vertex deep inward, ``jitter`` moves every vertex off the star (the
    ring may then cross itself before any simplification)."""
    k = int(rng.integers(12, 60))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = 10 + rng.normal(0, 2.5, k)
    if spikes:
        rad[::5] *= 0.3
    xy = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    return polygon(xy + rng.uniform(-jitter, jitter, xy.shape))


def _shapes():
    rng = np.random.default_rng(20261018)
    return (
        [_rectangle(rng) for _ in range(10)]
        + [_jittered_ring(rng, False, 0.0) for _ in range(10)]
        + [_jittered_ring(rng, True, 0.0) for _ in range(10)]
        + [_jittered_ring(rng, False, 3.0) for _ in range(10)]
    )


def _keep_on(g):
    """A line through every fifth shell vertex: those vertices lie on it
    exactly, so keep_points_on must re-add them."""
    return linestring(np.asarray(g.data[0])[::5])


# distance tolerances for rdp / lang / lang+, an area tolerance for vw
TOLERANCES = {
    "rdp": (0.05, 0.5, 2.0),
    "lang": (0.05, 0.5, 2.0),
    "lang+": (0.05, 0.5, 2.0),
    "vw": (0.05, 0.5, 4.0),
}

# (case count, sha256 over the concatenated result WKB), recorded on the
# tree whose overlay edge sets were tuple lists
PIN = (960, "fd001a706ffcda19c2e320b161cb65270df214522e2571aed27a5e7092d2be50")


def _digest() -> tuple[int, str]:
    h = hashlib.sha256()
    n = 0
    for g in _shapes():
        for algorithm, tols in TOLERANCES.items():
            for tol in tols:
                for keep in (None, _keep_on(g)):
                    r = simplify_geometry(g, tol, algorithm, keep_points_on=keep)
                    h.update((b"None" if r is None else wkb_dumps(r)) + b";")
                    n += 1
    return n, h.hexdigest()


def test_simplify_result_bytes_pinned():
    assert _digest() == PIN
