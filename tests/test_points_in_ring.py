"""points_in_ring against a scalar crossing-number reference.

The kernel sorts the points by y and tests each edge only against the
points inside its half-open y-span, in chunks of edges under a pair
budget. The reference below walks every (point, edge) pair in plain
Python with the same half-open rule and the same ``xs`` expression, so
the two must agree bit for bit: on vertices, on horizontal edges, at
vertex y, with NaN coordinates and across chunk boundaries."""

import tracemalloc

import numpy as np
import pytest

from pygeoops_spark.geom import kernels
from pygeoops_spark.geom.kernels import point_in_polygon_prepared, points_in_ring


def _reference(px, py, ring) -> np.ndarray:
    edges = list(zip(ring[:-1, :2].tolist(), ring[1:, :2].tolist()))
    out = []
    for x, y in zip(np.asarray(px, float).tolist(), np.asarray(py, float).tolist()):
        inside = False
        for (x1, y1), (x2, y2) in edges:
            if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                inside = not inside
        out.append(inside)
    return np.array(out, dtype=bool)


def _closed(coords) -> np.ndarray:
    ring = np.asarray(coords, dtype=float)
    return np.vstack([ring, ring[:1]])


def _star(rng, n, cx=0.0, cy=0.0) -> np.ndarray:
    theta = 2.0 * np.pi * np.arange(n) / n
    r = rng.uniform(0.3, 1.0, n)
    return _closed(np.column_stack((cx + r * np.cos(theta), cy + r * np.sin(theta))))


def _check(px, py, ring):
    got = points_in_ring(np.asarray(px, float), np.asarray(py, float), ring)
    assert got.dtype == bool and got.shape == (len(px),)
    np.testing.assert_array_equal(got, _reference(px, py, ring))


# a budget of 7 pairs splits every ring into many edge chunks, some of
# them one edge that spans more than 7 points
BUDGETS = pytest.mark.parametrize("budget", [kernels._MAX_PAIRS, 7])


@BUDGETS
@pytest.mark.parametrize("n", [3, 5, 16, 64, 256])
def test_star_rings(monkeypatch, budget, n):
    monkeypatch.setattr(kernels, "_MAX_PAIRS", budget)
    rng = np.random.default_rng(n)
    ring = _star(rng, n)
    px, py = rng.uniform(-1.1, 1.1, 400), rng.uniform(-1.1, 1.1, 400)
    # points at every vertex y, some on the vertices themselves
    py[:n] = ring[:n, 1]
    px[: n // 2] = ring[: n // 2, 0]
    _check(px, py, ring)


@BUDGETS
def test_axis_aligned_ring_on_integer_grid(monkeypatch, budget):
    monkeypatch.setattr(kernels, "_MAX_PAIRS", budget)
    # a U shape: horizontal edges at y = 0, 1, 3 and 4, vertices on the grid
    ring = _closed([(0, 0), (6, 0), (6, 4), (4, 4), (4, 1), (2, 1), (2, 4), (0, 4)])
    gx, gy = np.meshgrid(np.arange(-1, 8), np.arange(-1, 6))
    _check(gx.ravel(), gy.ravel(), ring)
    # half-integer points too: on the vertical edges and between rows
    hx, hy = np.meshgrid(np.arange(-1, 8, 0.5), np.arange(-1, 6, 0.5))
    _check(hx.ravel(), hy.ravel(), ring)


@BUDGETS
def test_repeated_consecutive_vertices(monkeypatch, budget):
    monkeypatch.setattr(kernels, "_MAX_PAIRS", budget)
    ring = _closed([(0, 0), (0, 0), (4, 0), (4, 3), (4, 3), (4, 3), (0, 3)])
    gx, gy = np.meshgrid(np.arange(-1, 6), np.arange(-1, 5))
    _check(gx.ravel(), gy.ravel(), ring)


def test_nan_coordinates():
    rng = np.random.default_rng(3)
    ring = _star(rng, 12)
    px, py = rng.uniform(-1, 1, 50), rng.uniform(-1, 1, 50)
    px[[0, 7]] = np.nan
    py[[3, 7, 20]] = np.nan
    _check(px, py, ring)
    assert not points_in_ring(px, py, ring)[[0, 3, 7, 20]].any()
    # a NaN vertex: the two edges through it cross nothing
    bad = ring.copy()
    bad[4, 1] = np.nan
    _check(px, py, bad)


def test_empty_and_one_point_inputs():
    ring = _closed([(0, 0), (2, 0), (2, 2), (0, 2)])
    empty = np.array([], dtype=float)
    assert points_in_ring(empty, empty, ring).shape == (0,)
    _check([1.0], [1.0], ring)
    _check([3.0], [1.0], ring)
    # a ring with no edges
    one = np.array([[0.0, 0.0]])
    assert not points_in_ring(np.array([0.0]), np.array([0.0]), one).any()


@BUDGETS
def test_holes_through_prepared_walk(monkeypatch, budget):
    monkeypatch.setattr(kernels, "_MAX_PAIRS", budget)
    rng = np.random.default_rng(5)
    shell = _star(rng, 40)
    hole = _closed([(-0.2, -0.2), (-0.2, 0.2), (0.2, 0.2), (0.2, -0.2)])
    other = _star(rng, 9, cx=3.0)
    px, py = rng.uniform(-1.1, 4.1, 600), rng.uniform(-1.1, 1.1, 600)
    py[:40] = 0.2  # at the hole's top edge
    walk = point_in_polygon_prepared([(shell, False), (hole, True), (other, False)])
    want = (_reference(px, py, shell) & ~_reference(px, py, hole)) | _reference(px, py, other)
    np.testing.assert_array_equal(walk(px, py), want)


def test_comb_runs_in_chunks_under_memory_cap():
    """2,048 edges, each spanning nearly every point: the worst case of
    the pair walk. The pair budget splits the edges into chunks and holds
    the peak allocation down."""
    n = 2048
    x = np.linspace(0.0, 1.0, n)
    ring = _closed(np.column_stack((x, np.where(np.arange(n) % 2, 1.0, 0.0))))
    rng = np.random.default_rng(11)
    px, py = rng.uniform(0.0, 1.0, 10_000), rng.uniform(-0.1, 1.1, 10_000)
    py[:500] = 0.0  # at the comb's vertex y
    assert n * len(px) > 4 * kernels._MAX_PAIRS
    tracemalloc.start()
    try:
        got = points_in_ring(px, py, ring)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * 1024 * 1024, peak
    # the scalar reference on a sample spread over every chunk
    idx = np.r_[0:100, rng.choice(np.arange(100, len(px)), 200, replace=False)]
    np.testing.assert_array_equal(got[idx], _reference(px[idx], py[idx], ring))
    assert 0 < got.sum() < len(got)
