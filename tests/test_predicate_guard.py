"""One copy of each geometry predicate in the engine.

- ``points_in_ring`` has exactly one caller in the engine: the
  prepared ring walk ``point_in_polygon_prepared``, which every
  point-in-polygon path goes through;
- ``join/pip.py`` holds exactly one ``pandas_udf`` (the PIP kernel
  factory serves the prepared and the wkb ship paths);
- the scalar segment tests ``segments_intersect`` and
  ``segment_intersects_coords`` are gone: segment-vs-chain is
  ``segments_cross_chain_batch``."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _engine_files():
    return sorted(ROOT.glob("pygeoops_spark/**/*.py")) + [ROOT / "__spark_entry__.py"]


def _callers(name: str) -> list[str]:
    """``file:top-level definition`` of every call to ``name`` in the
    engine, one entry per call site."""
    found = []
    for path in _engine_files():
        rel = path.relative_to(ROOT).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if called == name:
                        found.append(f"{rel}:{getattr(top, 'name', '<module>')}")
    return found


def test_points_in_ring_has_one_engine_caller():
    assert _callers("points_in_ring") == [
        "pygeoops_spark/geom/kernels.py:point_in_polygon_prepared"
    ]


def test_pip_module_has_one_pandas_udf():
    src = (ROOT / "pygeoops_spark/join/pip.py").read_text()
    uses = [
        n
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Attribute) and n.attr == "pandas_udf"
        or isinstance(n, ast.Name) and n.id == "pandas_udf"
    ]
    assert len(uses) == 1


def test_scalar_segment_tests_are_gone():
    from pygeoops_spark.geom import kernels

    for name in ("segments_intersect", "segment_intersects_coords"):
        assert not hasattr(kernels, name)
        assert _callers(name) == []
        for path in _engine_files():
            assert f"def {name}(" not in path.read_text(), path
