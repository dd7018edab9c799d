"""Per-row geometry columns go through pygeoops_spark/udf.py:row_udf.

Fails if an executor-side Python function in the package or the driver
entry calls wkb_loads/wkb_dumps itself — the hand-written
decode -> kernel -> encode row loop the factory replaced. Executor-side
means a pandas_udf-decorated function, a function passed to
mapInPandas/applyInPandas, or a function called by a lambda passed
there. Vectorized UDFs whose batch loop is numpy are listed explicitly."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

# (file, function): vectorized UDFs allowed to touch the WKB codec
ALLOWED = {("pygeoops_spark/join/pip.py", "_pip_udf")}


def _is_pandas_udf(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "pandas_udf") or (
        isinstance(f, ast.Attribute) and f.attr == "pandas_udf"
    )


_BATCH_MAPS = ("mapInPandas", "applyInPandas")


def _batch_fn_names(tree: ast.AST) -> set[str]:
    """Names of the functions handed to mapInPandas/applyInPandas, or
    called by a lambda handed there."""
    names = set()
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _BATCH_MAPS
            and node.args
        ):
            continue
        fn = node.args[0]
        if isinstance(fn, ast.Name):
            names.add(fn.id)
        elif isinstance(fn, ast.Lambda):
            names |= {
                c.func.id
                for c in ast.walk(fn.body)
                if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
            }
    return names


def _codec_calls(fn: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in ("wkb_loads", "wkb_dumps"):
                names.add(name)
    return names


def _offenders(root: pathlib.Path) -> list[str]:
    files = sorted(root.glob("pygeoops_spark/**/*.py")) + [root / "__spark_entry__.py"]
    found = []
    for path in files:
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        batch_fns = _batch_fn_names(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and (
                    node.name in batch_fns
                    or any(_is_pandas_udf(d) for d in node.decorator_list)
                )
                and (rel, node.name) not in ALLOWED
                and _codec_calls(node)
            ):
                found.append(f"{rel}:{node.lineno} {node.name}")
    return found


def test_no_hand_written_wkb_row_loops():
    assert _offenders(ROOT) == []


def test_guard_sees_a_row_loop(tmp_path):
    pkg = tmp_path / "pygeoops_spark"
    pkg.mkdir()
    (pkg / "op.py").write_text(
        "from pyspark.sql import functions as F\n"
        "@F.pandas_udf('binary')\n"
        "def _ud(wkbs):\n"
        "    return [wkb_dumps(k(wkb_loads(bytes(b)))) for b in wkbs]\n"
    )
    (tmp_path / "__spark_entry__.py").write_text("")
    assert _offenders(tmp_path) == ["pygeoops_spark/op.py:3 _ud"]


def test_guard_sees_a_batch_map_loop(tmp_path):
    pkg = tmp_path / "pygeoops_spark"
    pkg.mkdir()
    (pkg / "op.py").write_text(
        "def explode(df):\n"
        "    def run(pdf):\n"
        "        return pdf.assign(n=[len(wkb_loads(bytes(b)).data) for b in pdf.wkb])\n"
        "    return df.mapInPandas(lambda it: (run(p) for p in it), 'n long')\n"
        "def rebuild(df):\n"
        "    def feature(pdf):\n"
        "        return pdf.assign(wkb=[wkb_dumps(k(pdf))])\n"
        "    def other(pdf):\n"
        "        return pdf\n"
        "    return df.groupBy('fid').applyInPandas(feature, 'wkb binary')\n"
    )
    (tmp_path / "__spark_entry__.py").write_text("")
    assert _offenders(tmp_path) == ["pygeoops_spark/op.py:2 run", "pygeoops_spark/op.py:6 feature"]
