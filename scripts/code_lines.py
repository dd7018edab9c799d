"""Count the code lines of Python files or functions.

A code line holds at least one token of code: blank lines, comment-only
lines and docstring lines (the leading string of a module, class or
function body) are left out. A statement spread over several lines
counts each line that carries code.

    python scripts/code_lines.py pygeoops_spark/geom/overlay.py pygeoops_spark/geom/validity.py
    python scripts/code_lines.py --functions pygeoops_spark/geom/validity.py
    python scripts/code_lines.py pygeoops_spark/geom/overlay.py:polygon_union

Prints one ``count  name`` row per file (per function with
``--functions``, or for each ``file:function`` argument) and, for more
than one row, their total.
"""

from __future__ import annotations

import argparse
import ast
import io
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> set[int]:
    """The 1-based numbers of the lines of ``source`` that carry code."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.difference_update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _functions(tree: ast.Module) -> list[ast.FunctionDef | ast.AsyncFunctionDef]:
    """Module-level functions and methods, in source order."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.append(node)
        elif isinstance(node, ast.ClassDef):
            out += [n for n in node.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    return out


def rows(target: str, per_function: bool) -> list[tuple[int, str]]:
    path, _, name = target.partition(":")
    with open(path, encoding="utf-8") as f:
        source = f.read()
    lines = code_lines(source)
    if not name and not per_function:
        return [(len(lines), path)]
    out = []
    for fn in _functions(ast.parse(source)):
        if name and fn.name != name:
            continue
        first = min([fn.lineno] + [d.lineno for d in fn.decorator_list])
        out.append((len([n for n in lines if first <= n <= fn.end_lineno]), f"{path}:{fn.name}"))
    if name and not out:
        raise SystemExit(f"no function {name!r} in {path}")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("targets", nargs="+", help="file.py or file.py:function")
    ap.add_argument("--functions", action="store_true", help="one row per function")
    args = ap.parse_args()
    table = [r for t in args.targets for r in rows(t, args.functions)]
    for count, label in table:
        print(f"{count:6d}  {label}")
    if len(table) > 1:
        print(f"{sum(c for c, _ in table):6d}  total")


if __name__ == "__main__":
    main()
