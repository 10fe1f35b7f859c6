#!/usr/bin/env python
"""Package size and the registered-oracle contract, in one place.

    python scripts/code_stats.py                  # code lines per module
    python scripts/code_stats.py --oracles PATH   # also dump {name: oracle}

A code line is a line of a package ``.py`` file that is not blank, not
only a comment and not part of a docstring (the string statement that
opens a module, class or function). ``--oracles`` writes the sorted
``{name: spec.oracle}`` JSON of every registered query, so two checkouts
compare with ``cmp``.
"""

from __future__ import annotations

import argparse
import ast
import io
import json
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "harvard_artifacts_collection_data_engineering_analytics_app_spark"


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Count the lines of ``source`` that carry code (see module doc)."""
    skip = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    ignore = {
        tokenize.COMMENT,
        tokenize.NL,
        tokenize.NEWLINE,
        tokenize.INDENT,
        tokenize.DEDENT,
        tokenize.ENDMARKER,
    }
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in ignore:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - skip)


def package_counts(root: str = ROOT) -> dict[str, int]:
    counts: dict[str, int] = {}
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as fh:
                    counts[os.path.relpath(path, root)] = code_lines(fh.read())
    return counts


def registered_oracles() -> dict[str, str | None]:
    sys.path.insert(0, ROOT)
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries.registry import (  # noqa: E501
        all_specs,
    )

    return {name: spec.oracle for name, spec in sorted(all_specs().items())}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--oracles", metavar="PATH", help="write {name: oracle} JSON")
    args = ap.parse_args(argv)
    counts = package_counts()
    for path, n in counts.items():
        print(f"{n:7d}  {path}")
    print(f"{sum(counts.values()):7d}  total ({len(counts)} modules)")
    if args.oracles:
        oracles = registered_oracles()
        with open(args.oracles, "w", encoding="utf-8") as fh:
            json.dump(oracles, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{len(oracles)} registered queries → {args.oracles}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
