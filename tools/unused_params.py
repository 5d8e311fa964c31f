#!/usr/bin/env python
"""List defaulted parameters of public package functions that no caller sets.

An option that only its default reaches is a branch nothing runs: fold it
into a constant. This scans the ``identity_matching_spark`` package for
public functions (module-level ``def``s and the methods of public classes
whose names do not start with ``_``; a class's ``__init__`` is its
constructor) and prints every parameter with a default that no call in the
package, ``perfbench/``, ``tools/``, ``bench/``, ``bench.py`` or
``__spark_entry__.py`` sets, by keyword or by position. Callers under
``tests/`` do not count.

Calls are matched to functions by name only (``f(...)``, ``x.f(...)``;
``ClassName(...)`` for ``__init__``), so a call of another function of the
same name counts as setting the parameter, and a call that passes
``*args``/``**kwargs`` counts as setting every parameter from that point.
The list can therefore miss an unused option, but does not name one that a
caller sets directly. Prints one ``path:line function(parameter)`` line per
parameter, then their count.

Usage: python tools/unused_params.py
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "identity_matching_spark"
CALLER_PATHS = (PACKAGE, "perfbench", "tools", "bench", "bench.py", "__spark_entry__.py")


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x not in ("tests", "__pycache__"))
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of each parameter
    with a default; the index counts from the first argument a caller
    passes (``self``/``cls`` excluded)."""
    args = fn.args
    positional = args.posonlyargs + args.args
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)
    skip = 1 if is_method and not static and positional else 0
    first_default = len(positional) - len(args.defaults)
    out = [
        (a.arg, i - skip) for i, a in enumerate(positional) if i >= first_default and i >= skip
    ]
    out += [(a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    return out


def _public_functions():
    """Yield (path, line, call name, label, defaulted parameters)."""
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                yield path, node.lineno, node.name, node.name, _defaulted(node, False)
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for item in node.body:
                    if not isinstance(item, ast.FunctionDef):
                        continue
                    if item.name == "__init__":
                        call = node.name
                    elif item.name.startswith("_"):
                        continue
                    else:
                        call = item.name
                    label = f"{node.name}.{item.name}"
                    yield path, item.lineno, call, label, _defaulted(item, True)


def _set_by_calls() -> dict[str, tuple[set[str], int]]:
    """Per call name: the keywords any call passes and the largest number of
    leading positional arguments any call passes (a starred argument or
    ``**kwargs`` counts as every position/keyword: large sentinel)."""
    seen: dict[str, list] = defaultdict(lambda: [set(), 0])
    everything = 1 << 30
    for rel in CALLER_PATHS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                name = (
                    func.id if isinstance(func, ast.Name)
                    else func.attr if isinstance(func, ast.Attribute)
                    else None
                )
                if name is None:
                    continue
                entry = seen[name]
                n_pos = 0
                for a in node.args:
                    if isinstance(a, ast.Starred):
                        n_pos = everything
                        break
                    n_pos += 1
                entry[1] = max(entry[1], n_pos)
                for kw in node.keywords:
                    if kw.arg is None:  # **kwargs
                        entry[0].add("*")
                        entry[1] = everything
                    else:
                        entry[0].add(kw.arg)
    return {k: (v[0], v[1]) for k, v in seen.items()}


def main() -> None:
    if len(sys.argv) != 1:
        sys.exit(__doc__.strip().splitlines()[-1])
    calls = _set_by_calls()
    unused = []
    for path, line, call, label, params in _public_functions():
        keywords, n_pos = calls.get(call, (set(), 0))
        for name, index in params:
            if "*" in keywords or name in keywords:
                continue
            if index is not None and index < n_pos:
                continue
            unused.append(f"{os.path.relpath(path, ROOT)}:{line} {label}({name})")
    for row in sorted(unused):
        print(row)
    print(f"{len(unused)} defaulted parameters no caller outside tests/ sets")


if __name__ == "__main__":
    main()
