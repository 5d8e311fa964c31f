#!/usr/bin/env python
"""List defaulted parameters of public package functions that no caller sets,
and fail on any that is not on the allowlist below.

An option that only its default reaches is a branch nothing runs: fold it
into a constant. This scans the ``identity_matching_spark`` package for
public functions (module-level ``def``s and the methods of public classes
whose names do not start with ``_``; a class's ``__init__`` is its
constructor) and prints every parameter with a default that no call in the
package, ``perfbench/``, ``tools/``, ``bench/``, ``bench.py`` or
``__spark_entry__.py`` sets, by keyword or by position. Callers under
``tests/`` do not count. The fields with defaults of public dataclasses
(``PipelineConfig``) are checked the same way against the keywords of
``ClassName(...)`` calls.

Calls are matched to functions by name only (``f(...)``, ``x.f(...)``;
``ClassName(...)`` for ``__init__``), so a call of another function of the
same name counts as setting the parameter, and a call that passes
``*args``/``**kwargs`` counts as setting every parameter from that point.
The list can therefore miss an unused option, but does not name one that a
caller sets directly. A dataclass field set only through a ``**mapping``
is listed (the mapping's keys are not read).

Prints one ``path:line function(parameter)`` line per parameter (allowed
ones with their reason), then their count. Exits 1 when a listed parameter
is not on ``ALLOWED`` or an ``ALLOWED`` entry lists nothing (remove it).

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

# options a user really sets, though no caller in this repo does; keyed by
# module (dotted, under the package) and the printed label
ALLOWED = {
    "cli.main(argv)": "the console entry point reads sys.argv when argv is None",
    "plans.pipeline.run_pipeline(external_ids)":
        "J4 external matcher: a deployment passes its id lookup table",
    "operators.signatures.stream_signatures(watermark)":
        "event-time deployment setting: how late a turn may arrive",
    "operators.signatures.stream_signatures(session_gap)":
        "event-time deployment setting: idle time that closes a conversation",
    "streaming.incremental.run_incremental_resolution(trigger_seconds)":
        "stream deployment setting: micro-batch interval",
    "sources.io.export_jdbc(mode)": "S8 parquet->SQL export, run only with a JDBC driver jar",
    "sources.io.export_jdbc(properties)": "S8 parquet->SQL export: connection properties",
    "sources.io.export_jdbc(batch_size)": "S8 parquet->SQL export: insert batching",
}


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


def _is_dataclass(cls: ast.ClassDef) -> bool:
    for d in cls.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "dataclass":
            return True
    return False


def _fields(cls: ast.ClassDef) -> list[tuple[str, int | None]]:
    """(name, positional index) of each dataclass field with a default."""
    fields = [n for n in cls.body if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)]
    return [(f.target.id, i) for i, f in enumerate(fields) if f.value is not None]


def _public_functions():
    """Yield (path, line, call name, label, defaulted parameters, is field)."""
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                yield path, node.lineno, node.name, node.name, _defaulted(node, False), False
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                if _is_dataclass(node):
                    yield path, node.lineno, node.name, node.name, _fields(node), True
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
                    yield path, item.lineno, call, label, _defaulted(item, True), False


def _set_by_calls() -> dict[str, tuple[set[str], int, bool]]:
    """Per call name: the keywords any call passes, the largest number of
    leading positional arguments any call passes (a starred argument counts
    as every position: large sentinel) and whether any call passes
    ``**kwargs``."""
    seen: dict[str, list] = defaultdict(lambda: [set(), 0, False])
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
                        entry[2] = True
                    else:
                        entry[0].add(kw.arg)
    return {k: (v[0], v[1], v[2]) for k, v in seen.items()}


def _allow_key(path: str, label: str, name: str) -> str:
    module = os.path.relpath(path, os.path.join(ROOT, PACKAGE))[: -len(".py")]
    return f"{module.replace(os.sep, '.')}.{label}({name})"


def main() -> int:
    if len(sys.argv) != 1:
        sys.exit(__doc__.strip().splitlines()[-1])
    calls = _set_by_calls()
    unused = []
    for path, line, call, label, params, is_field in _public_functions():
        keywords, n_pos, double_star = calls.get(call, (set(), 0, False))
        for name, index in params:
            if name in keywords or (double_star and not is_field):
                continue
            if index is not None and index < n_pos:
                continue
            key = _allow_key(path, label, name)
            unused.append((f"{os.path.relpath(path, ROOT)}:{line} {label}({name})", key))
    bad = 0
    for row, key in sorted(unused):
        reason = ALLOWED.get(key)
        print(f"{row}  [allowed: {reason}]" if reason else f"{row}  NOT ALLOWED")
        bad += reason is None
    stale = sorted(set(ALLOWED) - {key for _, key in unused})
    for key in stale:
        print(f"allowlist entry {key} lists nothing: remove it")
    print(f"{len(unused)} defaulted parameters no caller outside tests/ sets "
          f"({bad} not allowed, {len(stale)} stale allowlist entries)")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main())
