#!/usr/bin/env python
"""Fail on package code that only tests reach: options that only their
default reaches, and functions, classes or private constants that nothing
references.

An option that only its default reaches is a branch nothing runs: fold it
into a constant. A function that only tests call is code no run executes:
delete it, or move it under ``tests/`` when tests compare against it.

Both checks scan the ``identity_matching_spark`` package against the code
outside ``tests/``: the package itself, ``perfbench/``, ``tools/``,
``bench/``, ``bench.py`` and ``__spark_entry__.py``.

*Parameters.* For public functions (module-level ``def``s and the methods
of public classes whose names do not start with ``_``; a class's
``__init__`` is its constructor) it prints every parameter with a default
that no call sets, by keyword or by position. The fields with defaults of
public dataclasses (``PipelineConfig``) are checked the same way against
the keywords of ``ClassName(...)`` calls.

Calls are matched to functions by name only (``f(...)``, ``x.f(...)``;
``ClassName(...)`` for ``__init__``), so a call of another function of the
same name counts as setting the parameter, and a call that passes
``*args``/``**kwargs`` counts as setting every parameter from that point.
The list can therefore miss an unused option, but does not name one that a
caller sets directly. A dataclass field set only through a ``**mapping``
is listed (the mapping's keys are not read).

*Functions.* It prints every module-level function and class, public or
private, every public method of a public class and every private
module-level constant (``_NAME = ...``) whose name nothing references.
These count as references, matched by name only:

* a ``Name`` or ``Attribute`` load (``f``, ``x.f``);
* a ``from module import f`` alias, except in the package's own
  ``__init__.py`` files, whose re-exports reach nothing by themselves;
* a decorator on the def that registers it (the driver-query registry
  reaches ``q01``-``q33`` that way); the wrappers in ``WRAPPERS``
  (``property``, ``pandas_udf``, ...) register nothing and do not count.

A reference from inside the def or class of the same name (recursion, a
classmethod building its own class) does not count.

Prints one ``path:line function(parameter)`` line per parameter and one
``path:line function`` line per function (allowed ones with their reason),
each list followed by its count. Exits 1 when a listed entry is not on
``ALLOWED`` (parameters) or ``ALLOWED_UNREFERENCED`` (functions), or an
entry of either lists nothing (remove it).

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
}

# functions, classes and private constants a deployment reaches, though no
# code in this repo references them; keyed by module (dotted, under the
# package) and name
ALLOWED_UNREFERENCED = {
    "streaming.incremental.run_incremental_resolution":
        "the streaming entry point a deployment calls",
}

# decorators that wrap a def without registering it anywhere: a def carrying
# only these is not referenced by its decorators
WRAPPERS = {
    "staticmethod", "classmethod", "property", "cached_property", "dataclass",
    "pandas_udf", "udf", "wraps",
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


def _referenced_names() -> set[str]:
    """Names that code outside ``tests/`` references: ``Name`` and
    ``Attribute`` loads, ``from x import name`` aliases (except in the
    package's ``__init__.py`` re-exports) and registering decorators (any
    decorator but the wrappers in ``WRAPPERS``) of a def. A reference from
    inside a def or class of the same name does not count."""
    names: set[str] = set()

    def visit(node: ast.AST, enclosing: tuple[str, ...], reexport: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if any(_decorator_name(d) not in WRAPPERS for d in node.decorator_list):
                names.add(node.name)
            enclosing += (node.name,)
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id not in enclosing:
                names.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            if node.attr not in enclosing:
                names.add(node.attr)
        elif isinstance(node, ast.ImportFrom) and not reexport:
            names.update(a.name for a in node.names)
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing, reexport)

    package_dir = os.path.join(ROOT, PACKAGE)
    for rel in CALLER_PATHS:
        for path in _py_files(rel):
            reexport = path.startswith(package_dir) and path.endswith("__init__.py")
            visit(_parse(path), (), reexport)
    return names


def _decorator_name(d: ast.expr) -> str | None:
    f = d.func if isinstance(d, ast.Call) else d
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _assigned_names(node: ast.stmt) -> list[str]:
    """The plain names a module-level assignment binds (tuple targets
    unpacked)."""
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    names = []
    for t in targets:
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                names.append(n.id)
    return names


def _definitions():
    """Yield (path, line, name, label) of each module-level function and
    class, each public method of a public class and each private
    module-level constant."""
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                for name in _assigned_names(node):
                    if name.startswith("_") and not name.startswith("__"):
                        yield path, node.lineno, name, name
                continue
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            yield path, node.lineno, node.name, node.name
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for item in node.body:
                    if isinstance(item, ast.FunctionDef) and not item.name.startswith("_"):
                        yield path, item.lineno, item.name, f"{node.name}.{item.name}"


def _module_key(path: str, label: str) -> str:
    module = os.path.relpath(path, os.path.join(ROOT, PACKAGE))[: -len(".py")]
    return f"{module.replace(os.sep, '.')}.{label}"


def _report(kind: str, rows: list[tuple[str, str]], allowed: dict[str, str]) -> int:
    """Print each (row, key) with its allowlist reason, then the stale
    allowlist entries and a count line; return the number of failures."""
    bad = 0
    for row, key in sorted(rows):
        reason = allowed.get(key)
        print(f"{row}  [allowed: {reason}]" if reason else f"{row}  NOT ALLOWED")
        bad += reason is None
    stale = sorted(set(allowed) - {key for _, key in rows})
    for key in stale:
        print(f"allowlist entry {key} lists nothing: remove it")
    print(f"{len(rows)} {kind} ({bad} not allowed, {len(stale)} stale allowlist entries)")
    return bad + len(stale)


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
            key = f"{_module_key(path, label)}({name})"
            unused.append((f"{os.path.relpath(path, ROOT)}:{line} {label}({name})", key))
    failures = _report("defaulted parameters no caller outside tests/ sets", unused, ALLOWED)
    referenced = _referenced_names()
    unreached = [
        (f"{os.path.relpath(path, ROOT)}:{line} {label}", _module_key(path, label))
        for path, line, name, label in _definitions()
        if name not in referenced
    ]
    failures += _report(
        "functions, classes and private constants no code outside tests/ references",
        unreached, ALLOWED_UNREFERENCED,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
