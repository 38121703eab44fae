"""Every program def is reached from what a user runs.

The program is what the driver contract (`__spark_entry__.py`), the CLI
(`swiftbeaver_spark/__main__.py`), `bench.py` and the perfbench workloads
(`perfbench/*.py`) reach. A def that only tests or tools call is test
code: it belongs in tests/ (an oracle or fixture) or nowhere.

The check is by name, over the AST, with no import and no Spark:

- every name in a root file is reached;
- every name in a module-level statement of a program module other than
  a def, a class or an import is reached (registrations, constants,
  `__all__`);
- a def whose name is reached brings in every name in its body,
  decorators and defaults; a reached class also brings in its class
  body and its dunder methods, and its other methods are reached by
  name like any def;
- `from m import a as b` reaches `a` once `b` is reached.

A name is an `ast.Name`, an attribute, an import alias, or a string
constant that is an identifier (`getattr`, UDF registration names).
Name-based reach over-approximates: two defs that share a name are
reached together. The check can miss dead code, never flag live code
that is called by name.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

ROOT_FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "swiftbeaver_spark" / "__main__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]
PROGRAM_FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "swiftbeaver_spark").rglob("*.py")),
]

# "path:qualname" -> why the def stays although nothing above reaches it
ALLOWLIST: dict[str, str] = {}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name.split(".")[0])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _collect(rel: str, tree: ast.Module):
    """(defs as (qualname, name, names it reaches), module-level names,
    import alias -> imported names) of one module."""
    defs, seeds, aliases = [], set(), {}
    for n in ast.walk(tree):
        if isinstance(n, ast.alias) and n.asname:
            aliases.setdefault(n.asname, set()).add(n.name.split(".")[-1])
    for stmt in tree.body:
        if isinstance(stmt, ast.ClassDef):
            methods = [s for s in stmt.body if isinstance(s, _DEFS)]
            head = set()
            for n in stmt.decorator_list + stmt.bases + [k.value for k in stmt.keywords]:
                head |= _names(n)
            for n in stmt.body:
                if n not in methods or _is_dunder(n.name):
                    head |= _names(n)
            defs.append((f"{rel}:{stmt.name}", stmt.name, head))
            defs += [
                (f"{rel}:{stmt.name}.{m.name}", m.name, _names(m))
                for m in methods
                if not _is_dunder(m.name)
            ]
        elif isinstance(stmt, _DEFS):
            defs.append((f"{rel}:{stmt.name}", stmt.name, _names(stmt)))
        elif not isinstance(stmt, _IMPORTS):
            seeds |= _names(stmt)
    return defs, seeds, aliases


def unreached_defs() -> list[str]:
    """`path:qualname` of every program def the roots do not reach."""
    reached: set[str] = set()
    for p in ROOT_FILES:
        reached |= _names(ast.parse(p.read_text(), str(p)))
    defs, aliases = [], {}
    for p in PROGRAM_FILES:
        d, seeds, a = _collect(str(p.relative_to(ROOT)), ast.parse(p.read_text(), str(p)))
        if p not in ROOT_FILES:
            defs += d
        reached |= seeds
        for k, v in a.items():
            aliases.setdefault(k, set()).update(v)
    pending = defs
    while True:
        for name in list(reached):
            reached |= aliases.get(name, set())
        live = [d for d in pending if d[1] in reached]
        if not live:
            return sorted(qualname for qualname, _, _ in pending)
        pending = [d for d in pending if d[1] not in reached]
        for _, _, uses in live:
            reached |= uses


def test_every_program_def_is_reached():
    unreached = unreached_defs()
    stale = [e for e, why in ALLOWLIST.items() if e not in unreached or not why.strip()]
    assert not stale, f"allowlist entries now reached or without a reason: {stale}"
    missing = [d for d in unreached if d not in ALLOWLIST]
    assert not missing, (
        f"{len(missing)} program defs are reached only from tests or tools; "
        "move them into tests/ or delete them:\n" + "\n".join(missing)
    )
