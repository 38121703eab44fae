"""Every `from swiftbeaver_spark... import name` in tools/*.py resolves,
and no tool or test hard-codes the checkout's absolute path.

The tools are scripts pytest never runs, so deleting or renaming a
program function would otherwise leave them with dead imports that
only fail when someone next runs the tool. Imports inside functions
count too: most tools import lazily.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _program_imports(path: pathlib.Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each swiftbeaver_spark import; name is
    None for a plain `import swiftbeaver_spark.x`."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "swiftbeaver_spark"
        ):
            out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.startswith("swiftbeaver_spark")
            ]
    return out


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_program_imports_resolve(path):
    missing = []
    for line, module, name in _program_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{path.name}:{line}: {module}.{name}")
    assert not missing, missing


# an absolute string literal put on sys.path or used as a subprocess cwd
_ABSOLUTE_ROOT = re.compile(r"""sys\.path\.insert\(\s*0\s*,\s*["']/|cwd\s*=\s*["']/""")


def test_no_hardcoded_checkout_path():
    """Scripts and tests locate the checkout from their own __file__: a
    hard-coded absolute checkout path makes a run from any other copy
    import and measure the program at that path instead. Flags this
    checkout's own path anywhere, and any absolute literal on sys.path
    or as a cwd."""
    needle = str(ROOT)
    offenders = []
    for d in ("tools", "tests"):
        for p in sorted((ROOT / d).rglob("*")):
            if not p.is_file() or "__pycache__" in p.parts:
                continue
            text = p.read_text(errors="replace")
            if needle in text or _ABSOLUTE_ROOT.search(text):
                offenders.append(str(p.relative_to(ROOT)))
    assert not offenders, offenders
