"""Every top-level import in ``kwack_spark/`` is used by its module.

No linter is available to every checkout, so this ``ast`` scan keeps dead
imports out.  A name counts as used when it is read anywhere in the module
or listed in ``__all__``; an import kept for its side effect says so with
``# noqa: ...F401`` (the family imports at the end of ``plans/pipeline.py``)."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kwack_spark"


def _unused_imports(src: str) -> list[tuple[int, str]]:
    lines = src.splitlines()
    tree = ast.parse(src)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in node.value.elts}
    unused = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        line = lines[node.lineno - 1]
        if getattr(node, "module", None) == "__future__" or ("noqa" in line and "F401" in line):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name not in used:
                unused.append((node.lineno, name))
    return unused


def test_no_unused_top_level_imports():
    found = [
        f"{p.relative_to(PKG.parent)}:{line}: {name}"
        for p in sorted(PKG.rglob("*.py"))
        for line, name in _unused_imports(p.read_text())
    ]
    assert found == []


def test_scan_flags_an_unused_import():
    src = (
        "import os\nimport sys\nimport json  # noqa: F401\n"
        "from typing import Any\n__all__ = ['Any']\nprint(sys.argv)\n"
    )
    assert _unused_imports(src) == [(1, "os")]
