"""The measurement scripts under ``tools/`` and ``bench.py`` import only
names that exist: every ``from etl_project_spark… import x``,
``from tools… import x`` and ``from bench import x`` resolves.

The scripts are parsed, never imported: some run top-level code on
import, and none of this needs Spark."""

from __future__ import annotations

import ast
import glob
import os
from pathlib import Path

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ROOTS = ("etl_project_spark", "tools", "bench")
_SCRIPTS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def _module_file(dotted: str) -> str | None:
    base = os.path.join(REPO, *dotted.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_names(path: str) -> set[str]:
    """Names a module binds at its top level, including inside top-level
    ``if``/``try`` blocks, but not inside functions or classes."""
    names: set[str] = set()
    todo = list(ast.parse(Path(path).read_text()).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                todo.extend(getattr(node, field, []))
    return names


def _unresolved(script: str) -> list[str]:
    bad = []
    for node in ast.walk(ast.parse(Path(script).read_text())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names if a.name.split(".")[0] in _ROOTS]
            bad += [f"import {m}" for m in mods if _module_file(m) is None]
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.level or node.module.split(".")[0] not in _ROOTS:
                continue
            path = _module_file(node.module)
            if path is None:
                bad.append(f"from {node.module} (no such module)")
                continue
            names = _module_names(path)
            for a in node.names:
                sub = _module_file(f"{node.module}.{a.name}")
                if a.name not in names and sub is None:
                    bad.append(f"from {node.module} import {a.name}")
    return bad


@pytest.mark.parametrize("script", _SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_tool_imports_resolve(script):
    assert _unresolved(script) == []


def test_unresolved_import_is_reported(tmp_path):
    """The walk catches a name its module no longer defines."""
    script = tmp_path / "probe.py"
    script.write_text(
        "def main():\n"
        "    from etl_project_spark.session import query_scope, no_such_name\n"
        "    from tools.compare_frames import canon\n"
        "    from bench import host_calib\n"
        "    import tools.no_such_tool\n"
    )
    assert _unresolved(str(script)) == [
        "from etl_project_spark.session import no_such_name",
        "import tools.no_such_tool",
    ]
