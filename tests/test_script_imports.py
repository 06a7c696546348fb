"""Every ``dblink_spark`` name the scripts import must exist.

``bench.py`` runs each probe inside ``try/except`` so one failing probe
cannot cost the payload line, which also means a probe importing a removed
function disappears without an error. The scripts under ``tools/``,
``examples/`` and ``erbench/`` are not imported by any test either. This
parses them and resolves each import against the package.

It also checks that every ``tools/<name>.py`` the documentation, the tests,
the package and the scripts cite still exists, so a deleted script leaves
no dangling citation. The history files (``CHANGES.md``, ``ROADMAP.md``,
``VERDICT.md``, ``ADVICE.md``, ``BENCH_*`` artifacts) record what once
existed and are not scanned.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    [os.path.join(ROOT, "bench.py")]
    + [
        p
        for pattern in ("tools/*.py", "examples/*.py", "erbench/*.py")
        for p in glob.glob(os.path.join(ROOT, pattern))
    ]
)

#: files whose ``tools/<name>.py`` citations must resolve
CITING = sorted(
    {os.path.join(ROOT, "README.md"), os.path.join(ROOT, "COVERAGE.md")}
    | set(SCRIPTS)
    | {
        p
        for d in ("docs", "tests", "dblink_spark")
        for ext in ("py", "md")
        for p in glob.glob(os.path.join(ROOT, d, "**", f"*.{ext}"), recursive=True)
    }
)
TOOLS_CITATION = re.compile(r"(?<![\w/.-])tools/\w+\.py")


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) of every absolute import from ``dblink_spark``;
    ``name`` is None for a plain ``import dblink_spark.x``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "dblink_spark":
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == "dblink_spark"
            ]
    return out


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.relpath(p, ROOT) for p in SCRIPTS]
)
def test_package_imports_resolve(path):
    missing = []
    for line, module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"line {line}: from {module} import {name}")
    assert not missing, missing


def test_scripts_are_found():
    names = {os.path.relpath(p, ROOT) for p in SCRIPTS}
    assert {"bench.py", "erbench/run.py", "tools/driver_sim.py"} <= names


def test_cited_tools_scripts_exist():
    dangling = []
    for path in CITING:
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                dangling += [
                    f"{os.path.relpath(path, ROOT)}:{lineno}: {cited}"
                    for cited in TOOLS_CITATION.findall(line)
                    if not os.path.exists(os.path.join(ROOT, cited))
                ]
    assert not dangling, dangling
