"""Every import of the engine package and of ``media_codecs`` resolves,
including the ones inside function bodies (a dangling one there only breaks
when that code runs).

AST-walks both packages, the top-level scripts, ``scripts/``, ``perfbench/``
and ``tests/``; for each ``import``/``from … import`` of
``azure_workflow_for_kml_satellite_spark[...]`` or ``media_codecs[...]`` it
imports the module and checks that every imported name exists. A second
check keeps the engine free of any ``media_codecs`` import. No JVM is
started.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "azure_workflow_for_kml_satellite_spark"
MEDIA = "media_codecs"


def _sources() -> list[Path]:
    files = sorted((REPO / PKG).rglob("*.py"))
    files += sorted((REPO / MEDIA).rglob("*.py"))
    files += sorted(REPO.glob("*.py"))
    for d in ("scripts", "perfbench", "tests"):
        files += sorted((REPO / d).rglob("*.py"))
    return files


def _package_imports(path: Path, packages=(PKG, MEDIA)):
    """(line, module, [names]) for each import of ``packages`` in ``path``;
    ``names`` is empty for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in packages:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in packages:
                yield node.lineno, node.module, [a.name for a in node.names]


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule not yet loaded as an attribute
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_package_import_resolves():
    checked = 0
    broken = []
    for path in _sources():
        where = path.relative_to(REPO)
        for line, module, names in _package_imports(path):
            checked += 1
            try:
                missing = [n for n in names if not _resolves(module, n)]
            except ImportError as e:
                broken.append(f"{where}:{line}: {module}: {e}")
                continue
            if missing:
                broken.append(f"{where}:{line}: {module} has no {', '.join(missing)}")
    assert checked > 100  # the walk found the repo's imports
    assert not broken, "\n".join(broken)


def test_engine_does_not_import_media_codecs():
    engine = sorted((REPO / PKG).rglob("*.py")) + [REPO / "__spark_entry__.py"]
    hits = [
        f"{path.relative_to(REPO)}:{line}: {module}"
        for path in engine
        for line, module, _ in _package_imports(path, (MEDIA,))
    ]
    assert not hits, "\n".join(hits)
