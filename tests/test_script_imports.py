"""Every engine name a kept script imports must still exist.

The scripts in tools/, bench.py and __spark_entry__.py are not imported by
the rest of the suite, so a deleted engine helper would only surface when
someone next runs the script. This walks each script's AST, imports inside
functions included, and resolves every ``nzgmdb_spark`` import without
starting Spark; any other import must be an installed module or a sibling
tools/ script.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"
SCRIPTS = sorted(TOOLS.glob("*.py")) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
TOOL_STEMS = {p.stem for p in TOOLS.glob("*.py")}


def _imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for each imported name; name is None for ``import m``."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out.extend((a.name, None) for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out.extend((node.module, a.name) for a in node.names)
    return out


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_script_imports_resolve(script):
    missing = []
    for module, name in _imports(script):
        top = module.split(".")[0]
        if top == "nzgmdb_spark":
            if importlib.util.find_spec(module) is None:
                missing.append(module)
            elif name is not None:
                mod = importlib.import_module(module)
                if not hasattr(mod, name) and (
                    importlib.util.find_spec(f"{module}.{name}") is None
                ):
                    missing.append(f"{module}.{name}")
        elif top not in TOOL_STEMS and importlib.util.find_spec(top) is None:
            # neither installed nor a sibling script: a removed tools/ script
            missing.append(module)
    assert not missing, f"{script.name} imports names that no longer exist: {missing}"
