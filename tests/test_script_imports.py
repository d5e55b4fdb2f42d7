"""The scripts and bench.py import only names that exist.

They run by hand, outside the test suite, so a rename in the package (a
private helper, a moved twin) would otherwise surface only when someone
next runs the script. Each file is parsed, never executed: no ``main()``
runs and no Spark session starts.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL_MODULES = ("olr_cdc_oracle_with_dbz_spark", "bench")
SOURCES = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def _local_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every import of a repo module in ``path``, at
    any depth (imports inside functions included); name is None for a
    plain ``import module``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module.split(".")[0] in LOCAL_MODULES:
                out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None)
                for a in node.names
                if a.name.split(".")[0] in LOCAL_MODULES
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    """Whether ``from module import name`` (or ``import module``) would
    succeed: an attribute of the module, or else a submodule."""
    try:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            return True
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


@pytest.mark.parametrize(
    "path", SOURCES, ids=[os.path.relpath(p, REPO) for p in SOURCES]
)
def test_script_imports_resolve(path):
    imports = _local_imports(path)
    missing = [f"{m}:{n}" for m, n in imports if not _resolves(m, n)]
    assert not missing, f"{os.path.relpath(path, REPO)} imports {missing}"


def test_import_check_catches_a_renamed_private(tmp_path):
    """The check itself reddens on a dead name, e.g. a private helper
    renamed away under a script that still imports it."""
    script = tmp_path / "stale.py"
    script.write_text(
        "def main():\n"
        "    from olr_cdc_oracle_with_dbz_spark.streaming.materialize import (\n"
        "        ParquetUpsertTable,\n"
        "        _NO_SUCH_HELPER,\n"
        "    )\n"
    )
    imports = _local_imports(str(script))
    assert [n for m, n in imports if not _resolves(m, n)] == ["_NO_SUCH_HELPER"]
