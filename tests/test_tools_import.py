"""Every script in tools/, every module of perfbench/ and
`__spark_entry__.py` import cleanly.

A script that still names a deleted package function fails here, in
tier-1, instead of when someone next runs it or the benchmark runs.
Each file is imported under a name other than ``__main__``, so its
``main`` does not run, with its own directory first on ``sys.path``,
as when it runs as a script. The scripts import most package code
inside functions, so every absolute ``from x import y`` in a file is
resolved too, wherever it sits.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHECK = r"""
import ast, importlib, importlib.util, os, sys, traceback

paths, sys.argv = sys.argv[1:], sys.argv[:1]
failures = []
for i, path in enumerate(paths):
    sys.path.insert(0, os.path.dirname(path))
    try:
        spec = importlib.util.spec_from_file_location(f"_checked_{i}", path)
        # registered first, as an import does: a dataclass looks its
        # module up in sys.modules
        sys.modules[spec.name] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sys.modules[spec.name])
        for node in ast.walk(ast.parse(open(path).read())):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if alias.name != "*" and not hasattr(mod, alias.name):
                    importlib.import_module(f"{node.module}.{alias.name}")
    except Exception:
        failures.append(f"{path}:\n{traceback.format_exc()}")
    finally:
        sys.path.pop(0)
print("\n".join(failures))
sys.exit(1 if failures else 0)
"""


def test_tools_and_entry_import():
    scripts = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    scripts += sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    scripts.append(os.path.join(REPO, "__spark_entry__.py"))
    # the check clears sys.argv first: a script that reads it at import
    # time sees no arguments
    proc = subprocess.run(
        [sys.executable, "-c", _CHECK, *scripts],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_verify_oracle_import_leaves_oracle_dir_unset():
    """Importing ``tools/verify_oracle.py`` must not read ``sys.argv``
    nor export the oracle table dir: a program run as ``x out.json``
    that imports it would otherwise build its oracles from
    ``out.json``."""
    code = (
        "import importlib.util, os, sys\n"
        "path = sys.argv[1]\n"
        "sys.argv = ['x', 'out.json']\n"
        "spec = importlib.util.spec_from_file_location('_vo', path)\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "print(os.environ.get('SPARK_GRAFT_ORACLE_SF_DIR'))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_ORACLE_SF_DIR"}
    proc = subprocess.run(
        [sys.executable, "-c", code, os.path.join(REPO, "tools", "verify_oracle.py")],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip().splitlines()[-1] == "None"
