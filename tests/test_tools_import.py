"""Every script in tools/ and `__spark_entry__.py` import cleanly.

A script that still names a deleted package function fails here, in
tier-1, instead of when someone next runs it. Each file is imported
under a name other than ``__main__``, so its ``main`` does not run.
The scripts import most package code inside functions, so every
absolute ``from x import y`` in a file is resolved too, wherever it
sits.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHECK = r"""
import ast, importlib, importlib.util, sys, traceback

paths, sys.argv = sys.argv[1:], sys.argv[:1]
failures = []
for i, path in enumerate(paths):
    try:
        spec = importlib.util.spec_from_file_location(f"_checked_{i}", path)
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        for node in ast.walk(ast.parse(open(path).read())):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if alias.name != "*" and not hasattr(mod, alias.name):
                    importlib.import_module(f"{node.module}.{alias.name}")
    except Exception:
        failures.append(f"{path}:\n{traceback.format_exc()}")
print("\n".join(failures))
sys.exit(1 if failures else 0)
"""


def test_tools_and_entry_import():
    scripts = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
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
