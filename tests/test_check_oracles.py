"""``scripts/check_oracles.py`` checks the checkout it sits in: it puts its
own repository root first on ``sys.path``, so the ``__spark_entry__`` and
package it imports are the ones next to it. No Spark session.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "check_oracles.py"

_PROBE = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("check_oracles", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
print(mod.entrymod.__file__)
print(sys.modules["ocr_project_spark.session"].__file__)
"""


def test_imports_the_entry_module_of_its_own_checkout(tmp_path):
    checkout = tmp_path / "checkout"
    (checkout / "scripts").mkdir(parents=True)
    shutil.copy(SCRIPT, checkout / "scripts" / "check_oracles.py")
    (checkout / "__spark_entry__.py").write_text("STUB = True\n")
    pkg = checkout / "ocr_project_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "session.py").write_text("def build_session(**kw):\n    raise AssertionError\n")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()

    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(checkout / "scripts" / "check_oracles.py")],
        cwd=elsewhere,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out == [
        str((checkout / "__spark_entry__.py").resolve()),
        str((pkg / "session.py").resolve()),
    ]
