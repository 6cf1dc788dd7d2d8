"""``scripts/make_dist.py`` builds the spark-submit ``--py-files`` archive:
every package ``.py`` file and nothing from ``__pycache__``, and the jobs
import from the archive alone. Runs in a temporary checkout, so the
repository's own ``dist/`` is never written. No Spark session.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ocr_project_spark"
JOBS = ("extract", "dedup", "curate")

_PROBE = """
import importlib, sys
sys.path.insert(0, sys.argv[1])
for job in sys.argv[2:]:
    print(importlib.import_module(f"ocr_project_spark.jobs.{job}").__file__)
"""


def test_archive_holds_the_package_and_imports_the_jobs(tmp_path):
    checkout = tmp_path / "checkout"
    shutil.copytree(
        ROOT / PACKAGE,
        checkout / PACKAGE,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    # a stray source file under __pycache__ must not ship
    (checkout / PACKAGE / "__pycache__").mkdir()
    (checkout / PACKAGE / "__pycache__" / "stray.py").write_text("")
    (checkout / "scripts").mkdir()
    shutil.copy(ROOT / "scripts" / "make_dist.py", checkout / "scripts")

    archive = subprocess.run(
        [sys.executable, str(checkout / "scripts" / "make_dist.py")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert archive == str(checkout / "dist" / f"{PACKAGE}.zip")

    expected = {
        p.relative_to(checkout).as_posix()
        for p in (checkout / PACKAGE).rglob("*.py")
        if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(archive) as zf:
        names = set(zf.namelist())
    assert f"{PACKAGE}/jobs/extract.py" in expected
    assert names == expected

    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    files = subprocess.run(
        [sys.executable, "-c", _PROBE, archive, *JOBS],
        cwd=elsewhere,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert files == [os.path.join(archive, PACKAGE, "jobs", f"{j}.py") for j in JOBS]
