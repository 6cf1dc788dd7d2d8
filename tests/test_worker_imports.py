"""What importing the package does to a Python worker: import-cache
invalidation from a zip archive, as PySpark's workers do it at the start of
every task (``importlib.invalidate_caches()``), and the frozen import heap
that the daemon's per-task ``gc.collect()`` no longer scans."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import ocr_project_spark  # noqa: F401  (installs the stat-checked method)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["za"])
    saved_path = list(sys.path)
    stock = zipimport._read_directory
    reads: list[str] = []

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    try:
        sys.path.insert(0, archive)
        import za

        assert za.NAME == "za"
        zipimport._read_directory = counting
        for _ in range(10):
            importlib.invalidate_caches()
        assert reads == []

        # A rewritten archive is read again and its new module imports.
        _write_zip(archive, ["za", "zb"])
        importlib.invalidate_caches()
        import zb

        assert zb.NAME == "zb"
        assert len(reads) == 1

        # A deleted archive drops its directory without raising.
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        zipimport._read_directory = stock
        sys.path[:] = saved_path
        for name in ("za", "zb"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _reads_in_worker(batches):
    """mapInPandas UDF: count this worker's zip directory reads from its
    first task on, and report (pid, reads so far)."""
    import zipimport

    import pandas as pd

    import ocr_project_spark

    counts = getattr(ocr_project_spark, "_test_zip_reads", None)
    if counts is None:
        counts = ocr_project_spark._test_zip_reads = [0]
        stock = zipimport._read_directory

        def counting(path):
            counts[0] += 1
            return stock(path)

        zipimport._read_directory = counting
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "reads": [counts[0]]})


def test_worker_tasks_do_not_reread_archives(spark):
    """Each Python task starts with importlib.invalidate_caches(); after a
    worker's first task that must not re-read pyspark.zip (or any other
    archive on the workers' path)."""
    df = spark.range(0, 16, 1, 16)
    schema = "pid long, reads long"

    def run():
        rows = df.mapInPandas(_reads_in_worker, schema).collect()
        seen: dict[int, list[int]] = {}
        for r in rows:
            seen.setdefault(r.pid, []).append(r.reads)
        return seen

    first, second = run(), run()
    shared = set(first) & set(second)
    assert shared, (first, second)
    for pid in shared:
        counts = first[pid] + second[pid]
        assert max(counts) == min(counts), (pid, first[pid], second[pid])


def _heap_in_worker(batches):
    """mapInPandas UDF: report (pid, frozen objects, live objects) of this
    worker after it imported the package."""
    import gc

    import pandas as pd

    import ocr_project_spark  # noqa: F401

    for _ in batches:
        pass
    yield pd.DataFrame(
        {
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "live": [len(gc.get_objects())],
        }
    )


def test_worker_import_heap_is_frozen(spark):
    """A worker freezes its import heap (pyspark.worker, pandas, pyarrow)
    once, so the daemon's full collection after each task scans only a
    small remainder."""
    rows = (
        spark.range(0, 16, 1, 16)
        .mapInPandas(_heap_in_worker, "pid long, frozen long, live long")
        .collect()
    )
    assert rows
    for r in rows:
        assert r.frozen > 20_000, r
        assert r.live < r.frozen // 10, r


def test_driver_import_does_not_freeze():
    """Outside a PySpark worker the import freezes nothing and does not
    pull in pandas."""
    code = (
        "import gc, sys; import ocr_project_spark; "
        "print(gc.get_freeze_count(), 'pandas' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out == ["0", "False"], out
