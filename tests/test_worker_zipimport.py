"""Lazy zipimport invalidation in PySpark workers (worker_zipimport).

The semantics checks run in a fresh interpreter each, so the patched
``zipimporter`` never leaks into this pytest process.  A fake
``pyspark.worker`` entry in ``sys.modules`` makes that interpreter look like
a worker to the installer.
"""

import os
import subprocess
import sys
import textwrap

import pandas as pd
from pyspark.sql import functions as F

from set_sketch_paper_spark import worker_zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = (3, 10) <= sys.version_info[:2] < (3, 13)

_PRELUDE = """
import importlib, os, sys, types, zipfile, zipimport

def write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)

def as_worker():
    sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
"""


def _run(tmp_path, body):
    code = _PRELUDE + textwrap.dedent(body)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO}, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    return proc.stdout.split()


def test_rewritten_zip_imports_after_invalidation(tmp_path):
    out = _run(tmp_path, """
        as_worker()
        from set_sketch_paper_spark import worker_zipimport
        print(worker_zipimport.is_active())
        archive = os.path.abspath("shipped.zip")
        write_zip(archive, {"z_keep.py": "V = 1", "z_removed.py": "V = 2"})
        sys.path.insert(0, archive)
        import z_keep
        write_zip(archive, {"z_keep.py": "V = 1", "z_added.py": "V = 3"})
        importlib.invalidate_caches()
        import z_added
        print(z_added.V)
        try:
            import z_removed
        except ImportError:
            print("removed-gone")
    """)
    assert out == [str(EAGER), "3", "removed-gone"]


def _count_reads_body(worker):
    return f"""
        if {worker}:
            as_worker()
        import set_sketch_paper_spark
        archive = os.path.abspath("pkgs.zip")
        write_zip(archive, {{
            "zp/__init__.py": "", "zp/sub/__init__.py": "",
            "zp/sub/leaf.py": "", "zp/sub/other.py": "",
        }})
        sys.path.insert(0, archive)
        import zp.sub.leaf
        importers = [imp for key, imp in sys.path_importer_cache.items()
                     if isinstance(imp, zipimport.zipimporter) and key.startswith(archive)]
        reads = []
        read_directory = zipimport._read_directory
        def counting(path):
            reads.append(path)
            return read_directory(path)
        zipimport._read_directory = counting
        for _ in range(5):
            importlib.invalidate_caches()
        import zp.sub.other
        print(len(importers), len(reads))
    """


def test_many_invalidations_read_the_archive_once(tmp_path):
    importers, reads = map(int, _run(tmp_path, _count_reads_body(worker=True)))
    assert importers == 3
    assert reads == 1


def test_unpatched_interpreter_rereads_per_importer(tmp_path):
    # the cost the backport removes; also shows the counter above is live
    importers, reads = map(int, _run(tmp_path, _count_reads_body(worker=False)))
    assert reads == (5 * importers if EAGER else 1)


def test_install_is_idempotent(tmp_path):
    out = _run(tmp_path, """
        as_worker()
        from set_sketch_paper_spark import worker_zipimport
        before = (zipimport.zipimporter.__dict__.get("_files"),
                  zipimport.zipimporter.invalidate_caches)
        print(worker_zipimport.install())
        after = (zipimport.zipimporter.__dict__.get("_files"),
                 zipimport.zipimporter.invalidate_caches)
        print(before == after)
    """)
    assert out == [str(EAGER), "True"]


def test_driver_and_new_pythons_left_untouched(tmp_path):
    out = _run(tmp_path, """
        original = dict(vars(zipimport.zipimporter))
        from set_sketch_paper_spark import worker_zipimport
        print(worker_zipimport.install(), dict(vars(zipimport.zipimporter)) == original)
        as_worker()
        sys.version_info = (3, 13, 0, "final", 0)
        print(worker_zipimport.install(), dict(vars(zipimport.zipimporter)) == original)
    """)
    assert out == ["False", "True", "False", "True"]


def test_spark_workers_run_with_lazy_invalidation(spark):
    # The UDF pickles a reference to a package module, so the worker imports
    # the package, which installs the backport.
    @F.pandas_udf("boolean")
    def lazy_active(x: pd.Series) -> pd.Series:
        return pd.Series([worker_zipimport.is_active()] * len(x))

    rows = spark.range(0, 8, 1, 4).select(lazy_active("id").alias("a")).collect()
    assert [r.a for r in rows] == [EAGER] * 8
    assert not worker_zipimport.is_active()  # the driver keeps the stock importer
