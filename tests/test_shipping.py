"""Executor package shipping: Python workers must import
stock_ops_spark even when the driver found it via a sys.path insert
from a foreign cwd (the grading-driver contract).  Found live: every
mapInPandas/UDF query raised ModuleNotFoundError when driven from
/tmp before shipping.py existed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from stock_ops_spark import shipping

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_contents_and_reuse(tmp_path, monkeypatch):
    pkg = tmp_path / "stock_ops_spark"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "operators" / "__init__.py").write_text("")
    (pkg / "operators" / "x.py").write_text("VALUE = 7\n")
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "junk.pyc").write_text("junk")
    monkeypatch.setattr(shipping, "_package_dir", lambda: str(pkg))

    z1 = shipping.package_zip()
    with zipfile.ZipFile(z1) as z:
        names = set(z.namelist())
    assert "stock_ops_spark/__init__.py" in names
    assert "stock_ops_spark/operators/x.py" in names
    assert not any("__pycache__" in n for n in names)
    # same tree state → same artifact, no rebuild
    assert shipping.package_zip() == z1
    # a source edit (newer mtime) → new key, new artifact
    os.utime(pkg / "operators" / "x.py")
    assert shipping.package_zip() != z1


def test_ensure_is_idempotent_per_context(spark):
    shipping.ensure_package_on_executors(spark)
    flag = getattr(spark.sparkContext, shipping._FLAG, False)
    assert flag
    shipping.ensure_package_on_executors(spark)  # second call: no-op


def test_python_worker_query_from_foreign_cwd(tmp_path):
    """End-to-end: a vanilla session created in a foreign cwd runs a
    mapInPandas registry query.  Subprocess so neither our cwd nor our
    imported modules leak in."""
    script = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "import __spark_entry__ as E\n"
        "n = E.queries()['q271_heavy_hitter_tokens']"
        "(spark, '/root/testdata/sf0.001').count()\n"
        "assert n == 15, n\n"
        "print('FOREIGN_CWD_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=240,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert "FOREIGN_CWD_OK" in out.stdout, out.stderr[-2000:]
