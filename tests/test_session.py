"""Package shipping: one zip per source version, registered once per
SparkContext; and the session's call-site capture default."""

from __future__ import annotations

import os
import zipfile

from jgtextrank_spark.session import package_zip, ship_package


def test_ship_package_registers_the_zip_once(spark):
    sc = spark.sparkContext
    path = ship_package(spark)  # the session fixture has shipped it already
    assert ship_package(spark) == path == package_zip()
    assert sc._python_includes.count(os.path.basename(path)) == 1
    with zipfile.ZipFile(path) as zf:
        assert "jgtextrank_spark/corpus.py" in zf.namelist()


def test_call_site_capture_is_off(spark):
    """``get_spark`` turns PySpark's per-call call-site capture off, and
    PySpark has read it so: Column calls neither walk the stack nor
    import IPython."""
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    assert not is_debugging_enabled()
