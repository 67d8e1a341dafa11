"""Package shipping: one zip per source version, registered once per
SparkContext."""

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
