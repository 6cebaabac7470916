"""get_spark ships the package to the Python workers with addPyFile,
once per SparkContext."""
import os
import zipfile

from featuretools_spark.session import PACKAGE_ZIP, get_spark, ship_package


class _FakeContext:
    """The two SparkContext members ship_package touches."""

    def __init__(self, includes=()):
        self._python_includes = list(includes)
        self.added = []

    def addPyFile(self, path):
        self.added.append(path)
        self._python_includes.append(os.path.basename(path))


def test_ship_package_adds_the_zip_once():
    sc = _FakeContext()
    ship_package(sc)
    assert len(sc.added) == 1
    assert os.path.basename(sc.added[0]) == PACKAGE_ZIP
    with zipfile.ZipFile(sc.added[0]) as z:
        names = set(z.namelist())
    assert {"featuretools_spark/__init__.py", "featuretools_spark/ewm.py",
            "featuretools_spark/primitives/transform.py"} <= names
    ship_package(sc)
    assert len(sc.added) == 1


def test_ship_package_skips_an_already_shipped_zip():
    sc = _FakeContext([PACKAGE_ZIP])
    ship_package(sc)
    assert sc.added == []


def test_get_spark_ships_once_per_context(spark):
    assert spark.sparkContext._python_includes.count(PACKAGE_ZIP) == 1
    again = get_spark("ft_spark_tests", master="local[4]",
                      shuffle_partitions=4)
    assert again.sparkContext is spark.sparkContext
    assert spark.sparkContext._python_includes.count(PACKAGE_ZIP) == 1
