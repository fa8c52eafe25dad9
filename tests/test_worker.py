"""trck_spark.worker.drop_spark_zip_importers: the per-task importer
trim that keeps PySpark's per-task ``importlib.invalidate_caches()`` from
re-reading every Spark-shipped zip archive."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from trck_spark.worker import drop_spark_zip_importers


def _zip(path, modname: str) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{modname}.py", "VALUE = 42\n")
        z.writestr("pkg/__init__.py", "")
    return str(path)


@pytest.fixture
def fabricated(tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    root = tmp_path / "userFiles-1"
    spark_zip = _zip(tmp_path / "lib" / "pyspark.zip", "trck_fake_shipped")
    jar = _zip(tmp_path / "jars" / "spark-core.jar", "trck_fake_jar")
    user_zip = _zip(root / "deps.zip", "trck_fake_user")
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    entries = {
        spark_zip: zipimport.zipimporter(spark_zip),
        os.path.join(spark_zip, "pkg"): zipimport.zipimporter(
            os.path.join(spark_zip, "pkg")
        ),
        jar: zipimport.zipimporter(jar),
        user_zip: zipimport.zipimporter(user_zip),
    }
    sys.path_importer_cache.update(entries)
    yield spark_zip, jar, user_zip
    for p in entries:
        sys.path_importer_cache.pop(p, None)
    for m in ("trck_fake_shipped", "trck_fake_user"):
        sys.modules.pop(m, None)


def test_drops_spark_archives_keeps_sparkfiles_root(fabricated):
    spark_zip, jar, user_zip = fabricated
    assert drop_spark_zip_importers() >= 3
    cache = sys.path_importer_cache
    assert spark_zip not in cache
    assert os.path.join(spark_zip, "pkg") not in cache
    assert jar not in cache
    assert isinstance(cache[user_zip], zipimport.zipimporter)
    # idempotent: nothing left to drop, the user archive stays
    assert drop_spark_zip_importers() == 0
    assert user_zip in cache


def test_dropped_archive_still_importable(fabricated, monkeypatch):
    spark_zip, _jar, user_zip = fabricated
    monkeypatch.syspath_prepend(spark_zip)
    monkeypatch.syspath_prepend(user_zip)
    drop_spark_zip_importers()
    importlib.invalidate_caches()
    assert importlib.import_module("trck_fake_shipped").VALUE == 42
    assert importlib.import_module("trck_fake_user").VALUE == 42
    # the import rebuilt the dropped importer; the next trim drops it
    assert spark_zip in sys.path_importer_cache
    assert drop_spark_zip_importers() >= 1
    assert spark_zip not in sys.path_importer_cache
    assert user_zip in sys.path_importer_cache


def test_off_worker_drops_everything_zipped(tmp_path, monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_root_directory", None)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    z = _zip(tmp_path / "a.zip", "trck_fake_a")
    sys.path_importer_cache[z] = zipimport.zipimporter(z)
    try:
        drop_spark_zip_importers()
        assert z not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(z, None)
