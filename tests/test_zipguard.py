"""The stat-guarded ``zipimporter.invalidate_caches`` (``_zipguard``): an
unchanged archive is not re-read, a rewritten one is, and the guard is
installed in Python workers only, never in the driver."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from aus_land_data_etl_spark import _zipguard
from aus_land_data_etl_spark.functions.text import extract_text_udf


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_not_reread_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # restored at teardown: the guard must not leak into other tests
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _zipguard.install()
    try:
        assert importlib.import_module("zg_first").X == 1
        importlib.invalidate_caches()  # first guarded call learns the stamp

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory",
            lambda p: reads.append(p) or read_directory(p),
        )
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zg_first.py": "X = 1\n", "zg_second.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zg_second").Y == 2
    finally:
        for mod in ("zg_first", "zg_second"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)


def test_guard_installed_in_worker_not_driver(spark):
    """Unpickling ``extract_text_udf`` imports the engine in the worker,
    which installs the guard; a second UDF in the same task reports it."""

    @F.pandas_udf("string")
    def worker_invalidate_caches(s: pd.Series) -> pd.Series:
        import zipimport

        owner = zipimport.zipimporter.invalidate_caches.__module__
        return s.map(lambda _: owner)

    df = spark.createDataFrame([(b"<p>a &amp; b</p>",)], "html binary")
    row = df.coalesce(1).select(
        extract_text_udf("html").alias("text"),
        worker_invalidate_caches("html").alias("owner"),
    ).collect()[0]
    assert row["text"] == "a & b"
    assert row["owner"] == "aus_land_data_etl_spark._zipguard"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
