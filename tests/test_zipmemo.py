"""Zip-directory invalidation memo (scotty_window_processor_spark._zipmemo):
``importlib.invalidate_caches()`` re-reads an archive only when it
changed, and only Spark Python workers install the memo."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from scotty_window_processor_spark import _zipmemo
from scotty_window_processor_spark.operators import TumblingWindow, WindowMeasure

from spark_fixtures import get_spark


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "memo_mods.zip"
    _write_zip(archive, {"memo_mod_a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _zipmemo._invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("memo_mod_a").X == 1
        importlib.invalidate_caches()  # the memo's first read of every archive

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read_directory(a))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        # a rewritten archive is read again, and its new member imports
        _write_zip(archive, {"memo_mod_a.py": "X = 1\n", "memo_mod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("memo_mod_b").Y == 2
    finally:
        sys.modules.pop("memo_mod_a", None)
        sys.modules.pop("memo_mod_b", None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates zip caches lazily")
def test_memo_installed_in_workers_only():
    spark = get_spark()
    window = TumblingWindow(WindowMeasure.TIME, 60_000, window_id=1)

    def report(batches):
        import zipimport

        import pandas as pd

        for pdf in batches:
            # running an engine object in this worker imported the package
            assert window.size == 60_000
            method = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame({"m": [f"{method.__module__}.{method.__qualname__}"] * len(pdf)})

    got = {r["m"] for r in spark.range(8, numPartitions=4).mapInPandas(report, "m string").collect()}
    assert got == {"scotty_window_processor_spark._zipmemo._invalidate_caches"}
    assert zipimport.zipimporter.invalidate_caches is _zipmemo._eager
