"""The worker daemon's zip importer: unchanged archives are not re-read on
``importlib.invalidate_caches()``, changed ones are; and every session's
Python workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile

import pandas as pd

from eoreader_spark.worker_daemon import StatZipImporter


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_importer_skips_unchanged_and_rereads_changed(tmp_path, monkeypatch):
    z = tmp_path / "mods.zip"
    _write_zip(z, {"wd_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(z))
    imp = StatZipImporter(str(z))
    monkeypatch.setitem(sys.path_importer_cache, str(z), imp)
    for name in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("wd_probe_a").X == 1
    files = imp._files
    importlib.invalidate_caches()
    assert imp._files is files  # directory not re-read

    _write_zip(z, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert imp._files is not files
    assert importlib.import_module("wd_probe_b").Y == 2


def test_session_workers_run_under_daemon(spark, tmp_path):
    late = tmp_path / "wd_late.zip"
    _write_zip(late, {"wd_late_mod": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(late))

    def probe(batches):
        import sys

        import wd_late_mod

        zips = [type(v) for k, v in sys.path_importer_cache.items()
                if k.endswith("pyspark.zip")]
        for _ in batches:
            pass
        yield pd.DataFrame({
            "main": [sys.modules["__main__"].__spec__.name],
            "importer": [",".join(t.__name__ for t in zips)],
            "late": [wd_late_mod.VALUE],
        })

    rows = (spark.range(1, numPartitions=1)
            .mapInPandas(probe, "main string, importer string, late int")
            .collect())
    assert [tuple(r) for r in rows] == [
        ("eoreader_spark.worker_daemon", "StatZipImporter", 42)]
