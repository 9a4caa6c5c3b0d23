"""Python workers re-read a zip archive on ``sys.path`` only when it changed
(``worker_imports.py``): an unchanged archive is not re-read, a rewritten one
is, and the wrapper is in place in engine workers but not on the driver."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from exposure_notifications_private_analytics_ingestion_spark import worker_imports
from exposure_notifications_private_analytics_ingestion_spark.streaming.ingest_stream import (
    _new_out,
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"enpa_zip_mod_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_imports.invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    for name in ("enpa_zip_mod_a", "enpa_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import enpa_zip_mod_a

    assert enpa_zip_mod_a.X == 1
    importlib.invalidate_caches()  # the first call reads and stamps

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"enpa_zip_mod_a": "X = 1\n", "enpa_zip_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import enpa_zip_mod_b

    assert enpa_zip_mod_b.Y == 2
    sys.path_importer_cache.pop(archive, None)


def test_engine_workers_run_the_wrapper_and_the_driver_does_not(spark):
    engine_fn = _new_out  # as in the assembler: unpickled by reference, so the worker imports the package

    def probe(batches):
        fn = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "fn": [f"{fn.__module__}.{fn.__qualname__}"] * b.num_rows,
                    "engine": [engine_fn.__module__] * b.num_rows,
                    "pid": [os.getpid()] * b.num_rows,
                }
            )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInArrow(probe, "fn string, engine string, pid long")
        .collect()
    )
    assert {r["fn"] for r in rows} == {
        "exposure_notifications_private_analytics_ingestion_spark.worker_imports.invalidate_if_changed"
    }
    assert os.getpid() not in {r["pid"] for r in rows}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
