"""The zipimport guard: Python workers keep the parsed directory of an
unchanged archive across ``importlib.invalidate_caches()`` (which Spark
calls at the start of every Python task), and re-read a changed one."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pytest

from cae_polars_tools_spark import zipimport_guard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zipimport caches lazily; no guard",
)


def write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    write_zip(archive, {"zg_mod_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("zg_mod_a", "zg_mod_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose central directory ``zipimport`` parses, in order."""
    reads: list[str] = []
    original = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_package_import_installs_guard():
    import cae_polars_tools_spark  # noqa: F401

    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)


def test_install_twice_wraps_once():
    assert zipimport_guard.install()
    method = zipimport.zipimporter.invalidate_caches
    assert zipimport_guard.install()
    assert zipimport.zipimporter.invalidate_caches is method


def test_unchanged_archive_is_not_reread(zip_on_path, directory_reads):
    assert zipimport_guard.install()
    assert importlib.import_module("zg_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # first read under the guard records the stat
    directory_reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 0


def test_rewritten_archive_is_reread(zip_on_path, directory_reads):
    assert zipimport_guard.install()
    importlib.import_module("zg_mod_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zg_mod_b")
    write_zip(zip_on_path, {"zg_mod_a": "VALUE = 'a'\n", "zg_mod_b": "VALUE = 'b'\n"})
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 1
    assert importlib.import_module("zg_mod_b").VALUE == "b"


def test_spark_worker_has_guard_after_scan(spark, tmp_path):
    """Workers that ran the package's scan code carry the guard; the
    probe task itself references nothing from the package."""
    from cae_polars_tools_spark.sources.zarr_format import write_group
    from cae_polars_tools_spark.sources.zarr_scan import scan_data

    root = str(tmp_path / "probe.zarr")
    write_group(root, arrays={"v": np.arange(24, dtype=np.float32).reshape(4, 6)},
                dims={"v": ("t", "x")}, chunks={"v": (2, 3)})
    assert scan_data(spark, root, "v").count() == 24

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "imported": ["cae_polars_tools_spark" in sys.modules],
            "guarded": [bool(getattr(method, "_stat_guarded", False))],
        })

    # enough tasks to pass through every idle worker in the pool
    seed = spark.range(0, 64, 1, numPartitions=64)
    rows = seed.mapInArrow(probe, "pid long, imported boolean, guarded boolean").collect()
    assert any(r.imported for r in rows)
    assert all(r.guarded == r.imported for r in rows)
