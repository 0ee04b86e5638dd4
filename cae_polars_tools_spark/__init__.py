"""cae_polars_tools_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference library
``neilSchroeder/cae-polars-tools`` (a Zarr → Polars long-format scanner
plus the Polars query surface its docs exercise), re-expressed
Spark-first:

* **Layer A** — a Zarr data source for Spark: ``scan_data`` /
  ``get_zarr_data_info`` and a registered ``spark.read.format("zarr")``
  Python data source with dimension-selection pushdown and
  per-partition coordinate expansion (reference:
  ``src/data_access/*.py``).
* **Layer B** — the delegated query surface (filter / group_by / agg /
  join / sort / window patterns; reference README + docs/examples),
  exposed as a corpus of named DataFrame query builders in
  :mod:`cae_polars_tools_spark.plans.corpus`.
* **Extensions** — large-scale training-data pipeline operators
  (dedup, similarity search, text analysis, multimodal columns) with
  100 TB-scale-aware designs.

All heavy lifting stays JVM-side in Catalyst-optimized DataFrame
operations; Python appears only in the Zarr chunk reader (Arrow
batches) and explicitly-marked Pandas UDF paths.
"""

from __future__ import annotations

from cae_polars_tools_spark import zipimport_guard

__version__ = "0.1.0"

# Spark Python workers import this package when they unpickle its code;
# from then on their per-task import-cache reset skips unchanged archives.
zipimport_guard.install()

# Lazy attribute resolution (PEP 562) keeps `import cae_polars_tools_spark`
# cheap and lets submodules be imported piecemeal.
_LAZY = {
    "get_spark": ("cae_polars_tools_spark.session", "get_spark"),
    "read_table": ("cae_polars_tools_spark.io", "read_table"),
    "read_tables": ("cae_polars_tools_spark.io", "read_tables"),
    "scan_data": ("cae_polars_tools_spark.sources.zarr_scan", "scan_data"),
    "get_zarr_data_info": (
        "cae_polars_tools_spark.sources.zarr_scan",
        "get_zarr_data_info",
    ),
    "register_zarr_source": (
        "cae_polars_tools_spark.sources.zarr_scan",
        "register_zarr_source",
    ),
    "ZarrDataReader": ("cae_polars_tools_spark.sources.zarr_reader", "ZarrDataReader"),
    "ZarrStore": ("cae_polars_tools_spark.sources.zarr_store", "ZarrStore"),
    # Lakehouse facade (manifest-based versioned tables)
    "Table": ("cae_polars_tools_spark.table", "Table"),
    "ConcurrentWriteError": (
        "cae_polars_tools_spark.table",
        "ConcurrentWriteError",
    ),
    "vacuum_table": ("cae_polars_tools_spark.table", "vacuum_table"),
    # Reference-compatible legacy aliases
    # (reference src/data_access/__init__.py:86-98).
    "scan_zarr_s3": ("cae_polars_tools_spark.sources.zarr_scan", "scan_data"),
    "zarr_s3_info": (
        "cae_polars_tools_spark.sources.zarr_scan",
        "get_zarr_data_info",
    ),
}

__all__ = ["__version__", *_LAZY]


def __getattr__(name: str):
    if name in _LAZY:
        import importlib

        module, attr = _LAZY[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
