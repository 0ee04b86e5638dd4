"""`spark.read.format("zarr")` — Python Data Source (Spark ≥ 4.0).

Idiomatic integration of the zarr scan with Spark's data source API:
schema from store metadata at planning time, one ``InputPartition``
per row window, Arrow-batch reads on executors. Options:

=================  ========================================================
``path``           store path/URL (also the ``load()`` argument)
``array``          array name (required)
``group``          subgroup within the store
``select_dims``    JSON dict: int, [ints], or {"start":a,"stop":b,"step":c}
``select_ranges``  JSON dict of coordinate VALUES (labels): scalar,
                   [labels], or {"start":lo,"stop":hi} (inclusive both
                   ends; resolved against the coordinate arrays)
``storage_options`` JSON dict passed to fsspec
``consolidated``   "true" / "false" (default: auto-detect)
``chunk_size``     target rows per partition (default 10000)
=================  ========================================================

Example::

    spark.dataSource.register(ZarrDataSource)
    df = (spark.read.format("zarr")
          .option("array", "temperature")
          .option("select_dims", '{"time": {"start": 0, "stop": 12}}')
          .load("/data/store.zarr"))
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from cae_polars_tools_spark.sources.zarr_reader import (
    DEFAULT_CHUNK_SIZE,
    ScanPlan,
    plan_scan,
    plan_windows,
    schema_for_plan,
    window_to_arrow,
)
from cae_polars_tools_spark.sources.zarr_store import ZarrStore


def decode_select_dims(spec) -> dict | None:
    """JSON/dict → selection dict with real slices. Accepts ints, lists
    and {"start","stop","step"} dicts."""
    if spec is None:
        return None
    if isinstance(spec, str):
        spec = json.loads(spec)
    out = {}
    for dim, sel in spec.items():
        if isinstance(sel, dict):
            out[dim] = slice(sel.get("start"), sel.get("stop"), sel.get("step"))
        else:
            out[dim] = sel
    return out


def _plan_from_options(options: dict) -> tuple[ScanPlan, int]:
    path = options.get("path")
    array = options.get("array")
    if not path or not array:
        raise ValueError(
            "zarr data source requires .load(<store path>) and "
            ".option('array', <array name>)"
        )
    consolidated = options.get("consolidated")
    if consolidated is not None:
        consolidated = str(consolidated).lower() == "true"
    store = ZarrStore(
        path,
        storage_options=json.loads(options["storage_options"])
        if options.get("storage_options")
        else None,
        group=options.get("group"),
        consolidated=consolidated,
    )
    plan = plan_scan(
        store,
        array,
        decode_select_dims(options.get("select_dims")),
        # VALUE-based selection: {"lat": {"start": 30, "stop": 60}} or
        # scalar labels — resolved against the coordinate arrays at
        # planning time (see coordinates.resolve_value_selection);
        # reuses the positional decoder since label slices are also
        # {"start","stop"} dicts (values, not positions; step rejected
        # downstream)
        decode_select_dims(options.get("select_ranges")),
    )
    chunk_size = int(options.get("chunk_size", DEFAULT_CHUNK_SIZE))
    return plan, chunk_size


class ZarrWindowPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _ZarrReaderCore(DataSourceReader):
    """Partitioning + read logic shared by both reader variants.

    Deliberately does NOT define ``pushFilters``: Spark refuses to
    initialize any Python data source reader that merely *has* the
    attribute while ``spark.sql.python.filterPushdown.enabled`` is
    false (``[DATA_SOURCE_PUSHDOWN_DISABLED]``), so the degraded
    variant must not inherit one — Spark then evaluates every filter
    post-scan and results stay correct, just unpruned.
    """

    def __init__(self, plan: ScanPlan, chunk_size: int):
        self.plan = plan
        self.chunk_size = chunk_size

    def partitions(self) -> list[InputPartition]:
        return [
            ZarrWindowPartition(s, e)
            for s, e in plan_windows(self.plan, self.chunk_size)
        ]

    def read(self, partition: ZarrWindowPartition) -> Iterator:
        yield window_to_arrow(self.plan, partition.start, partition.end)


class ZarrScanReaderNoPushdown(_ZarrReaderCore):
    """Reader for sessions with Python filter pushdown disabled:
    identical scan, no chunk pruning from WHERE clauses."""


class ZarrScanReader(_ZarrReaderCore):
    def pushFilters(self, filters):
        """Prune the scan from WHERE clauses on coordinate columns.

        A predicate on a coordinate column is exactly a positional
        selection (the column's values ARE the 1-D coordinate array),
        so supported comparisons are translated to index subsets and
        composed into the plan — the executors then fetch only zarr
        chunks that intersect the surviving positions, and the filter
        is fully consumed (not re-evaluated by Spark). Filters on
        ``value``, on oversized (executor-loaded) coordinates, or of
        unsupported shapes are yielded back for post-scan evaluation.
        """
        import numpy as np
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            LessThan,
            LessThanOrEqual,
        )

        from cae_polars_tools_spark.sources.zarr_reader import refine_plan

        masks: dict[str, np.ndarray] = {}
        for f in filters:
            attr = getattr(f, "attribute", ())
            dim = attr[0] if len(attr) == 1 else None
            if dim not in self.plan.sel_dims:
                yield f
                continue
            if isinstance(f, IsNotNull):
                continue  # coordinates are never null — fully satisfied
            vals = self.plan.coord_values(dim)
            if vals is None:  # oversized coord: not resident on driver
                yield f
                continue
            if isinstance(f, EqualTo):
                m = vals == f.value
            elif isinstance(f, GreaterThan):
                m = vals > f.value
            elif isinstance(f, GreaterThanOrEqual):
                m = vals >= f.value
            elif isinstance(f, LessThan):
                m = vals < f.value
            elif isinstance(f, LessThanOrEqual):
                m = vals <= f.value
            elif isinstance(f, In):
                m = np.isin(vals, list(f.value))
            else:
                yield f
                continue
            masks[dim] = masks[dim] & m if dim in masks else m
        if masks:
            self.plan = refine_plan(self.plan, masks)


class ZarrDataSource(DataSource):
    """Register with ``spark.dataSource.register(ZarrDataSource)``
    (or :func:`~cae_polars_tools_spark.sources.zarr_scan.register_zarr_source`,
    which picks the right variant for the session's pushdown conf)."""

    _reader_cls: type[_ZarrReaderCore] = ZarrScanReader

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def _plan(self) -> tuple[ScanPlan, int]:
        # Spark calls schema() AND reader() on the same instance per
        # .load(); planning opens the store and downloads coordinate
        # arrays, so cache it — against a remote store an uncached
        # second pass doubles every metadata/coordinate GET
        cached = getattr(self, "_plan_cache", None)
        if cached is None:
            cached = _plan_from_options(self.options)
            self._plan_cache = cached
        return cached

    def schema(self):
        plan, _ = self._plan()
        return schema_for_plan(plan)

    def reader(self, schema) -> DataSourceReader:
        plan, chunk_size = self._plan()
        return type(self)._reader_cls(plan, chunk_size)

    def streamReader(self, schema) -> "ZarrStreamReader":
        return ZarrStreamReader(self.options, planned=self._plan())


class ZarrDataSourceNoPushdown(ZarrDataSource):
    """Same format name, degraded reader — for sessions where
    ``spark.sql.python.filterPushdown.enabled`` is false (Spark's
    default) and cannot be flipped: ``.load()`` works, filters are
    evaluated by Spark after the full scan instead of pruning chunks."""

    _reader_cls = ZarrScanReaderNoPushdown


# ---------------------------------------------------------------------------
# Streaming source: micro-batches of NEW dim-0 slabs
# ---------------------------------------------------------------------------


def _lightened_plan(plan: ScanPlan) -> ScanPlan:
    """Per-batch plan copy with embedded coordinate ARRAYS swapped for
    the "load" marker: a streaming micro-batch serializes one plan per
    partition (unlike the batch reader, pickled once), so multi-MB
    driver-resident coordinates would multiply across hundreds of
    partitions. Executors re-read the (axis-length-bounded) coordinate
    arrays from the store instead — the same path oversized
    coordinates already take. Absent coordinates (None → synthesized
    indices) pass through unchanged."""
    import dataclasses

    import numpy as np

    return dataclasses.replace(
        plan,
        sel_coords={
            d: ("load" if isinstance(v, np.ndarray) else v)
            for d, v in plan.sel_coords.items()
        },
    )


class ZarrStreamPartition(InputPartition):
    def __init__(self, plan: ScanPlan, start: int, end: int):
        self.plan = plan
        self.start = start
        self.end = end


class ZarrStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("zarr")`` — the read-side twin of the
    ingest sink (``zarr_write.zarr_ingest_sink``): treat a zarr store
    that grows along its FIRST dimension (the ``append_zarr``
    contract) as a streaming source whose offset is the dim-0 length.

    Per trigger the driver re-opens store METADATA only (one
    consolidated GET), and the micro-batch is the flat-row slab
    ``[old_len, new_len) × inner`` — partitioned and Arrow-read on
    executors by the SAME window machinery as the batch scan, so
    chunk-grain pruning, coordinate math, and the ``meta_etag`` cache
    discipline all carry over. Offsets are durable (checkpointed by
    Spark); a restart resumes from the last committed dim-0 length
    and replayed batches replan against CURRENT metadata (the store
    only grows, and every inner dimension is pinned immutable).

    ``select_dims`` is rejected: a positional selection over a
    growing dimension has no stable meaning across batches.
    ``starting_offset=latest`` begins at the store's current length
    instead of replaying history.
    """

    def __init__(self, options: dict, planned=None):
        if options.get("select_dims") or options.get("select_ranges"):
            raise ValueError(
                "the zarr streaming source does not support "
                "select_dims/select_ranges"
            )
        self._options = dict(options)
        # reuse the DataSource's cached startup plan when provided —
        # schema() already paid the metadata GET + coordinate download
        plan, chunk_size = planned or _plan_from_options(self._options)
        if not plan.sel_shape:
            raise ValueError(
                "the zarr streaming source needs a >=1-D array "
                "(dim 0 is the growing dimension)"
            )
        self._chunk_size = chunk_size
        self._inner_shape = tuple(plan.sel_shape[1:])
        self._plan0 = plan

    def _fresh_plan(self) -> ScanPlan:
        plan, _ = _plan_from_options(self._options)
        if tuple(plan.sel_shape[1:]) != self._inner_shape:
            raise ValueError(
                f"zarr stream: inner dimensions changed "
                f"{self._inner_shape} -> {tuple(plan.sel_shape[1:])}; "
                "only dim 0 may grow"
            )
        return plan

    def initialOffset(self) -> dict:
        if str(self._options.get("starting_offset", "")).lower() == "latest":
            return {"len0": int(self._plan0.sel_shape[0])}
        return {"len0": 0}

    def latestOffset(self) -> dict:
        plan = self._fresh_plan()
        self._latest_plan = plan
        return {"len0": int(plan.sel_shape[0])}

    def partitions(self, start: dict, end: dict):
        s_len, e_len = int(start["len0"]), int(end["len0"])
        plan = getattr(self, "_latest_plan", None)
        if plan is None or plan.sel_shape[0] < e_len:
            plan = self._fresh_plan()  # restart replay path
        if plan.sel_shape[0] < e_len:
            raise ValueError(
                f"zarr stream: store shrank below the committed offset "
                f"({plan.sel_shape[0]} < {e_len}) — appends must be "
                "monotone"
            )
        if e_len <= s_len or plan.total_rows == 0:
            return []
        # windows follow the store's absolute dim-0 chunk grid, so a
        # slab start that is not itself chunk-aligned does not shift
        # every boundary off the grid (each boundary chunk would then
        # be fetched and decoded by two partitions)
        light = _lightened_plan(plan)
        return [
            ZarrStreamPartition(light, a, b)
            for a, b in plan_windows(plan, self._chunk_size, s_len, e_len)
        ]

    def read(self, partition: ZarrStreamPartition):
        yield window_to_arrow(partition.plan, partition.start, partition.end)

    def commit(self, end: dict) -> None:
        pass
