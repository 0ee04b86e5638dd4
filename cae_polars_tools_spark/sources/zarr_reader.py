"""Zarr → Spark DataFrame scan machinery.

Planning happens on the driver (metadata + 1-D coordinate arrays only
— never the data); each Spark partition then reads a contiguous
window of the *selected* array's C-order flat index space directly
from storage and builds its own coordinate columns with div/mod math
(reference coordinate_processor.py:279-349 / polars_converter.py:236-303,
whose chunked conversion is exactly Spark's partitioned execution
model).

Scale invariants (the 100 TB design):

* the driver materializes only: store metadata, the per-dimension
  selection, and 1-D coordinate arrays (small by construction —
  coordinates above ``COORD_EMBED_LIMIT`` bytes are NOT shipped with
  the plan; executors re-read them from the store);
* a partition fetches only the zarr chunks its row-window intersects
  (selection pushdown to storage);
* rows are produced as Arrow RecordBatches — no per-row Python.

Equivalent role to the reference's ``ZarrDataReader``
(zarr_reader.py:120-384), re-architected for distributed execution.
"""

from __future__ import annotations

import dataclasses
import math
from dataclasses import dataclass
from typing import Any, Iterator

import numpy as np

from cae_polars_tools_spark.sources import coordinates as C
from cae_polars_tools_spark.sources.zarr_store import (
    ZarrStore,
    executor_group,
    group_meta_etag,
    spark_type_for_dtype,
    widen_numpy,
)

DEFAULT_CHUNK_SIZE = 10_000  # rows/partition floor; reference default
MAX_PARTITIONS = 32_768  # windows grow beyond chunk_size past this
COORD_EMBED_LIMIT = 8 * 1024 * 1024  # bytes; larger coords load on executors

# Selection entries are pickle-friendly: int | ("slice", a, b, c) | list[int]
EncodedSel = int | tuple | list


def _encode_sel(sel: Any, n: int) -> EncodedSel:
    if isinstance(sel, (int, np.integer)):
        return int(sel)
    if isinstance(sel, slice):
        a, b, c = sel.indices(n)
        return ("slice", a, b, c)
    # negative positions resolved here so plan_windows sees the chunk grid
    return [int(i) + n if i < 0 else int(i) for i in sel]


def _decode_sel(e: EncodedSel):
    if isinstance(e, tuple) and len(e) == 4 and e[0] == "slice":
        a, b, c = e[1], e[2], e[3]
        # slice.indices() encodes "past the start" of a NEGATIVE-step
        # slice as stop=-1 (or lower after windowing) — re-decoding
        # that literally would mean "index n-1" and select NOTHING
        # (slice(4,-1,-1) is empty); the only faithful spelling is
        # stop=None
        if c < 0 and b < 0:
            b = None
        return slice(a, b, c)
    return e


def _sel_len(e: EncodedSel) -> int:
    if isinstance(e, int):
        return 1
    if isinstance(e, tuple):
        return len(range(e[1], e[2], e[3]))
    return len(e)


def _sel_window(e: EncodedSel, lo: int, hi: int) -> EncodedSel:
    """Restrict a non-int selection to its positions [lo, hi)."""
    if isinstance(e, tuple):
        a, b, c = e[1], e[2], e[3]
        return ("slice", a + lo * c, a + hi * c, c)
    return e[lo:hi]


@dataclass
class ScanPlan:
    """Everything an executor needs to read its window independently."""

    store_path: str
    storage_options: dict
    group: str | None
    consolidated: bool | None
    array_name: str
    selection: list[EncodedSel]  # one entry per INPUT dim (ints drop dims)
    dims_in: list[str]  # input dim names, aligned with selection
    sel_dims: list[str]  # surviving dims, in order
    sel_shape: tuple[int, ...]  # shape after selection (surviving dims)
    # selected coord values per surviving dim; None → integer indices;
    # "load" → executor re-reads the coordinate array from the store
    sel_coords: dict[str, Any]
    value_dtype: str  # numpy dtype string of the array
    coord_dtypes: dict[str, str]  # numpy dtype string per surviving dim
    # Storage chunk length along the first surviving dim: partition
    # windows are cut only where the selection crosses this grid
    # (plan_windows) — otherwise adjacent partitions both fetch and
    # decompress the storage chunk that straddles their boundary.
    dim0_chunk: int = 1
    # Fingerprint of the group metadata AT PLAN TIME. Part of the
    # executor-side group-cache key: long-lived reused Python workers
    # would otherwise serve a stale cached group after in-place store
    # mutation (append_zarr grows the shape at the same path) — the
    # driver always opens fresh, so the plan sees the new metadata,
    # and this etag forces executors to re-open too.
    meta_etag: str = ""

    @property
    def total_rows(self) -> int:
        return int(np.prod(self.sel_shape)) if self.sel_shape else 1

    @property
    def row_align(self) -> int:
        """Rows per dim-0 storage chunk when the dim-0 selection is a
        unit-step slice, whole dim-0 positions otherwise: the alignment
        for :func:`partition_ranges` windows counted from row 0. Chunk-
        exact only for a slice that starts on the chunk grid; scans use
        :func:`plan_windows`, which aligns any selection."""
        if not self.sel_shape:
            return 1
        inner = int(np.prod(self.sel_shape[1:]))
        e0 = self._dim0_selection()
        if isinstance(e0, tuple) and e0[3] == 1:
            return inner * self.dim0_chunk
        return inner

    def _dim0_selection(self) -> EncodedSel:
        return self.selection[self.dims_in.index(self.sel_dims[0])]

    def coord_values(self, dim: str) -> np.ndarray | None:
        """Selected coordinate values for a surviving dim as held on the
        driver: the embedded array, synthesized integer indices when the
        store has no coordinate, or None when the coordinate is
        oversized (executor-loaded) and not resident here."""
        cv = self.sel_coords.get(dim)
        if isinstance(cv, str) and cv == "load":
            return None
        if cv is None:
            return np.arange(
                self.sel_shape[self.sel_dims.index(dim)], dtype=np.int64
            )
        return cv


def plan_scan(
    store: ZarrStore,
    array_name: str,
    select_dims: dict[str, Any] | None = None,
    select_ranges: dict[str, Any] | None = None,
) -> ScanPlan:
    """Driver-side planning: resolve dims, load/coordinate-subset, encode
    the positional selection (reference zarr_reader.py:247-322 steps 1-4).
    ``select_ranges`` selects by coordinate VALUE (label slices/scalars/
    lists, xarray-style) — resolved here against the driver-loaded 1-D
    coordinate arrays into positional selections, then shares the
    positional path (reference docs promise this surface:
    zarr_scanner.py:41-44, docs/user_guide/reading_data.md:80-88)."""
    arr = store.get_array(array_name)
    dims = C.resolve_dims(arr.attrs, arr.ndim)
    if len(set(dims)) != len(dims):
        # every per-dim structure below is name-keyed; a duplicated
        # _ARRAY_DIMENSIONS entry (legal in the file format) would
        # silently collapse axes and misalign coordinates against
        # values — refuse instead
        raise ValueError(
            f"array {array_name!r} declares duplicate dimension names "
            f"{dims!r}; name-keyed planning requires unique dims"
        )
    group = store.open_zarr_group()
    # Gate coordinate materialization on METADATA (shape × itemsize)
    # before any byte is read: the embed limit exists so huge
    # coordinates are executor-loaded, and downloading a multi-GB
    # coordinate to the driver just to measure nbytes would OOM at
    # exactly the scale the limit targets.
    oversized: dict[str, str] = {}  # dim -> dtype str
    for dim in dims:
        try:
            ca = group.get_array(dim)
        except Exception:
            continue
        est = int(np.prod(ca.shape)) * np.dtype(ca.dtype).itemsize
        if est > COORD_EMBED_LIMIT:
            oversized[dim] = str(np.dtype(ca.dtype))
    coord_arrays = C.extract_coordinate_arrays(
        group, [d for d in dims if d not in oversized]
    )
    for d in oversized:
        coord_arrays[d] = None
    if select_ranges:
        resolved = C.resolve_value_selection(dims, coord_arrays, select_ranges)
        overlap = sorted(set(resolved) & set(select_dims or {}))
        if overlap:
            raise ValueError(
                f"dimensions selected both positionally (select_dims) and "
                f"by value (select_ranges): {overlap}"
            )
        select_dims = {**(select_dims or {}), **resolved}
    selection, sel_dims, sel_coords = C.process_dimension_selection(
        dims, coord_arrays, select_dims
    )

    encoded = [_encode_sel(s, n) for s, n in zip(selection, arr.shape)]
    sel_shape = tuple(
        _sel_len(e) for e, d in zip(encoded, dims) if d in set(sel_dims)
    )

    coords_out: dict[str, Any] = {}
    coord_dtypes: dict[str, str] = {}
    for i, dim in enumerate(sel_dims):
        cv = sel_coords.get(dim)
        if dim in oversized:
            coords_out[dim] = "load"
            coord_dtypes[dim] = oversized[dim]
        elif cv is None:
            coords_out[dim] = None
            coord_dtypes[dim] = "int64"
        elif cv.nbytes > COORD_EMBED_LIMIT:
            coords_out[dim] = "load"
            coord_dtypes[dim] = str(cv.dtype)
        else:
            coords_out[dim] = np.asarray(cv)
            coord_dtypes[dim] = str(cv.dtype)

    dim0_chunk = int(arr.chunks[dims.index(sel_dims[0])]) if sel_dims else 1

    return ScanPlan(
        store_path=store.store_path,
        storage_options=dict(store.storage_options),
        group=store.group,
        consolidated=store.consolidated,
        array_name=array_name,
        selection=encoded,
        dims_in=dims,
        sel_dims=list(sel_dims),
        sel_shape=sel_shape,
        sel_coords=coords_out,
        value_dtype=str(arr.dtype),
        coord_dtypes=coord_dtypes,
        dim0_chunk=dim0_chunk,
        meta_etag=group_meta_etag(group),
    )


def refine_plan(plan: ScanPlan, masks: dict[str, np.ndarray]) -> ScanPlan:
    """Compose per-dim boolean masks (over the *currently selected*
    positions) into the plan: selection entries become the surviving
    position subsets, shapes and embedded coordinate arrays shrink to
    match. Used by data-source filter pushdown; pure metadata — no I/O."""
    sel_by_dim = dict(zip(plan.dims_in, plan.selection))
    sel_shape = dict(zip(plan.sel_dims, plan.sel_shape))
    sel_coords = dict(plan.sel_coords)
    for dim, mask in masks.items():
        mask = np.asarray(mask, dtype=bool)
        e = sel_by_dim[dim]
        if isinstance(e, tuple):
            pos = np.arange(e[1], e[2], e[3], dtype=np.int64)
        else:  # list (int selections drop the dim, so can't appear here)
            pos = np.asarray(e, dtype=np.int64)
        kept = pos[mask]
        cv = sel_coords.get(dim)
        if isinstance(cv, np.ndarray):
            sel_coords[dim] = cv[mask]
        elif cv is None:
            # Missing coordinate → the column holds synthesized indices
            # 0..n-1 over the pre-refinement selection. Those values
            # were what Spark filtered on, so materialize the kept ones
            # (a fresh arange would renumber and violate the consumed
            # predicate).
            sel_coords[dim] = np.arange(sel_shape[dim], dtype=np.int64)[mask]
        sel_by_dim[dim] = [int(i) for i in kept]
        sel_shape[dim] = len(kept)
    return dataclasses.replace(
        plan,
        selection=[sel_by_dim[d] for d in plan.dims_in],
        sel_shape=tuple(sel_shape[d] for d in plan.sel_dims),
        sel_coords=sel_coords,
    )


def schema_for_plan(plan: ScanPlan):
    """Output schema: one column per surviving dim + ``value``
    (reference zarr_reader.py:253-259 long format), dtypes preserved
    with documented widenings."""
    from pyspark.sql import types as T

    fields = [
        T.StructField(dim, spark_type_for_dtype(np.dtype(plan.coord_dtypes[dim])), False)
        for dim in plan.sel_dims
    ]
    fields.append(
        T.StructField("value", spark_type_for_dtype(np.dtype(plan.value_dtype)), True)
    )
    return T.StructType(fields)


def partition_ranges(
    total_rows: int, chunk_size: int = DEFAULT_CHUNK_SIZE, align: int = 1
) -> list[tuple[int, int]]:
    """Split [0, total_rows) into equal row windows: the window size is
    chunk_size, grown to cap the count at ``MAX_PARTITIONS``, then
    rounded up to a multiple of ``align``. Plan-free; scans use
    :func:`plan_windows`."""
    if total_rows <= 0:
        return [(0, 0)]
    window = _window_target(total_rows, chunk_size)
    if align > 1:
        window = math.ceil(window / align) * align
    return [(s, min(s + window, total_rows)) for s in range(0, total_rows, window)]


def _window_target(rows: int, chunk_size: int) -> int:
    """Minimum rows per window: chunk_size, grown past MAX_PARTITIONS."""
    return max(int(chunk_size), math.ceil(rows / MAX_PARTITIONS), 1)


def _chunk_group_end(e: EncodedSel, chunk: int):
    """For a dim-0 selection, a function q -> the first selected position
    after q whose storage chunk (absolute grid of length ``chunk``)
    differs from position q's."""
    if isinstance(e, tuple):
        a, c = e[1], e[3]

        def slice_end(q: int) -> int:
            k = (a + q * c) // chunk  # storage chunk of position q
            if c > 0:  # first position at or past chunk k + 1's start
                return -(-((k + 1) * chunk - a) // c)
            return -(-(a - k * chunk + 1) // -c)  # first one below chunk k

        return slice_end
    cid = np.asarray(e, dtype=np.int64) // chunk
    bounds = np.flatnonzero(cid[1:] != cid[:-1]) + 1
    n = len(cid)

    def end(q: int) -> int:
        i = int(np.searchsorted(bounds, q, side="right"))
        return int(bounds[i]) if i < len(bounds) else n

    return end


def plan_windows(
    plan: ScanPlan,
    chunk_size: int,
    first: int = 0,
    stop: int | None = None,
) -> list[tuple[int, int]]:
    """Row windows, one Spark partition each, over the selected dim-0
    positions [first, stop) (default: all of them).

    A window is a run of whole groups of consecutive positions that
    share a dim-0 storage chunk on the store's absolute chunk grid,
    grown until it holds at least chunk_size rows (more past
    ``MAX_PARTITIONS`` windows). So no chunk is fetched by two windows,
    whatever the selection's offset or step, and a full scan from
    position 0 gets the windows of
    ``partition_ranges(total_rows, chunk_size, row_align)``."""
    if not plan.sel_shape:
        return [(0, 1)]  # 0-D selection: one scalar row
    stop = plan.sel_shape[0] if stop is None else stop
    inner = int(np.prod(plan.sel_shape[1:]))
    rows = (stop - first) * inner
    if rows <= 0:
        return [(0, 0)]
    need = math.ceil(_window_target(rows, chunk_size) / inner)  # positions
    group_end = _chunk_group_end(plan._dim0_selection(), plan.dim0_chunk)
    out = []
    s = first
    while s < stop:
        e = min(group_end(min(s + need, stop) - 1), stop)
        out.append((s * inner, e * inner))
        s = e
    return out


# ---------------------------------------------------------------------------
# Executor side
# ---------------------------------------------------------------------------


def _materialized_coords(plan: ScanPlan, group) -> dict[str, np.ndarray | None]:
    """Resolve per-dim selected coord arrays, loading oversized ones
    from the store (the scale path for huge dimensions)."""
    out: dict[str, np.ndarray | None] = {}
    sel_by_dim = dict(zip(plan.dims_in, plan.selection))
    for dim in plan.sel_dims:
        cv = plan.sel_coords[dim]
        if isinstance(cv, str) and cv == "load":
            full = np.asarray(group.get_array(dim)[slice(None)])
            e = sel_by_dim[dim]
            out[dim] = full[_decode_sel(e)] if not isinstance(e, int) else full
        else:
            out[dim] = cv
    return out


def read_window(plan: ScanPlan, start: int, end: int) -> dict[str, np.ndarray]:
    """Read rows [start, end) of the selected array's C-order flat index
    space: fetch only the dim-0 slab of zarr chunks the window touches,
    then compute coordinate columns with div/mod math. Returns a dict of
    named numpy columns (coords… then 'value')."""
    group = executor_group(
        plan.store_path,
        plan.storage_options,
        plan.group,
        plan.consolidated,
        meta_etag=plan.meta_etag,
    )
    arr = group.get_array(plan.array_name)
    coords = _materialized_coords(plan, group)

    nrows = end - start
    if nrows <= 0 or plan.total_rows == 0:
        cols = {
            dim: np.empty(0, dtype=np.dtype(plan.coord_dtypes[dim]))
            for dim in plan.sel_dims
        }
        cols["value"] = np.empty(0, dtype=np.dtype(plan.value_dtype))
        return cols

    if not plan.sel_shape:  # 0-D (scalar) array or all dims int-selected
        data = arr.oindex(tuple(_decode_sel(e) for e in plan.selection))
        return {"value": np.asarray(data).ravel()[:1]}

    # Window the first surviving dim: rows [start, end) live in dim-0
    # positions [s0, e0) of the selection.
    inner = int(np.prod(plan.sel_shape[1:])) if len(plan.sel_shape) > 1 else 1
    s0 = start // inner
    e0 = min(math.ceil(end / inner), plan.sel_shape[0])

    first_dim = plan.sel_dims[0]
    oindex: list[Any] = []
    for dim, e in zip(plan.dims_in, plan.selection):
        if isinstance(e, int):
            oindex.append(e)
        elif dim == first_dim:
            oindex.append(_decode_sel(_sel_window(e, s0, e0)))
        else:
            oindex.append(_decode_sel(e))

    data = arr.oindex(tuple(oindex))
    flat = np.ascontiguousarray(data).ravel()
    offset = start - s0 * inner
    values = flat[offset : offset + nrows]

    cols = C.coords_for_flat_range(
        plan.sel_shape, plan.sel_dims, coords, start, end
    )
    cols["value"] = values
    return cols


def window_to_arrow(plan: ScanPlan, start: int, end: int):
    """One Arrow RecordBatch for the window, schema-aligned."""
    import pyarrow as pa

    cols = read_window(plan, start, end)
    names = [*plan.sel_dims, "value"]
    arrays = [pa.array(widen_numpy(np.ascontiguousarray(cols[n]))) for n in names]
    return pa.RecordBatch.from_arrays(arrays, names=names)


# ---------------------------------------------------------------------------
# Driver-facing reader
# ---------------------------------------------------------------------------


class ZarrDataReader:
    """Read zarr arrays as Spark DataFrames (reference ZarrDataReader,
    zarr_reader.py:120-384, with a SparkSession instead of Polars).

    ``streaming=True`` (default) runs the distributed scan — one Spark
    partition per row window via ``mapInArrow``. ``streaming=False``
    reads eagerly on the driver and creates a single-partition
    DataFrame (reference's non-streaming conversion,
    polars_converter.py:186-234) — only for small arrays.
    """

    def __init__(
        self,
        spark,
        store_path: str,
        storage_options: dict | None = None,
        group: str | None = None,
        consolidated: bool | None = None,
        chunk_size: int = DEFAULT_CHUNK_SIZE,
    ):
        self.spark = spark
        self.store = ZarrStore(
            store_path,
            storage_options=storage_options,
            group=group,
            consolidated=consolidated,
        )
        self.chunk_size = chunk_size

    # -- metadata ----------------------------------------------------------
    def list_arrays(self) -> list[str]:
        return self.store.list_arrays()

    def get_array_info(self, array_name: str) -> dict:
        return self.store.get_array_info(array_name)

    # -- scans -------------------------------------------------------------
    def read_array(
        self,
        array_name: str,
        select_dims: dict[str, Any] | None = None,
        streaming: bool = True,
        select_ranges: dict[str, Any] | None = None,
    ):
        plan = plan_scan(self.store, array_name, select_dims, select_ranges)
        schema = schema_for_plan(plan)
        if streaming:
            return distributed_scan(self.spark, plan, schema, self.chunk_size)
        return eager_scan(self.spark, plan, schema)

    def read_multiple_arrays(
        self, array_names: list[str], streaming: bool = True
    ) -> dict[str, Any]:
        """Dict of DataFrames, one per array (reference
        zarr_reader.py:329-384). Unlike the reference's sequential
        loop, each DataFrame is lazy — Spark runs them in parallel
        when the user combines them (e.g. joining on coord columns)."""
        return {
            name: self.read_array(name, streaming=streaming)
            for name in array_names
        }


def distributed_scan(spark, plan: ScanPlan, schema, chunk_size: int):
    """One Spark partition per row window; partitions read + expand
    independently (this IS the reference's streaming conversion mapped
    onto Spark's execution model)."""
    ranges = plan_windows(plan, chunk_size)
    n = len(ranges)

    def gen(batch_iter) -> Iterator:
        for batch in batch_iter:
            for pid in batch.column("id").to_pylist():
                s, e = ranges[pid]
                yield window_to_arrow(plan, s, e)

    seed = spark.range(0, n, 1, numPartitions=n)
    return seed.mapInArrow(gen, schema)


def eager_scan(spark, plan: ScanPlan, schema):
    """Driver-side full read → single-partition DataFrame (reference's
    non-streaming path). Memory-bounded by the caller's judgment."""
    import pandas as pd

    cols = read_window(plan, 0, plan.total_rows)
    pdf = pd.DataFrame({k: widen_numpy(v) for k, v in cols.items()})
    return spark.createDataFrame(pdf, schema=schema)
