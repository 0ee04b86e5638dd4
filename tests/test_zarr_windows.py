"""Partition windows follow the store's absolute dim-0 chunk grid: over
all windows of a plan, every storage chunk is fetched exactly once,
whatever the selection's offset, step or pushdown refinement."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from cae_polars_tools_spark.sources.zarr_format import ZarrV2Array, write_group
from cae_polars_tools_spark.sources.zarr_reader import (
    partition_ranges,
    plan_scan,
    plan_windows,
    read_window,
)
from cae_polars_tools_spark.sources.zarr_store import ZarrStore

SHAPE = (48, 4, 6)
CHUNKS = (5, 3, 4)  # 10 dim-0 chunks, the last one partial


@pytest.fixture(scope="module")
def grid_store(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("windows") / "grid.zarr")
    data = np.arange(np.prod(SHAPE), dtype=np.float32).reshape(SHAPE)
    write_group(
        root,
        arrays={"v": data},
        dims={"v": ("time", "y", "x")},
        coords={
            "time": np.arange(SHAPE[0], dtype=np.int32),
            "y": np.arange(SHAPE[1], dtype=np.int32),
            "x": np.arange(SHAPE[2], dtype=np.int32),
        },
        chunks={"v": CHUNKS},
    )
    return root, data


@pytest.fixture
def chunk_reads(monkeypatch):
    """Counter of ``read_chunk`` calls on the data array, by chunk index."""
    reads: Counter = Counter()
    original = ZarrV2Array.read_chunk

    def counted(self, chunk_idx):
        if self.path == "v":
            reads[tuple(chunk_idx)] += 1
        return original(self, chunk_idx)

    monkeypatch.setattr(ZarrV2Array, "read_chunk", counted)
    return reads


def read_all(plan, windows):
    """Concatenated values of every window, in order."""
    return np.concatenate([read_window(plan, s, e)["value"] for s, e in windows])


def touched_chunks(time_idx):
    """Data-array chunks a selection of these time indices (all y, x) needs."""
    grid = [-(-n // c) for n, c in zip(SHAPE, CHUNKS)]
    return {
        (t, y, x)
        for t in {int(i) // CHUNKS[0] for i in time_idx}
        for y in range(grid[1])
        for x in range(grid[2])
    }


def assert_each_chunk_once(reads, time_idx):
    assert set(reads) == touched_chunks(time_idx)
    assert set(reads.values()) == {1}, reads


@pytest.mark.parametrize("chunk_size", [1, 24, 50, 10_000])
@pytest.mark.parametrize(
    "sel",
    [
        slice(7, 40),
        slice(1, 47, 3),
        slice(44, 2, -2),
        [3, 4, 11, 12, 13, 30, 47],
        [-45, -44, -37, 12, 13, -1],
    ],
    ids=["offset", "step3", "reverse", "list", "negative"],
)
def test_selection_windows_read_each_chunk_once(grid_store, chunk_reads, sel, chunk_size):
    root, data = grid_store
    plan = plan_scan(ZarrStore(root), "v", {"time": sel})
    windows = plan_windows(plan, chunk_size)
    got = read_all(plan, windows)
    np.testing.assert_array_equal(got, data[sel].ravel())
    assert_each_chunk_once(chunk_reads, np.arange(SHAPE[0])[sel])
    inner = SHAPE[1] * SHAPE[2]
    # every window but the last holds at least chunk_size rows
    assert all(e - s >= chunk_size for s, e in windows[:-1])
    assert all(s % inner == 0 for s, _ in windows)


def test_offset_slice_no_longer_rereads_boundary_chunks(grid_store, chunk_reads):
    """A unit-step slice starting mid-chunk (time 3:17 over 5-step
    chunks): windows counted from the selection's start put every
    boundary mid-chunk, so each straddled chunk was read twice."""
    root, _ = grid_store
    plan = plan_scan(ZarrStore(root), "v", {"time": slice(3, 17)})
    inner = SHAPE[1] * SHAPE[2]
    old = partition_ranges(plan.total_rows, 5 * inner, plan.row_align)
    new = plan_windows(plan, 5 * inner)
    assert new == [(0, 7 * inner), (7 * inner, 12 * inner), (12 * inner, 14 * inner)]
    read_all(plan, old)
    assert max(chunk_reads.values()) == 2
    chunk_reads.clear()
    read_all(plan, new)
    assert_each_chunk_once(chunk_reads, range(3, 17))


def test_pushdown_refined_windows_read_each_chunk_once(grid_store, chunk_reads):
    from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThan

    from cae_polars_tools_spark.sources.zarr_datasource import ZarrScanReader

    root, data = grid_store
    plan = plan_scan(ZarrStore(root), "v")
    reader = ZarrScanReader(plan, 30)
    left = list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("time",), 9),
                LessThan(("time",), 33),
                In(("y",), (0, 2, 3)),
            ]
        )
    )
    assert left == []
    assert isinstance(reader.plan.selection[0], list)
    windows = [(p.start, p.end) for p in reader.partitions()]
    assert windows == plan_windows(reader.plan, 30)
    got = read_all(reader.plan, windows)
    np.testing.assert_array_equal(got, data[9:33][:, [0, 2, 3]].ravel())
    assert set(chunk_reads.values()) == {1}
    assert {c[0] for c in chunk_reads} == {1, 2, 3, 4, 5, 6}


def test_stream_slab_windows_read_each_chunk_once(grid_store, chunk_reads):
    from cae_polars_tools_spark.sources.zarr_datasource import ZarrStreamReader

    root, data = grid_store
    reader = ZarrStreamReader({"path": root, "array": "v", "chunk_size": "30"})
    parts = reader.partitions({"len0": 7}, {"len0": 31})
    inner = SHAPE[1] * SHAPE[2]
    assert parts[0].start == 7 * inner and parts[-1].end == 31 * inner
    # boundaries on the absolute grid (multiples of 5 time steps)
    assert all(p.start % (CHUNKS[0] * inner) == 0 for p in parts[1:])
    got = np.concatenate(
        [read_window(p.plan, p.start, p.end)["value"] for p in parts]
    )
    np.testing.assert_array_equal(got, data[7:31].ravel())
    assert_each_chunk_once(chunk_reads, range(7, 31))
    assert reader.partitions({"len0": 31}, {"len0": 31}) == []


@pytest.mark.parametrize("chunk_size", [1, 24, 100, 10_000])
def test_full_scan_windows_unchanged(grid_store, chunk_reads, chunk_size):
    root, data = grid_store
    plan = plan_scan(ZarrStore(root), "v")
    windows = plan_windows(plan, chunk_size)
    assert windows == partition_ranges(plan.total_rows, chunk_size, plan.row_align)
    np.testing.assert_array_equal(read_all(plan, windows), data.ravel())
    assert_each_chunk_once(chunk_reads, range(SHAPE[0]))


def test_windows_respect_partition_cap(grid_store, monkeypatch):
    from cae_polars_tools_spark.sources import zarr_reader

    root, _ = grid_store
    plan = plan_scan(ZarrStore(root), "v", {"time": slice(1, 47, 2)})
    monkeypatch.setattr(zarr_reader, "MAX_PARTITIONS", 3)
    windows = plan_windows(plan, 1)
    assert len(windows) <= 3
    assert windows[0][0] == 0 and windows[-1][1] == plan.total_rows
