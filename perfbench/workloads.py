"""The four benchmark workloads.

Each workload builds its seeded inputs (``build``), finishes set-up
once Spark is up (``prepare``), and yields its operations one balanced
cycle at a time (``cycle``). An operation is a ``(kind, rows, run,
check)`` tuple: ``run()`` is timed, ``check(result)`` is not and raises
``CheckFailed`` on a wrong answer. ``layer_metrics`` turns the spans of
a traced cycle, plus direct calls into the layer's public functions,
into the per-layer metrics this workload owns; it runs as one checked
operation, so its own checks raise ``CheckFailed`` too.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import zlib

import numpy as np

import gen


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def same_bits(a: np.ndarray, b: np.ndarray) -> bool:
    a = np.ascontiguousarray(a, dtype=np.float32)
    b = np.ascontiguousarray(b, dtype=np.float32)
    return a.shape == b.shape and np.array_equal(a.view(np.uint32), b.view(np.uint32))


def check_long_format(table, truth: np.ndarray, axes: dict, box: dict) -> None:
    """Rows of a long-format result must cover ``truth[box]`` exactly
    once, with coordinate values from ``axes`` and bit-identical values.
    ``box`` maps dim → slice, or int for a dropped dim."""
    dims = [d for d in ("time", "lat", "lon") if not isinstance(box[d], int)]
    sub = truth[tuple(box[d] for d in ("time", "lat", "lon"))]
    expect(list(table.column_names) == [*dims, "value"],
           f"columns {table.column_names} != {[*dims, 'value']}")
    expect(table.num_rows == sub.size, f"{table.num_rows} rows, expected {sub.size}")
    pos = []
    for d in dims:
        ax = axes[d][box[d]]
        col = table.column(d).to_numpy()
        i = np.clip(np.searchsorted(ax, col), 0, len(ax) - 1)
        expect(bool(np.all(ax[i] == col)), f"{d} holds values outside the selection")
        pos.append(i)
    lin = np.ravel_multi_index(pos, sub.shape) if dims else np.zeros(1, dtype=np.int64)
    expect(np.bincount(lin, minlength=sub.size).max(initial=0) <= 1, "duplicate cells")
    got = np.empty(sub.size, dtype=np.float32)
    got[lin] = table.column("value").to_numpy()
    expect(same_bits(got, sub.ravel()), "values differ from the generated array")


def checksum_columns(F):
    """Spark expressions matching ``gen.field_checksum``."""
    w = F.pmod(
        F.col("time") * 37 + F.floor(F.col("lat") * 16) * 11 + F.floor(F.col("lon") * 16),
        F.lit(gen.WEIGHT_MOD),
    ) + 1
    q = F.floor(F.col("value") * gen.QUANT)
    return [F.count(F.lit(1)).alias("n"), F.sum(q * w).alias("s")]


def durations_ms(tracer, name: str) -> list[float]:
    return [d * 1e3 for d in tracer.durations(name)]


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else float("nan")


class Workload:
    name = ""

    def __init__(self, ctx, scale: str, tracer):
        self.ctx = ctx
        self.scale = scale
        self.tr = tracer
        self.spec = gen.spec_for(self.name, scale, ctx.seed)
        self.dir: str | None = None

    def build(self) -> None:
        self.dir = gen.build_inputs(self.ctx.inputs, self.spec, self._build)

    def _build(self, d: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def cycle(self, i: int):
        raise NotImplementedError

    def warmup(self, run_ops) -> None:
        """Pay the cold start (Python workers, imports, codegen) before
        measuring: by default one cycle over tiny inputs of the same
        workload (these inputs, if they are tiny). ``run_ops(workload,
        ops)`` runs and checks ops."""
        if self.scale == "tiny":
            run_ops(self, self.cycle(-1))
            return
        tiny = type(self)(self.ctx, "tiny", self.tr)
        try:
            tiny.build()
            tiny.prepare()
            run_ops(tiny, tiny.cycle(-1))
        finally:
            tiny.close()

    def layer_metrics(self, tracer) -> dict:
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# bulk_scan
# --------------------------------------------------------------------------


class BulkScan(Workload):
    """Full long-format scans of a local v2 zlib store to the noop sink."""

    name = "bulk_scan"

    def _build(self, d):
        s = self.spec
        axes = gen.axes_for(s["shape"])
        arrays = {a: gen.climate_field(self.ctx.seed, s["shape"], k)
                  for k, a in enumerate(s["arrays"])}
        gen.write_v2_store(os.path.join(d, "store.zarr"), arrays, axes, s["chunks"])
        sums = {a: gen.field_checksum(v, axes["time"], axes["lat"], axes["lon"])
                for a, v in arrays.items()}
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(sums, f)

    def prepare(self):
        with open(os.path.join(self.dir, "expected.json")) as f:
            self.expected = {a: tuple(v) for a, v in json.load(f).items()}
        self.store = os.path.join(self.dir, "store.zarr")

    def cycle(self, i):
        """One full scan; consecutive cycles alternate between the arrays."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from cae_polars_tools_spark.sources.zarr_scan import scan_data

        spark, tr = self.ctx.spark, self.tr
        arr = self.spec["arrays"][i % len(self.spec["arrays"])]
        obs = Observation(f"chk-{arr}-{i}-{time.perf_counter_ns()}")

        def run():
            with tr.span("zarr_reader.scan_data"):
                df = scan_data(spark, self.store, arr)
            with tr.span("spark.noop_write"):
                df.observe(obs, *checksum_columns(F)).write.format("noop").mode(
                    "overwrite").save()
            return obs.get

        def check(got):
            want = self.expected[arr]
            expect((got["n"], got["s"]) == want, f"{arr}: checksum {got} != {want}")

        yield "scan", self.expected[arr][0], run, check

    def warmup(self, run_ops):
        """Six scans of the real store: scan times keep falling over the
        first five or six (JIT, worker-side caches)."""
        for i in range(-6, 0):
            run_ops(self, self.cycle(i))

    def layer_metrics(self, tracer):
        """Executor-side layers timed by direct calls on the driver over
        the first windows of the scan plan."""
        from cae_polars_tools_spark.sources import coordinates as C
        from cae_polars_tools_spark.sources.zarr_reader import (
            DEFAULT_CHUNK_SIZE, partition_ranges, plan_scan, read_window, window_to_arrow,
        )
        from cae_polars_tools_spark.sources.zarr_store import ZarrStore

        arr_name = self.spec["arrays"][0]
        store = ZarrStore(self.store)
        plan = plan_scan(store, arr_name)
        windows = partition_ranges(plan.total_rows, DEFAULT_CHUNK_SIZE, plan.row_align)[:4]
        rows = sum(e - s for s, e in windows)
        read_window(plan, *windows[0])  # opens the per-process group cache
        coords = {d: plan.coord_values(d) for d in plan.sel_dims}

        def timed_total(span, fn, reps=3):
            totals = []
            for _ in range(reps):
                t0 = time.perf_counter()
                for s, e in windows:
                    with tracer.span(span):
                        fn(s, e)
                totals.append(time.perf_counter() - t0)
            return statistics.median(totals)

        t_read = timed_total("zarr_reader.read_window", lambda s, e: read_window(plan, s, e))
        # Arrow conversion is window_to_arrow minus read_window, paired per
        # window: it is small (numeric columns convert without a copy), so
        # unpaired totals would bury it in drift between their passes
        arrow_ns = []
        for _ in range(3):
            for s, e in windows:
                t0 = time.perf_counter()
                with tracer.span("zarr_reader.read_window"):
                    read_window(plan, s, e)
                t1 = time.perf_counter()
                with tracer.span("zarr_reader.window_to_arrow"):
                    window_to_arrow(plan, s, e)
                t2 = time.perf_counter()
                arrow_ns.append(((t2 - t1) - (t1 - t0)) / (e - s) * 1e9)
        t_coords = timed_total("coordinates.coords_for_flat_range",
                               lambda s, e: C.coords_for_flat_range(
                                   plan.sel_shape, plan.sel_dims, coords, s, e))
        arr = store.get_array(arr_name)
        n_t = -(-windows[-1][1] // (plan.sel_shape[1] * plan.sel_shape[2]))
        chunk_ids = [(ti, yi, xi)
                     for ti in range(-(-n_t // arr.chunks[0]))
                     for yi in range(arr.nchunks[1]) for xi in range(arr.nchunks[2])]
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            for idx in chunk_ids:
                with tracer.span("zarr_format.read_chunk"):
                    arr.read_chunk(idx)
            times.append(time.perf_counter() - t0)
        t_chunks = statistics.median(times)
        nbytes = len(chunk_ids) * int(np.prod(arr.chunks)) * arr.dtype.itemsize
        return {
            "zarr_format.read_chunk_ms": (t_chunks / len(chunk_ids) * 1e3, "ms"),
            "zarr_format.decode_mb_per_s": (nbytes / 1e6 / t_chunks, "MB/s"),
            "coordinates.ns_per_row": (t_coords / rows * 1e9, "ns"),
            "zarr_reader.read_window_ns_per_row": (t_read / rows * 1e9, "ns"),
            "zarr_reader.arrow_ns_per_row": (statistics.median(arrow_ns), "ns"),
        }


# --------------------------------------------------------------------------
# remote_select
# --------------------------------------------------------------------------


QUERY_KINDS = ("point", "slab", "box", "where", "info")


class RemoteSelect(Workload):
    """Interactive selective reads over HTTP from a v2 store and a v3
    sharded copy of it, one client, closed loop."""

    name = "remote_select"

    def _build(self, d):
        s = self.spec
        axes = gen.axes_for(s["shape"])
        gen.write_v2_store(os.path.join(d, "v2.zarr"),
                           {"t2m": gen.climate_field(self.ctx.seed, s["shape"])},
                           axes, s["chunks"])
        from cae_polars_tools_spark.sources.zarr_scan import scan_data
        from cae_polars_tools_spark.sources.zarr_write import write_zarr

        write_zarr(scan_data(self.ctx.spark, os.path.join(d, "v2.zarr"), "t2m"),
                   os.path.join(d, "v3s.zarr"), chunks=tuple(s["inner"]),
                   shard_chunks=tuple(s["shard"]))

    def prepare(self):
        from objstore import ServerProcess

        s = self.spec
        self.shape = tuple(s["shape"])
        self.axes = gen.axes_for(self.shape)
        self.truth = gen.climate_field(self.ctx.seed, self.shape)
        self.server = ServerProcess(self.dir)
        self.stores = {
            "v2": (f"{self.server.url}/v2.zarr", "t2m", tuple(s["chunks"])),
            "v3s": (f"{self.server.url}/v3s.zarr", "value", tuple(s["inner"])),
        }
        self.useful = {"v2": self._v2_chunk_bytes(), "v3s": self._v3_inner_bytes()}
        from cae_polars_tools_spark.sources.zarr_scan import register_zarr_source

        register_zarr_source(self.ctx.spark)
        self.net: list[dict] = []  # per-op server counter deltas (traced runs)

    def _v2_chunk_bytes(self) -> np.ndarray:
        c = self.spec["chunks"]
        grid = [-(-n // k) for n, k in zip(self.shape, c)]
        out = np.zeros(grid, dtype=np.int64)
        for idx in np.ndindex(*grid):
            out[idx] = os.path.getsize(
                os.path.join(self.dir, "v2.zarr", "t2m", ".".join(map(str, idx))))
        return out

    def _v3_inner_bytes(self) -> np.ndarray:
        inner, shard = self.spec["inner"], self.spec["shard"]
        cps = [s // c for s, c in zip(shard, inner)]
        sgrid = [-(-n // k) for n, k in zip(self.shape, shard)]
        out = np.zeros([g * c for g, c in zip(sgrid, cps)], dtype=np.int64)
        for sidx in np.ndindex(*sgrid):
            path = os.path.join(self.dir, "v3s.zarr", "value", "c", *map(str, sidx))
            nb = gen.shard_index(path, int(np.prod(cps)))[:, 1].reshape(cps)
            sl = tuple(slice(i * c, (i + 1) * c) for i, c in zip(sidx, cps))
            out[sl] = np.where(nb == 2**64 - 1, 0, nb).astype(np.int64)
        return out

    def _useful_bytes(self, store: str, box: dict) -> int:
        grid = self.spec["chunks"] if store == "v2" else self.spec["inner"]
        sl = []
        for d, c in zip(("time", "lat", "lon"), grid):
            b = box[d]
            lo, hi = (b, b + 1) if isinstance(b, int) else (b.start, b.stop)
            sl.append(slice(lo // c, -(-hi // c)))
        return int(self.useful[store][tuple(sl)].sum())

    def _params(self, i: int):
        T, Y, X = self.shape
        rng = np.random.default_rng([self.ctx.seed, 101, i % (1 << 32)])
        order = [(k, st) for k in QUERY_KINDS for st in ("v2", "v3s")]
        perm = rng.permutation(len(order))
        bt, by, bx = T // 5, Y // 5, X // 5
        wt = T // 10
        for j in perm:
            kind, store = order[j]
            if kind == "point":
                box = {"time": slice(0, T), "lat": int(rng.integers(Y)),
                       "lon": int(rng.integers(X))}
            elif kind == "slab":
                box = {"time": int(rng.integers(T)), "lat": slice(0, Y), "lon": slice(0, X)}
            elif kind == "box":
                t0, y0, x0 = (int(rng.integers(0, n - b + 1))
                              for n, b in ((T, bt), (Y, by), (X, bx)))
                box = {"time": slice(t0, t0 + bt), "lat": slice(y0, y0 + by),
                       "lon": slice(x0, x0 + bx)}
            elif kind == "where":
                t0, y0 = int(rng.integers(0, T - wt + 1)), int(rng.integers(0, Y - by + 1))
                box = {"time": slice(t0, t0 + wt), "lat": slice(y0, y0 + by),
                       "lon": slice(0, X)}
            else:
                box = None
            yield kind, store, box

    def cycle(self, i):
        from pyspark.sql import functions as F

        from cae_polars_tools_spark.sources.zarr_scan import get_zarr_data_info, scan_data

        spark, tr = self.ctx.spark, self.tr
        for kind, store, box in self._params(i):
            url, arr, chunks = self.stores[store]
            rows = 0 if box is None else int(self.truth[
                tuple(box[d] for d in ("time", "lat", "lon"))].size)

            if kind in ("point", "slab"):
                sel = {d: b for d, b in box.items() if isinstance(b, int)}

                def run(url=url, arr=arr, sel=sel):
                    with tr.span("zarr_reader.scan_data"):
                        df = scan_data(spark, url, arr, select_dims=sel)
                    with tr.span("spark.collect"):
                        return df.toArrow()
            elif kind == "box":
                rng_v = {d: slice(float(self.axes[d][b.start]), float(self.axes[d][b.stop - 1]))
                         for d, b in box.items()}
                rng_v["time"] = slice(int(box["time"].start), int(box["time"].stop - 1))

                def run(url=url, arr=arr, rng_v=rng_v):
                    with tr.span("zarr_reader.scan_data"):
                        df = scan_data(spark, url, arr, select_ranges=rng_v)
                    with tr.span("spark.collect"):
                        return df.toArrow()
            elif kind == "where":
                lat = self.axes["lat"]
                cond = ((F.col("time") >= int(box["time"].start))
                        & (F.col("time") < int(box["time"].stop))
                        & (F.col("lat") >= float(lat[box["lat"].start]))
                        & (F.col("lat") <= float(lat[box["lat"].stop - 1])))

                def run(url=url, arr=arr, cond=cond):
                    df = (spark.read.format("zarr").option("array", arr).load(url)
                          .where(cond).agg(*checksum_columns(F),
                                           F.min("value").alias("lo"),
                                           F.max("value").alias("hi")))
                    if tr.enabled:
                        with tr.span("zarr_datasource.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.collect"):
                        return df.collect()[0].asDict()
            else:
                def run(url=url):
                    with tr.span("zarr_store.get_zarr_data_info"):
                        return get_zarr_data_info(url)

            def check(got, kind=kind, box=box, arr=arr, chunks=chunks):
                self._check(kind, box, arr, chunks, got)

            yield f"{kind}:{store}", rows, self._counted(run, store, box), check

    def warmup(self, run_ops):
        """Two cycles on the real stores: the first pays the cold start
        of every query kind, the second lets latencies settle."""
        run_ops(self, self.cycle(-2))
        run_ops(self, self.cycle(-1))

    def _counted(self, run, store, box):
        """Traced runs attribute the server's GET/byte counters to each op."""
        if not self.tr.enabled:
            return run

        def wrapped():
            before = self.server.stats()
            out = run()
            after = self.server.stats()
            delta = {k: after[k] - before[k] for k in after}
            delta["useful"] = 0 if box is None else self._useful_bytes(store, box)
            self.net.append(delta)
            return out

        return wrapped

    def _check(self, kind, box, arr, chunks, got):
        if kind == "info":
            info = got["arrays"][arr]
            expect(tuple(info["shape"]) == self.shape, f"info shape {info['shape']}")
            expect(np.dtype(info["dtype"]) == np.float32, f"info dtype {info['dtype']}")
            expect(tuple(info["chunks"]) == chunks, f"info chunks {info['chunks']}")
            return
        if kind == "where":
            sub = self.truth[box["time"], box["lat"], box["lon"]]
            w = gen.weights(self.axes["time"][box["time"]], self.axes["lat"][box["lat"]],
                            self.axes["lon"][box["lon"]])
            want_s = int(((sub * np.float32(gen.QUANT)).astype(np.int64) * w).sum())
            expect(got["n"] == sub.size and got["s"] == want_s,
                   f"where aggregate {got} != n={sub.size} s={want_s}")
            expect(same_bits(np.float32(got["lo"]), sub.min())
                   and same_bits(np.float32(got["hi"]), sub.max()), "where min/max")
            return
        check_long_format(got, self.truth, self.axes, box)

    def layer_metrics(self, tracer):
        from cae_polars_tools_spark.sources.zarr_format import ByteStore
        from cae_polars_tools_spark.sources.zarr_scan import get_zarr_data_info
        from cae_polars_tools_spark.sources.zarr_store import ZarrStore

        opens = []
        for url, _arr, _c in self.stores.values():
            for _ in range(3):
                t0 = time.perf_counter()
                with tracer.span("zarr_store.open_zarr_group"):
                    ZarrStore(url).open_zarr_group()
                opens.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                with tracer.span("zarr_store.get_zarr_data_info"):
                    get_zarr_data_info(url)
                opens.append(time.perf_counter() - t0)
        gets = []
        v2 = ByteStore.for_path(self.stores["v2"][0])
        for key in ("t2m/0.0.0", "t2m/0.0.1", "t2m/0.1.0"):
            t0 = time.perf_counter()
            with tracer.span("zarr_format.get"):
                v2.get(key)
            gets.append(time.perf_counter() - t0)
        v3 = ByteStore.for_path(self.stores["v3s"][0])
        nb = self.useful["v3s"]
        for off in (0, int(nb.flat[0])):
            t0 = time.perf_counter()
            with tracer.span("zarr_format.get_range"):
                v3.get_range("value/c/0/0/0", off, int(nb.flat[1]))
            gets.append(time.perf_counter() - t0)
        net = self.net
        n = max(len(net), 1)
        sel = [x for x in net if x["useful"] > 0]
        chunk_b = sum(x["chunk_bytes"] for x in sel)
        useful = sum(x["useful"] for x in sel)
        parts = self._partitions()
        return {
            "zarr_store.open_ms": (mean(opens) * 1e3, "ms"),
            "zarr_format.get_ms": (mean(gets) * 1e3, "ms"),
            "http.meta_gets_per_query": (sum(x["meta_gets"] for x in net) / n, "count"),
            "http.gets_per_query": (
                sum(x["meta_gets"] + x["chunk_gets"] for x in net) / n, "count"),
            "http.bytes_per_query": (
                sum(x["meta_bytes"] + x["chunk_bytes"] for x in net) / n, "bytes"),
            "http.fetch_amplification": (chunk_b / useful if useful else float("nan"), "ratio"),
            "zarr_reader.plan_ms": (mean(durations_ms(tracer, "zarr_reader.scan_data")), "ms"),
            "zarr_datasource.plan_ms": (
                mean(durations_ms(tracer, "zarr_datasource.plan")), "ms"),
            "zarr_reader.partitions_per_query": (parts, "count"),
        }

    def _partitions(self) -> float:
        """Mean Spark partitions of a point and a slab query on each copy."""
        from cae_polars_tools_spark.sources.zarr_scan import scan_data

        spark = self.ctx.spark
        T, Y, X = self.shape
        counts = []
        for url, arr, _c in self.stores.values():
            for sel in ({"lat": Y // 2, "lon": X // 2}, {"time": T // 2}):
                df = scan_data(spark, url, arr, select_dims=sel)
                counts.append(df.rdd.getNumPartitions())
        return mean(counts)

    def close(self):
        server = getattr(self, "server", None)
        if server is not None:
            server.close()


# --------------------------------------------------------------------------
# sink_write
# --------------------------------------------------------------------------


class SinkWrite(Workload):
    """write_zarr (v2 zlib, v3 sharded) and the CLI read → Parquet path."""

    name = "sink_write"

    def _build(self, d):
        s = self.spec
        gen.write_v2_store(os.path.join(d, "source.zarr"),
                           {"t2m": gen.climate_field(self.ctx.seed, s["shape"])},
                           gen.axes_for(s["shape"]), s["chunks"])

    def prepare(self):
        from cae_polars_tools_spark.sources.zarr_scan import scan_data

        s = self.spec
        self.shape = tuple(s["shape"])
        self.axes = gen.axes_for(self.shape)
        self.truth = gen.climate_field(self.ctx.seed, self.shape)
        self.source = os.path.join(self.dir, "source.zarr")
        self.out = os.path.join(self.ctx.work, f"sink-out-{self.scale}")
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.df = scan_data(self.ctx.spark, self.source, "t2m").cache()
        self.df.count()  # materialise the cache in set-up
        self.summaries: dict[str, dict] = {}

    def cycle(self, i):
        from cae_polars_tools_spark.sources.zarr_scan import scan_data
        from cae_polars_tools_spark.sources.zarr_write import write_zarr

        s, tr, spark = self.spec, self.tr, self.ctx.spark
        v2_path = os.path.join(self.out, "v2.zarr")
        v3_path = os.path.join(self.out, "v3s.zarr")
        pq_path = os.path.join(self.out, "t2m.parquet")

        def write_v2():
            with tr.span("zarr_write.write_zarr_v2"):
                return write_zarr(self.df, v2_path, chunks=tuple(s["chunks"]))

        def write_v3s():
            with tr.span("zarr_write.write_zarr_v3s"):
                return write_zarr(self.df, v3_path, chunks=tuple(s["inner"]),
                                  shard_chunks=tuple(s["shard"]))

        def convert():
            with tr.span("cli.read_to_parquet"):
                scan_data(spark, self.source, "t2m").write.mode("overwrite").parquet(pq_path)
            return pq_path

        def check_v2(summary):
            self.summaries["v2"] = summary
            expect(summary["cells"] == self.truth.size, f"v2 summary {summary}")
            self._check_axes(v2_path, "v2")
            expect(same_bits(gen.read_v2_array(v2_path, "value"), self.truth),
                   "v2 store differs from its source")

        def check_v3s(summary):
            self.summaries["v3s"] = summary
            expect(summary["cells"] == self.truth.size, f"v3s summary {summary}")
            self._check_axes(v3_path, "v3")
            expect(same_bits(gen.read_v3_sharded(v3_path, "value"), self.truth),
                   "v3 sharded store differs from its source")

        def check_pq(path):
            import pyarrow.parquet as pq

            box = {"time": slice(None), "lat": slice(None), "lon": slice(None)}
            check_long_format(pq.read_table(path), self.truth, self.axes, box)

        n = self.truth.size
        yield "write_v2", n, write_v2, check_v2
        yield "write_v3s", n, write_v3s, check_v3s
        yield "convert", n, convert, check_pq

    def _check_axes(self, path, fmt):
        for d, ax in self.axes.items():
            if fmt == "v2":
                got = gen.read_v2_array(path, d)
            else:
                with open(os.path.join(path, d, "c", "0"), "rb") as f:
                    got = np.frombuffer(zlib.decompress(f.read()), dtype=ax.dtype)
            expect(np.array_equal(got, ax), f"{fmt} coordinate {d} differs")

    def layer_metrics(self, tracer):
        mcell = self.truth.size / 1e6
        v2 = self.summaries.get("v2", {})
        v3 = self.summaries.get("v3s", {})
        t_conv = mean(tracer.durations("cli.read_to_parquet"))
        return {
            "zarr_write.v2_s_per_mcell": (
                mean(tracer.durations("zarr_write.write_zarr_v2")) / mcell, "s"),
            "zarr_write.v3s_s_per_mcell": (
                mean(tracer.durations("zarr_write.write_zarr_v3s")) / mcell, "s"),
            "zarr_write.bytes_per_cell": (
                (v2.get("bytes", 0) + v3.get("bytes", 0)) / (2 * self.truth.size), "bytes"),
            "zarr_write.objects_written": (
                v2.get("chunks_written", 0) + v3.get("chunks_written", 0), "count"),
            "cli.convert_rows_per_s": (self.truth.size / t_conv, "rows/s"),
        }

    def close(self):
        df = getattr(self, "df", None)
        if df is not None:
            df.unpersist()
        out = getattr(self, "out", None)
        if out is not None:
            shutil.rmtree(out, ignore_errors=True)


# --------------------------------------------------------------------------
# curate_docs
# --------------------------------------------------------------------------


class CurateDocs(Workload):
    """The registered curation plans over documents with injected
    exact and near duplicates."""

    name = "curate_docs"

    def _build(self, d):
        docs = gen.make_documents(self.ctx.seed, self.spec["n_docs"])
        gen.write_documents(d, docs, self.ctx.seed)

    def prepare(self):
        from cae_polars_tools_spark.plans.registry import load_all

        self.plans = load_all()
        self.meta = gen.load_documents(self.dir)
        self.n = len(self.meta["texts"])
        self.curated: int | None = None  # survivors, set by a passing curate check

    def cycle(self, i):
        tr, spark = self.tr, self.ctx.spark

        def curate():
            with tr.span("plans.pipeline_curate_e2e"):
                return self.plans["pipeline_curate_e2e"].build(spark, self.dir).toArrow()

        def lsh():
            with tr.span("plans.dedup_minhash_lsh"):
                return self.plans["dedup_minhash_lsh"].build(spark, self.dir).toArrow()

        yield "curate", self.n, curate, self._check_curate
        yield "minhash_lsh", self.n, lsh, self._check_pairs

    def _check_curate(self, table):
        ids = table.column("doc_id").to_pylist()
        texts = self.meta["texts"]
        expect(len(set(ids)) == len(ids), "duplicate doc ids in curated output")
        expect(not set(self.meta["exact_ids"]) & set(ids), "an exact duplicate survived")
        expect(len({texts[i] for i in ids}) == len(ids), "survivors not unique by text")
        ntok = table.column("n_tokens").to_pylist()
        expect(all(n == len(texts[i].split(" ")) for i, n in zip(ids, ntok)), "n_tokens")
        self.curated = len(ids)
        expect(sorted(ids) == self.meta["curated_ids"],
               f"{len(ids)} survivors, expected {len(self.meta['curated_ids'])}")

    def _check_pairs(self, table):
        got = {(a, b): j for a, b, j in zip(table.column("doc_id_a").to_pylist(),
                                            table.column("doc_id_b").to_pylist(),
                                            table.column("jaccard").to_pylist())}
        want = self.meta["pairs"]
        expect(set(got) == set(want), f"{len(got)} pairs, expected {len(want)}")
        expect(all(abs(got[k] - want[k]) < 1e-12 for k in want), "pair jaccard values")

    def layer_metrics(self, tracer):
        from pyspark.sql import functions as F

        from cae_polars_tools_spark.io import read_table, spread
        from cae_polars_tools_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs
        from cae_polars_tools_spark.operators.text import quality_filter

        spark = self.ctx.spark

        def docs():
            return spread(read_table(spark, self.dir, "documents"))

        t0 = time.perf_counter()
        with tracer.span("text.quality_filter"):
            kept = quality_filter(docs()).agg(F.sum(F.col("keep").cast("long"))).first()[0]
        t_quality = time.perf_counter() - t0
        expect(kept == len(self.meta["kept_ids"]), f"quality kept {kept}")
        t0 = time.perf_counter()
        with tracer.span("dedup.dedup_exact"):
            n_fp = self.plans["dedup_exact"].build(spark, self.dir).count()
        t_exact = time.perf_counter() - t0
        expect(n_fp == len(set(self.meta["texts"])), f"exact dedup groups {n_fp}")
        t0 = time.perf_counter()
        with tracer.span("dedup.jaccard_pairs"):
            n_jp = jaccard_pairs(docs()).count()
        t_jacc = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("dedup.minhash_lsh_pairs"):
            n_mh = minhash_lsh_pairs(docs()).count()
        t_mh = time.perf_counter() - t0
        expect(n_jp == n_mh == len(self.meta["pairs"]), f"pairs {n_jp} / {n_mh}")
        return {
            "text.quality_s": (t_quality, "s"),
            "text.kept_frac": (kept / self.n, "ratio"),
            "dedup.exact_s": (t_exact, "s"),
            "dedup.jaccard_s": (t_jacc, "s"),
            "dedup.minhash_s": (t_mh, "s"),
            "dedup.pairs_per_kdoc": (n_mh / (self.n / 1000), "count"),
            "dedup.removed_frac": (
                float("nan") if self.curated is None else 1 - self.curated / self.n, "ratio"),
        }


WORKLOADS = {w.name: w for w in (BulkScan, RemoteSelect, SinkWrite, CurateDocs)}
