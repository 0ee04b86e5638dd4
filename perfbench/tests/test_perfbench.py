"""Tests for the benchmark's own code: seeded generators, the object-store
server, metric names and a tiny smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time
import urllib.error
import urllib.request

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import objstore  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators --------------------------------------------------------------


def test_climate_field_is_deterministic_per_seed():
    a = gen.climate_field(5, (6, 8, 10))
    b = gen.climate_field(5, (6, 8, 10))
    c = gen.climate_field(6, (6, 8, 10))
    assert a.dtype == np.float32
    assert np.array_equal(a.view(np.uint32), b.view(np.uint32))
    assert not np.array_equal(a, c)
    # quantised: value * QUANT is an exact integer
    q = a * np.float32(gen.QUANT)
    assert np.array_equal(q, np.round(q))


def test_v2_store_bytes_are_deterministic_and_readable(tmp_path):
    shape, chunks = (5, 6, 7), (2, 4, 4)
    axes = gen.axes_for(shape)
    for d in ("a", "b"):
        gen.write_v2_store(str(tmp_path / d), {"t2m": gen.climate_field(3, shape)},
                           axes, chunks)
    files = sorted(os.path.relpath(os.path.join(r, f), tmp_path / "a")
                   for r, _, fs in os.walk(tmp_path / "a") for f in fs)
    for rel in files:
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes()
    got = gen.read_v2_array(str(tmp_path / "a"), "t2m")
    assert np.array_equal(got, gen.climate_field(3, shape))
    assert np.array_equal(gen.read_v2_array(str(tmp_path / "a"), "lat"), axes["lat"])


def test_documents_are_deterministic_and_answers_consistent():
    a = gen.make_documents(9, 300)
    b = gen.make_documents(9, 300)
    assert a["texts"] == b["texts"] and a["curated_ids"] == b["curated_ids"]
    assert gen.make_documents(10, 300)["texts"] != a["texts"]
    texts = a["texts"]
    # every exact duplicate has a smaller-id twin and never survives
    for i in a["exact_ids"]:
        assert texts.index(texts[i]) < i
        assert i not in a["curated_ids"]
    assert len({texts[i] for i in a["curated_ids"]}) == len(a["curated_ids"])
    # every exact duplicate pair is a Jaccard-1 pair
    pairs = dict(a["pairs"])
    for i in a["exact_ids"]:
        assert pairs[(texts.index(texts[i]), i)] == 1.0


def test_build_inputs_builds_each_spec_once_per_run(tmp_path):
    spec = gen.spec_for("curate_docs", "tiny", 4)
    d = gen.build_inputs(str(tmp_path), spec, lambda d: open(os.path.join(d, "x"), "w").close())
    assert os.path.exists(os.path.join(d, "x"))
    # a second build of the same spec in one run is a bug, not a reuse
    with pytest.raises(FileExistsError):
        gen.build_inputs(str(tmp_path), spec, lambda d: None)


# -- object-store server -----------------------------------------------------


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    root = tmp_path_factory.mktemp("objstore")
    (root / "s.zarr" / "t2m").mkdir(parents=True)
    (root / "s.zarr" / "lat").mkdir()
    (root / "s.zarr" / ".zmetadata").write_bytes(b"{}")
    (root / "s.zarr" / "t2m" / "0.0").write_bytes(bytes(range(100)))
    (root / "s.zarr" / "lat" / "0").write_bytes(b"abcd")
    srv = objstore.ServerProcess(str(root))
    yield srv
    srv.close()
    assert srv.proc.poll() is not None


def get(url, rng=None):
    req = urllib.request.Request(url, headers={"Range": rng} if rng else {})
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, r.read(), r.headers.get("Content-Range")
    except urllib.error.HTTPError as e:
        return e.code, b"", None


def test_server_range_semantics(server):
    url = f"{server.url}/s.zarr/t2m/0.0"
    body = bytes(range(100))
    assert get(url)[:2] == (200, body)
    assert get(url, "bytes=10-19") == (206, body[10:20], "bytes 10-19/100")
    assert get(url, "bytes=95-")[:2] == (206, body[95:])
    assert get(url, "bytes=90-200")[:2] == (206, body[90:])
    assert get(url, "bytes=-7")[:2] == (206, body[-7:])
    assert get(url, "bytes=-500")[:2] == (206, body)
    assert get(url, "bytes=100-")[0] == 416
    assert get(f"{server.url}/s.zarr/t2m/9.9")[0] == 404
    assert get(f"{server.url}/../../etc/passwd")[0] == 404


def test_server_counts_meta_and_chunk_gets_and_delays(server):
    before = server.stats()
    t0 = time.perf_counter()
    get(f"{server.url}/s.zarr/.zmetadata")
    get(f"{server.url}/s.zarr/lat/0")
    get(f"{server.url}/s.zarr/t2m/0.0", "bytes=0-9")
    assert time.perf_counter() - t0 >= 3 * objstore.DELAY_S
    after = server.stats()
    delta = {k: after[k] - before[k] for k in after}
    assert delta == {"meta_gets": 2, "meta_bytes": 6, "chunk_gets": 1, "chunk_bytes": 10}


def test_classify_and_parse_range():
    assert objstore.classify("s/v2.zarr/.zmetadata") == "meta"
    assert objstore.classify("s/v3s.zarr/value/zarr.json") == "meta"
    assert objstore.classify("s/v3s.zarr/lat/c/0") == "meta"
    assert objstore.classify("s/v3s.zarr/value/c/0/0/0") == "chunk"
    assert objstore.parse_range(None, 10) is None
    assert objstore.parse_range("bytes=2-4", 10) == (2, 4)
    assert objstore.parse_range("bytes=-3", 10) == (7, 9)
    assert objstore.parse_range("bytes=10-", 10) == "416"


# -- BENCHMARK.json and smoke runs ------------------------------------------


def test_metric_names_are_well_formed():
    spec = bench_spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s"}


def run_bench(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["bulk_scan", "remote_select", "sink_write", "curate_docs"])
def test_workload_smoke_run_at_tiny_size(workload):
    p = run_bench("--workload", workload, "--seed", "1", "--seconds", "0",
                  "--trace", "0", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"] for m in bench_spec()["end_to_end"]}
    assert set(out["metrics"]) == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_reports_every_per_layer_metric():
    p = run_bench("--workload", "bulk_scan", "--seed", "1", "--seconds", "0",
                  "--trace", "1", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True
    assert set(out["metrics"]) == {m["name"] for m in bench_spec()["per_layer"]}


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = run_bench("--workload", "bulk_scan", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
