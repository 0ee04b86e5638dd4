"""Seeded input generators for the benchmark.

Every input is a pure function of a spec dict (workload, scale, seed
and sizes). Each run builds its inputs from scratch, so set-up time and
memory depend only on the command, never on what an earlier run left
behind; the time spent building is part of set-up.

* ``climate_field`` — a smooth seasonal/latitude field plus seeded
  noise, quantised to multiples of 1/1024 so every value is an exact
  integer after ``* 1024``; that is what lets the Spark-side checksums
  (``field_checksum``) compare all bits of every value.
* ``write_v2_store`` — a zarr v2 zlib store with consolidated metadata,
  written by this file (not by the program under test), chunks
  compressed on a small thread pool.
* ``make_documents`` — a document table with injected exact and near
  duplicates, plus the exact answers the curation plans must return.
"""

from __future__ import annotations

import json
import os
import zlib
from concurrent.futures import ThreadPoolExecutor
from itertools import combinations, product

import numpy as np

QUANT = 1024  # values are multiples of 1/QUANT
WEIGHT_MOD = 1009  # modulus of the positional checksum weight

# --------------------------------------------------------------------------
# Sizes per workload and scale. ``probe`` keeps the full chunk geometry
# on fewer time steps (fewer documents): a traced run uses it to measure
# the layers of workloads it does not run itself. ``tiny`` is for
# warm-ups and smoke tests.
# --------------------------------------------------------------------------

SPECS = {
    "bulk_scan": {
        "full": {"shape": (240, 256, 256), "chunks": (24, 128, 128), "arrays": ("t2m", "pr")},
        "probe": {"shape": (24, 256, 256), "chunks": (24, 128, 128), "arrays": ("t2m", "pr")},
        "tiny": {"shape": (24, 32, 32), "chunks": (6, 16, 16), "arrays": ("t2m", "pr")},
    },
    "remote_select": {
        "full": {
            "shape": (120, 200, 200), "chunks": (12, 100, 100),
            "inner": (12, 50, 50), "shard": (12, 200, 200), "arrays": ("t2m",),
        },
        "probe": {
            "shape": (24, 200, 200), "chunks": (12, 100, 100),
            "inner": (12, 50, 50), "shard": (12, 200, 200), "arrays": ("t2m",),
        },
        "tiny": {
            "shape": (24, 40, 40), "chunks": (6, 20, 20),
            "inner": (6, 10, 10), "shard": (6, 40, 40), "arrays": ("t2m",),
        },
    },
    "sink_write": {
        "full": {
            "shape": (120, 200, 100), "chunks": (12, 100, 100),
            "inner": (12, 50, 50), "shard": (12, 200, 100), "arrays": ("t2m",),
        },
        "probe": {
            "shape": (48, 200, 100), "chunks": (12, 100, 100),
            "inner": (12, 50, 50), "shard": (12, 200, 100), "arrays": ("t2m",),
        },
        "tiny": {
            "shape": (24, 100, 100), "chunks": (6, 50, 50),
            "inner": (6, 25, 25), "shard": (6, 100, 100), "arrays": ("t2m",),
        },
    },
    "curate_docs": {
        "full": {"n_docs": 20_000},
        "probe": {"n_docs": 5000},
        "tiny": {"n_docs": 1000},
    },
}


def spec_for(workload: str, scale: str, seed: int) -> dict:
    return {"workload": workload, "scale": scale, "seed": int(seed),
            **SPECS[workload][scale]}


def build_inputs(inputs_dir: str, spec: dict, build) -> str:
    """Build the inputs for ``spec`` with ``build(dir)`` in a new
    directory under ``inputs_dir`` and return it."""
    d = os.path.join(inputs_dir, f"{spec['workload']}-{spec['scale']}")
    os.makedirs(d)
    build(d)
    return d


# --------------------------------------------------------------------------
# Climate-like fields
# --------------------------------------------------------------------------


def axes_for(shape: tuple[int, int, int]) -> dict[str, np.ndarray]:
    t, y, x = shape
    return {
        "time": np.arange(t, dtype=np.int64),
        "lat": np.linspace(-89.5, 89.5, y),
        "lon": np.linspace(0.0, 360.0, x, endpoint=False),
    }


def climate_field(seed: int, shape: tuple[int, int, int], k: int = 0) -> np.ndarray:
    """Array ``k`` of a seeded store: float32, multiples of 1/QUANT."""
    rng = np.random.default_rng([int(seed), k])
    ax = axes_for(shape)
    t = ax["time"].astype(np.float32)[:, None, None]
    lat = np.deg2rad(ax["lat"]).astype(np.float32)[None, :, None]
    lon = np.deg2rad(ax["lon"]).astype(np.float32)[None, None, :]
    amp = np.float32(1.0 + 0.5 * k)
    base = amp * (
        15 + 25 * np.cos(lat) + 8 * np.sin(2 * np.pi * t / 12) * np.sin(lat)
        + 2 * np.cos(lon + np.float32(k))
    )
    out = base + rng.standard_normal(shape, dtype=np.float32) * np.float32(0.5)
    return (np.round(out * QUANT) / QUANT).astype(np.float32)


def weights(time_v: np.ndarray, lat_v: np.ndarray, lon_v: np.ndarray) -> np.ndarray:
    """Positional checksum weight, the same integer formula the Spark
    side evaluates on the coordinate columns (see ``checksum_columns``)."""
    t = time_v.astype(np.int64)[:, None, None] * 37
    la = np.floor(lat_v * 16).astype(np.int64)[None, :, None] * 11
    lo = np.floor(lon_v * 16).astype(np.int64)[None, None, :]
    return np.mod(t + la + lo, WEIGHT_MOD) + 1


def field_checksum(a: np.ndarray, time_v, lat_v, lon_v) -> tuple[int, int]:
    """(rows, Σ value·QUANT·weight) over a (time, lat, lon) block —
    exact integer arithmetic, so it matches Spark bit for bit."""
    total = 0
    w_all = weights(time_v, lat_v, lon_v)
    for s in range(0, a.shape[0], 16):
        q = (a[s:s + 16] * np.float32(QUANT)).astype(np.int64)
        total += int((q * w_all[s:s + 16]).sum())
    return int(a.size), total


# --------------------------------------------------------------------------
# zarr v2 writer (independent of the program under test)
# --------------------------------------------------------------------------


def write_v2_store(root: str, arrays: dict[str, np.ndarray], axes: dict[str, np.ndarray],
                   chunks: tuple[int, ...]) -> None:
    """zlib level 1, chunks compressed on four threads (zlib releases
    the interpreter lock)."""
    level = 1
    os.makedirs(root, exist_ok=True)
    meta: dict[str, dict] = {".zgroup": {"zarr_format": 2}, ".zattrs": {}}
    jobs = []
    dims = list(axes)

    def array_meta(name, a, ch, attrs):
        meta[f"{name}/.zarray"] = {
            "zarr_format": 2, "shape": list(a.shape), "chunks": list(ch),
            "dtype": a.dtype.str, "compressor": {"id": "zlib", "level": level},
            "fill_value": 0, "order": "C", "filters": None,
        }
        meta[f"{name}/.zattrs"] = attrs
        os.makedirs(os.path.join(root, name), exist_ok=True)

    for name, ax in axes.items():
        array_meta(name, ax, ax.shape, {"_ARRAY_DIMENSIONS": [name]})
        jobs.append((os.path.join(root, name, "0"), ax))
    for name, a in arrays.items():
        array_meta(name, a, chunks, {"_ARRAY_DIMENSIONS": dims})
        grid = [range(-(-s // c)) for s, c in zip(a.shape, chunks)]
        for idx in product(*grid):
            sl = tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, chunks))
            block = a[sl]
            if block.shape != tuple(chunks):  # v2 pads edge chunks
                padded = np.zeros(chunks, dtype=a.dtype)
                padded[tuple(slice(0, n) for n in block.shape)] = block
                block = padded
            jobs.append((os.path.join(root, name, ".".join(map(str, idx))), block))

    def put(job):
        path, block = job
        with open(path, "wb") as f:
            f.write(zlib.compress(np.ascontiguousarray(block).tobytes(), level))

    with ThreadPoolExecutor(4) as ex:
        list(ex.map(put, jobs))
    for key, doc in meta.items():
        with open(os.path.join(root, key), "w") as f:
            json.dump(doc, f)
    with open(os.path.join(root, ".zmetadata"), "w") as f:
        json.dump({"zarr_consolidated_format": 1, "metadata": meta}, f)


def read_v2_array(root: str, name: str) -> np.ndarray:
    """Decode a zlib/uncompressed v2 array written by anyone (used to
    check stores the program writes)."""
    with open(os.path.join(root, name, ".zarray")) as f:
        m = json.load(f)
    shape, chunks, dt = tuple(m["shape"]), tuple(m["chunks"]), np.dtype(m["dtype"])
    sep = m.get("dimension_separator", ".")
    out = np.full(shape, m.get("fill_value") or 0, dtype=dt)
    for idx in product(*[range(-(-s // c)) for s, c in zip(shape, chunks)]):
        path = os.path.join(root, name, sep.join(map(str, idx)))
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            raw = f.read()
        if m.get("compressor"):
            raw = zlib.decompress(raw)
        block = np.frombuffer(raw, dtype=dt).reshape(chunks)
        sl = tuple(slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(idx, chunks, shape))
        out[sl] = block[tuple(slice(0, x.stop - x.start) for x in sl)]
    return out


def shard_index(path: str, n_inner: int) -> np.ndarray:
    """(offset, nbytes) rows of a ``sharding_indexed`` shard whose index
    (little-endian u64 pairs + crc32c) sits at the end of the object."""
    size = os.path.getsize(path)
    nb = n_inner * 16 + 4
    with open(path, "rb") as f:
        f.seek(size - nb)
        raw = f.read(nb - 4)
    return np.frombuffer(raw, dtype="<u8").reshape(n_inner, 2)


def read_v3_sharded(root: str, name: str) -> np.ndarray:
    """Decode a v3 ``sharding_indexed`` array with zlib inner chunks."""
    with open(os.path.join(root, name, "zarr.json")) as f:
        m = json.load(f)
    shape = tuple(m["shape"])
    shard = tuple(m["chunk_grid"]["configuration"]["chunk_shape"])
    conf = m["codecs"][0]["configuration"]
    inner = tuple(conf["chunk_shape"])
    dt = np.dtype(m["data_type"]).newbyteorder("<")
    cps = tuple(s // c for s, c in zip(shard, inner))
    n_inner = int(np.prod(cps))
    out = np.full(shape, m.get("fill_value") or 0, dtype=dt)
    for sidx in product(*[range(-(-s // c)) for s, c in zip(shape, shard)]):
        path = os.path.join(root, name, "c", *map(str, sidx))
        if not os.path.exists(path):
            continue
        index = shard_index(path, n_inner)
        with open(path, "rb") as f:
            body = f.read()
        for lin, ipos in enumerate(product(*[range(c) for c in cps])):
            off, nbytes = (int(v) for v in index[lin])
            if off == 2**64 - 1:
                continue
            block = np.frombuffer(zlib.decompress(body[off:off + nbytes]), dtype=dt)
            block = block.reshape(inner)
            lo = [si * s + ip * c for si, s, ip, c in zip(sidx, shard, ipos, inner)]
            sl = tuple(slice(a, min(a + c, n)) for a, c, n in zip(lo, inner, shape))
            out[sl] = block[tuple(slice(0, x.stop - x.start) for x in sl)]
    return out


# --------------------------------------------------------------------------
# Documents with injected duplicates
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "on", "is", "for")
_SYL = ("ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "me", "nu", "pa", "ro",
        "sa", "te", "vi", "zo", "qua", "tri", "len", "mor")


def vocabulary() -> list[str]:
    """Fixed 400-word content vocabulary (2-3 syllables, 4-9 letters)."""
    words = []
    for a, b in product(_SYL, _SYL):
        words.append(a + b)
    for a, b, c in product(_SYL[:6], _SYL[6:12], _SYL[12:]):
        if len(words) >= 400:
            break
        words.append(a + b + c)
    return words[:400]


NGRAM = 5
JACCARD = 0.8
QUALITY = {"min_words": 50, "max_words": 100_000, "mean_len": (3.0, 10.0),
           "min_alpha": 0.8, "min_stop": 2}


def quality_ok(text: str) -> bool:
    t = text.split(" ")
    n = len(t)
    mean_len = sum(len(w) for w in t) / n
    alpha = sum(any(ch.isascii() and ch.isalpha() for ch in w) for w in t) / n
    n_stop = sum(w in STOPWORDS for w in t)
    return (QUALITY["min_words"] <= n <= QUALITY["max_words"]
            and QUALITY["mean_len"][0] <= mean_len <= QUALITY["mean_len"][1]
            and alpha >= QUALITY["min_alpha"] and n_stop >= QUALITY["min_stop"])


def shingle_set(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i:i + NGRAM]) for i in range(len(t) - NGRAM + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return float(inter) / float(len(a) + len(b) - inter) if (a or b) else 0.0


def make_documents(seed: int, n_docs: int) -> dict:
    """Documents plus the exact expected plan outputs.

    80% originals (40-160 words), 10% exact copies and 10% near copies
    (a contiguous span of about 4% of the words replaced) of random
    originals. Copies get larger ids than their source, so dedup keeps
    the source."""
    rng = np.random.default_rng([int(seed), 7])
    vocab = np.array(vocabulary())
    stop = np.array(STOPWORDS)
    n_orig = n_docs * 8 // 10
    n_exact = n_docs // 10
    n_near = n_docs - n_orig - n_exact
    texts: list[str] = []
    family: list[int] = []  # id of the original each doc derives from
    for i in range(n_orig):
        n = int(rng.integers(40, 161))
        words = vocab[rng.integers(0, len(vocab), n)]
        is_stop = rng.random(n) < 0.15
        words = np.where(is_stop, stop[rng.integers(0, len(stop), n)], words)
        texts.append(" ".join(words.tolist()))
        family.append(i)
    exact_src = rng.integers(0, n_orig, n_exact)
    for s in exact_src:
        texts.append(texts[int(s)])
        family.append(int(s))
    near_src = rng.integers(0, n_orig, n_near)
    for s in near_src:
        words = texts[int(s)].split(" ")
        span = max(1, round(0.04 * len(words)))
        at = int(rng.integers(0, len(words) - span + 1))
        words[at:at + span] = vocab[rng.integers(0, len(vocab), span)].tolist()
        texts.append(" ".join(words))
        family.append(int(s))
    exact_ids = list(range(n_orig, n_orig + n_exact))
    return {"texts": texts, "family": family, "exact_ids": exact_ids,
            **expected_curation(texts, family)}


def expected_curation(texts: list[str], family: list[int]) -> dict:
    """Exact answers: survivors of the curation pipeline (quality gate →
    keep min id per text → drop the larger id of every Jaccard ≥ 0.8
    pair among survivors) and every Jaccard ≥ 0.8 pair overall. Pairs
    can only occur inside a family: unrelated random documents share
    almost no 5-word shingles."""
    groups: dict[int, list[int]] = {}
    for i, f in enumerate(family):
        groups.setdefault(f, []).append(i)
    kept = [quality_ok(t) for t in texts]
    first_of_text: dict[str, int] = {}
    for i, t in enumerate(texts):
        if kept[i] and t not in first_of_text:
            first_of_text[t] = i
    survivors = set(first_of_text.values())
    dropped: set[int] = set()
    all_pairs: dict[tuple[int, int], float] = {}
    for members in groups.values():
        if len(members) < 2:
            continue
        sh = {i: shingle_set(texts[i]) for i in members}
        for a, b in combinations(sorted(members), 2):
            j = jaccard(sh[a], sh[b])
            if j >= JACCARD:
                all_pairs[(a, b)] = j
                if a in survivors and b in survivors:
                    dropped.add(b)
    return {
        "kept_ids": [i for i, k in enumerate(kept) if k],
        "curated_ids": sorted(survivors - dropped),
        "pairs": sorted(all_pairs.items()),
    }


def write_documents(sf_dir: str, docs: dict, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = docs["texts"]
    order = np.random.default_rng([int(seed), 11]).permutation(len(texts))
    table = pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{i % 8}" for i in order]),
        "n_chars": pa.array([len(texts[i]) for i in order], type=pa.int64()),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    meta = {k: docs[k] for k in ("family", "exact_ids", "kept_ids", "curated_ids")}
    meta["pairs"] = [[a, b, j] for (a, b), j in docs["pairs"]]
    with open(os.path.join(sf_dir, "expected.json"), "w") as f:
        json.dump(meta, f)


def load_documents(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    text_by_id = dict(zip(ids, t.column("text").to_pylist()))
    with open(os.path.join(sf_dir, "expected.json")) as f:
        meta = json.load(f)
    meta["texts"] = [text_by_id[i] for i in range(len(ids))]
    meta["pairs"] = {(a, b): j for a, b, j in meta["pairs"]}
    return meta
