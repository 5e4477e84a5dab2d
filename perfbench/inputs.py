"""Seeded input generators and independent readers for the benchmark.

Everything the program under test reads is made here from the run's seed:
an N5 volume, a z-slice TIFF series and a set of TPC-H-like parquet tables.
The N5 and TIFF bytes are written and read back with the small stdlib/numpy
codecs below, never with the engine's own writer or decoder, so an output
check cannot pass because the engine agrees with itself.
"""

from __future__ import annotations

import gzip
import json
import os
import struct
from datetime import datetime

import numpy as np

N5_VERSION = "2.5.1"


# --------------------------------------------------------------------------
# volumes


def smooth_volume(rng: np.random.Generator, shape_zyx: tuple[int, int, int]) -> np.ndarray:
    """uint16 (z, y, x) volume: a few seeded low-frequency waves plus noise.

    Smooth content compresses like microscopy does (gzip ratio ~0.75 at
    uint16), and the noise keeps every block distinct."""
    z, y, x = (np.arange(n, dtype=np.float32) for n in shape_zyx)
    vol = np.full(shape_zyx, 8000.0, dtype=np.float32)
    for _ in range(3):
        fz, fy, fx = rng.uniform(0.02, 0.12, 3).astype(np.float32)
        pz, py, px = rng.uniform(0, 2 * np.pi, 3).astype(np.float32)
        amp = np.float32(rng.uniform(800, 2500))
        vol += (
            amp
            * np.sin(fz * z + pz)[:, None, None]
            * np.cos(fy * y + py)[None, :, None]
            * np.sin(fx * x + px)[None, None, :]
        )
    vol += rng.normal(0.0, 60.0, size=shape_zyx).astype(np.float32)
    return np.clip(vol, 0, 65535).astype(np.uint16)


def block_sums(vol_zyx: np.ndarray, block: int) -> dict[tuple[int, int, int], int]:
    """(gx, gy, gz) -> exact int sum of each block (edge blocks truncated)."""
    nz, ny, nx = vol_zyx.shape
    out = {}
    for gz in range(-(-nz // block)):
        for gy in range(-(-ny // block)):
            for gx in range(-(-nx // block)):
                blk = vol_zyx[
                    gz * block : (gz + 1) * block,
                    gy * block : (gy + 1) * block,
                    gx * block : (gx + 1) * block,
                ]
                out[(gx, gy, gz)] = int(blk.sum(dtype=np.int64))
    return out


def downsample2(vol_zyx: np.ndarray) -> np.ndarray:
    """2x2x2 windowed mean truncated to the integer dtype (even dims only)."""
    nz, ny, nx = vol_zyx.shape
    s = vol_zyx.astype(np.int64).reshape(nz // 2, 2, ny // 2, 2, nx // 2, 2).sum(axis=(1, 3, 5))
    return (s // 8).astype(vol_zyx.dtype)


# --------------------------------------------------------------------------
# N5: a minimal writer/reader for mode-0 blocks, raw or gzip payloads


def write_n5(root: str, dataset: str, vol_zyx: np.ndarray, block: int, level: int = 1) -> int:
    """Write vol as a gzip N5 dataset with cubic blocks; returns stored bytes."""
    nz, ny, nx = vol_zyx.shape
    os.makedirs(os.path.join(root, dataset), exist_ok=True)
    with open(os.path.join(root, "attributes.json"), "w") as f:
        json.dump({"n5": N5_VERSION}, f)
    attrs = {
        "dataType": "uint16",
        "dimensions": [nx, ny, nz],
        "blockSize": [block, block, block],
        "compression": {"type": "gzip", "useZlib": False, "level": level},
    }
    with open(os.path.join(root, dataset, "attributes.json"), "w") as f:
        json.dump(attrs, f)
    stored = 0
    for gz in range(-(-nz // block)):
        for gy in range(-(-ny // block)):
            for gx in range(-(-nx // block)):
                blk = vol_zyx[
                    gz * block : (gz + 1) * block,
                    gy * block : (gy + 1) * block,
                    gx * block : (gx + 1) * block,
                ]
                header = struct.pack(">HH3i", 0, 3, *blk.shape[::-1])
                payload = gzip.compress(blk.astype(">u2").tobytes(), compresslevel=level, mtime=0)
                d = os.path.join(root, dataset, str(gx), str(gy))
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, str(gz)), "wb") as f:
                    f.write(header + payload)
                stored += len(header) + len(payload)
    return stored


def read_n5(root: str, dataset: str) -> np.ndarray:
    """Read a 3-D uint16 N5 dataset (raw or gzip, mode 0) -> (z, y, x) array.
    Absent blocks read as zeros (N5 fill value)."""
    path = os.path.join(root, dataset)
    with open(os.path.join(path, "attributes.json")) as f:
        attrs = json.load(f)
    if attrs["dataType"] != "uint16":
        raise ValueError(f"{path}: expected uint16, found {attrs['dataType']}")
    ctype = attrs.get("compression", {"type": "raw"})["type"]
    nx, ny, nz = attrs["dimensions"]
    bx, by, bz = attrs["blockSize"]
    out = np.zeros((nz, ny, nx), dtype=np.uint16)
    for gx in range(-(-nx // bx)):
        for gy in range(-(-ny // by)):
            for gz in range(-(-nz // bz)):
                p = os.path.join(path, str(gx), str(gy), str(gz))
                if not os.path.exists(p):
                    continue
                with open(p, "rb") as f:
                    raw = f.read()
                mode, ndim = struct.unpack_from(">HH", raw, 0)
                if mode != 0 or ndim != 3:
                    raise ValueError(f"{p}: unsupported block header mode={mode} ndim={ndim}")
                dx, dy, dz = struct.unpack_from(">3i", raw, 4)
                payload = raw[16:]
                if ctype == "gzip":
                    payload = gzip.decompress(payload)
                elif ctype != "raw":
                    raise ValueError(f"{p}: no independent decoder for {ctype!r}")
                blk = np.frombuffer(payload, dtype=">u2").reshape(dz, dy, dx)
                out[gz * bz : gz * bz + dz, gy * by : gy * by + dy, gx * bx : gx * bx + dx] = blk
    return out


def stored_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# --------------------------------------------------------------------------
# TIFF: baseline, uncompressed, one strip, little-endian, one page

_TAGS = {"width": 256, "height": 257, "bits": 258, "comp": 259, "offsets": 273, "counts": 279}


def write_tiff(path: str, img_yx: np.ndarray) -> None:
    h, w = img_yx.shape
    data = np.ascontiguousarray(img_yx.astype("<u2")).tobytes()
    ifd = 8 + len(data)
    entries = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 16), (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, 1, 8), (277, 3, 1, 1), (278, 3, 1, h), (279, 4, 1, len(data)), (339, 3, 1, 1),
    ]
    out = [struct.pack("<2sHI", b"II", 42, ifd), data, struct.pack("<H", len(entries))]
    out += [struct.pack("<HHII", *e) for e in entries]
    out.append(struct.pack("<I", 0))
    with open(path, "wb") as f:
        f.write(b"".join(out))


def read_tiff(path: str) -> np.ndarray:
    """First page of an uncompressed, single-sample, little-endian uint16 TIFF."""
    with open(path, "rb") as f:
        buf = f.read()
    order, magic, ifd = struct.unpack_from("<2sHI", buf, 0)
    if order != b"II" or magic != 42:
        raise ValueError(f"{path}: not a little-endian TIFF")
    (n,) = struct.unpack_from("<H", buf, ifd)
    tags: dict[int, list[int]] = {}
    for i in range(n):
        tag, typ, cnt, val = struct.unpack_from("<HHII", buf, ifd + 2 + 12 * i)
        size = {3: 2, 4: 4}.get(typ)
        if size is None:
            continue
        if cnt * size <= 4:
            vals = list(struct.unpack_from(f"<{cnt}{'H' if typ == 3 else 'I'}", buf, ifd + 2 + 12 * i + 8))
        else:
            vals = list(struct.unpack_from(f"<{cnt}{'H' if typ == 3 else 'I'}", buf, val))
        tags[tag] = vals
    if tags.get(_TAGS["comp"], [1])[0] != 1 or tags[_TAGS["bits"]][0] != 16:
        raise ValueError(f"{path}: expected uncompressed 16-bit samples")
    w, h = tags[_TAGS["width"]][0], tags[_TAGS["height"]][0]
    data = b"".join(buf[o : o + c] for o, c in zip(tags[_TAGS["offsets"]], tags[_TAGS["counts"]]))
    return np.frombuffer(data, dtype="<u2").reshape(h, w)


def write_tiff_series(dirpath: str, vol_zyx: np.ndarray) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for z in range(vol_zyx.shape[0]):
        write_tiff(os.path.join(dirpath, f"slice{z:05d}.tif"), vol_zyx[z])


# --------------------------------------------------------------------------
# relational tables (the schemas of the engine's catalog)

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _dates(rng: np.random.Generator, n: int, start: datetime, days: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def write_tables(dirpath: str, rng: np.random.Generator, orders: int) -> dict[str, int]:
    """TPC-H-like star schema plus events, documents and embeddings.

    ``orders`` sets the scale (150,000 is the layout of a 0.1 scale
    factor). Returns rows per table. Value domains follow the catalog's
    documented tables, so every filter of the benchmarked queries selects
    rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    n_cust, n_supp, n_part = max(orders // 10, 50), max(orders // 150, 20), max(orders // 7, 50)
    n_line = orders * 4
    n_events, n_docs, n_vecs = max(orders * 2 // 3, 200), max(orders // 30, 100), max(orders // 75, 64)

    def cents(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": cents(1000, 500000, orders),
            "o_orderdate": _dates(rng, orders, datetime(1995, 1, 1), 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, orders),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": cents(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _dates(rng, n_line, datetime(1995, 1, 2), 2499),
        },
    }
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64(datetime(2024, 1, 1), "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_events // 66, 10), n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 101))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, max(n_docs // 600, 2), replace=False):  # exact duplicates
        texts[i] = texts[(i + 1) % n_docs]
    for i in rng.choice(n_docs, max(n_docs // 50, 2), replace=False):  # near duplicates
        words = texts[(i + 7) % n_docs].split()
        words[rng.integers(0, len(words))] = "dup"
        texts[i] = " ".join(words)
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32)),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(dirpath, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
