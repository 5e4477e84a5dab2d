"""In-process layer probes for the traced run.

Each probe times one layer's public entry point on seeded inputs, the same
way on every workload, so a per-layer number exists (and means the same)
whichever workload the traced run measures. Codec and TIFF probes are
single-threaded and never touch Spark.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import inputs
from workloads import GZIP, QUERIES

CODECS = {
    "raw": {"type": "raw"},
    "gzip": GZIP,
    "zstd": {"type": "zstd", "level": 3},
    "lz4": {"type": "lz4", "blockSize": 65536},
    "blosc_lz4": {"type": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
    "blosc_zstd": {"type": "blosc", "cname": "zstd", "clevel": 5, "shuffle": 1},
}


def _rate(fn, nbytes: int) -> float:
    """MiB/s of fn over nbytes: median of at least three timed calls
    spanning at least 50 ms."""
    times, spent = [], 0.0
    while len(times) < 3 or spent < 0.05:
        t = time.perf_counter()
        fn()
        dt = time.perf_counter() - t
        times.append(dt)
        spent += dt
    return nbytes / 2**20 / statistics.median(times)


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def codec_probe(block_zyx: np.ndarray) -> dict[str, float]:
    from n5_dask_spark.sources.n5 import codec

    out = {}
    for name, comp in CODECS.items():
        raw = codec.encode_block(block_zyx, "uint16", comp)
        if not np.array_equal(codec.decode_block(raw, "uint16", comp), block_zyx):
            raise RuntimeError(f"codec probe: {name} round trip differs")
        out[f"codec.encode_mib_s.{name}"] = _rate(
            lambda: codec.encode_block(block_zyx, "uint16", comp), block_zyx.nbytes
        )
        out[f"codec.decode_mib_s.{name}"] = _rate(
            lambda: codec.decode_block(raw, "uint16", comp), block_zyx.nbytes
        )
        if name != "raw":
            out[f"codec.ratio.{name}"] = len(raw) / block_zyx.nbytes
    return out


def tiff_probe(img_yx: np.ndarray) -> dict[str, float]:
    from n5_dask_spark.sources import tiff

    buf = tiff.encode_tiff(img_yx)
    if not np.array_equal(tiff.decode_tiff(buf), img_yx):
        raise RuntimeError("tiff probe: round trip differs")
    return {
        "tiff.encode_mib_s": _rate(lambda: tiff.encode_tiff(img_yx), img_yx.nbytes),
        "tiff.decode_mib_s": _rate(lambda: tiff.decode_tiff(buf), img_yx.nbytes),
    }


def n5_probe(spark, work: str, rng: np.random.Generator) -> dict[str, float]:
    """Driver-side planning of reader, DataSource and transforms, attribute
    reads, a sink job and region pruning on a seeded 64^3 container with
    16^3 blocks (64 block files)."""
    from n5_dask_spark.sources.n5 import metadata, reader, transforms, writer
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)

    vol = inputs.smooth_volume(rng, (64, 64, 64))
    root, ds = os.path.join(work, "probe.n5"), "s0"
    inputs.write_n5(root, ds, vol, 16)
    attrs = metadata.read_attributes(root, ds)
    out = {
        "metadata.read_attributes_s": _median_time(lambda: metadata.read_attributes(root, ds), 25),
        "reader.plan_s": _median_time(lambda: reader.decoded_blocks(spark, root, ds)),
    }
    blocks = reader.decoded_blocks(spark, root, ds)
    out["transforms.plan_s"] = _median_time(lambda: transforms.rechunk(blocks, attrs, [8, 8, 8]))
    parts = []

    def ds_plan():
        df = spark.read.format("n5").option("path", root).option("dataset", ds).load()
        parts.append(df.rdd.getNumPartitions())

    out["datasource.plan_s"] = _median_time(ds_plan)
    out["datasource.partitions"] = float(parts[-1])
    written = []

    def write():
        dst = os.path.join(work, f"probe-w{len(written)}.n5")
        writer.write_array(spark, vol.transpose(2, 1, 0), dst, "d", [16, 16, 16], GZIP)
        written.append(dst)

    out["writer.write_s"] = _median_time(write)
    files = [f for d, _, fs in os.walk(os.path.join(written[-1], "d")) for f in fs if f != "attributes.json"]
    out["writer.blocks_written"] = float(len(files))
    out["writer.bytes_written"] = float(inputs.stored_bytes(os.path.join(written[-1], "d")))
    start = [int(v) for v in rng.integers(0, 40, 3)]
    end = [s + 24 for s in start]
    hits = reader.overlapping_blocks(attrs, start, end)
    out["reader.region_useful_ratio"] = 24**3 / (len(hits) * 16**3)
    return out


def registry_probe(spark, sf_dir: str) -> dict[str, float]:
    from n5_dask_spark.registry import load_all

    reg = load_all()
    return {
        "registry.plan_s": _median_time(lambda: [reg[q].fn(spark, sf_dir) for q in QUERIES]),
    }
