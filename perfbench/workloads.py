"""The benchmark's workloads: seeded inputs, ops and independent checks.

A workload makes its inputs from a seeded generator at one of two sizes
(``full`` is benchmarked, ``tiny`` serves the benchmark's own smoke test).
``ops`` lists one pass in order; ``run(op)`` runs one job and returns what
``check(op, result)`` needs. Checks compare against values computed with
numpy from the generator, or against the registered DuckDB oracle, never
against another engine result.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from decimal import Decimal

import numpy as np

import inputs

GZIP = {"type": "gzip", "useZlib": False, "level": -1}
# bench.py's headline families without its N5 queries: scan-aggregate,
# multi-way joins, as-of join, window, session window and the dedup, knn,
# text and multimodal Python kernels (one query per family where the
# headline has several, to keep a run short)
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume", "join_asof",
    "window_row_number", "events_session_window", "dedup_minhash_lsh", "knn_bruteforce_cosine",
    "text_tf_top_terms", "multimodal_feature_extract",
]

# (z, y, x) shape of the N5 volume per size
SHAPES = {"full": (160, 160, 160), "tiny": (64, 128, 128)}
ORDERS = {"full": 15000, "tiny": 1500}


class CheckFailed(Exception):
    pass


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _block_sum_kernel():
    """Per-block sums; built per call so Spark pickles it by value (the
    benchmark's modules are not importable inside Python workers)."""

    def rows(gx, gy, gz, a):
        yield (int(gx), int(gy), int(gz), int(a.sum(dtype="i8")))

    return rows


class Workload:
    name = ""

    def __init__(self, workdir: str) -> None:
        self.dir = workdir
        self.info: dict = {}

    def bind(self, spark) -> None:
        """Per-session preparation (a new session after each set-up)."""
        self.spark = spark


# --------------------------------------------------------------------------


class N5Volume(Workload):
    """One seeded uint16 volume through the N5 layers: the write side (TIFF
    series import, pyramid, TIFF series export) and the read side (z-profile
    via the reader and via format("n5"), rechunk, region reads) of a gzip
    container the benchmark wrote itself."""

    name = "n5_volume"
    BLOCK, RECHUNK, BOXES = 64, 32, 3
    WRITE_OPS = ("tiff_import", "pyramid", "tiff_export")

    def __init__(self, d, rng, size):
        super().__init__(d)
        self.vol = inputs.smooth_volume(rng, SHAPES[size])
        nz, ny, nx = self.vol.shape
        self.root, self.ds = os.path.join(d, "vol.n5"), "s0"
        stored = inputs.write_n5(self.root, self.ds, self.vol, self.BLOCK)
        self.src = os.path.join(d, "series")
        inputs.write_tiff_series(self.src, self.vol)
        self.box = min(96, nz // 2, ny // 2, nx // 2)
        self.boxes = [
            tuple(int(rng.integers(0, n - self.box + 1)) for n in (nx, ny, nz)) for _ in range(self.BOXES)
        ]
        self.zsums = self.vol.sum(axis=(1, 2), dtype=np.int64)
        self.rsums = inputs.block_sums(self.vol, self.RECHUNK)
        self.levels = [self.vol]
        while any(n > self.BLOCK for n in self.levels[-1].shape):
            self.levels.append(inputs.downsample2(self.levels[-1]))
        self.ops = list(self.WRITE_OPS) + ["zprofile", "zprofile_ds", "rechunk"] + [
            f"region_read.{i}" for i in range(self.BOXES)
        ]
        self.pass_no = 0
        self.stored_ratio: list[float] = []
        n_files = len([f for f in os.listdir(self.src) if f.endswith(".tif")])
        block_files = len(inputs.block_sums(self.vol, self.BLOCK))
        _require(block_files > 0 and stored > 0, f"empty input volume at {self.root}")
        _require(n_files == nz, f"empty or partial TIFF series at {self.src}")
        self.info = {
            "shape_zyx": list(self.vol.shape), "dtype": "uint16", "block": self.BLOCK,
            "codec": "gzip", "voxel_mib": self.vol.nbytes / 2**20, "stored_bytes": stored,
            "block_files": block_files, "tiff_slices": n_files, "pyramid_levels": len(self.levels),
            "rechunk_to": self.RECHUNK, "region_box": self.box, "regions_per_pass": self.BOXES,
        }

    def bind(self, spark):
        super().bind(spark)
        from n5_dask_spark.sources.n5.datasource import register_n5_source

        register_n5_source(spark)

    def _zprof_rows(self):
        bz = self.BLOCK

        def rows(gx, gy, gz, a):
            s = a.sum(axis=(1, 2), dtype="i8")
            for dz in range(a.shape[0]):
                yield (int(gz) * bz + dz, int(s[dz]))

        return rows

    def run(self, op):
        if op in self.WRITE_OPS:
            return self._run_write(op)
        return self._run_read(op)

    def check(self, op, result):
        if op in self.WRITE_OPS:
            self._check_write(op, result)
        else:
            self._check_read(op, result)

    def _out(self):
        return os.path.join(self.dir, f"out{self.pass_no}")

    def _run_read(self, op):
        import pandas as pd
        from pyspark.sql import functions as F

        from n5_dask_spark.sources.n5 import fuse, reader, transforms
        from n5_dask_spark.sources.n5.metadata import read_attributes

        spark, u2 = self.spark, np.dtype("u2")
        if op == "zprofile":
            rows = fuse.consume_block_rows(
                reader.decoded_blocks(spark, self.root, self.ds), u2, self._zprof_rows(),
                ["z", "s"], "z int, s long",
            )
            return rows.groupBy("z").agg(F.sum("s").alias("s")).collect()
        if op == "zprofile_ds":
            bz = self.BLOCK

            def zsums(batches):
                for pdf in batches:
                    out = []
                    for gz, shape, data in zip(pdf["gz"], pdf["shape_zyx"], pdf["data"]):
                        a = np.frombuffer(data, dtype=u2).reshape([int(v) for v in shape])
                        s = a.sum(axis=(1, 2), dtype="i8")
                        out += [(int(gz) * bz + dz, int(s[dz])) for dz in range(a.shape[0])]
                    yield pd.DataFrame(out, columns=["z", "s"])

            df = spark.read.format("n5").option("path", self.root).option("dataset", self.ds).load()
            return df.mapInPandas(zsums, "z int, s long").groupBy("z").agg(F.sum("s").alias("s")).collect()
        if op == "rechunk":
            attrs = read_attributes(self.root, self.ds)
            blocks, _ = transforms.rechunk(
                reader.decoded_blocks(spark, self.root, self.ds), attrs, [self.RECHUNK] * 3
            )
            return fuse.consume_block_rows(
                blocks, u2, _block_sum_kernel(), ["gx", "gy", "gz", "s"], "gx int, gy int, gz int, s long"
            ).collect()
        x, y, z = self.boxes[int(op.split(".")[1])]
        b = self.box
        return reader.read_region(spark, self.root, self.ds, [x, y, z], [x + b, y + b, z + b])

    def _check_read(self, op, result):
        if op in ("zprofile", "zprofile_ds"):
            got = {int(r["z"]): int(r["s"]) for r in result}
            _require(got == {z: int(s) for z, s in enumerate(self.zsums)}, f"{op}: per-z sums differ")
        elif op == "rechunk":
            got = {(int(r["gx"]), int(r["gy"]), int(r["gz"])): int(r["s"]) for r in result}
            _require(got == self.rsums, "rechunk: per-block sums differ")
        else:
            x, y, z = self.boxes[int(op.split(".")[1])]
            b = self.box
            want = self.vol[z : z + b, y : y + b, x : x + b].transpose(2, 1, 0)
            _require(
                result.shape == want.shape and np.array_equal(result, want), f"{op}: region differs"
            )

    def _run_write(self, op):
        from n5_dask_spark.sources import tiff
        from n5_dask_spark.sources.n5 import transforms

        out = self._out()
        if op == "tiff_import":
            self.pass_no += 1
            out = self._out()
            tiff.tif_series_to_n5(self.spark, self.src, out + ".n5", "vol/s0", [self.BLOCK] * 3, GZIP)
            return out + ".n5"
        if op == "pyramid":
            return transforms.build_multiscale(self.spark, out + ".n5", "vol")
        tiff.n5_to_tif_series(self.spark, out + ".n5", "vol/s0", out + ".tif")
        return out + ".tif"

    def _check_write(self, op, result):
        if op == "tiff_import":
            got = inputs.read_n5(result, "vol/s0")
            _require(np.array_equal(got, self.vol), "tiff_import: stored volume differs")
            s0 = inputs.stored_bytes(os.path.join(result, "vol", "s0"))
            self.stored_ratio.append(s0 / self.vol.nbytes)
        elif op == "pyramid":
            want = [f"s{i}" for i in range(len(self.levels))]
            _require(list(result) == want, f"pyramid: levels {result}, expected {want}")
            root = self._out() + ".n5"
            for i, lv in enumerate(self.levels[1:], start=1):
                _require(
                    np.array_equal(inputs.read_n5(root, f"vol/s{i}"), lv), f"pyramid: level s{i} differs"
                )
        else:
            files = sorted(f for f in os.listdir(result) if f.endswith(".tif"))
            _require(len(files) == self.vol.shape[0], f"tiff_export: {len(files)} slices written")
            for z, f in enumerate(files):
                img = inputs.read_tiff(os.path.join(result, f))
                _require(np.array_equal(img, self.vol[z]), f"tiff_export: slice {f} differs")
            # the pass is complete: drop its outputs
            shutil.rmtree(self._out() + ".n5", ignore_errors=True)
            shutil.rmtree(result, ignore_errors=True)


class RelationalMix(Workload):
    """Registered queries over seeded parquet tables; no N5 at all."""

    name = "relational_mix"

    def __init__(self, d, rng, size):
        super().__init__(d)
        self.sf_dir = os.path.join(d, "tables")
        rows = inputs.write_tables(self.sf_dir, rng, ORDERS[size])
        _require(all(n > 0 for n in rows.values()), f"empty generated table under {self.sf_dir}")
        self.order_rng = np.random.default_rng(rng.integers(2**63))
        self.ops = list(QUERIES)
        self.verified: dict[str, str] = {}
        self.info = {"tables_rows": rows, "queries": len(QUERIES)}

    def bind(self, spark):
        super().bind(spark)
        from n5_dask_spark.registry import load_all

        self.registry = load_all()

    def next_pass(self) -> list[str]:
        return [self.ops[i] for i in self.order_rng.permutation(len(self.ops))]

    def run(self, op):
        df = self.registry[op].fn(self.spark, self.sf_dir)
        return list(df.columns), df.collect()

    def check(self, op, result):
        cols, rows = result
        digest = _digest(cols, [tuple(r) for r in rows])
        if op not in self.verified:
            self.verified[op] = self._oracle_digest(op)
        _require(digest == self.verified[op], f"{op}: result differs from its DuckDB oracle")

    def _oracle_digest(self, op) -> str:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            cur = con.execute(self.registry[op].oracle)
            cols = [d[0] for d in cur.description]
            return _digest(cols, cur.fetchall())
        finally:
            con.close()


def _canon(v):
    """Type-tagged canonical cell (int and float never compare equal)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (N5Volume, RelationalMix)}
