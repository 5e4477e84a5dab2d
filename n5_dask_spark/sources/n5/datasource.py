"""Spark 4 Python DataSource for N5 (SURVEY.md §2.A S2 — the
`spark.dataSource.register` path the survey recommends as the idiomatic
Spark-4 alternative to a binaryFile+UDF scan).

Usage:
    spark.dataSource.register(N5DataSource)
    df = (spark.read.format("n5")
          .option("path", "/data/container.n5")
          .option("dataset", "mri/c0/s0")
          .option("start", "0,0,0").option("end", "64,64,27")   # optional region
          .load())
    # -> gx, gy, gz, shape_zyx (zyx dims), data (native-endian zyx bytes)

Partition planning runs driver-side: one InputPartition per block file, and
when a region is given only OVERLAPPING blocks become partitions — source-
level partition pruning, so a 1-block region of a petabyte container plans
exactly one task.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)


class N5BlockPartition(InputPartition):
    """One scan task's worth of block files.

    Historically one partition per block file; r15 (guide §2.2/§6): a
    task per block is millions of tiny tasks at real container sizes —
    per-task scheduling plus the Python DataSource's per-partition worker
    round-trip dominate the scan. partitions() now PACKS blocks into at
    most ``parallelism x SPARK_GRAFT_N5DS_TASKS_PER_CORE`` partitions;
    below that target the old one-block-per-task layout is preserved
    (identical local plans and parallelism on the bench fixtures)."""

    def __init__(self, blocks: list[tuple[str, tuple[int, ...]]]):
        self.blocks = blocks


class N5DataSource(DataSource):
    """Reads an N5 dataset as one row per block.

    ``parallelism`` is the driver's ``defaultParallelism``, bound by
    :func:`register_n5_source`: planning runs in a Python worker, which has
    no session to ask."""

    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "n5"

    def schema(self) -> StructType:
        return StructType(
            [
                StructField("gx", IntegerType()),
                StructField("gy", IntegerType()),
                StructField("gz", IntegerType()),
                StructField("shape_zyx", ArrayType(IntegerType())),
                StructField("data", BinaryType()),
            ]
        )

    def reader(self, schema: StructType) -> "N5Reader":
        return N5Reader(self.options, self.parallelism)

    def writer(self, schema: StructType, overwrite: bool) -> "N5Writer":
        return N5Writer(self.options, [f.name for f in schema.fields])


class N5Reader(DataSourceReader):
    def __init__(self, options: dict, parallelism: int | None = None):
        self.container = options.get("path")
        self.dataset = options.get("dataset")
        if not self.container or not self.dataset:
            raise ValueError("n5 source requires .option('path', ...) and .option('dataset', ...)")
        self.start = options.get("start")
        self.end = options.get("end")
        self.parallelism = parallelism
        self._attrs = None

    def _get_attrs(self):
        # memoized: partitions() fills it on the driver (and it pickles to
        # executors with the reader); without this, read() re-opened and
        # re-parsed the same attributes.json once per block partition —
        # a per-task metadata round-trip on network filesystems
        if self._attrs is None:
            from n5_dask_spark.sources.n5.metadata import read_attributes

            self._attrs = read_attributes(self.container, self.dataset)
        return self._attrs

    def _refuse_mid_write(self) -> None:
        """Refuse a dataset carrying the write-session marker (r14 probe
        find: this path planned 7 of 8 blocks of a mid-write dataset and
        returned them as a SILENT partial snapshot — the exact lane the
        r11 marker guard closed for the binaryFile-glob and explicit-path
        scans, reader.py:261, which this DataSource never routes through).
        Runs driver-side once per plan; fsio serves URI containers (no
        Hadoop FS needed, so it also covers emulated/pyarrow-only schemes)."""
        from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER, _is_uri

        if _is_uri(self.container):
            from n5_dask_spark.sources.n5 import fsio

            marker = f"{self.container.rstrip('/')}/{self.dataset}/{INCOMPLETE_MARKER}"
            present = fsio.exists(marker)
        else:
            marker = os.path.join(self.container, self.dataset, INCOMPLETE_MARKER)
            present = os.path.exists(marker)
        if present:
            raise ValueError(
                f"dataset {self.container}/{self.dataset} carries the "
                f"write-session marker {marker} — a sink job is writing it "
                "right now, or a writer died mid-job leaving it incomplete; "
                "reading it would return a silent partial snapshot (written "
                "blocks as data, unwritten cells as fill-value zeros). Wait "
                "for the writer, or if it is known dead, re-create the "
                "dataset (or delete the marker to accept partial contents)."
            )

    def partitions(self) -> Sequence[N5BlockPartition]:
        from n5_dask_spark.sources.n5.reader import overlapping_blocks

        self._refuse_mid_write()
        attrs = self._get_attrs()
        if self.start and self.end:
            grids = overlapping_blocks(
                attrs,
                [int(x) for x in self.start.split(",")],
                [int(x) for x in self.end.split(",")],
            )
        else:
            import itertools

            grids = list(itertools.product(*[range(n) for n in attrs.grid_shape]))
        from n5_dask_spark.sources.n5.metadata import _is_uri

        is_uri = _is_uri(self.container)
        listing: set[str] | None = None
        if is_uri:
            from n5_dask_spark.sources.n5 import fsio

            # one LIST of the dataset prefix instead of a sequential
            # exists() round-trip per grid cell — on an object store a
            # large grid otherwise turns planning into O(n_blocks)
            # network calls (r13 ADVICE). Falls back to per-key probes
            # only if the filesystem cannot list.
            listing = fsio.list_files(f"{self.container}/{self.dataset}")
        blocks = []
        for g in grids:
            if is_uri:
                path = "/".join([self.container, self.dataset, *map(str, g)])
                if listing is not None:
                    present = "/".join(map(str, g)) in listing
                else:
                    present = fsio.exists(path)
            else:
                path = os.path.join(self.container, self.dataset, *map(str, g))
                present = os.path.exists(path)
            if present:  # sparse datasets skip absent blocks
                blocks.append((path, tuple(g)))
        # Pack blocks into bounded task counts (r15, guide §2.2/§6): a task
        # per block file means a million-block container schedules a million
        # tasks, each paying scheduler latency + a Python worker round-trip.
        # Target = parallelism x tasks-per-core (default 4: chunky enough to
        # amortize overhead, granular enough for stragglers/speculation).
        # n_blocks <= target keeps one block per task — the historical
        # layout, so local fixtures plan identically.
        target = self._target_partitions()
        if len(blocks) <= target:
            return [N5BlockPartition([b]) for b in blocks]
        # contiguous runs preserve grid locality (neighboring block files
        # share directories -> sequential listing/read patterns per task)
        n = len(blocks)
        bounds = [round(i * n / target) for i in range(target + 1)]
        return [
            N5BlockPartition(blocks[lo:hi])
            for lo, hi in zip(bounds, bounds[1:])
            if hi > lo
        ]

    def _target_partitions(self) -> int:
        per_core = os.environ.get("SPARK_GRAFT_N5DS_TASKS_PER_CORE", "")
        k = int(per_core) if per_core.isdigit() and int(per_core) > 0 else 4
        par = self.parallelism
        if not par:  # source registered without register_n5_source
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
            par = int(cpus) if cpus.isdigit() and int(cpus) > 0 else 32
        return max(1, par * k)

    def read(self, partition: N5BlockPartition) -> Iterator[tuple]:
        from n5_dask_spark.sources.n5.codec import decode_block_at
        from n5_dask_spark.sources.n5.metadata import _is_uri
        from n5_dask_spark.sources.n5.reader import check_block_shape

        attrs = self._get_attrs()
        for path, grid in partition.blocks:
            if _is_uri(path):
                from n5_dask_spark.sources.n5 import fsio

                raw = fsio.read_file(path)
                if raw is None:
                    continue  # block sparsified after planning -> fill-value (no row)
            else:
                try:
                    with open(path, "rb") as f:
                        raw = f.read()
                except FileNotFoundError:
                    continue  # block sparsified after planning -> fill-value (no row)
            arr = check_block_shape(
                decode_block_at(raw, attrs.data_type, attrs.compression, path),
                grid,
                attrs,
                path,
            )
            g = list(grid) + [0] * (3 - len(grid))
            yield (g[0], g[1], g[2], list(arr.shape), arr.tobytes())


class N5Writer(DataSourceWriter):
    """Sink for a blocks DataFrame (gx, gy, gz, shape_zyx, data) via
    ``df.write.format("n5")``. The dataset's attributes.json must exist
    (created via metadata.write_attributes / writer.create_from_template) —
    the writer is data-plane only; each task writes its rows' block files
    atomically (temp + rename, same retry-idempotence as writer.write_blocks).
    """

    REQUIRED = ("gx", "gy", "gz", "shape_zyx", "data")

    def __init__(self, options: dict, columns: list[str]):
        self.container = options.get("path")
        self.dataset = options.get("dataset")
        if not self.container or not self.dataset:
            raise ValueError("n5 sink requires .option('path', ...) and .option('dataset', ...)")
        missing = [c for c in self.REQUIRED if c not in columns]
        if missing:
            raise ValueError(f"n5 sink input is missing columns {missing}; need {self.REQUIRED}")
        self.columns = list(columns)
        # write-session marker (r11): __init__ runs driver-side exactly
        # once per write job (executors get this instance by pickle, which
        # does not re-run __init__), so the claim/commit pair brackets the
        # whole job like writer.write_blocks' marker does
        from n5_dask_spark.sources.n5.writer import claim_dataset_write

        self._marker = claim_dataset_write(self.container, self.dataset)

    def commit(self, messages) -> None:
        from n5_dask_spark.sources.n5.writer import release_dataset_write

        release_dataset_write(self._marker)

    def abort(self, messages) -> None:
        # leave the marker: the dataset is incomplete and must stay loud
        pass

    def write(self, rows) -> WriterCommitMessage:
        import numpy as np

        from n5_dask_spark.sources.n5.codec import encode_block, np_dtype
        from n5_dask_spark.sources.n5.metadata import _is_uri, read_attributes
        from n5_dask_spark.sources.n5.writer import _atomic_write

        # URI containers (r13 write lift): attributes read falls back to
        # fsio (no active session in a write task) and blocks publish
        # through the per-scheme commit protocol — same dispatch as
        # writer.write_blocks' sink
        container_is_uri = _is_uri(self.container)
        if container_is_uri:
            from n5_dask_spark.sources.n5 import fsio
        attrs = read_attributes(self.container, self.dataset)
        dt = np_dtype(attrs.data_type)
        idx = {c: i for i, c in enumerate(self.columns)}
        n = 0
        for row in rows:
            shape = list(row[idx["shape_zyx"]])
            arr = np.frombuffer(bytes(row[idx["data"]]), dtype=dt).reshape(shape)
            coords = tuple(int(row[idx[c]]) for c in ("gx", "gy", "gz")[: attrs.ndim])
            payload = encode_block(arr, attrs.data_type, dict(attrs.compression))
            if container_is_uri:
                fsio.publish_file(
                    "/".join([self.container, self.dataset, *map(str, coords)]), payload
                )
            else:
                _atomic_write(
                    os.path.join(self.container, self.dataset, *map(str, coords)), payload
                )
            n += 1
        return WriterCommitMessage()


def register_n5_source(spark) -> None:
    from n5_dask_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    # a class built here is not importable by name, so cloudpickle ships it
    # by value and the planner worker sees this session's parallelism
    bound = type(
        N5DataSource.__name__,
        (N5DataSource,),
        {"parallelism": int(spark.sparkContext.defaultParallelism)},
    )
    spark.dataSource.register(bound)
