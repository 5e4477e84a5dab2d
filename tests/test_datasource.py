"""Spark 4 Python DataSource tests: format('n5') scan + source-level region
pruning."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import numpy as np

from tests.test_n5 import FIXTURE, FIXTURE_DS, fixture_volume_xyz


def test_n5_format_scan(spark):
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    df = (
        spark.read.format("n5")
        .option("path", FIXTURE)
        .option("dataset", FIXTURE_DS)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 4
    by_grid = {(r.gx, r.gy, r.gz): r for r in rows}
    assert by_grid[(1, 1, 0)].shape_zyx == [27, 98, 58]
    arr = np.frombuffer(bytes(by_grid[(0, 0, 0)].data), dtype="u1").reshape(27, 128, 128)
    golden = fixture_volume_xyz().transpose(2, 1, 0)  # zyx
    np.testing.assert_array_equal(arr, golden[:27, :128, :128])


def test_n5_format_region_pruning(spark):
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    df = (
        spark.read.format("n5")
        .option("path", FIXTURE)
        .option("dataset", FIXTURE_DS)
        .option("start", "0,0,0")
        .option("end", "64,64,27")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1  # source planned exactly one block
    rows = df.collect()
    assert [(r.gx, r.gy, r.gz) for r in rows] == [(0, 0, 0)]


def test_n5_format_sql_over_blocks(spark):
    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    (
        spark.read.format("n5")
        .option("path", FIXTURE)
        .option("dataset", FIXTURE_DS)
        .load()
        .createOrReplaceTempView("n5_blocks")
    )
    got = spark.sql(
        "SELECT gx, gy, length(data) AS n_bytes FROM n5_blocks ORDER BY gx, gy"
    ).collect()
    assert [r.n_bytes for r in got] == [442368, 442368 * 98 // 128, 442368 * 58 // 128, 27 * 98 * 58]


def test_n5_format_write_roundtrip(spark):
    """df.write.format('n5'): read fixture blocks via the source, write them
    to a new container via the sink, byte-compare the volumes."""
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.metadata import read_attributes, write_attributes
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container

    register_n5_source(spark)
    blocks = (
        spark.read.format("n5").option("path", FIXTURE).option("dataset", FIXTURE_DS).load()
    )
    out = temp_container()
    write_attributes(out, "copy/s0", read_attributes(FIXTURE, FIXTURE_DS))
    (
        blocks.write.format("n5")
        .option("path", out)
        .option("dataset", "copy/s0")
        .mode("append")
        .save()
    )
    np.testing.assert_array_equal(
        read_full(spark, out, "copy/s0"), fixture_volume_xyz()
    )


def test_n5_format_write_validates_schema(spark):
    import pytest

    from n5_dask_spark.sources.n5.datasource import register_n5_source

    register_n5_source(spark)
    bad = spark.range(3).selectExpr("CAST(id AS INT) AS gx")
    with pytest.raises(Exception, match="missing columns"):
        (
            bad.write.format("n5").option("path", "/tmp/x.n5").option("dataset", "a/s0")
            .mode("append").save()
        )


def _forty_block_container(root: pathlib.Path) -> str:
    """Raw uint8 container with dataset d/s0: 40 block files on the gx axis."""
    c = root / "many.n5"
    ds = c / "d" / "s0"
    ds.mkdir(parents=True)
    (ds / "attributes.json").write_text(json.dumps({
        "dimensions": [40, 4, 4], "blockSize": [1, 4, 4],
        "dataType": "uint8", "compression": {"type": "raw"},
    }))
    for gx in range(40):
        p = ds / str(gx) / "0"
        p.mkdir(parents=True)
        (p / "0").write_bytes(b"\x00" * 20)
    return str(c)


def test_partition_packing_bounds_task_count(tmp_path, monkeypatch):
    """r15 (guide §2.2/§6): one task per block file means a million-block
    container schedules a million tasks. partitions() packs blocks into
    at most parallelism x SPARK_GRAFT_N5DS_TASKS_PER_CORE partitions —
    covering every block exactly once, in grid order — and keeps the
    one-block-per-task layout below that target (local fixtures plan
    identically). Measured: 512 blocks at 8 cores, scan noop best-of-3
    17.04 s -> 4.45 s (3.8x), crc-identical rows."""
    from n5_dask_spark.sources.n5.datasource import N5Reader

    opts = {"path": _forty_block_container(tmp_path), "dataset": "d/s0"}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_N5DS_TASKS_PER_CORE", "2")
    parts = N5Reader(opts).partitions()
    assert len(parts) == 4 * 2  # no bound parallelism: the env fallback
    covered = [g for part in parts for (_p, g) in part.blocks]
    assert covered == [(gx, 0, 0) for gx in range(40)]  # all blocks, grid order
    assert len(N5Reader(opts, parallelism=3).partitions()) == 3 * 2

    # below the target: one block per task (historical layout preserved)
    monkeypatch.setenv("SPARK_GRAFT_N5DS_TASKS_PER_CORE", "64")
    parts_small = N5Reader(opts).partitions()
    assert all(len(p.blocks) == 1 for p in parts_small)
    assert len(parts_small) == 40


_PLAN_PARALLELISM = r"""
import sys
from pyspark.sql import SparkSession
from n5_dask_spark.sources.n5.datasource import register_n5_source

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
register_n5_source(spark)
df = spark.read.format("n5").option("path", sys.argv[1]).option("dataset", "d/s0").load()
print("PARTITIONS", df.rdd.getNumPartitions())
spark.stop()
"""


def test_format_scan_plans_against_driver_parallelism(tmp_path):
    """partitions() runs in a Python planner worker, which has no session:
    the scan used to pack against SPARK_GRAFT_CPUS (or 32) whatever the
    cluster's size. register_n5_source binds the driver's parallelism.
    A subprocess, for its own local[2] JVM and a SPARK_GRAFT_CPUS that
    disagrees with it."""
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    env = dict(os.environ, SPARK_GRAFT_CPUS="7")
    env.pop("SPARK_GRAFT_N5DS_TASKS_PER_CORE", None)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [sys.executable, "-c", _PLAN_PARALLELISM, _forty_block_container(tmp_path)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-3000:]}"
    assert "PARTITIONS 8" in r.stdout, r.stdout  # 2 x 4 per core, not 7 x 4
