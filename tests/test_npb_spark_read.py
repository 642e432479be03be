"""The Spark read path of .npb files: what building a read costs in
Spark jobs, glob listing, and dtypes and time pruning through both
``read_npb`` and ``spark.read.format("npb")``."""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from tests.conftest import in_job_group
from timebox_spark.sources import npb


def _write_days(d, n_files, rows=24):
    os.makedirs(d)
    for i in range(n_files):
        idx = pd.date_range("2021-03-01", periods=rows, freq="1h") + pd.Timedelta(days=i)
        pdf = pd.DataFrame({"v": np.arange(rows, dtype=np.int32) + 100 * i}, index=idx)
        npb.write_npb_file(pdf, f"{d}/part-{i:03d}.npb")


def test_read_npb_builds_without_jobs_and_lists_globs_once(spark, tmp_path):
    d = str(tmp_path / "forty")
    _write_days(d, 40)  # above parallelPartitionDiscovery.threshold (32)
    glob = f"{d}/*.npb"

    by_dir, jobs, _ = in_job_group(spark, lambda: npb.read_npb(spark, d))
    assert jobs == 0
    by_glob, jobs, _ = in_job_group(spark, lambda: npb.read_npb(spark, glob))
    assert jobs == 0
    _, jobs, _ = in_job_group(spark, lambda: npb.read_npb(spark, glob, ["v"], ("2021-03-02", "2021-03-05")))
    assert jobs == 0

    n_dir, dir_jobs, dir_tasks = in_job_group(spark, by_dir.count)
    n_glob, glob_jobs, glob_tasks = in_job_group(spark, by_glob.count)
    assert n_dir == n_glob == 40 * 24
    assert (glob_jobs, glob_tasks) == (dir_jobs, dir_tasks)
    assert sorted(by_dir.collect()) == sorted(by_glob.collect())

    with open(f"{d}/notes.txt", "w") as fh:
        fh.write("not an npb file")
    again = npb.read_npb(spark, glob)
    assert not any(f.endswith("notes.txt") for f in again.inputFiles())
    assert again.count() == 40 * 24


def _typed_frame(idx, seed):
    rng = np.random.RandomState(seed)
    n = len(idx)
    return pd.DataFrame(
        {
            "i8": rng.randint(-128, 128, n).astype(np.int8),
            "u8": np.full(n, 255, np.uint8),
            "u16": np.full(n, 65535, np.uint16),
            "u32": np.full(n, 2**32 - 1, np.uint32),
            "u64": (np.uint64(2**64 - 1) - np.arange(n, dtype=np.uint64)),
            "f16": rng.randn(n).astype(np.float16),
            "f32": rng.randn(n).astype(np.float32),
            "f64": rng.randn(n),
        },
        index=idx,
    )


@pytest.fixture
def typed_dir(tmp_path):
    """Two files a day apart, every dtype that Spark must widen."""
    d = str(tmp_path / "typed")
    os.makedirs(d)
    early = _typed_frame(pd.date_range("2022-05-01", periods=6, freq="7min"), 1)
    late = _typed_frame(pd.date_range("2022-05-02", periods=5, freq="11min"), 2)
    npb.write_npb_file(early, f"{d}/a.npb")
    npb.write_npb_file(late, f"{d}/b.npb")
    return d, early, late


def _via_format(spark, d):
    from timebox_spark.sources.npb_datasource import register_npb

    register_npb(spark)
    return spark.read.format("npb").load(d)


@pytest.mark.parametrize("reader", ["read_npb", "format_npb"])
def test_spark_read_widens_dtypes_exactly(spark, typed_dir, reader):
    d, early, late = typed_dir
    df = npb.read_npb(spark, d) if reader == "read_npb" else _via_format(spark, d)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "ts": "timestamp", "f16": "float", "f32": "float", "f64": "double",
        "i8": "tinyint", "u16": "int", "u32": "bigint", "u64": "decimal(20,0)",
        "u8": "smallint",
    }
    got = df.orderBy("ts").toPandas()
    want = pd.concat([early, late])
    np.testing.assert_array_equal(
        got["ts"].dt.tz_localize(None).to_numpy(), want.index.to_numpy()
    )
    for c in ["i8", "u8", "u16", "u32", "f32", "f64"]:
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy())
    np.testing.assert_array_equal(
        got["f16"].to_numpy(), want["f16"].to_numpy().astype(np.float32)
    )
    assert list(got["u64"]) == [Decimal(int(v)) for v in want["u64"]]


@pytest.mark.parametrize(
    "window", ["first_file", "last_file", "touching_both", "between_files"]
)
def test_read_npb_time_range_bounds_are_inclusive(spark, typed_dir, window):
    d, early, late = typed_dir
    one = pd.Timedelta(seconds=1)
    lo, hi = {
        "first_file": (early.index[0], early.index[-1]),
        "last_file": (late.index[0], late.index[-1]),
        "touching_both": (early.index[-1], late.index[0]),
        "between_files": (early.index[-1] + one, late.index[0] - one),
    }[window]
    df = npb.read_npb(spark, d, columns=["u64", "u8"], time_range=(lo, hi))
    assert df.columns == ["ts", "u64", "u8"]
    got = df.orderBy("ts").toPandas()
    both = pd.concat([early, late])
    want = both[(both.index >= lo) & (both.index <= hi)]
    np.testing.assert_array_equal(
        got["ts"].dt.tz_localize(None).to_numpy(), want.index.to_numpy()
    )
    assert list(got["u64"]) == [Decimal(int(v)) for v in want["u64"]]
    np.testing.assert_array_equal(got["u8"].to_numpy(), want["u8"].to_numpy())
    assert len(got) == {"first_file": 6, "last_file": 5, "touching_both": 2, "between_files": 0}[window]
