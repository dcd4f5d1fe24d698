"""``core.parallelism.fan_out_for_compute``: each input its guards
refuse is returned as is, and a file-backed frame still fans out."""

from __future__ import annotations

import glob
import os

import pytest

from rabbit_in_a_blender_spark.core.parallelism import fan_out_for_compute


def test_streaming_frame_is_returned_as_is(spark):
    """A streaming frame plans only under writeStream: its file listing
    raises AnalysisException, on the probe path too."""
    stream = spark.readStream.format("rate").load()
    assert fan_out_for_compute(stream, "value") is stream
    assert fan_out_for_compute(stream, "value", partition_probe=True) is stream


def _one_file_table(spark, path: str):
    spark.range(0, 100, 1, 1).write.parquet(path)
    return spark.read.parquet(path)


def test_vanished_input_file_is_returned_as_is(spark, tmp_path):
    """A file listed when the frame was planned and deleted before the
    size read (Hadoop FileNotFoundException through py4j)."""
    if spark.sparkContext.defaultParallelism <= 1:
        pytest.skip("a one-core session never fans out")
    df = _one_file_table(spark, str(tmp_path / "t"))
    for f in glob.glob(str(tmp_path / "t" / "part-*.parquet")):
        os.remove(f)
    assert fan_out_for_compute(df, "id") is df


def test_path_with_a_space_fans_out(spark, tmp_path):
    """inputFiles() lists percent-encoded URIs; a directory name with a
    space must still size its files and fan the scan out."""
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        pytest.skip("a one-core session never fans out")
    df = _one_file_table(spark, str(tmp_path / "a table"))
    assert df.rdd.getNumPartitions() == 1
    out = fan_out_for_compute(df, "id")
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(100))
