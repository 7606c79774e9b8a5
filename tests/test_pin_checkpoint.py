"""Focused tests for session.pin — the single chokepoint for the
engine's lineage-cut checkpoints (r13, VERDICT r12 #4): default is
executor-local localCheckpoint; SPARK_GRAFT_RELIABLE_CHECKPOINT=1 flips
every site to reliable-storage checkpoint() for cluster runs."""

import os

import pytest

from polars_dataset_spark.session import pin


def _files_under(cdir):
    found = []
    for _root, _dirs, files in os.walk(cdir.replace("file:", "")):
        found.extend(files)
    return sorted(found)


def test_pin_default_is_local_checkpoint(spark, monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    had_dir = spark.sparkContext.getCheckpointDir()
    before = _files_under(had_dir) if had_dir else []
    df = pin(spark.range(10), eager=True)
    assert df.count() == 10
    # local checkpoint: no checkpoint dir is applied and no file is written
    assert spark.sparkContext.getCheckpointDir() == had_dir
    assert not ckpt.exists()
    if had_dir:
        assert _files_under(had_dir) == before


def test_pin_reliable_flag_writes_checkpoint_files(spark, monkeypatch, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    had_dir = spark.sparkContext.getCheckpointDir()
    df = pin(spark.range(10), eager=True)
    assert df.count() == 10
    cdir = had_dir or ckpt
    # reliable checkpoint materializes RDD files under the checkpoint dir
    assert _files_under(cdir), f"no reliable checkpoint files under {cdir}"


def test_pin_reliable_flag_without_dir_raises(spark, monkeypatch):
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set by a previous test session")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(RuntimeError, match="checkpoint dir"):
        pin(spark.range(5))
