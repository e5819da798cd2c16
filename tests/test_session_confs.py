"""Session-factory contract tests.

`_norm_jvm_mem` (ADVICE r8): `spark.driver.memory` reads a bare number
as MiB but `-Xms1500` means 1500 BYTES, so interpolating the
`SPARK_GRAFT_DRIVER_MEM` env value verbatim into extraJavaOptions made
such a value fail JVM launch.  Bare digits must gain an 'm'; garbage
must fail loudly at the factory, not inside the JVM.

Checkpoint file manager: the engine's sessions, built by `get_spark`
or handed in by a driver and passed through `tune`, commit streaming
checkpoint files through Hadoop's FileSystem API.
"""

from __future__ import annotations

import pytest

from realtime_data_pipeline_spark.session import _norm_jvm_mem, tune

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("8g", "8g"),
        ("12G", "12g"),
        ("512m", "512m"),
        ("1048576k", "1048576k"),
        ("1500", "1500m"),  # the ADVICE case: bare digits are MiB
        (" 8g ", "8g"),
    ],
)
def test_norm_jvm_mem_accepts_and_normalizes(raw, want):
    assert _norm_jvm_mem(raw) == want


@pytest.mark.parametrize("raw", ["", "8gb", "g8", "-4g", "8.5g", "lots"])
def test_norm_jvm_mem_rejects_non_jvm_sizes(raw):
    with pytest.raises(ValueError):
        _norm_jvm_mem(raw)


def _checkpoint_manager(session, path) -> str:
    """The class of the manager Spark creates for a checkpoint at
    `path` under `session`'s confs."""
    jvm = session._jvm
    return (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            session._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getName()
    )


def test_checkpoints_commit_through_the_filesystem_api(spark, tmp_path):
    assert _checkpoint_manager(spark, tmp_path) == FS_MANAGER
    # a driver-owned session without the conf gets Spark's default
    # until `tune` applies it
    driver = spark.newSession()
    driver.conf.unset(MANAGER_CONF)
    assert _checkpoint_manager(driver, tmp_path) != FS_MANAGER
    tune(driver)
    assert _checkpoint_manager(driver, tmp_path) == FS_MANAGER
