"""Session factory defaults (the streaming commit path) and the package's
import-time protobuf probe (session.py, package __init__)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from real_time_fraud_detection_system_using_big_data_analytics_spark.session import (
    STREAMING_COMMIT_CONFS,
    bootstrap_vendored_protobuf,
    tune_existing,
)

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def checkpoint_manager_class(spark, path: str) -> str:
    """Class of the manager Spark would build for a checkpoint at ``path``
    from this session's Hadoop conf: what every streaming log and the
    RocksDB file manager resolve through."""
    jvm = spark._jvm
    factory = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return factory.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf).getClass().getName()


def test_get_session_sets_streaming_commit_confs(spark, tmp_path):
    assert STREAMING_COMMIT_CONFS[CHANGELOG] == "true"
    for key, value in STREAMING_COMMIT_CONFS.items():
        assert spark.conf.get(key) == value
    assert checkpoint_manager_class(spark, f"file:{tmp_path}") == FS_MANAGER


def test_tune_existing_sets_streaming_commit_confs(spark, tmp_path):
    """A session the engine did not build gets the same commit path."""
    for key in STREAMING_COMMIT_CONFS:
        spark.conf.unset(key)
    try:
        assert spark.conf.get(CHANGELOG, None) is None  # Spark's default: off
        assert checkpoint_manager_class(spark, f"file:{tmp_path}") != FS_MANAGER
        tune_existing(spark)
        for key, value in STREAMING_COMMIT_CONFS.items():
            assert spark.conf.get(key) == value
        assert checkpoint_manager_class(spark, f"file:{tmp_path}") == FS_MANAGER
    finally:
        for key, value in STREAMING_COMMIT_CONFS.items():
            spark.conf.set(key, value)


def test_protobuf_probe_skipped_inside_python_workers():
    """Importing the engine inside a Spark task (a Python worker unpickling
    an engine function) must not run the protobuf probe; importing it on
    the driver still does whenever a protobuf runtime is reachable."""
    code = (
        "import sys, pyspark\n"
        "if sys.argv[1] == 'task':\n"
        "    pyspark.TaskContext._taskContext = object()\n"
        "import real_time_fraud_detection_system_using_big_data_analytics_spark\n"
        "print('google.protobuf' in sys.modules)\n"
    )
    repo = Path(__file__).resolve().parent.parent

    def imported_protobuf(mode: str) -> bool:
        out = subprocess.run(
            [sys.executable, "-c", code, mode],
            cwd=repo, capture_output=True, text=True, check=True, timeout=120,
        )
        return out.stdout.strip().splitlines()[-1] == "True"

    assert not imported_protobuf("task")
    if bootstrap_vendored_protobuf():  # a runtime exists: the driver probes
        assert imported_protobuf("driver")
