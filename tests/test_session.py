"""``get_spark`` on a running session, and the checkpoint file manager its
defaults select for every streaming query."""

from __future__ import annotations

_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"


def test_get_spark_keeps_a_live_sessions_confs(spark):
    """The suite's session is created with AQE off and 4 shuffle
    partitions through ``extra_conf``. A later ``get_spark()`` (the CLI's
    ``main`` makes one) must not re-apply ``_DEFAULTS`` over them; its own
    ``extra_conf`` still applies."""
    from dump1090_db_stream_spark import get_spark

    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert get_spark("dump1090-db-stream") is spark
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        get_spark(extra_conf={key: "1234567"})
        assert spark.conf.get(key) == "1234567"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.set(key, old)


def test_streaming_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """Every checkpoint and sink-manifest write resolves to Spark's
    FileSystem-based manager (the FileContext default forks chmod and
    readlink processes on each write). If a Spark upgrade moves the
    class, this fails here by name instead of failing every stream at
    start."""
    want = f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass") == want
    jvm = spark.sparkContext._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getName() == want
