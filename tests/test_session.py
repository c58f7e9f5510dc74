"""The tuned session's confs that the engine's cost depends on."""

from __future__ import annotations

import pyspark.errors.utils as err_utils


def test_per_call_dataframe_debugging_is_off(spark, monkeypatch):
    """With it on, every functions.*/DataFrame call sets and clears the
    JVM call-site origin over py4j and captures the Python stack."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # PySpark caches the decision per process: drop the cache so the
    # check reads the active session's conf, not an earlier answer
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)
    assert err_utils.is_debugging_enabled() is False


def test_get_or_create_turns_debugging_off_on_a_provided_session(spark, monkeypatch):
    """entry() may receive a session with the conf at its default;
    get_or_create must switch the per-call debugging off there too, or
    plan building pays about twice the py4j round trips."""
    from flink_streaming_twitter_spark.session import get_or_create

    key = "spark.python.sql.dataFrameDebugging.enabled"
    # a static conf: spark.conf.set refuses it, so write the SQLConf
    sql_conf = spark._jsparkSession.sessionState().conf()
    sql_conf.setConfString(key, "true")
    try:
        assert get_or_create(spark).conf.get(key) == "false"
    finally:
        sql_conf.setConfString(key, "false")
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)
    assert err_utils.is_debugging_enabled() is False


def _checkpoint_file_manager(spark, path) -> str:
    """The class Spark opens a streaming checkpoint at ``path`` with,
    resolved the way a starting query resolves it."""
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = jvm.org.apache.hadoop.fs.Path(str(path))
    return checkpointing.CheckpointFileManager.create(path, hadoop_conf).getClass().getName()


def test_checkpoints_use_the_filesystem_based_file_manager(spark, tmp_path):
    """Spark's default FileContext-based manager forks a readlink process
    for both ends of every checkpoint rename on a JVM without the native
    Hadoop library; build_session and get_or_create both pin the
    FileSystem-based one, which renames without forking."""
    from flink_streaming_twitter_spark.session import CHECKPOINT_FILE_MANAGER, get_or_create

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert CHECKPOINT_FILE_MANAGER.endswith(".FileSystemBasedCheckpointFileManager")
    # build_session (the suite's session)
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    assert _checkpoint_file_manager(spark, tmp_path) == CHECKPOINT_FILE_MANAGER
    # a provided session with Spark's default manager named explicitly
    default = CHECKPOINT_FILE_MANAGER.replace("FileSystemBased", "FileContextBased")
    spark.conf.set(key, default)
    try:
        assert _checkpoint_file_manager(spark, tmp_path) == default
        assert get_or_create(spark).conf.get(key) == CHECKPOINT_FILE_MANAGER
        assert _checkpoint_file_manager(spark, tmp_path) == CHECKPOINT_FILE_MANAGER
    finally:
        spark.conf.set(key, CHECKPOINT_FILE_MANAGER)


def test_codegen_cache_holds_the_corpus_jobs_working_set(spark):
    """Spark's default cache of 100 generated classes is smaller than the
    ~135 one corpus_prep_app.run executes, so every warm run recompiled
    almost all of them; build_session and get_or_create both size it to
    CODEGEN_CACHE_ENTRIES."""
    from flink_streaming_twitter_spark.session import CODEGEN_CACHE_ENTRIES, get_or_create

    key = "spark.sql.codegen.cache.maxEntries"
    # build_session (the suite's session)
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
    # a provided session with the conf at Spark's default; a static conf,
    # so spark.conf.set refuses it and the SQLConf is written directly
    sql_conf = spark._jsparkSession.sessionState().conf()
    sql_conf.setConfString(key, "100")
    try:
        assert spark.conf.get(key) == "100"
        assert get_or_create(spark).conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
    finally:
        sql_conf.setConfString(key, str(CODEGEN_CACHE_ENTRIES))
