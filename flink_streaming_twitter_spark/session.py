"""SparkSession factory tuned for the engine.

The reference pins ``env.setParallelism(1)`` (Main.java:54); we instead let
Spark parallelize and encode the scale knobs here so every entry point
(tests, bench, driver harness) runs with the same, 100 TB-minded defaults:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- shuffle partitions sized for the local harness but overridable via env —
  on a 1000-executor cluster this would be set to ~2-4x total cores;
- UTC session timezone so window arithmetic and the DuckDB oracle agree;
- Arrow enabled for the (rare) pandas-UDF paths;
- broadcast threshold left at default 10 MB — dimension tables (region,
  nation, customer at test SF) broadcast automatically; plans additionally
  mark known-small sides with an explicit ``broadcast()`` hint so the plan
  survives stale/absent stats at 100 TB;
- PySpark's per-call DataFrame debugging off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``functions.*``/DataFrame call is wrapped in ``_with_origin``
  (``pyspark/errors/utils.py``), which reads the active session and a
  conf, sets and clears the JVM's ``PySparkCurrentOrigin`` over py4j and
  captures the Python stack — about half of the py4j round trips a
  ``corpus_prep_app.run`` makes while building its plans. The trade-off:
  errors raised in the JVM (analysis errors, ANSI runtime errors) no
  longer carry the Python call site of the expression that caused them.
  PySpark caches the setting per process on the first wrapped call, so
  the conf only takes effect if it is set before that call: a process
  that made a wrapped call before the conf was set keeps capturing.
  ``get_or_create`` sets it on an externally provided session too, which
  helps when the caller has made no wrapped call yet (as when
  ``__spark_entry__.entry`` receives a fresh session). It is a static
  SQL conf, which ``spark.conf.set`` refuses
  (CANNOT_MODIFY_STATIC_CONFIG), so it is written to the session's
  SQLConf directly; a session created later with ``newSession()``
  starts from the static value again;
- streaming checkpoints written through Spark's FileSystem-based
  checkpoint file manager (``spark.sql.streaming.checkpointFileManagerClass``
  = ``CHECKPOINT_FILE_MANAGER``). Spark's default, the FileContext-based
  manager, commits every offset-log, commit-log, file-source-log and
  state-store file by writing a temp file and renaming it, and without
  the native Hadoop library the local file system's
  ``FileContext.rename`` forks a ``readlink`` process for the source and
  the destination of each rename (``RawLocalFileSystem.getFileLinkStatus``
  → ``FileUtil.readLink``), for the file and its ``.crc``: most of the
  processes the JVM forks while the four live queries run, on every
  trigger of every query. The FileSystem-based manager renames with
  ``FileSystem.rename``, which on the local file system is
  ``File.renameTo`` and forks nothing. The trade-off: a local POSIX
  rename overwrites, so the no-overwrite guard of the offset and commit
  logs becomes check-then-rename — two drivers on one checkpoint (an
  unsupported setup) could both write a batch where one would otherwise
  fail. On HDFS, rename still refuses an existing destination. Creating
  each checkpoint file still forks a ``chmod``; only the native Hadoop
  library avoids that. A checkpoint written under Spark's default
  manager restarts under this one with its state and offsets: the
  manager changes how files are renamed, not what they hold.
  ``get_or_create`` sets it on a provided session too; it is a runtime
  conf, read each time a query opens its checkpoint;
- Spark's generated-code cache sized to the corpus job's working set
  (``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``).
  The cache maps generated Java source to its Janino-compiled class, and
  Spark's default of 100 entries, split into four LRU segments of 25, is
  smaller than the ~135 classes one ``corpus_prep_app.run`` executes
  (about 170 with ``--char-tier``), so every warm run recompiled almost
  all of them and each started cold in the JIT. 1000 holds five times
  the largest working set measured. What it costs is memory: each
  entry keeps its compiled class (bytecode in metaspace) alive until it
  is evicted. It must stay bounded because the live queries generate a
  few single-use classes on every trigger (watermark literals, Q-C's
  ``current_timestamp()``), which an unbounded cache would hold for the
  life of the JVM. It is a static SQL conf that ``CodeGenerator`` reads
  once per JVM, at the first code generation, so it takes effect only
  in a JVM that has generated no code yet; there is one cache per JVM,
  so on a cluster each executor holds its own. ``get_or_create`` writes
  it into a provided session's SQLConf, as it does the debugging conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
CODEGEN_CACHE_ENTRIES = 1000


def build_session(
    app_name: str = "flink-streaming-twitter-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession. ``extra_conf`` is applied
    last, so it overrides any of the confs set here."""
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_CPUS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # streaming: state compaction-friendly defaults; harmless in batch
        .config("spark.sql.streaming.stateStore.compression.codec", "lz4")
        # local mode runs driver + all 32 task threads + block manager in
        # ONE JVM: 8g was enough for any single query but not for the
        # bench's 72-query sequence (cache blocks + shuffle buffers from
        # 32 concurrent tasks), where GC pressure caused 3x timing swings.
        # 24g mirrors a real cluster's per-executor sizing (~0.75g/core).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # parquet written with TIMESTAMP(NANOS) loads as int64 nanos, which
        # sources/files.py converts; without this Spark 4 refuses such
        # files. No shipped table uses it: the testdata stores
        # TIMESTAMP(MICROS, not UTC-adjusted), which loads as TIMESTAMP_NTZ
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Reuse an externally provided session (the driver passes one) but make
    sure the confs the engine's correctness depends on are applied,
    per-call DataFrame debugging is off (module docstring: effective only
    if no wrapped call ran in this process before), checkpoints use
    the FileSystem-based file manager and the codegen cache holds
    ``CODEGEN_CACHE_ENTRIES`` classes (effective only if this JVM has
    generated no code yet)."""
    if spark is None:
        return build_session()
    # Session timezone must be UTC for window-epoch arithmetic to match the
    # oracle; these are runtime-settable confs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    # static confs: spark.conf.set refuses them (module docstring)
    sql_conf = spark._jsparkSession.sessionState().conf()
    sql_conf.setConfString("spark.python.sql.dataFrameDebugging.enabled", "false")
    sql_conf.setConfString("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    return spark
