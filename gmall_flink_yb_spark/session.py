"""SparkSession factory.

The reference pins ``env.setParallelism(1)`` in every job
(gmall-realtime/.../app/dwd/BaseLogApp.java:36 et al.) and leaves checkpointing
commented out. We instead size for a real cluster: AQE on (runtime shuffle
coalescing + skew-join splitting replaces the reference's hand-tuned
parallelism), broadcast threshold generous enough that every gmall dim table
(user/province/sku/spu/trademark/category3 — all small) broadcasts, and Arrow
enabled so any Pandas-UDF fallback is batch-vectorized.

Shuffle sizing is a run-time decision, never a plan-time one. Every
batch shuffle starts at ``SHUFFLE_INITIAL_PARTITIONS`` and AQE coalesces
it to ``SHUFFLE_ADVISORY_PARTITION_BYTES`` from the bytes the map side
actually wrote. Persisted frames coalesce the same
way, because ``canChangeCachedPlanOutputPartitioning`` is on; without it
AQE leaves a cached plan's shuffles at the initial count. Nothing in the
engine writes ``spark.sql.shuffle.partitions`` after the session is
built: it stays the deployment value, which plans read as a stable
number (``operators.skew.shuffle_partitions``) and streaming state
keeps as its partition count.

A served query pays no fixed JVM cost that a repeat of it can avoid.
Generated classes are compiled once: the codegen cache holds
``CODEGEN_CACHE_ENTRIES`` classes, more than a serving mix cycles through,
so a repeated query finds its classes instead of recompiling them. Each
table's schema is inferred once per file version
(``sources.readers.read_table``), so building a plan over an unchanged
file launches no Spark job.

A streaming commit forks no process for a file it renames. Every
micro-batch writes an offsets file, a commit file, a source-log file and
one state delta (plus its checksum sidecar) per store and partition, each
as a temp file renamed into place. Spark's default checkpoint manager
renames through Hadoop's ``FileContext``, which on the local filesystem
resolves symlinks by forking ``readlink`` four times per file when Hadoop
runs without ``libhadoop`` (pip PySpark ships none). The session writes
checkpoints through ``CHECKPOINT_FILE_MANAGER`` (Hadoop ``FileSystem``)
instead. A no-overwrite write still fails when the file exists, which the
offsets, commit and metadata logs rely on. An overwrite write is
best-effort, as the manager contract allows: on ``file:`` the rename onto
an existing file fails, so the existing file is kept and the temp file is
left behind, where ``FileContext`` would have replaced it.

A Python task pays no fixed cost for archives that have not changed.
Spark forks every Python worker from a daemon, and before each task a
worker calls ``importlib.invalidate_caches()``, which on CPython 3.11
re-parses the central directory of every zip it imports from: about
24 000 entries of ``pyspark.zip`` per task, even one with no rows. The
session starts its workers from ``PYTHON_DAEMON_MODULE``, which parses
each archive's directory once per file version and then runs PySpark's
own daemon, and puts the engine's package root on the workers' Python
path (ahead of any ``spark.executorEnv.PYTHONPATH`` the caller passes),
so the daemon imports from any working directory. Every Python UDF the
engine runs takes this path: the two stateful DWM apps, the corpus and
LLM pandas stages and the segmenter UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the partition count every AQE batch shuffle starts from before it
# coalesces: the count that made the 1000x substring-dedup point
# at-linear (248 s at 32 partitions, 130 s at 256; BASELINE.md)
SHUFFLE_INITIAL_PARTITIONS = 256
# AQE's coalescing target, in COMPRESSED shuffle bytes; a reducer works
# on the decompressed rows, several times larger. At Spark's 64 MB the
# 100x dedup_minhash_lsh signature stage coalesced to 6 tasks and ran
# ~1.3x slower than at 16 MB (24 tasks). Shuffles smaller than
# defaultParallelism x 16 MB are split across the cores either way.
SHUFFLE_ADVISORY_PARTITION_BYTES = 16 << 20
# JVM-wide LRU cache of compiled whole-stage/expression classes. Spark's
# default of 100 is below what a serving mix cycles through: the 16-query
# perfbench mix generates about 235 distinct classes, so at 100 every
# warm pass recompiled ~230 of them; at 2000 a warm pass compiles 0-6
# (AQE re-plans). The conf is static and the cache is built on the JVM's
# first codegen, so a vanilla driver session (``__spark_entry__``) keeps
# Spark's default: it is only slower there, never wrong.
CODEGEN_CACHE_ENTRIES = 2000
# Checkpoint and state-store files are written through Hadoop FileSystem,
# not Spark's default FileContext manager. Without libhadoop a FileContext
# rename forks `readlink` four times per file (getFileLinkStatus ->
# FileUtil.readLink): 2 552 of the 3 725 processes the driver JVM started
# in one 29 s dw_stream window, and 0 of 1 173 with this manager. Over 10
# alternating dw_stream pairs (4 cores) freshness p50 fell 15.6 -> 12.4 s;
# in a traced pair state.dwm_order_wide.commit_s fell 5.8 -> 1.2 s with
# the same jobs, stages and tasks. No-overwrite writes still fail if the
# file exists; overwrite writes are best-effort (the existing file is
# kept). The session's Hadoop conf carries the class to the driver-side
# logs and to the executor-side state stores alike.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Python workers are forked from this daemon (``pydaemon.py``): it parses
# each zip archive's directory once per (size, mtime_ns, inode) and then
# runs ``pyspark.daemon``. Without it every task's
# ``importlib.invalidate_caches()`` re-read ~24 000 pyspark.zip directory
# entries through 14-18 zipimporters, 115-120 ms of one core per task.
# Over a seed-3 dw_stream run (4 cores) the daemon and its workers used
# 35.0 core-seconds with PySpark's daemon and 14.1 with this one. The
# conf is static, so a vanilla driver session keeps PySpark's daemon and
# is only slower there.
PYTHON_DAEMON_MODULE = "gmall_flink_yb_spark.pydaemon"
# the directory holding the package, so workers started in any working
# directory import the daemon module and the engine's UDF code
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"

# Streaming state backends (VERDICT r6 #3). The reference carries a
# commented-out FsStateBackend/RocksDB block in every app
# (BaseLogApp.java:38-46); Spark's equivalents:
#  - "hdfs": HDFSBackedStateStoreProvider (default) keeps every loaded
#    state-map version in EXECUTOR HEAP — measured at ~200 B/key for the
#    is_new/bounce states (BASELINE.md round-6 stress), fine to ~10M
#    keys/executor.
#  - "rocksdb": RocksDBStateStoreProvider spills state to local SSD and
#    bounds heap at the block-cache size — switch once per-executor state
#    crosses a few GB. changelogCheckpointing ships deltas instead of
#    full SST uploads per commit.
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming."
        "state.HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    ),
}


def get_spark(
    app_name: str = "gmall_flink_yb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for both local tests and scale.

    On a real cluster, drop ``master`` and let the submitter decide; the conf
    below is sized so the same logical plans survive a 100x scale-up:
    AQE re-sizes shuffles at runtime, skewed keys are split, and small dims
    are broadcast instead of shuffled.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    extra_conf = dict(extra_conf or {})
    caller_path = extra_conf.pop(_WORKER_PYTHONPATH, None)
    worker_path = os.pathsep.join(filter(None, (_PACKAGE_ROOT, caller_path)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(SHUFFLE_INITIAL_PARTITIONS),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(SHUFFLE_ADVISORY_PARTITION_BYTES),
        )
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # STATIC estimate-based broadcasts are OFF (-1): the planner's
        # size estimate for an explode/join-derived frame is its scan size,
        # which under-counts a shingle explosion ~100x — at a 100x corpus
        # the static planner happily broadcast a multi-GB inverted index
        # and died in BroadcastExchange (found by tools/bench_scale.py
        # --replicas 100). Dims still broadcast via their explicit
        # F.broadcast() hints, and AQE re-introduces broadcast joins from
        # RUNTIME sizes (adaptive threshold below) — truly-small sides get
        # broadcast, estimate-garbage sides never do.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config(_WORKER_PYTHONPATH, worker_path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MB splits: good parquet scan granularity at 100 TB
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata events.ts is parquet TIMESTAMP(NANOS) which Spark
        # cannot read natively — read as long ns and convert in the reader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # newer Spark 4 otherwise reads naive parquet timestamps as NTZ;
        # keep LTZ semantics everywhere (see sources/readers._ensure_read_confs)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if state_store is not None:
        if state_store not in STATE_STORE_PROVIDERS:
            raise ValueError(
                f"unknown state_store {state_store!r}; "
                f"one of {sorted(STATE_STORE_PROVIDERS)}"
            )
        # providerClass is a RUNTIME conf read at stream start, so set it
        # on the session (getOrCreate may have returned a pre-existing
        # one, where builder confs are silently ignored). It applies to
        # streams started AFTER this call; an existing checkpoint keeps
        # the provider it was created with.
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS[state_store],
        )
    return spark
