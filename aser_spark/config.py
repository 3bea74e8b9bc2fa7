"""SparkSession factory with scale-oriented defaults.

The session is local mode, ``local[cpus]``: ``cpus`` defaults to
``SPARK_GRAFT_CPUS`` (32 when unset), so set it to the host's core count.
The SQL knobs are the ones a cluster would set too: AQE for runtime
re-planning and skew-join splitting, Arrow for the extraction UDFs, and
shuffle partitions sized to the cores.

Python workers are forked from ``aser_spark.worker_daemon``
(``spark.python.daemon.module``), which imports the extraction stack once
per application, so the per-worker imports and the per-task re-read of
``pyspark.zip`` are paid once instead of per worker and per task.  The
directory holding the ``aser_spark`` package goes on
``spark.executorEnv.PYTHONPATH``: the daemon and every UDF that calls the
kernel must import ``aser_spark`` whatever the working directory of the
JVM, and in local mode this driver-side path is valid for the workers.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app="aser-spark", cpus: int | None = None, shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # floor scan parallelism at the core count: a single 20-200MB
        # parquet file otherwise scans as 1-2 tasks and serializes the
        # whole query behind it.  A *minimum* stays scale-adaptive — big
        # inputs still split by maxPartitionBytes exactly as before
        # (guide §6: files.minPartitionNum is the documented floor knob).
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # allow shuffled-hash joins where a partition's build side fits —
        # sort-merge's per-partition sorts are pure overhead for hash-able
        # joins (guide §3.1/§9); AQE additionally rewrites SMJ->SHJ at
        # runtime below the local-map threshold
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        # local-mode driver == the single executor: size it like a real
        # executor (measured: a 16g heap GC-thrashes once the KG pipeline
        # caches instances + aggregates and a second extraction pass runs —
        # 117s vs 30s for the identical stage at 48g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # spark.python.worker.reuse stays at its default (true): long-lived
        # workers keep the Zipf sentence memos warm across tasks, and the
        # cross-mode heap poison that reuse used to carry (4-8x slower
        # kernel tasks after a prior mode's memos went resident) is fixed
        # at the source — _sentence_cache evicts + trims the stale mode's
        # state on switch (pipeline/extract.py; forensics in
        # BENCH/NOTES.md §r6).  reuse=false was tried and reverted: per-
        # stage mass worker exits (32 procs x 100-400MB heaps) feed the
        # sandbox kernel's reclaim backlog, the very storm being avoided.
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "aser_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
