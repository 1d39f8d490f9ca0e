"""SparkSession factory with the scale-oriented defaults the north rule
mandates: AQE + skew-join handling on, Arrow execution for pandas UDFs,
UTC session timezone (nanosecond parity with the reference's raw int64
timestamps, database/db.go:86-87).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "sqlite-otel-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # North-rule §4.2.2: AQE with skew-join splitting and partition
        # coalescing — hot conversations produce skewed shuffle partitions.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow transfer for the vectorized parse UDF (SURVEY §2.9).
        # Large batches amortize the per-batch worker round trip; the
        # records emitted per input batch stay well under executor memory.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
        "spark.sql.session.timeZone": "UTC",
        # Keep parquet scans vectorized and pruned.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": "128m",
        # The record-stream cache is write-once/read-few within a run;
        # per-column compression costs ~15% of the whole pipeline wall
        # (measured, text-heavy columns) for little benefit at
        # micro-batch scale. At 100 TB the staging_dir parquet path
        # replaces the cache entirely.
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
        # Kryo for block/broadcast/spill (de)serialization: the default
        # JavaSerializer builds deeply recursive object graphs when
        # cached columnar batches spill to disk and are read back —
        # observed as a StackOverflow (BENCH_r02) and an OOM inside
        # ObjectInputStream.readArray (round-3 bench) on the SAME code
        # path. Kryo writes flat buffers: less garbage, no deep
        # recursion, and it is the standard production setting.
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # Python-worker crash diagnostics (VERDICT r4 item 3): the r4
        # bench tail showed "Python worker exited unexpectedly" with no
        # traceback — indistinguishable between a kill cascade and a
        # real OOM. faulthandler dumps the worker's Python stack on
        # hard death; negligible steady-state cost.
        "spark.python.worker.faulthandler.enabled": "true",
        # Hold a whole run's generated code: a cold batch run generates
        # about 134 distinct classes and a stream drain about 123. With
        # the default LRU size of 100 each warm run evicts and recompiles
        # ~118 of them (1.7-1.9 s of janino per 12k-turn batch run on 4
        # cores). Static conf: only takes effect on the first session in
        # the JVM.
        "spark.sql.codegen.cache.maxEntries": "1000",
    }
    # Single-JVM local mode under load: the default 1g heap GC-thrashes
    # with 32 concurrent tasks, and AlwaysPreTouch prepays the (lazily
    # host-faulted, expensive on microVMs) heap pages instead of paying
    # them erratically mid-benchmark. Opt-in via SPARK_GRAFT_DRIVER_MEM
    # (bench.py sets 12g) rather than library-wide: both only take
    # effect on the FIRST JVM launch in a process, and an unconditional
    # 12g would fail outright on small hosts / tiny test sessions.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    # -Xss16m on every JVM thread: the round-2 driver bench died rc=1 in
    # a StackOverflow-style java.io.ObjectInputStream recursion while
    # deserializing a task/broadcast object graph (BENCH_r02.json tail).
    # Java's default ~1m thread stack is marginal for deeply nested
    # graphs; 16m stacks cost only reserved virtual memory. Set for the
    # driver (which in local mode also hosts executor task threads) and
    # executors (no-op locally, applies on a real cluster). Only takes
    # effect on the first JVM launch in a process — bench.py therefore
    # runs each level in a fresh subprocess.
    driver_opts = "-Xss16m"
    if driver_mem:
        conf["spark.driver.memory"] = driver_mem
        driver_opts += " -XX:+AlwaysPreTouch"
    # Executor-emulation fairness (bench): JVM GC worker threads default
    # to the HOST's cpu count (32 here) regardless of local[N], so a
    # local[2] "executor" gets 32-thread GC pauses a real 2-core node
    # never would — inflating small-level throughput and deflating the
    # measured N->4N efficiency. SPARK_GRAFT_GC_THREADS=N pins
    # ParallelGCThreads (+ConcGCThreads for G1) to the level's core
    # count so each local[N] JVM behaves like an N-core executor.
    gc_threads = os.environ.get("SPARK_GRAFT_GC_THREADS")
    if gc_threads:
        n = max(1, int(gc_threads))
        driver_opts += (f" -XX:ParallelGCThreads={n}"
                        f" -XX:ConcGCThreads={max(1, n // 4)}")
    conf["spark.driver.extraJavaOptions"] = driver_opts
    conf["spark.executor.extraJavaOptions"] = "-Xss16m"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple | dict], ddl: str
) -> DataFrame:
    """A small driver-built relation (dims, conflict verdicts, manifest
    rows) as a JVM ``LocalRelation``. ``rows`` are tuples in ``ddl``
    column order or dicts keyed by column name.

    ``createDataFrame`` over a Python list goes through ``parallelize``,
    so the relation scans as a PythonRDD (``Scan ExistingRDD``) and
    every broadcast build over it runs a Python-worker task (0.2-2.3 s
    each on the batch write path, 4 cores). Handed a ``pyarrow.Table``,
    Spark builds a ``LocalTableScan`` instead, with or without the Arrow
    conf and for an empty table too; a broadcast build over it is a
    JVM-only task. ``coalesce(1)`` keeps that build at one task rather
    than one per row up to ``defaultParallelism``."""
    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema).coalesce(1)
