"""SparkSession factory tuned for the crawl engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not 200), AQE on (runtime re-plan + skew-join),
Arrow enabled for the pandas-UDF hot path, UTC session timezone so the
DuckDB oracle comparison is stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the ``sitemapper_spark`` package: Python
# workers need it on their path to start ``sitemapper_spark._daemon``
# from whatever directory the session was created in.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sitemapper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cores
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p
        for p in (
            _PACKAGE_PARENT,
            extra_conf.pop("spark.executorEnv.PYTHONPATH", None),
        )
        if p
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # Job scheduling mode. The engine overlaps background writes
        # (images/edges/frontier) with the next round's foreground jobs
        # from separate driver threads; under FIFO a big "background"
        # job (per-round image decode+write) occupies every task slot
        # and the foreground round queues behind it (measured in the
        # round-4 rounds-mode decomposition: round wall tracked the
        # image write ~1:1). engine._BgAction tags its jobs with the
        # `background` fair pool so FAIR mode splits slots fairly — but
        # the same-weather paired A/B (BENCH.md §3.3,
        # bench_scaling_r4_rounds_{fair2,fifoctrl}.json) measured FAIR
        # neutral-to-slightly-slower at BOTH levels on this box: the
        # wide level is CPU/memory-bandwidth-bound, not slot-starved,
        # so interleaving buys nothing and costs cache locality. FIFO
        # stays the default; flip SPARK_GRAFT_SCHEDULER_MODE=FAIR on a
        # cluster whose executors have genuinely idle slots.
        .config(
            "spark.scheduler.mode",
            os.environ.get("SPARK_GRAFT_SCHEDULER_MODE", "FIFO"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image payloads: bound Arrow batch size so a batch of binary
        # rows stays ~tens of MB, not hundreds (OOM guard for UDF paths)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # fat binary rows make the default 4096-row columnar batches
        # resize multi-MB WritableColumnVectors constantly (measured 7x
        # slowdown on a 16GB bytes column); 256 keeps vectors small with
        # negligible overhead for narrow tables
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python worker daemon (see _daemon.py). PySpark starts every
        # task with importlib.invalidate_caches(), and on CPython 3.11
        # each cached zip importer then re-reads its whole archive
        # directory: pyspark.zip, the py4j zip and the spark-core jar,
        # once per importer. Measured on a 4-core VM: 170-320 ms of
        # worker CPU per task before the UDF starts, against 0.03 ms for
        # the same call in the driver. Every crawl round pays it in each
        # Python stage (clean_links_udf, decode_verify, the bloom and
        # cuckoo shard build/merge/probe). The daemon skips the re-read
        # only for archives on its sys.path at startup: those are the
        # Spark install's, immutable while it runs. A zip shipped later
        # (addPyFile / --py-files) is still re-read, so it stays
        # importable.
        .config("spark.python.daemon.module", "sitemapper_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # zstd for shuffle/spill AND checkpoint parquet: measured on the
        # 8M-page mega crawl (BENCH.md r4) — at local[32] the wide level
        # is limited by shuffle+write IO volume, not CPU, and halving
        # the bytes moved bought 47.5k -> 75.1k urls/s warm (lz4/snappy
        # -> zstd), while local[8] (CPU-bound) paid ~4%. Converting IO
        # into parallel CPU is exactly the trade a 1000-executor
        # cluster wants; override via env for A/B.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
    )
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
