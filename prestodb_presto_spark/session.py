"""SparkSession factory tuned for the engine.

Scale posture: these confs are chosen so the same code runs on a
1000-executor cluster against ~100 TB — locally we only shrink the
parallelism knobs, never the semantics:

  - AQE on (runtime re-plan: partition coalescing, skew-join splitting,
    broadcast conversion) — replaces Presto 0.206's static
    DetermineJoinDistributionType (reference:
    presto-main/.../iterative/rule/DetermineJoinDistributionType.java:33).
  - UTC session timezone — matches the differential oracle and removes
    Presto's legacy session-zone ambiguity (reference:
    presto-spi/.../type/TimeZoneKey.java).
  - ANSI mode ON (Spark 4 default): division-by-zero / overflow raise,
    like Presto's semantics (Presto errors; non-ANSI Spark returned null).
  - Arrow enabled for the (rare) pandas-UDF paths.
  - Generated-class cache sized to 1000 (``spark.sql.codegen.cache.maxEntries``,
    Spark's default 100) — Presto likewise compiles each projection and
    filter once and reuses it from a per-expression class cache
    (presto-main/.../sql/gen/PageFunctionCompiler.java:101).  Measured
    working sets, classes compiled by one cold pass: perfbench
    ``olap_tpch`` 177-183, ``presto_sql`` 124-125; the same 12 catalog
    queries at sf0.001 168.  A 100-entry LRU cache cycled in the same
    order misses on nearly every class of every warm pass (172 and 100
    compiles per warm pass); at 1000 a warm ``olap_tpch`` pass compiles
    none, and a warm ``presto_sql`` pass at most the 3 classes of a new
    ordering of the ``approx_distinct`` statement's distinct groups.  The
    cache holds compiled code only: its size is bounded and does not
    grow with the data.  The 196-query catalog compiles about 2300
    distinct classes, more than 1000, so a pass over all of it still
    recompiles.
  - Driver buffers sized to their payloads, not to Spark's defaults.
    Presto sizes the pages it builds to their data, capped at 1 MB
    (``PageBuilderStatus.DEFAULT_MAX_PAGE_SIZE_IN_BYTES``).
    ``spark.broadcast.blockSize`` = 512k (default 4m): torrent broadcast
    cuts every serialized broadcast into pieces of this size and
    allocates each piece whole, and every stage submission broadcasts
    its task binary, so a payload of kilobytes zero-filled a 4 MiB
    array.  ``spark.buffer.pageSize`` = 4m (by default Spark derives it
    from the execution memory and the core count, rounded up to a power
    of two: 16 MiB on perfbench's 3 GB 4-core driver, 32-64 MiB in
    larger sessions): every hash aggregate, sort and non-BIGINT-key hash
    build takes a whole page however few rows it holds, and a broadcast
    reports the page as its ``dataSize`` (``tpch_q15``'s one-row
    max_rev: 64 MiB).  With the driver's 2 MiB G1 regions each such
    buffer was a humongous object in regions of its own, so these
    transient buffers, not data, set the driver's peak RSS.  Measured on
    a 4-core box with the driver started as perfbench starts it
    (``-Xms3g -Xmn512m``), default -> these values:
      - JFR allocation sites, two passes of the 12 ``olap_tpch`` queries
        in one session: 234 arrays of 4 MiB (936 MB) from
        ``TorrentBroadcast.blockifyObject`` (task binaries and broadcast
        joins) became 232 of 512 KiB; 9 pages of 16 MiB from
        ``BytesToBytesMap.acquireNewPage`` and
        ``RowBasedKeyValueBatch.acquirePage`` became 10 of 4 MiB.
      - G1 log, same runs: the most humongous regions live before a GC
        went 266 -> 115, their sum over the run's 13 GCs 1830 -> 737.
      - JVM VmHWM, same runs: 1680/1700 MB -> 1339/1385 MB; three
        ``presto_sql`` passes 1567/1551 -> 1265/1267 MB.  perfbench
        ``peak_rss_mb`` (medians of 10 and 6 pairs): ``olap_tpch``
        2037 -> 1693, ``presto_sql`` 1809 -> 1495; its time metrics
        did not move beyond run-to-run noise.
    Scale bounds: Spark's page table holds 8192 pages, so 4 MiB pages
    still allow 32 GiB of execution memory per task, and a broadcast at
    the 64 MB threshold splits into 128 pieces instead of 16 (one block
    manager entry and one fetch each).  The confs change memory and
    speed, never results.  What no conf reaches stays: a 1 MiB chunk
    per executor task from ``SerializerHelper.serializeToChunkedBuffer``
    and a ~1 MiB first page per BIGINT-key ``LongToUnsafeRowMap``, both
    Spark constants.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "prestodb-presto-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32, matching
    the driver environment).  On a real cluster the master/conf come from
    spark-submit and everything here remains valid.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # explicit, not just the Spark 4 default: Presto-style errors on
        # div-by-zero/overflow must survive a Spark 3.x backport
        .config("spark.sql.ansi.enabled", "true")
        # Spark 4.1 TIME type gate: the engine's TIME convention uses
        # real TIME values (CAST/to_time need this flag)
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.maxMetadataStringLength", "500")
        # static conf, read once per JVM: a warm working set of generated
        # classes (about 180 per olap_tpch pass, 125 per presto_sql pass)
        # must fit, or every warm query compiles all of its classes again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # static confs, sized to the payloads (module docstring): a torrent
        # piece under half a 2 MiB G1 region is no humongous object, and a
        # Tungsten page is taken whole by even a one-row hash build
        .config("spark.broadcast.blockSize", "512k")
        .config("spark.buffer.pageSize", "4m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
