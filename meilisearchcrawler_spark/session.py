"""SparkSession helpers + package shipping.

``ship_package`` zips this library and registers it with
``sc.addPyFile`` so executor Python workers can unpickle pandas UDFs
regardless of their working directory — the in-process equivalent of
``spark-submit --py-files mcspark.zip`` demanded by the north rule.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# keyed on the application id: the ``id()`` of a stopped context can
# be reused by the next context object, an application id never is
_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Zip ``meilisearchcrawler_spark`` and addPyFile it (idempotent per
    Spark application)."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="mcspark_")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def get_spark(master: str | None = None, shuffle_partitions: int = 32,
              app_name: str = "meilisearchcrawler-spark",
              driver_memory: str = "16g") -> SparkSession:
    """Engine-default session: AQE on, Arrow on, sane shuffle width.

    ``driver_memory`` only takes effect when this call creates the JVM
    (local mode runs executors inside the driver JVM; the 1g default
    OOMs on 10^7-row shuffles long before the box's RAM is used)."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE size shuffles by BYTES, not core count: without this,
        # AQE refuses to coalesce below the default parallelism, so a
        # 2k-row round frame shuffles into 32 near-empty partitions and
        # every downstream job pays 32 task dispatches + 32 python
        # workers for kilobytes of data (measured 22% of full-crawl
        # wall at local[32]). On a real cluster large rounds keep full
        # width automatically — the advisory size governs.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        # …and with byte-based sizing on, a smaller advisory target
        # keeps MEDIUM shuffles wide: at the 64 MB default a 500 MB
        # full-table window coalesces to 8 partitions on 32 cores
        # (measured 2.7x slower than 16 MB → 31 partitions); kilobyte
        # frames still collapse to 1 either way.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # the automatic runtime-Bloom-filter injection rule
        # (SPARK-32268) costs 0.3-0.5 s of driver CPU per join-bearing
        # action on this engine's plans and has never once fired
        # (QueryPlanningTracker: InjectRuntimeFilter 280-480 ms/action,
        # effective count 0, across every engine action and all 39
        # declared queries — no runtime Bloom filter in any plan). The
        # engine builds its own Bloom/semi-join prefilters where a join is
        # selective (engine/bloom.py, _present_keys), so the rule is
        # pure per-action planning overhead at any scale — measured
        # 32.8 → 24.1 s interleaved on the bench crawl (round 6).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        # the JVM-global whole-stage-codegen class cache holds 100
        # entries by default; one crawl round generates ~200 distinct
        # codegen units (window/join/agg stages + projections whose
        # source embeds per-round plan literals), so the LRU thrashes
        # and every round recompiles ~1,100 classes (~7 s of Janino per
        # crawl, CodegenMetrics-measured). At 5,000 entries warm rounds
        # recompile NOTHING (0 compilations over 3 crawls) — fresh-JVM
        # A/B pairs: 24.0/25.2 → 19.5/19.9 s (round 6). Static conf:
        # effective only for the process that creates the JVM, like
        # driver_memory above; cost is a few MB of cached bytecode.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # pin the parquet In-pushdown threshold at its safe default:
        # parquet-mr's recursive Or-tree predicate builder
        # stack-overflows at ~10^4 pushed In-values (measured,
        # ROUND4.md #6 / BENCH_r04 scan10k), so no engine path may ever
        # push a large key list — wide rounds use the broadcast-build
        # semi-join instead, and a cluster-level override of this knob
        # must not change that.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "10")
        # 16 MB task-thread stacks (JVM-launch option, same caveat as
        # driver_memory): whole-stage codegen + the parquet reader
        # recurse deeply, and under load isolated task threads were
        # observed dying with StackOverflowError at the JVM's default
        # ~1 MB stack (two tasks of ~55k in one bench session, both in
        # scan→sort→WindowGroupLimit codegen). Stacks are virtual
        # memory — the wider default costs nothing.
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
