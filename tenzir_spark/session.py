"""SparkSession factory with scale-aware defaults.

Local mode is for correctness testing only; the config choices below are the
ones that matter on a real multi-executor cluster too (AQE, skew-join
handling, Arrow transfer, sane shuffle parallelism).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def wants_big_heap_tuning(driver_memory: str) -> bool:
    """True for heaps >= 16 GiB in either JVM size form ("16g"/"28G"/
    "20480m"): those sessions get 32m G1 regions (see the comment at the
    use site). Unparseable strings never opt in."""
    m = re.fullmatch(r"(\d+)\s*([gGmM])", driver_memory.strip())
    if not m:
        return False
    n, unit = int(m.group(1)), m.group(2).lower()
    return n >= (16 if unit == "g" else 16 * 1024)


def get_spark(
    app_name: str = "tenzir_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 4.
    ``shuffle_partitions`` defaults to 2*cores — on a real cluster you would
    size this to total executor cores; AQE coalesces the excess at runtime.
    ``master`` overrides local[cores] (e.g. ``spark://127.0.0.1:7077`` for a
    multi-executor standalone cluster; ``cores`` then sizes shuffle
    parallelism only).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    # resolved ONCE: the configured driver heap and the G1-tuning gate
    # below must reason about the same value
    mem = driver_memory or os.environ.get("TENZIR_SPARK_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep genuinely object-hash aggregates (collect_list/collect_set/
        # percentile in summarize/distinct paths) hashing instead of
        # degrading to an external sort at the default 128-key threshold.
        # NOTE the LWW collapse itself — max_by(struct(...)) — does NOT go
        # through ObjectHashAggregateExec in Spark 4.1: a struct-typed
        # declarative buffer is neither hash- nor object-hash-supported,
        # so it plans as SortAggregateExec (partial aggs sort full rows
        # including token arrays; see the G1 region note below).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
        # Unhinted joins against a side that is only small at runtime (the
        # batch key set of a copy-on-write MERGE, lake/merge.py; the dedup
        # operators' winner and loser sets; enrich context tables) rely on
        # AQE's runtime conversion: sides of up to a few hundred MB still
        # convert to broadcast, so the large side joins without a shuffle,
        # while a pathological side degrades to a hash join instead of
        # OOMing the driver, as a forced broadcast hint would
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.session.timeZone", "UTC")
        # Python workers (mapInPandas/pandas UDFs) inherit the same glibc
        # mmap-threshold fix as the driver (tenzir_spark.__init__._tune_malloc:
        # slow first-touch faults on micro-VM kernels make large Arrow/numpy
        # temporaries pathological without it)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        # NOTE: -XX:+UseTransparentHugePages was A/B-tested here and made
        # everything 4x WORSE (507 s vs 132 s headline): THP defrag is
        # `madvise` on this kernel, so each madvised huge-page allocation
        # performs synchronous compaction — allocation paths stall for
        # seconds. Leave THP to the kernel default.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # PySpark wraps every DataFrame and Column call in a call-site
        # capture for error messages: a stack walk, a failed IPython import
        # and about 4 extra py4j round trips. A warm
        # F.col(x).cast("int") took 1.46 ms with it and 0.35 ms without
        # (500-call loops on a 4-core box), and one ingest batch makes
        # hundreds of such calls. The cost of turning it off: an error's
        # query context no longer names the Python file:line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", mem)
    )
    # Long big-heap local runs fragment G1's old gen: SortAggregate partial
    # aggs over token-array rows (the max_by LWW collapse) allocate multi-MB
    # sort pages that are humongous at G1's default region size for <32g
    # heaps — a 20g 1e9-event endurance run OOM'd at batch ~380/400 WITH
    # free heap. 32m regions make those ordinary allocations. Applied only
    # for >=16g heaps (tiny test sessions don't need it); an explicit
    # extra_conf extraJavaOptions still wins (applied after).
    if wants_big_heap_tuning(mem):
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list,
                schema: T.StructType) -> DataFrame:
    """A small driver-side frame (``rows``: tuples in ``schema`` order)
    planned as a ``LocalRelation`` (``LocalTableScan``), never as
    ``spark.createDataFrame(list)``'s Python RDD (``Scan ExistingRDD``):
    scanning or broadcasting that runs a job through Python workers on
    every action. Non-empty rows cross as one Arrow table; an empty frame
    comes from the JVM's ``createDataFrame(java.util.List, StructType)``,
    which takes any schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not rows:
        jspark = spark._jsparkSession
        jdf = jspark.createDataFrame(spark._jvm.java.util.ArrayList(),
                                     jspark.parseDataType(schema.json()))
        return DataFrame(jdf, spark)
    arrow_schema = to_arrow_schema(schema)
    cols = zip(*rows)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
