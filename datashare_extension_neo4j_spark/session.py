"""SparkSession factory tuned for the KG-construction workload.

Local-mode defaults sized for the sandbox (local[32], single JVM); the
same conf block is what we'd pass to spark-submit on a real cluster —
AQE + skew-join on, Arrow on, shuffle partitions ~= 2-3x cores. Also
home of ``widen``, the one scan-widen probe the pipeline and the
registry queries share.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "datashare_extension_neo4j_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # make the package importable on executor python workers regardless
    # of driver cwd (cluster equivalent: spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores (not the 200 default) to avoid tiny tasks
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else max(int(n), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # collect_set/collect_list aggs: sort-based beats object-hash at
        # high group cardinality (measured 2.5x on APPEARS_IN) and
        # avoids the GC churn of per-group array buffers
        .config("spark.sql.execution.useObjectHashAggregateExec", "false")
        # wide-text mapInPandas: 10k-row default batches are ~120 MB of
        # html per batch — small batches cut peak memory + GC and
        # pipeline better against the python workers
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # throughput GC for executors (ignored in local mode, applies
        # under local-cluster/real clusters); G1 pause targets buy
        # nothing in a batch pipeline
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # single-box file:// splits carry no locality — never wait
        .config("spark.locality.wait", "0s")
        # skip per-API-call Python stack inspection (call-site capture
        # for error messages): pyspark documents it as a performance
        # option, and it costs ~0.5 s of importlib on first use plus a
        # stack walk on EVERY DataFrame method — pure driver overhead
        # for a non-interactive engine (errors still carry the full
        # traceback, just not the user-code fragment annotation)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def widen(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism guard against input skew: a
    small input (one parquet file → one scan split) serializes every
    downstream map stage on a single core — the Python parse kernel,
    the token explode + partial aggregations, the hash-heavy kernels
    (MinHash md5, SimHash bit votes). Widen with a round-robin
    repartition ONLY when the scan is narrower than the cluster; at
    real scale the scan already carries >= defaultParallelism splits
    and this is a structural no-op — nothing is tuned to either mode.
    Round-robin is retry-safe (sortBeforeRepartition) and every
    consumer's result is partitioning-independent.

    The decision sums the byte lengths of ``df.inputFiles()`` (early
    exit past the threshold, a few ms) instead of converting the plan
    to an RDD (~0.2 s of driver wall). The split math mirrors Spark's:
    with openCostInBytes = 4 MB the scan cannot reach ``n`` splits
    when the input is under n × 4 MB, and reaches it comfortably
    above. Nothing is memoized, so a path rewritten in a long-lived
    driver is probed afresh. Frames with no input files (in-memory or
    derived-only sources), or whose files cannot be stat'ed, fall back
    to the exact plan-derived partition count."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    threshold = n * 4 * 1024 * 1024
    narrow = None
    try:
        files = df.inputFiles()
        if files:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            total = 0
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                total += p.getFileSystem(conf).getFileStatus(p).getLen()
                if total >= threshold:
                    break
            narrow = total < threshold
    except Py4JJavaError:
        pass  # file vanished or unreadable status: count partitions
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < n
    return df.repartition(n) if narrow else df
