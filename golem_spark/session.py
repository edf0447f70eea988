"""SparkSession factory tuned for the local[32] test harness.

On a real cluster these configs are supplied by spark-submit; the factory
only sets session-level SQL knobs (AQE, shuffle partitions, Arrow) that are
correct at any scale, plus two settings that only take effect on the
builder: the generated-class cache size, and PySpark's DataFrame
debugging flag.

Spark compiles every whole-stage-codegen class with Janino and keeps the
compiled classes in a JVM-wide LRU cache keyed by the generated source
(``spark.sql.codegen.cache.maxEntries``, default 100). This engine's
working set is far larger: the three graph/dedup queries alone generate
about 147 classes per call, and one pass over all 166 queries compiles
about 1,880 distinct classes at sf0.01. At 100 entries every class is
evicted before its next use, so a second pass over the suite compiled
2,726 classes again; at CODEGEN_CACHE_ENTRIES it compiles 40-50.
CODEGEN_CACHE_ENTRIES is that working set with about 2x headroom, and
``tools/codegen_working_set.py`` measures it again. The retained classes
cost no measurable JVM Metaspace (CHANGES.md records the numbers).

``spark.python.sql.dataFrameDebugging.enabled`` is set to false. At its
default (true) every Column and ``functions`` call on the driver records
its Python call site for analysis errors: several py4j round trips per
call (a conf read, a JVM class lookup, setting and clearing the origin),
and a first ``import IPython`` whose modules stay loaded. Off, analysis
errors lose the Python call-site fragment, which nothing here reads.
PySpark reads the flag once per process (``is_debugging_enabled``
caches it), so a later ``spark.conf.set`` has no effect.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# generated classes kept compiled per JVM (see the module docstring);
# a static conf: it takes effect only when the session is created
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "golem_spark", shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize per-batch Python overhead in the
        # mapInPandas partial-reduction passes (default 10k)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # spark.sql.codegen.maxFields stays at the Spark default (100)
        # ON PURPOSE — both directions were measured (round 12):
        # raising it to 500 made a 200-column x 2e6-row tall scan 2.8x
        # faster (17.0 -> 6.0 s, whole-stage codegen re-enabled), but
        # REGRESSED the iterative GLM bench queries 15-80% at sf0.1
        # (glm_cv_gaussian 1.46 -> 2.74 s, glm_poisson_wide_sparse
        # 3.56 -> 5.84 s warm): every prox-Newton/ADMM pass embeds new
        # beta literals, so each pass pays Janino compilation of the
        # 100-500-field generated code that interpreted mode skips.
        # Tall single-pass scans opt in locally via
        # spark.conf.set("spark.sql.codegen.maxFields", "500")
        # (tools/scale_audit.py tall_n_ceiling does). Never set it
        # above ~500: at ~800 generated agg fields Spark 4.1 codegen
        # splits into a nested class that hits a Janino
        # IllegalAccessError on BufferedRowIterator.partitionIndex.
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # no per-Column call-site capture (see the module docstring).
        # Ten interleaved perfbench pairs per workload, sf0.01, 4 cores:
        # driver_rss_mb 182.0 -> 160.3 MB (glm) and 147.7 -> 130.6 MB
        # (pipeline), 10/10 wins each. py4j calls per warm call at
        # sf0.001, proxy releases aside: glm_binomial_path 3,540 -> 960,
        # glm_cv_gaussian 5,193 -> 1,493, p59_pagerank 926 -> 516.
        # Builder only: PySpark caches the flag for the process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long and rebuild micros in load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    CodegenMetrics): the difference around a call is how many classes
    that call compiled, 0 when every class came from the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_SESSION_CACHE: dict[tuple, object] = {}
_SESSION_CACHE_LOCK = threading.RLock()


def session_cached(spark: SparkSession, key: tuple, build):
    """The value ``build()`` returns, built once per session and ``key``.

    The one place a per-session derived frame (registered tables, the
    shared wide GLM context, the MinHash pair and component frames) is
    cached. Entries are keyed by ``(id(spark),) + key``, so a process
    that builds a second session never sees the first one's frames;
    ``key`` must name everything else the value depends on (the sf_dir
    and which frame). A hit is a lock-free dict read. A miss builds
    under one process-wide reentrant lock with a second lookup, so two
    concurrent first callers (verify_oracle --jobs) share one build
    instead of each persisting a frame that would stay pinned for the
    session lifetime. Reentrant, because a build may call the helper
    again (the components frame builds from the pairs frame, the wide
    context calls load_tables); a build must not start threads that
    call back into it."""
    full_key = (id(spark),) + key
    value = _SESSION_CACHE.get(full_key)
    if value is None:
        with _SESSION_CACHE_LOCK:
            value = _SESSION_CACHE.get(full_key)
            if value is None:
                value = _SESSION_CACHE[full_key] = build()
    return value


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True):
    """Load the driver-generated parquet tables (TESTDATA.md) as DataFrames.

    Parquet scans get predicate pushdown + column pruning from Catalyst for
    free; callers should select only needed columns so ReadSchema stays
    narrow. With ``register_views`` the tables are also registered as temp
    views, once per session and sf_dir.
    """
    if register_views:
        return session_cached(spark, (sf_dir, "tables"),
                              lambda: _read_tables(spark, sf_dir, True))
    return _read_tables(spark, sf_dir, False)


def _read_tables(spark: SparkSession, sf_dir: str, register_views: bool):
    # the caller may hand us a session built without our factory (the
    # driver's verify does); the nanos conf is runtime-settable
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    dfs = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # nanos-as-long → truncate to microseconds (same truncation
            # DuckDB applies when materializing its ns timestamps).
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        dfs[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return dfs
