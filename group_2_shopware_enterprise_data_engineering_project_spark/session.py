"""SparkSession factory.

Mirrors the reference's SPARK_CONFIGS (reference:
src/batch/inventory/services/glue_service/inventory_transform.py:46-56 —
AQE on, coalescePartitions, skewJoin, Kryo, snappy parquet, Arrow) with
local-mode ergonomics: shuffle partitions sized to cores rather than the
200 default, UTC session timezone so results compare bit-for-bit against
a DuckDB oracle, and the Spark UI off for headless runs.

On a real cluster only ``master`` and the memory knobs change; every
query in this package is declarative DataFrame/SQL, so Catalyst + AQE
pick physical strategies per deployment.

Spark keeps compiled whole-stage code in a cache of only 100 classes by
default (``spark.sql.codegen.cache.maxEntries``). One corpus-curation
op (exact dedup, MinHash-LSH, connected components, quality gates, then
embedding near-dup pairs) generates about 138 classes, so at the
default every repeat of that op evicted its own code and Janino
recompiled about 128 classes, and the JVM's JIT started the new
classes over in the interpreter: 0.3-1.0 s more per op on ``local[4]``
(in-session op times at ops 2-5). The cache is a Guava cache split into LRU segments, so
a total near the working set still evicts inside a crowded segment;
``CODEGEN_CACHE_ENTRIES`` leaves several-fold headroom. Measured on
``local[4]`` (compiles per op from ``CodegenMetrics``, PERF.md): a
repeated curation op compiles 114-128 classes at 100 and 0-4 at 1000;
the batch ETL op, whose working set sits right at 100, recompiled 0 or
26-29 classes per op depending on the session and none at 1000. The
curation op's median time fell from 6.1 s to 5.2 s in ten benchmark
pairs. The conf is static (read when the SparkContext starts), so it
is set on the builder; ``extra_conf`` overrides it like any other conf.

The cache is keyed by the generated source, and by default that source
names its class after the whole-stage codegen stage id. Under AQE the
ids follow the order in which stages get planned at runtime, so the
same stage code came back under a new name in 0-10 classes of a
repeated curation pass; ``spark.sql.codegen.useIdInClassName=false``
drops the id from the name (it stays in a source comment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cores this process may run on, unless SPARK_GRAFT_CPUS says otherwise.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Compiled-class cache size: several times the ~138 classes of the
# largest op's working set (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "shopware-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Safe to call when a session already exists (e.g. under the driver
    harness): ``getOrCreate`` reuses it, and the session-level configs
    we depend on for correctness (timezone, AQE) are re-applied via
    runtime conf below.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Session-level settings that matter even on a pre-existing session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_settings(spark: SparkSession) -> SparkSession:
    """Apply the correctness-critical runtime confs to an externally
    created session (the driver harness passes us its own).

    ``inferTimestampNTZ`` must be off BEFORE any parquet read: testdata
    ``events.ts`` is parquet timestamp[us] with isAdjustedToUTC=false,
    which Spark 4.x otherwise surfaces as TIMESTAMP_NTZ — a type that
    ``unix_millis``/``unix_micros`` reject. The session timezone is UTC,
    so reading NTZ micros as instant-semantics TIMESTAMP is value-exact
    and matches the DuckDB oracle bit-for-bit.

    Static confs cannot be applied here: the session already runs. In
    particular ``spark.sql.codegen.cache.maxEntries`` keeps Spark's
    default of 100 on a harness-built session, so its repeated
    curation ops recompile their generated code (see the module
    docstring); only ``get_spark`` sessions carry
    ``CODEGEN_CACHE_ENTRIES``."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Write instant timestamps as INT64 micros, not legacy INT96: INT96
    # carries NO parquet min/max footer stats, which silently disables
    # file/row-group pruning on every timestamp predicate downstream —
    # a table-scan-vs-pruned-scan difference at 100 TB.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # Always-on, set ONCE here rather than toggled per-read: Spark has
    # no nanosecond timestamp type, so parquet TIMESTAMP(NANOS) columns
    # (testdata events.ts) surface as BIGINT nanos and sources/tables.py
    # converts them per-column from the footer schema. Flipping this
    # conf per table() call was a session-global mutation that raced
    # under a concurrent harness (two threads planning parquet scans
    # while the conf changes mid-flight); with it pinned true at init,
    # no read path ever mutates session state. Non-nanos tables are
    # unaffected by the setting.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
