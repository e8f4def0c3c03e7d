"""SparkSession factory with scale-oriented defaults.

Reference behaviors preserved (SURVEY.md §4.3.5): everything is UTC — the
reference documents a tz-naive/aware crash (reference README.md:174-176) and
we pin ``spark.sql.session.timeZone=UTC`` instead.

Scale posture (these are the knobs that matter at 100 TB, even though tests
run on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions survive a 1000× scale-up where static plans
  don't.
- Arrow on: any unavoidable pandas interchange is columnar, not pickled rows.
- Timestamp reads: the driver testdata stores naive ``timestamp[us]`` parquet
  (older generations used TIMESTAMP(NANOS)); ``inferTimestampNTZ=false`` +
  ``nanosAsLong=true`` make both read as plain TIMESTAMP with instants that
  match DuckDB's naive read under the pinned UTC zone (see
  io.configure_timestamp_reads / io.normalize_timestamps).
- Spill-aware partition sizing, pinned EXPLICITLY rather than inherited,
  so the 100 TB math is visible: scan splits at 128 MiB
  (``files.maxPartitionBytes`` — ~800k input splits for 100 TB, each
  decompressing to a comfortably-in-memory task) and AQE coalesces
  shuffle output toward 64 MiB (``advisoryPartitionSizeInBytes``). The
  static ``shuffle.partitions`` is deliberately just a pre-AQE ceiling:
  size it 2-3x total cores on a real cluster (e.g. ~6000 for 1000
  executors x 2 cores) and let coalescing shrink small stages; skewed
  keys split under the same advisory target via skewJoin. Executor-memory
  rule of thumb these defaults encode: a 64-128 MiB partition needs
  ~0.5-1 GiB of task heap through a hash aggregate — 4 GiB/core
  executors hold 4-8 concurrent tasks without spill.
- Codegen cache sized to the library's working set
  (``CODEGEN_CACHE_MAX_ENTRIES`` = 1000; Spark's
  ``spark.sql.codegen.cache.maxEntries`` defaults to 100). One ETL unit
  (``pipeline.run_pipeline``) compiles ~153 generated classes, so at 100
  the LRU evicts inside every unit; at 1000 a second unit in the same JVM
  compiles 0-8 (a snapstore DML cycle: 12-20, because its per-cycle
  predicate bounds are inlined into the generated code). Plans and
  results do not change; the cache only memoizes compilation. The gain
  needs several units in one long-lived driver JVM (perfbench's warm
  units, bench.py, the tier-1 session): a one-shot CLI run compiles as
  much either way, except for its ``--report`` pass, which then reuses
  the unit's classes. Measured cost (Spark 4.1.2, JDK 17): about 33 KB
  of heap plus metaspace per entry, ~33 MB at 1000.
  It is a static conf: it applies only when ``get_session`` creates the
  SparkContext; a session that reuses a running context keeps its value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_session(
    app_name: str = "wsspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, callers pass ``master=None`` and let spark-submit own
    the master/deploy settings; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # explicit spill-aware sizing (Spark's defaults, pinned so the
        # 100 TB partition math in the module docstring stays true even
        # if upstream defaults move)
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 timestamps carry no parquet min/max statistics, which
        # forfeits row-group pruning on every date predicate; write
        # standard TIMESTAMP_MICROS instead (what the testdata uses too)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("WSSPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("WSSPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
