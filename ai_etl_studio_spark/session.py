"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM, but every default here is chosen
to also be the right starting point on a large multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — the single most important 100 TB knob.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE's coalescing makes the static number mostly irrelevant as long
  as it is an upper bound (set it high there, e.g. 2000+).
- UTC session timezone so timestamp semantics match UTC-naive oracle engines
  (DuckDB) and partition pruning on date columns is unambiguous.
- Arrow enabled for any toPandas()/pandas-UDF edge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "ai-etl-studio-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    If a session already exists (e.g. the verify driver owns it), the
    builder returns it unchanged — ``configure_existing`` below can then be
    used to apply the runtime-settable subset of this config.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # r11 (guide §5/§9): in local[N] the driver JVM IS the whole
        # cluster — every task's execution memory, every broadcast build
        # and the codegen cache share this one heap, and the stock 1 GB
        # default GC-thrashes at 32 concurrent tasks (measured −8% on a
        # 16-query A/B subset at sf0.1: 46.1 s → 42.4 s; a pre-change
        # profiling leg OOMed a broadcast build under the default).
        # Parameterised: SPARK_GRAFT_DRIVER_MEM overrides; on a real
        # cluster the driver only plans + holds broadcasts, for which
        # 16g is a sane production default as well. Static conf — only
        # takes effect when this factory launches the JVM (ignored on
        # an externally-owned session, where it cannot apply).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # r11: ContextCleaner only unpersists localCheckpoint/broadcast
        # blocks when the JVM garbage-collects their RDD handles, and its
        # safety-net System.gc() fires every 30 MINUTES by default. A
        # session that runs hundreds of checkpoint-bearing queries (the
        # bench, a long-lived service) accumulates dead cached blocks for
        # the whole window (visible as monotonically growing storage on
        # the 16 GB heap over a 705-query pass). A 2-minute interval
        # bounds the accumulation at the cost of one mostly-dead-heap GC
        # per interval (~0.1 s). NOTE: the multi-query stall windows
        # observed in full N=1 passes on this sandbox were traced to
        # HOST CPU STEAL (bursty /proc/stat steal time, windows move
        # between runs), not to this accumulation — this conf is block
        # hygiene, not the stall fix; N=3 medians are the stall fix.
        # The same interval is sane on real clusters (the cleaner runs
        # driver-side).
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects unless read as long (converted in catalog)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Runtime-settable (non-static) configs, applied when we are handed an
#: externally-created session (the verify driver passes one in).
#: shuffle.partitions: the stock 200 default costs ~6× task-scheduling
#: overhead at local scale; AQE coalescing hides it for implicit
#: exchanges but NOT for explicit repartition/repartitionByRange calls.
#: Sized to local cores here; on a real cluster set it high (2000+) and
#: let AQE coalesce down.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _runtime_conf(spark: SparkSession) -> dict[str, str]:
    conf = dict(RUNTIME_CONF)
    # only lower the static 200 default; never clobber an explicit
    # operator-tuned value (tests set 8; bench sets core count)
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        current = None
    if current == 200:
        conf["spark.sql.shuffle.partitions"] = str(default_parallelism())
    return conf


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session."""
    for k, v in _runtime_conf(spark).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static or access-controlled conf on this deployment
    return spark
