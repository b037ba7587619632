"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: every knob here is
chosen so the same plan shape survives a 1000-executor / 100 TB scale-up
(AQE for runtime re-planning + skew joins, shuffle partitions sized to
parallelism, Arrow for the vectorized UDF stages).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(cores: int | None) -> str:
    """The local-mode heap, as a `spark.driver.memory` value.

    Local mode: driver == the only executor, so its heap stands in for
    the cluster's AGGREGATE executor memory — scale it with task slots
    (1.5 GiB/core, min 16g) exactly as adding executors adds memory on
    a real cluster. The default is capped at half of physical RAM: a
    heap the machine cannot back is not memory the stand-in cluster
    has, and the kernel OOM-kills the JVM once the heap grows past RAM
    (the JVM runs ~1.2 GB of RSS above -Xmx; the rest is left to the
    Python workers and the caller's process). $SPARK_DRIVER_MEM
    overrides both.
    """
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    gib = max(16, (cores or 0) * 3 // 2)
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        ram = 0  # not reported on this platform: leave the rule uncapped
    if ram > 0:
        gib = min(gib, max(1, ram // 2 // 2**30))
    return f"{gib}g"


def get_spark(
    app_name: str = "ummon_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to 2x cores — small enough to avoid
    tiny-partition overhead locally, and AQE coalesces further at runtime.
    On a real cluster the same code runs under spark-submit and the
    master/size confs are supplied externally.
    """
    env_cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None:
        cores = int(env_cores) if env_cores else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, (cores or os.cpu_count() or 8))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST", "64m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # join-strategy knobs, passed through at Spark's own defaults
        # (sort-merge join preferred, no AQE shuffled-hash-join local
        # map): shuffled hash join was measured within noise of SMJ on
        # this engine's joins (OPTIMIZATION_r06.md), so it is NOT
        # enabled. The env overrides exist for cluster tuning.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "0"),
        )
        # r6 (guide §7.2 — duplicated subtrees): InferFiltersFromGenerate
        # adds `size(arr) > 0` under every explode; when the array is an
        # aliased expression (spanify's transform(), split() in the line
        # operators) predicate pushdown substitutes the WHOLE expression
        # into the filter and the scan, evaluating it twice per row. The
        # filter is semantically redundant — empty/null arrays produce no
        # Generate output anyway — so the rule is excluded: the parse
        # stage alone measured 3.3 s -> 0.75 s warm at sf0.1 x20.
        .config(
            "spark.sql.optimizer.excludedRules",
            os.environ.get(
                "SPARK_GRAFT_EXCLUDED_RULES",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate",
            ),
        )
    )
    # NOTE: shuffle spill stays on disk (default spark.local.dir) —
    # measured: pointing it at tmpfs competes with the JVM heap for the
    # same RAM at deep replication and stalls the high-core leg.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
