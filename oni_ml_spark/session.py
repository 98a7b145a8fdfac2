"""SparkSession factory tuned for the target execution profile.

Local testing runs on local[N]; the configs below are chosen so the same
logical plans scale to a multi-executor cluster: AQE handles runtime
shuffle-partition sizing and skew joins, shuffle partitions default low for
local mode but are overridable, Arrow is on for the (rare) Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "oni_ml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    AQE is enabled so shuffle partition counts and skew handling are decided
    at runtime from actual map output sizes — the setting that lets the same
    plan run at sf0.001 locally and at 100 TB on a large cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode: the driver JVM is the executor — give it real heap
        # (must be set before the JVM launches; ignored on getOrCreate reuse)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (VERDICT r12 item 5 + ADVICE): the r12 session-wide
        # preferSortMergeJoin=false default is REVERTED to Spark's default
        # (sort-merge). The interleaved per-entry A/B (OPTIMIZATION_r13.md)
        # shows SMJ flat-to-better on every join-shaped entry measured
        # (dedup_exact 1.31x, json_properties 1.16x, never >5% worse), and
        # shuffled-hash's build side cannot spill — at 100 TB a skewed
        # build partition OOMs an executor where SMJ degrades gracefully
        # (guide §3.1's own caution). SHJ remains one env flag away for
        # workloads measured to benefit:
        #   SPARK_GRAFT_EXTRA_CONF=spark.sql.join.preferSortMergeJoin=false
        #
        # r13 (VERDICT r12 item 3, guide §2.2/§9): size REDUCERS BY BYTES,
        # not by core count — parallelismFirst=false makes AQE coalesce
        # shuffle reads toward advisoryPartitionSizeInBytes instead of
        # stopping at the default-parallelism floor, so the same plan gets
        # KB-appropriate reducer counts at local SFs and 64m-appropriate
        # counts at 100 TB. The advisory size is the production sizing
        # knob (guide §9 suggests 256m for big batch; Spark's 64m default
        # kept here so local file sizing stays sane) and is parameterised:
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"),
        )
        # reliable checkpoints (connected_components on a cluster with a
        # checkpoint dir) are deleted when their frame is GC'd instead of
        # accumulating until application stop
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # read TIMESTAMP(NANOS) parquet (e.g. the events table) as long nanos;
        # io.load_table converts back to a timestamp column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # a cold DNS analysis generates 133 classes; with Spark's default
        # of 100 cache entries every warm analysis recompiled ~100 of them
        # (102 compiles, ~1.4 s of Janino plus JIT). At 2000 entries the
        # recompiles were 0 by the third analysis and a warm analysis took
        # 8.6-9.8 s instead of 12.0 s (4-core host, dns_feedback_day)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/oni_ml_spark_warehouse"),
        )
    )
    # experiment/override hook: SPARK_GRAFT_EXTRA_CONF="key=val;key=val"
    # lets the bench and A/B harnesses toggle configs without code edits
    # (scale-dependent settings stay parameterised per the optimization
    # ground rules); explicit extra_conf still wins over the env
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in env_conf.split(";"):
        if "=" in item:
            k, _, v = item.partition("=")
            builder = builder.config(k.strip(), v.strip())
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
