"""SparkSession factory with the configs this pipeline relies on.

All scale-sensitive knobs live here so bench/tests/production share one
tuned profile: AQE (runtime coalescing + skew-join splitting), Arrow
vectorized UDF transfer, and a shuffle-partition default sized for the
local harness (override via env or PipelineConfig.extra_spark_conf).
No setting serves the driver gate's collects: each one reads the Arrow
stream of a plain toArrow and stops at its row cap (gate.py), so none
takes a limit() and none depends on how Spark schedules one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gliner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
    )
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # reliable checkpoint files (pagerank reliable_checkpoint=True)
        # are otherwise never deleted — unpersist() only drops cached
        # blocks; with this on, the ContextCleaner removes checkpoint
        # dirs when their RDD is GC'd
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def cluster_conf(
    executors: int = 1000,
    executor_cores: int = 4,
    shuffle_partitions: int | None = None,
    checkpoint_dir: str = "hdfs:///tmp/gliner_spark/checkpoints",
    iceberg_catalog: str | None = None,
    iceberg_catalog_type: str = "glue",
) -> dict:
    """The multi-executor profile for `spark-submit --conf` (SCALE.md): the
    knobs that differ from local mode on a 100 TB / N-executor run. Returned
    as a dict so launchers can merge/override:

        for k, v in cluster_conf(1000).items():
            cmd += ["--conf", f"{k}={v}"]

    Sizing logic: shuffle partitions ~ 2-3x total cores (AQE coalesces
    down); 256 MB scan splits -> ~400k input tasks at 100 TB; speculation
    on for straggler executors; reliable CC checkpoints replace
    localCheckpoint (PipelineConfig.cc_reliable_checkpoint=True +
    cc_checkpoint_dir=checkpoint_dir)."""
    total_cores = executors * executor_cores
    iceberg = {}
    if iceberg_catalog:
        # the catalog configs that activate sinks/materialize.TableIO's
        # fmt="iceberg" branch (exact writer calls in SCALE.md)
        iceberg = {
            "spark.sql.extensions": (
                "org.apache.iceberg.spark.extensions."
                "IcebergSparkSessionExtensions"
            ),
            f"spark.sql.catalog.{iceberg_catalog}": (
                "org.apache.iceberg.spark.SparkCatalog"
            ),
            f"spark.sql.catalog.{iceberg_catalog}.type": iceberg_catalog_type,
        }
    return {
        **iceberg,
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(executor_cores),
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or total_cores * 2
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.speculation": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # materialization I/O: zstd halves graph-table bytes vs snappy at
        # similar CPU; larger row groups favor the columnar re-reads
        # (lineage counts, finalize) over random access
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.hadoop.parquet.block.size": str(256 * 1024 * 1024),
        "spark.checkpoint.dir": checkpoint_dir,
        # large-broadcast hygiene for real encoder weights
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.rpc.message.maxSize": "512",
    }
