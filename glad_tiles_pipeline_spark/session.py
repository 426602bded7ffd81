"""SparkSession factory with the engine's standard configuration.

Every conf here is a scale lever (SURVEY.md §4.1):
  - AQE on (runtime coalesce + skew-join split) — at 100 TB the static
    shuffle-partition count is always wrong for *some* stage; AQE fixes it.
  - Arrow on — all Python-side compute is pandas/Arrow vectorized
    (BASELINE.json input_hint: "no per-row Python").
  - UTC session timezone — deterministic timestamp semantics vs the DuckDB
    oracle and the replay oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size: bound Python-worker memory per batch at scale.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # Scan split size: source-code text in snappy parquet compresses ~10×,
    # so the default 128 MB split is ~1.3 GB decompressed per task — one
    # straggler task then caps a whole stage.  32 MB keeps per-task memory
    # bounded and scan stages wide; at 100 TB this is ~3M scan tasks, fine
    # for a 1000-executor cluster and irrelevant to shuffle stage counts.
    "spark.sql.files.maxPartitionBytes": "33554432",
    # Keep broadcast threshold at default 10MB; dims here are tiny.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # Lake reads pass the manifest's explicit file list.  Above the default
    # threshold of 32 paths Spark stats them in a separate parallel listing
    # job; on a local file system the driver-side serial stat is cheaper at
    # every size: 100 explicit files took 720-820 ms with the default and
    # 56-89 ms serially (4-core VM, local[2]).  Revisit for object stores.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "glad_tiles_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine conf set.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is supplied — in production this is left unset
    and ``spark-submit --master`` decides (BASELINE.json north_rule:
    "run via spark-submit --py-files on a multi-executor cluster").
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is None:
        # 2x parallelism is a sane default for local; clusters override.
        try:
            n = int(master.split("[")[1].rstrip("]").replace("*", "32"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(2 * n, 8)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
