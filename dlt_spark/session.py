"""Opinionated SparkSession factory for the engine.

Every knob here is the scale posture the operators are designed
against; they are defaults, not requirements — any existing session
works, and ``overrides`` wins.

- **AQE on, with skew-join and partition coalescing.**  The engine
  leans on runtime re-planning: merge key-set joins carry no broadcast
  hint, so a side the static estimate cannot size (a pinned load
  package) is broadcast by AQE's real-shuffle-size conversion when it
  is small, and residual hot keys in the dedup / merge joins are AQE
  skew-split.
- **Shuffle sizing by data, not a magic number.**  AQE's advisory
  partition size (128 MiB) does the real work; the static
  ``shuffle.partitions`` is just the pre-AQE upper bound — set it to
  ~2-3x total cores on a real cluster.
- **256 MiB scan splits** keep scan tasks coarse enough that a 100 TB
  table does not explode into millions of tasks, while staying within
  executor memory for the normalize path.
- **Arrow exchange on** for the Pandas-UDF kernels (MinHash/shingles,
  multimodal) and fast ``toPandas``/``createDataFrame``.
- **UTC session time zone** — all oracle-verified timestamp arithmetic
  assumes it.
- **zstd parquet** — the storage-bandwidth trade every large corpus
  store makes.
- **4000-entry codegen class cache.**  The default (100) thrashes in
  long-lived analytic sessions: measured on the ~100-query benchmark
  sweep, continuous eviction made late queries pay full Janino
  recompile + fresh JIT per stage (one composite query 2.2x slower);
  4000 entries removed the churn entirely.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import SparkSession

SCALE_DEFAULTS: Dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    "spark.sql.files.maxPartitionBytes": "256m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.codegen.cache.maxEntries": "4000",
}


def spark_session(
    app_name: str = "dlt_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    overrides: Optional[Dict[str, str]] = None,
) -> SparkSession:
    """Build (or extend) a SparkSession with the engine's scale posture.

    ``master`` defaults to whatever the environment provides (cluster
    managers set it; pass ``local[N]`` for local work).
    ``shuffle_partitions``: set ~2-3x total executor cores on a real
    cluster; left unset, Spark's default + AQE coalescing applies.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(SCALE_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(overrides or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
