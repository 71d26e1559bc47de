"""SparkSession factory.

One place to set the scale-relevant knobs. The reference has no engine at
all (single-threaded Python loops per Airflow task, SURVEY.md §4.1); here
every job shares a session configured for Catalyst/AQE to do the physical
planning:

- AQE (runtime join-strategy switch, skew-join splitting, partition
  coalescing) and sort-merge as the shuffled-join strategy are Spark's
  defaults and are left alone: at 100 TB AQE is what rescues skewed
  shuffle keys, and a sort-merge join spills where a shuffled-hash
  join's build side cannot. A join that measures faster as a
  shuffled-hash join carries its own ``shuffle_hash`` hint.
- ``spark.sql.shuffle.partitions`` defaults small for local mode; on a real
  cluster AQE coalescing makes the initial number mostly irrelevant.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location-independent.
- Arrow enabled for the Pandas-UDF slow path.
- The codegen cache holds 4096 compiled classes, not Spark's 100: the 16
  ``star_queries`` alone compile 185, so at 100 each pass recompiled ~175.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ``spark.sql.codegen.cache.maxEntries``, a static conf: the smallest power
# of two above one pass over all 279 declared queries at sf0.001, which
# compiles 3,917 distinct classes with no cap (NOTES.md "Codegen cache").
# After such a pass, 4096 against 100 reads +30 MB Metaspace and +25 MB
# code heap.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "telecom_competitor_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests/bench; on a cluster, leave ``master=None`` and let
    spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS) — read as long,
        # converted back in sources/readers.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
