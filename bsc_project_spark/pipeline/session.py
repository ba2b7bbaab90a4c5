"""SparkSession builder with the engine's scale-oriented defaults.

- AQE on (runtime re-planning + skew-join splitting)
- small Arrow batches for the image stage: media rows carry MB-scale page
  bytes, so records-per-batch is tuned down (the analogue of the
  reference's (B,C,H,W) tensor batch, reference scripts/imgs2csv.py:139-143)
- ``spark.sql.shuffle.partitions`` defaults to 32 ($SPARK_GRAFT_SHUFFLE)
  for the skinny relational shuffles.
- ``spark.default.parallelism`` is deliberately NOT set: ``local[N]``
  reports N and a cluster its total executor cores, and every Python
  stage (the page stage's mapInPandas, the registry's pre-UDF
  repartitions and ``REPARTITION(__P__)`` hints) takes its width from it.
  Python tasks are expensive to have more of than cores: each one costs
  about 0.3 s of worker CPU before the UDF runs (measured with a no-op
  mapInPandas on local[4]), nearly all of it in pyspark's per-task
  ``importlib.invalidate_caches()``, which re-reads the central directory
  of ``pyspark.zip`` for every zipimporter on the path.  Pinning the
  width to 32 on 4 cores ran the 48-page extraction pass as 32 tiny
  tasks in 8 waves, about twice the wall of 4 tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bsc_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source filter pushdown (sources/corpus_source.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # media rows carry ~MB page images: small scan splits keep the
        # CPU-bound image stage wide without a byte shuffle
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
