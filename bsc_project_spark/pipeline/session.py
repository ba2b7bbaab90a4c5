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
  Python tasks are expensive to have more of than cores: pinning the
  width to 32 on 4 cores ran the 48-page extraction pass as 32 tiny
  tasks in 8 waves, about twice the wall of 4 tasks.
- Python workers import the installed pyspark and py4j.  Spark puts
  ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
  spark-core jar on every worker's path.  The zips hold no bytecode, so
  each daemon compiled pyspark from source, and each task's
  ``importlib.invalidate_caches()`` (pyspark's per-task
  ``setup_spark_files``) re-read the central directory of all three
  archives: 0.16-0.73 s per task, measured in a worker of a local[4]
  session.  ``spark.python.daemon.module`` is set to
  ``pipeline/pydaemon.py``, which drops those archives from the path
  before it runs ``pyspark.daemon``; the call then takes 0.03-0.13 ms,
  and a warm no-op mapInPandas of 4 tasks takes 0.3-0.4 s, not 0.8-1.0 s.
  Two guards keep Spark's path where this is not safe: the daemon drops
  the archives only when the installed pyspark and py4j have the zips'
  versions, and the module is set only for ``local`` masters, whose
  workers are children of this driver's JVM and share its interpreter.
  ``spark.executorEnv.PYTHONPATH`` carries the package root, so the
  daemon imports whatever the working directory.
  ``scripts/run_job.py`` builds its own session for
  ``spark-submit --py-files``, where the daemon could not import this
  package; it keeps Spark's daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding the bsc_project_spark package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.python.daemon.module", "bsc_project_spark.pipeline.pydaemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    return builder.getOrCreate()
