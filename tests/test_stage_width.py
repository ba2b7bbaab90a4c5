"""Python stages take their width from the session's cores: get_spark
leaves ``spark.default.parallelism`` to the master, and the page stage
runs ``defaultParallelism`` tasks whatever ``spark.sql.shuffle.partitions``
says (every Python task pays a fixed worker set-up cost, so tasks beyond
the core count only add waves)."""

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
from bsc_project_spark.pipeline.extract import run_extract_stage


def test_session_leaves_default_parallelism_to_master(spark):
    assert not spark.sparkContext.getConf().contains("spark.default.parallelism")
    # the test session is local[8]: the master alone sets the width
    assert spark.sparkContext.defaultParallelism == 8


def test_page_stage_width_follows_default_parallelism(spark, corpus):
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    golden = spark_io.golden_df(spark, corpus)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        result = run_extract_stage(docs, media, FIXTURE_CONFIG, persist=True)
        # one lineage row per page-stage task
        assert result.lineage.count() == spark.sparkContext.defaultParallelism
        assert result.extracted.exceptAll(golden).count() == 0
        assert golden.exceptAll(result.extracted).count() == 0
        result.stage.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
