"""Pipeline edge cases: degenerate corpora the 100 TB input will contain."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from bsc_project_spark.fixtures import spark_io
from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
from bsc_project_spark.fixtures.spark_io import DOCUMENTS_SCHEMA, MEDIA_SCHEMA
from bsc_project_spark.pipeline.extract import run_extract_stage


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def _media(spark, rows):
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def one_page(corpus):
    r = corpus.media.iloc[0]
    return (r.media_ref, r.content, int(r.width), int(r.height), int(r.layout_id))


def test_text_only_documents(spark, one_page):
    docs = _docs(spark, [
        ("d0", [("text", "alpha", None, 0), ("text", "beta", None, 1)]),
    ])
    media = _media(spark, [one_page])
    result = run_extract_stage(docs, media, FIXTURE_CONFIG)
    rows = sorted(result.extracted.collect(), key=lambda r: r["order"])
    assert [(r["order"], r["kind"], r["text"]) for r in rows] == [
        (0, "text", "alpha"),
        (1, "text", "beta"),
    ]
    assert result.unresolved.count() == 0


def test_unreferenced_media_not_processed(spark, corpus, one_page):
    """Pages in the media table that no document references must never hit
    the kernel stage — at warehouse scale the media table is far larger
    than any one run's reference set.  With width/height metadata the
    bounded route joins media to the broadcast bins, which hold only
    referenced pages, so that join prunes them."""
    ref, content, w, h, lid = one_page
    docs = _docs(spark, [
        ("d0", [("media", None, ref, 0)]),
    ])
    extra = [(f"unused_{i}", content, w, h, lid) for i in range(5)]
    media = _media(spark, [one_page] + extra)
    result = run_extract_stage(docs, media, FIXTURE_CONFIG, persist=True)
    result.extracted.count()
    pages = result.lineage.groupBy().sum("page_count").collect()[0][0]
    result.stage.unpersist()
    assert pages == 1, f"kernel ran on {pages} pages; only 1 is referenced"


def test_empty_documents_table(spark, one_page):
    docs = _docs(spark, [])
    media = _media(spark, [one_page])
    result = run_extract_stage(docs, media, FIXTURE_CONFIG)
    assert result.extracted.count() == 0
    assert result.unresolved.count() == 0


def test_all_spans_unresolved(spark, one_page):
    docs = _docs(spark, [
        ("d0", [("text", "t", None, 0), ("media", None, "missing_ref", 1)]),
    ])
    media = _media(spark, [one_page])
    result = run_extract_stage(docs, media, FIXTURE_CONFIG)
    # the text span still comes through; the dangling ref is quarantined
    assert [r["kind"] for r in result.extracted.collect()] == ["text"]
    q = result.unresolved.collect()
    assert [(r["doc_id"], r["media_ref"]) for r in q] == [("d0", "missing_ref")]


def test_duplicate_refs_in_one_doc_fan_out(spark, one_page):
    """A doc referencing the same page twice gets the page's cells TWICE
    (once per span, offsets distinct) while the kernel runs once."""
    ref = one_page[0]
    docs = _docs(spark, [
        ("d0", [("media", None, ref, 0), ("media", None, ref, 1)]),
    ])
    media = _media(spark, [one_page])
    result = run_extract_stage(docs, media, FIXTURE_CONFIG, persist=True)
    per_offset = (
        result.extracted.filter(F.col("kind") == "ocr")
        .groupBy("media_ref").count().collect()
    )
    pages = result.lineage.groupBy().sum("page_count").collect()[0][0]
    result.stage.unpersist()
    assert pages == 1
    assert len(per_offset) == 1 and per_offset[0]["count"] % 2 == 0


def test_unbounded_route_leaves_no_cached_frames(spark, corpus):
    """The fully-distributed planning route (count gate over the ceiling,
    two-phase bins, giant semi-join) returns a lazy plan: once the
    caller releases ``stage``, nothing the route built may stay cached."""
    cfg = dataclasses.replace(FIXTURE_CONFIG, driver_plan_max=0)
    docs = spark_io.documents_df(spark, corpus)
    media = spark_io.media_df(spark, corpus)
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    result = run_extract_stage(docs, media, cfg, persist=True)
    assert result.extracted.count() > 0
    assert result.lineage.count() > 0
    result.stage.unpersist()
    assert cached().size() == before
