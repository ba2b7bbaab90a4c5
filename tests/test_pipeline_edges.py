"""Pipeline edge cases: degenerate corpora the 100 TB input will contain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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
    """No document cites a page: the page stage runs no page and the text
    spans come through in order."""
    docs = _docs(spark, [
        ("d0", [("text", "beta", None, 1), ("text", "alpha", None, 0)]),
    ])
    media = _media(spark, [one_page])
    result = run_extract_stage(docs, media, FIXTURE_CONFIG, persist=True)
    rows = sorted(result.extracted.collect(), key=lambda r: r["order"])
    n_pages = result.lineage.groupBy().sum("page_count").collect()[0][0]
    result.stage.unpersist()
    assert [(r["order"], r["kind"], r["text"]) for r in rows] == [
        (0, "text", "alpha"),
        (1, "text", "beta"),
    ]
    assert not n_pages
    assert result.unresolved.count() == 0


def test_unreferenced_media_not_processed(spark, corpus, one_page):
    """Pages in the media table that no document references must never hit
    the kernel stage — at warehouse scale the media table is far larger
    than any one run's reference set.  The page join meets media with the
    broadcast bins, which hold only referenced pages, so that join prunes
    them.  Once the caller releases ``stage``, nothing the planner built
    stays cached."""
    ref, content, w, h, lid = one_page
    docs = _docs(spark, [
        ("d0", [("media", None, ref, 0)]),
    ])
    extra = [(f"unused_{i}", content, w, h, lid) for i in range(5)]
    media = _media(spark, [one_page] + extra)
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    result = run_extract_stage(docs, media, FIXTURE_CONFIG, persist=True)
    result.extracted.count()
    pages = result.lineage.groupBy().sum("page_count").collect()[0][0]
    result.stage.unpersist()
    assert pages == 1, f"kernel ran on {pages} pages; only 1 is referenced"
    assert cached().size() == before


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


def _golden_spans(doc_rows, cells):
    """(doc_id, order, kind, text, media_ref) rows the single-process
    golden gives for ``doc_rows``; ``cells`` maps a ref to its page's
    sorted (row, col, text) cells, and refs without a page contribute
    nothing."""
    out = []
    for doc_id, spans in doc_rows:
        rows = []
        for kind, text, ref, _offset in sorted(spans, key=lambda s: s[3]):
            if kind == "text":
                rows.append(("text", text, None))
            else:
                rows += [("ocr", t, ref) for _row, _col, t in cells.get(ref, [])]
        out += [(doc_id, order, *r) for order, r in enumerate(rows)]
    return sorted(out)


@pytest.mark.parametrize("cfg", [FIXTURE_CONFIG], ids=["driver_route"])
def test_per_document_refs_edge_cases(spark, corpus, cfg):
    """The page stage takes each document's distinct refs, not a global
    distinct.  Against the golden: one page cited by many documents and
    several times within one document runs once; a media span with a
    NULL media_ref extracts nothing and is quarantined; a document with
    an empty ``spans`` array yields no row."""
    from bsc_project_spark.io.png import decode_gray
    from bsc_project_spark.kernels.golden import extract_page

    pages = [corpus.media.iloc[i] for i in (0, 1)]
    p0, p1 = (p.media_ref for p in pages)
    cells = {
        p.media_ref: extract_page(
            decode_gray(p.content), FIXTURE_CONFIG, FIXTURE_CONFIG.ocr_glyph_scale
        )
        for p in pages
    }
    doc_rows = [
        ("a", [("text", "t0", None, 0), ("media", None, p0, 1), ("media", None, p0, 2),
               ("text", "t1", None, 3), ("media", None, p1, 4), ("media", None, p0, 5)]),
        ("c", [("media", None, p0, 0), ("media", None, None, 1), ("text", "x", None, 2)]),
        ("d", []),
        *[(f"many_{i}", [("media", None, p0, 0)]) for i in range(6)],
    ]
    media = _media(spark, [
        (p.media_ref, p.content, int(p.width), int(p.height), int(p.layout_id)) for p in pages
    ])
    result = run_extract_stage(_docs(spark, doc_rows), media, cfg, persist=True)
    got = sorted(tuple(r) for r in result.extracted.collect())
    n_pages = result.lineage.groupBy().sum("page_count").collect()[0][0]
    unresolved = [tuple(r) for r in result.unresolved.collect()]
    result.stage.unpersist()
    assert got == _golden_spans(doc_rows, cells)
    assert n_pages == 2
    assert unresolved == [("c", 1, None)]

