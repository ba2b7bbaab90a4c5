"""Seeded benchmark inputs and their references, cached on disk.

Every input is a pure function of (workload, seed, size): the seed picks
the page-index offset, the heavy-document references and the update
batches, and the program only ever sees the generated files.
Inputs and goldens are cached under ``<cache>/<workload>-s<seed>-n<size>``;
a directory is used only once its ``_done`` marker exists.

The golden is the single-process reference ``kernels.golden.extract_page``
run on every unique page, fanned out to the documents' span order exactly
as ``fixtures.corpus.build_corpus`` does; pages are rendered and goldened
in a small process pool (one process per benchmark core).
"""

from __future__ import annotations

import gc
import json
import multiprocessing
from multiprocessing import resource_tracker
import os
import random
import shutil

import pandas as pd
import pyarrow.parquet as pq

from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG, Corpus, media_row
from bsc_project_spark.fixtures.spark_io import write_corpus_parquet
from bsc_project_spark.io.png import decode_gray
from bsc_project_spark.kernels.golden import extract_page

MEDIA_COLUMNS = ("media_ref", "content", "width", "height", "layout_id")
HEAVY_EVERY = 8
HEAVY_SPANS = 24


def _page_job(page_idx: int) -> tuple[dict, list[tuple[int, int, str]]]:
    row = media_row(page_idx)
    cells = extract_page(
        decode_gray(row["content"]), FIXTURE_CONFIG, FIXTURE_CONFIG.ocr_glyph_scale
    )
    return row, cells


def render_pages(page_idxs: list[int], procs: int) -> tuple[list[dict], dict[str, list]]:
    """Render every page and run the golden extractor on it."""
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(procs)
    try:
        results = pool.map(_page_job, page_idxs, chunksize=4)
    finally:
        pool.terminate()
        pool.join()
    # the pool started multiprocessing's resource tracker; release the
    # pool's semaphores, then end the tracker too
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    rows = [r for r, _ in results]
    golden = {r["media_ref"]: cells for r, cells in results}
    return rows, golden


def page_ref(page_idx: int) -> str:
    """The media_ref ``fixtures.corpus.media_row`` gives this page."""
    pair, k = divmod(page_idx, 2)
    return f"page_{pair:05d}-{'tb'[k]}"


def _doc(doc_id: str, refs: list[str], note: str | None = None) -> dict:
    spans = [{"kind": "text", "text": f"{doc_id} header", "media_ref": None}]
    spans += [{"kind": "media", "text": None, "media_ref": r} for r in refs]
    if note is not None:
        spans.append({"kind": "text", "text": note, "media_ref": None})
    spans.append({"kind": "text", "text": f"{doc_id} footer", "media_ref": None})
    for i, s in enumerate(spans):
        s["offset"] = i
    return {"doc_id": doc_id, "spans": spans}


def golden_spans(docs: list[dict], golden: dict[str, list]) -> list[tuple]:
    """(doc_id, order, kind, text, media_ref) rows the pipeline must emit."""
    out = []
    for doc in docs:
        order = 0
        for s in doc["spans"]:
            if s["kind"] == "text":
                out.append((doc["doc_id"], order, "text", s["text"], None))
                order += 1
            else:
                for _row, _col, text in golden[s["media_ref"]]:
                    out.append((doc["doc_id"], order, "ocr", text, s["media_ref"]))
                    order += 1
    return out


def corpus_docs(rng: random.Random, first_page: int, n_docs: int, prefix: str) -> list[dict]:
    """``n_docs`` documents over the page pairs starting at ``first_page``.
    Each document cites its own top/bottom page pair; one in
    ``HEAVY_EVERY`` also re-references ``HEAVY_SPANS - 2`` seeded pages of
    the other documents, so the unique-page count stays exactly
    ``2 * n_docs`` for every seed."""
    refs = [page_ref(first_page + i) for i in range(2 * n_docs)]
    docs = []
    for d in range(n_docs):
        own = refs[2 * d : 2 * d + 2]
        if d % HEAVY_EVERY == HEAVY_EVERY - 1:
            own = own + [rng.choice(refs) for _ in range(HEAVY_SPANS - 2)]
            docs.append(_doc(f"{prefix}{d:05d}", own))
        else:
            docs.append(_doc(f"{prefix}{d:05d}", own, f"note {d}" if d % 2 == 0 else None))
    return docs


def write_docs_media(docs: list[dict], media: list[dict], out_dir: str) -> None:
    write_corpus_parquet(
        Corpus(
            documents=pd.DataFrame(docs),
            media=pd.DataFrame(media, columns=list(MEDIA_COLUMNS)),
            golden=pd.DataFrame(),
            intended=pd.DataFrame(),
        ),
        out_dir,
    )


def _cached(path: str, build) -> dict:
    """Return the cached ``meta.json`` of ``path``, building it first if
    absent.  ``build(tmp_dir) -> meta`` writes into a scratch directory
    that is renamed into place only when complete."""
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(os.path.join(path, "_done")):
        with open(meta_path) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return meta


def extract_inputs(cache: str, seed: int, n_docs: int, procs: int) -> tuple[dict, str]:
    """extract_corpus: one interleaved corpus of ``n_docs`` documents over
    ``2 * n_docs`` unique pages at a seeded page-index offset."""

    def build(tmp: str) -> dict:
        rng = random.Random(seed)
        first_page = 2 * rng.randrange(0, 50_000)
        docs = corpus_docs(rng, first_page, n_docs, "doc_")
        media, golden = render_pages(list(range(first_page, first_page + 2 * n_docs)), procs)
        write_docs_media(docs, media, tmp)
        return {
            "first_page": first_page,
            "docs": len(docs),
            "expected": golden_spans(docs, golden),
            "golden": golden,
        }

    path = os.path.join(cache, f"extract_corpus-s{seed}-n{n_docs}")
    return _cached(path, build), path


def ingest_inputs(
    cache: str, seed: int, n_docs: int, n_updates: int, docs_per_update: int,
    corpus_dir: str, corpus_meta: dict,
) -> tuple[dict, str]:
    """The checkpoint probe's ingest: a base corpus of ``n_docs`` documents
    plus ``n_updates`` batches of ``docs_per_update`` new documents.  Every
    update document cites one new page and one page that is already
    committed (base or an earlier batch), so half of an update's media
    spans reuse committed cells.  ``media`` holds every page up front.
    The pages and their goldens are the first ones of the extract_corpus
    inputs of the same seed (``corpus_dir``, ``corpus_meta``), which start
    at the same seeded offset."""

    def build(tmp: str) -> dict:
        rng = random.Random(seed)
        first_page = 2 * rng.randrange(0, 50_000)
        assert first_page == corpus_meta["first_page"]
        base = corpus_docs(rng, first_page, n_docs, "base_")
        committed = [page_ref(first_page + i) for i in range(2 * n_docs)]
        next_page = first_page + 2 * n_docs
        updates = []
        for u in range(n_updates):
            batch = []
            for k in range(docs_per_update):
                new = page_ref(next_page)
                next_page += 1
                batch.append(_doc(f"upd{u:03d}_{k:02d}", [new, rng.choice(committed)]))
            committed += [s["media_ref"] for d in batch for s in d["spans"][1:2]]
            updates.append(batch)
        used = {page_ref(i) for i in range(first_page, next_page)}
        media = [r for r in pq.read_table(os.path.join(corpus_dir, "media.parquet")).to_pylist()
                 if r["media_ref"] in used]
        golden = corpus_meta["golden"]
        write_docs_media(base, media, tmp)
        for u, batch in enumerate(updates):
            write_docs_media(batch, [], os.path.join(tmp, f"update_{u}"))
        every = base + [d for batch in updates for d in batch]
        return {
            "first_page": first_page,
            "update_refs": [
                len({s["media_ref"] for d in b for s in d["spans"] if s["kind"] == "media"})
                for b in updates
            ],
            "expected": golden_spans(every, golden),
        }

    path = os.path.join(cache, f"ckpt_probe-s{seed}-n{n_docs}x{n_updates}x{docs_per_update}")
    return _cached(path, build), path

