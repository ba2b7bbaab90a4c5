"""Round-5 regression pins for the round-4 advice items.

1. q_cdc_chunks must be exact on NON-ASCII text: the raw 131^7
   polynomial coefficient overflows int64 above codepoint ~13.9k (CJK,
   emoji) — numpy wraps silently, DuckDB raises.  The fix pre-reduces
   coefficients mod 2^31-1; these tests prove the three formulations
   (numpy kernel, Spark SQL, DuckDB SQL) agree with an
   arbitrary-precision Python recompute on a CJK/emoji corpus.
2. q_winnowing's packed tie-break key: position field widened 2^20 ->
   2^26, unpack switched to exact integer division, and pos overflow
   raises LOUDLY in both dialects instead of corrupting fingerprints.
3. _bins_local_df must round-trip media_refs containing backslashes
   (Spark's SQL parser processes backslash escapes in string literals —
   unescaped they corrupt the ref and silently drop pages from the
   inner/semi bins joins).
4. NULL page sizes (missing width/height metadata) count as 0 where
   run_page_stage builds its sizes, so the driver serpentine still has a
   total order and the spans match the golden, for pages sized by
   width*height metadata and by byte length alike.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest

CDC_WIN, CDC_DIV, CDC_P = 8, 64, 2147483647

# Codepoints well above the ~13.9k raw-coefficient overflow line: CJK
# (0x4E00+), Hangul, emoji (0x1F600+), mixed with ASCII so chunk
# boundaries land on both sides of multi-byte runs.  Repetition gives
# duplicated chunks (the query keeps n_occ >= 2 only).
_CJK = "深度學習的訓練資料清理管線需要精確的內容定義分塊"
_EMOJI = "😀🚀🌍🔥🎉📚🧪🛰️"
_MIX = "the quick 棕色 fox jumps over 懶狗 " + _EMOJI + " lazy dog. "


def _nonascii_docs() -> pd.DataFrame:
    rows = []
    for i in range(12):
        body = (_CJK + _MIX + _EMOJI) * (3 + i % 3)
        # duplicate every other doc's text so shared chunks exist
        rows.append((i, body if i % 2 == 0 else (_CJK + _MIX + _EMOJI) * 3))
    rows.append((100, _CJK * 40))  # pure high-codepoint run
    rows.append((101, _CJK * 40))  # its exact duplicate
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _cdc_python(docs: pd.DataFrame):
    """Arbitrary-precision recompute of the chunk profile (Python ints
    never overflow, so this is the TRUE polynomial mod p)."""
    from collections import Counter, defaultdict

    occ, dmap, ln = Counter(), defaultdict(set), {}
    for r in docs.itertuples():
        t = r.text
        if t is None or len(t) < CDC_WIN:
            continue
        bounds = []
        for i in range(CDC_WIN, len(t) + 1):
            h = sum(ord(t[i - 1 - j]) * (131 ** j) for j in range(CDC_WIN)) % CDC_P
            if h % CDC_DIV == 0:
                bounds.append(i)
        starts = [1] + [b + 1 for b in bounds]
        ends = bounds + [len(t)]
        for s, e in zip(starts, ends):
            if e >= s:
                chunk = t[s - 1 : e]
                key = hashlib.md5(chunk.encode()).hexdigest()
                occ[key] += 1
                dmap[key].add(r.doc_id)
                ln[key] = min(ln.get(key, 1 << 60), e - s + 1)
    return {(k, n, len(dmap[k]), ln[k]) for k, n in occ.items() if n >= 2}


def test_cdc_kernel_exact_on_nonascii():
    from bsc_project_spark.queries.textops import _cdc_chunks_fn

    docs = _nonascii_docs()
    want = _cdc_python(docs)
    assert want, "fixture produced no duplicated chunks"

    from collections import Counter, defaultdict

    occ, dmap, ln = Counter(), defaultdict(set), {}
    for out in _cdc_chunks_fn(iter([docs])):
        for r in out.itertuples():
            occ[r.chunk_hash] += 1
            dmap[r.chunk_hash].add(r.doc_id)
            ln[r.chunk_hash] = min(ln.get(r.chunk_hash, 1 << 60), r.chunk_len)
    got = {(k, n, len(dmap[k]), ln[k]) for k, n in occ.items() if n >= 2}
    assert got == want


def test_cdc_sql_formulations_exact_on_nonascii(spark):
    """Spark SQL reference formulation and the DuckDB oracle must both
    agree with the arbitrary-precision recompute on CJK/emoji text (the
    pre-fix DuckDB oracle raised a HUGEINT overflow here; the pre-fix
    Spark/numpy paths wrapped silently)."""
    from bsc_project_spark.queries import register_views
    from bsc_project_spark.queries.textops import (
        _CDC_SPARK_SQL_REFERENCE,
        _cdc_duck_sql,
    )

    docs = _nonascii_docs()
    want = _cdc_python(docs)

    con = duckdb.connect()
    con.register("documents", docs)
    duck = {tuple(r) for r in con.execute(_cdc_duck_sql()).fetchall()}
    assert duck == want

    sdocs = spark.createDataFrame(docs)
    sdocs.createOrReplaceTempView("documents")
    try:
        got = {
            (r.chunk_hash, r.n_occ, r.n_docs, r.chunk_len)
            for r in spark.sql(_CDC_SPARK_SQL_REFERENCE).collect()
        }
    finally:
        spark.catalog.dropTempView("documents")
    assert got == want


def test_winnowing_pack_exact_at_extremes(spark):
    """The widened packed key (h*2^26 + (2^26-1-pos)) must round-trip h
    exactly at the field extremes in BOTH dialects — h up to 2^32-1 and
    pos up to 2^26-1 push the key to ~2^58, beyond float64's 2^53 exact
    range, which is why the unpack is integer division."""
    from bsc_project_spark.queries.textops import (
        _WINNOW_POS_W,
        _WINNOW_UNPACK_DUCK,
        _WINNOW_UNPACK_SPARK,
    )

    cases = [
        (0, 0),
        ((1 << 32) - 1, 0),
        ((1 << 32) - 1, _WINNOW_POS_W - 1),
        ((1 << 32) - 1, _WINNOW_POS_W - 2),  # adjacent pos must not leak into h
        (12345678, 987654),
    ]
    for h, pos in cases:
        key = h * _WINNOW_POS_W + (_WINNOW_POS_W - 1 - pos)
        s = spark.sql(
            f"SELECT {_WINNOW_UNPACK_SPARK} AS fp FROM (SELECT CAST({key} AS BIGINT) AS key)"
        ).collect()[0].fp
        d = duckdb.sql(
            f"SELECT {_WINNOW_UNPACK_DUCK} AS fp FROM (SELECT CAST({key} AS BIGINT) AS key)"
        ).fetchone()[0]
        assert s == h and d == h, (h, pos, s, d)


def test_winnowing_pos_guard_raises_loudly(spark):
    """pos >= 2^26 must RAISE in both dialects, never silently corrupt
    the fingerprint (the round-4 advice failure mode at the old 2^20)."""
    from bsc_project_spark.queries.textops import (
        _WINNOW_GUARD_DUCK,
        _WINNOW_GUARD_SPARK,
        _WINNOW_POS_W,
    )

    ok = spark.sql(
        f"SELECT {_WINNOW_GUARD_SPARK} AS p FROM (SELECT {_WINNOW_POS_W - 1} AS pos)"
    ).collect()[0].p
    assert ok == _WINNOW_POS_W - 1
    with pytest.raises(Exception, match="exceeds"):
        spark.sql(
            f"SELECT {_WINNOW_GUARD_SPARK} AS p FROM (SELECT {_WINNOW_POS_W} AS pos)"
        ).collect()

    assert (
        duckdb.sql(
            f"SELECT {_WINNOW_GUARD_DUCK} AS p FROM (SELECT {_WINNOW_POS_W - 1} AS pos)"
        ).fetchone()[0]
        == _WINNOW_POS_W - 1
    )
    with pytest.raises(Exception, match="exceeds"):
        duckdb.sql(
            f"SELECT {_WINNOW_GUARD_DUCK} AS p FROM (SELECT {_WINNOW_POS_W} AS pos)"
        ).fetchone()


def test_bins_local_df_roundtrips_backslash_refs(spark):
    from bsc_project_spark.pipeline.extract import _bins_local_df

    refs = [
        (r"scans\vol1\page_0001.png", 0),
        (r"weird\\double\\", 1),
        ("trailing_backslash\\", 2),
        ("quote'and\\mix'", 3),
        ("plain/posix/path.png", 4),
    ]
    got = sorted(
        (r.media_ref, r.bin) for r in _bins_local_df(spark, refs).collect()
    )
    assert got == sorted(refs)


def test_null_page_size_matches_golden_on_both_routes(spark, corpus):
    """Both sizing routes match the golden: a page with NULL width counts
    as size 0 (the driver serpentine needs a total order) and is still
    extracted, and media without width/height metadata is sized by byte
    length."""
    from pyspark.sql import functions as F

    from bsc_project_spark.fixtures import spark_io
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
    from bsc_project_spark.pipeline import extract as ex

    docs = spark_io.documents_df(spark, corpus)
    ref = next(
        s["media_ref"]
        for r in corpus.documents.itertuples()
        for s in r.spans
        if s["kind"] == "media"
    )
    media = spark_io.media_df(spark, corpus).withColumn(
        "width",
        F.when(F.col("media_ref") == ref, F.lit(None)).otherwise(F.col("width")),
    )
    golden = sorted(map(tuple, spark_io.golden_df(spark, corpus).collect()))
    frames = {"null width": media, "no metadata": media.drop("width", "height")}
    for name, m in frames.items():
        out = ex.run_extract_stage(docs, m, FIXTURE_CONFIG).extracted
        assert sorted(map(tuple, out.collect())) == golden, name


def test_register_views_cache_self_heals_after_drop(spark):
    """Several tests shadow a registry table with createOrReplaceTempView
    and dropTempView it in cleanup; register_views' seen-cache must not
    keep claiming a registration the catalog no longer has (the
    TABLE_OR_VIEW_NOT_FOUND flake that killed full-suite runs in r04/r05
    sessions)."""
    from bsc_project_spark.queries import register_views

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    n = spark.table("documents").count()
    spark.catalog.dropTempView("documents")
    register_views(spark, sf)  # cache hit, but the view is gone — heal
    assert spark.table("documents").count() == n


def test_register_views_cache_hit_runs_no_job(spark, spark_jobs):
    """Every registry builder calls register_views, often more than once:
    on a session that already holds the views it must launch no Spark
    job."""
    from bsc_project_spark.queries import register_views

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    jobs = spark_jobs(lambda: register_views(spark, sf))
    assert jobs == 0, f"register_views ran {jobs} Spark jobs on a cache hit"


# ---------------------------------------------------------------------------
# Round-5 ops: q_dsir and q_incremental_dedup independent recomputes
# ---------------------------------------------------------------------------

_SF001 = "/root/testdata/sf0.001"


def _docs_001():
    import duckdb as _d

    return _d.connect().execute(
        f"SELECT doc_id, text, lang FROM '{_SF001}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _hex8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_dsir_matches_python_recompute(spark):
    """Arbitrary-precision Python recompute of the two-step floored-ppm
    importance ratio (target = lang 'en'), exact per doc."""
    from collections import Counter

    from bsc_project_spark.queries.textops import _DSIR_B, QUERIES

    B = _DSIR_B
    raw, tgt = Counter(), Counter()
    per_doc: dict[int, Counter] = {}
    for doc_id, text, lang in _docs_001():
        toks = [t for t in text.strip().lower().split() if t]
        if not toks:
            continue
        c = Counter(_hex8(t) % B for t in toks)
        per_doc[doc_id] = c
        raw.update(c)
        if lang == "en":
            tgt.update(c)
    tr, tt = sum(raw.values()), sum(tgt.values())
    w = {
        b: ((tgt.get(b, 0) + 1) * 1_000_000 // (tt + B)) * 1_000_000
        // max((cr + 1) * 1_000_000 // (tr + B), 1)
        for b, cr in raw.items()
    }
    want = {
        doc_id: (
            sum(c.values()),
            sum(n * w[b] for b, n in c.items()) // sum(c.values()),
        )
        for doc_id, c in per_doc.items()
    }
    got = {
        r.doc_id: (r.n_grams, r.dsir_ppm)
        for r in QUERIES["q_dsir"].spark(spark, _SF001).collect()
    }
    assert got == want
    # the target language must actually score higher on average — the
    # property DSIR selection relies on (not just hash equality)
    langs = {doc_id: lang for doc_id, _, lang in _docs_001()}
    en = [v[1] for k, v in want.items() if langs[k] == "en"]
    rest = [v[1] for k, v in want.items() if langs[k] != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_incremental_dedup_recompute_and_batch_broadcast(spark):
    """Exact leg recomputed in Python; near-dup leg recomputed from
    first principles (shingles -> md5 perms -> bands); and the band
    probe's plan must broadcast the BATCH side (the ingest contract:
    corpus signatures never shuffle)."""
    from bsc_project_spark.queries.textops import (
        _MH_A,
        _MH_B,
        _MH_P,
        _N_SEEDS,
        QUERIES,
    )

    docs = {d: t for d, t, _ in _docs_001()}
    batch = {d: t for d, t in docs.items() if d % 10 == 0}
    corpus_keys = {
        hashlib.md5(t.encode()).hexdigest()
        for d, t in docs.items()
        if d % 10 != 0
    }

    def bands(text):
        sh = {text[i : i + 8] for i in range(0, max(len(text) - 7, 1), 4)}
        vs = [_hex8(s) for s in sh]
        sig = [
            min((_MH_A[k] * v + _MH_B[k]) % _MH_P for v in vs)
            for k in range(_N_SEEDS)
        ]
        return {
            (b, f"{min(sig[2*b], sig[2*b+1])}:{max(sig[2*b], sig[2*b+1])}")
            for b in range(_N_SEEDS // 2)
        }

    corpus_bands: dict[tuple, set] = {}
    for d, t in docs.items():
        if d % 10 != 0:
            for key in bands(t):
                corpus_bands.setdefault(key, set()).add(d)
    want = {}
    for d, t in batch.items():
        exact = int(hashlib.md5(t.encode()).hexdigest() in corpus_keys)
        cands = set().union(*(corpus_bands.get(k, set()) for k in bands(t)))
        decision = (
            "drop_exact" if exact else ("review_near" if cands else "ingest")
        )
        want[d] = (exact, len(cands), decision)

    df = QUERIES["q_incremental_dedup"].spark(spark, _SF001)
    got = {
        r.doc_id: (r.is_exact_dup, r.n_candidates, r.decision)
        for r in df.collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values()), "no near candidates probed"

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_temperature_mix_exact_apportionment(spark):
    """Python recompute: corrected integer sqrt weights, largest-remainder
    apportionment; the allocation must sum to EXACTLY the budget."""
    import duckdb as _d
    import math

    from bsc_project_spark.queries.maintenance import _TEMP_BUDGET, QUERIES

    sizes = dict(
        _d.connect()
        .execute(
            f"SELECT lang, CAST(sum(n_chars) AS BIGINT) FROM "
            f"'{_SF001}/documents.parquet' GROUP BY lang"
        )
        .fetchall()
    )
    w = {lang: math.isqrt(n) for lang, n in sizes.items()}
    sw = sum(w.values())
    base = {lang: (_TEMP_BUDGET * v) // sw for lang, v in w.items()}
    rem = {lang: (_TEMP_BUDGET * v) % sw for lang, v in w.items()}
    k = _TEMP_BUDGET - sum(base.values())
    order = sorted(w, key=lambda lang: (-rem[lang], lang))
    want = {
        lang: (
            sizes[lang],
            w[lang],
            base[lang] + (1 if order.index(lang) < k else 0),
            (w[lang] * 1_000_000) // sw,
        )
        for lang in w
    }
    got = {
        r.lang: (r.n_chars, r.weight_isqrt, r.alloc_chars, r.share_ppm)
        for r in QUERIES["q_temperature_mix"].spark(spark, _SF001).collect()
    }
    assert got == want
    assert sum(v[2] for v in got.values()) == _TEMP_BUDGET
    # the temperature property itself: every language's allocated share
    # exceeds... no — sqrt upsamples SMALL languages: their ppm share of
    # the budget must exceed their raw-chars share, and the largest
    # language's must shrink
    tot_chars = sum(sizes.values())
    small = min(sizes, key=sizes.get)
    big = max(sizes, key=sizes.get)
    assert got[small][3] > sizes[small] * 1_000_000 // tot_chars
    assert got[big][3] < sizes[big] * 1_000_000 // tot_chars
