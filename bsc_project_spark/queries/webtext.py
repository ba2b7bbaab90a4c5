"""Web-corpus curation operators (north-rule surface: main-content
extraction / boilerplate strip, repetition quality signals, corpus-level
paragraph dedup, SimHash near-dup discovery, PII scrubbing, interval range
join).

These are the HTML/DOM-heuristic half of the north rule ("main-content
extraction pipeline (HTML boilerplate strip, ... DOM heuristics)") applied
to the documents table: the fixture corpus carries no markup, so each
query derives a deterministic HTML-ish wrapper (nav / h1 / p / aside /
footer) from (doc_id, text) first — same rows both engines — and the
operator under test is everything AFTER that synthesis.  Block
classification follows the public text-density heuristic family
(Arc90 readability / jusText / trafilatura): split on tag boundaries,
score each block by tag prior + word count, keep dense content blocks.

All six queries are pure native SQL in BOTH dialects (no UDFs): one scan,
shuffles only on the analytical keys (doc_id / block hash / band value /
time bucket), so the plans carry to a 1000-executor cluster unchanged.
"""

from __future__ import annotations

from ..pipeline.banding import banded_pairs
from . import QuerySpec, materialize, query_scope, register_views, sql_query
from .textops import _PLANTED

QUERIES: dict[str, QuerySpec] = {}


def _q(name: str, spark_sql: str, duck_sql: str, description: str = "") -> None:
    QUERIES[name] = QuerySpec(spark=sql_query(spark_sql), oracle=duck_sql, description=description)


# ---------------------------------------------------------------------------
# Shared deterministic HTML synthesis + block split.
#
# Spark explodes with posexplode (0-based pos includes the empty lead-in
# block; it dies in the length(content) > 0 filter), DuckDB with
# generate_series from index 2 (1-based, skipping the same empty block).
# Positions differ by a constant offset but are only used for ORDER BY
# inside each engine, so the reassembled text agrees.
# ---------------------------------------------------------------------------

_SYNTH_HTML = """
    synth AS (
      SELECT doc_id, concat(
        '<nav>home about contact login search</nav>',
        '<h1>doc ', CAST(doc_id AS {st}), '</h1>',
        '<p>', text, '</p>',
        CASE WHEN doc_id % 7 = 0
             THEN '<aside>ad click buy now limited offer</aside>' ELSE '' END,
        '<footer>copyright 2024 example corp all rights reserved</footer>'
      ) AS html FROM documents
    ),
    arr AS (SELECT doc_id, {split_fn}(html, '<') AS a FROM synth)
"""

_BLOCKS_SPARK = (
    _SYNTH_HTML.format(st="STRING", split_fn="split")
    + """,
    blocks_raw AS (
      SELECT doc_id, pos, blk FROM arr LATERAL VIEW posexplode(a) t AS pos, blk
    )"""
)

_BLOCKS_DUCK = (
    _SYNTH_HTML.format(st="VARCHAR", split_fn="string_split")
    + """,
    blocks_raw AS (
      SELECT doc_id, g.i AS pos, a[g.i] AS blk
      FROM arr, LATERAL (SELECT unnest(generate_series(2, len(a))) AS i) g
    )"""
)

# tag = chars before the first '>', content = chars after it (closing-tag
# blocks have empty content and are dropped by the length filter)
_BLOCK_PARSE = """
    blocks AS (
      SELECT doc_id, pos,
             substring(blk, 1, instr(blk, '>') - 1) AS tag,
             trim(substring(blk, instr(blk, '>') + 1)) AS content
      FROM blocks_raw
    )
"""

# ---------------------------------------------------------------------------
# Main-content extraction (boilerplate strip).  jusText-lite block rule:
# a block survives iff its tag is not nav/aside/footer chrome AND it holds
# >= 5 words (text density).  The h1 title ('doc N', 2 words) and all
# planted chrome are classified boilerplate; the p payload survives.
# Reassembly is an ordered string agg per doc — one shuffle on doc_id.
# ---------------------------------------------------------------------------

_MAIN_BODY = """
    scored AS (
      SELECT doc_id, pos, content,
             CASE WHEN tag IN ('nav', 'aside', 'footer') THEN 0
                  WHEN {n_words} >= 5 THEN 1 ELSE 0 END AS keep
      FROM blocks
      WHERE length(content) > 0
    )
    SELECT doc_id,
           coalesce({agg}, '') AS main_text,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
    FROM scored GROUP BY doc_id
"""

_MAIN_CONTENT_SPARK = (
    "WITH "
    + _BLOCKS_SPARK
    + ","
    + _BLOCK_PARSE
    + ","
    + _MAIN_BODY.format(
        n_words="size(split(content, '\\\\s+'))",
        agg="listagg(CASE WHEN keep = 1 THEN content END, ' ') WITHIN GROUP (ORDER BY pos)",
    )
)

_MAIN_CONTENT_DUCK = (
    "WITH "
    + _BLOCKS_DUCK
    + ","
    + _BLOCK_PARSE
    + ","
    + _MAIN_BODY.format(
        n_words=r"len(string_split_regex(content, '\s+'))",
        agg="string_agg(CASE WHEN keep = 1 THEN content END, ' ' ORDER BY pos)",
    )
)

_q(
    "q_main_content",
    _MAIN_CONTENT_SPARK,
    _MAIN_CONTENT_DUCK,
    "DOM-heuristic boilerplate strip (jusText-lite tag prior + text "
    "density), ordered block reassembly per doc",
)

# ---------------------------------------------------------------------------
# Gopher-style repetition signals: top-word fraction, distinct-word
# fraction, duplicate-bigram fraction + a composite keep flag.  Two grouped
# passes over one exploded token stream (words, then adjacent bigrams from
# the same array — no self-join, no window).
# ---------------------------------------------------------------------------

_REPETITION_BODY = """
    arr AS (SELECT doc_id, {split_words} AS a FROM documents),
    toks AS (
      SELECT doc_id, i, {elem_i} AS token,
             CASE WHEN i < {alen} THEN {elem_i1} END AS next_token
      FROM arr {gen}
    ),
    ws AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
    wstat AS (
      SELECT doc_id, sum(c) AS n_words, max(c) AS top_c, count(*) AS n_distinct
      FROM ws GROUP BY 1
    ),
    bs AS (
      SELECT doc_id, concat(token, ' ', next_token) AS bigram, count(*) AS c
      FROM toks WHERE next_token IS NOT NULL
      GROUP BY 1, 2
    ),
    bstat AS (SELECT doc_id, sum(c) AS n_bi, count(*) AS d_bi FROM bs GROUP BY 1)
    SELECT w.doc_id,
           CAST(w.n_words AS BIGINT) AS n_words,
           round(w.top_c * 1e0 / w.n_words, 6) AS top_word_frac,
           round(w.n_distinct * 1e0 / w.n_words, 6) AS distinct_word_frac,
           round(1 - b.d_bi * 1e0 / b.n_bi, 6) AS dup_bigram_frac,
           CASE WHEN w.top_c * 1e0 / w.n_words <= 0.2
                     AND 1 - b.d_bi * 1e0 / b.n_bi <= 0.7
                THEN 1 ELSE 0 END AS gopher_ok
    FROM wstat w JOIN bstat b ON b.doc_id = w.doc_id
"""

_REPETITION_SPARK = "WITH " + _REPETITION_BODY.format(
    split_words="split(lower(trim(text)), '\\\\s+')",
    elem_i="element_at(a, i)",
    elem_i1="element_at(a, i + 1)",
    alen="size(a)",
    gen="LATERAL VIEW explode(sequence(1, size(a))) g AS i",
)

_REPETITION_DUCK = "WITH " + _REPETITION_BODY.format(
    split_words=r"string_split_regex(lower(trim(text)), '\s+')",
    elem_i="a[i]",
    elem_i1="a[i + 1]",
    alen="len(a)",
    gen=", LATERAL (SELECT unnest(generate_series(1, len(a))) AS i) g",
)

_q(
    "q_repetition_filter",
    _REPETITION_SPARK,
    _REPETITION_DUCK,
    "Gopher-style repetition quality: top-word / distinct-word / "
    "dup-bigram fractions + composite keep flag",
)

# ---------------------------------------------------------------------------
# Corpus-level paragraph dedup (C4 / RefinedWeb line dedup): split each
# doc into paragraphs, keep only the GLOBAL first occurrence of each
# paragraph hash (first by (doc_id, position)), reassemble the surviving
# text per doc.  Runs over the planted corpus (exact clones every 50th
# doc) so clone docs demonstrably lose all their paragraphs.  One shuffle
# on md5(paragraph) for the survivor window, one on doc_id to reassemble.
# ---------------------------------------------------------------------------

_PARA_DEDUP_BODY = """
    p AS (
      SELECT doc_id, i AS pos, {elem_i} AS para
      FROM (SELECT doc_id, {split_para} AS a FROM {src} t) {gen}
    ),
    ranked AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
      FROM p WHERE length(trim(para)) > 0
    )
    SELECT doc_id,
           coalesce({agg}, '') AS clean_text,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY doc_id
"""

_PARA_DEDUP_SPARK = "WITH " + _PARA_DEDUP_BODY.format(
    split_para="split(text, ' the ')",
    elem_i="element_at(a, i)",
    gen="LATERAL VIEW explode(sequence(1, size(a))) g AS i",
    src=_PLANTED,
    agg="listagg(CASE WHEN rn = 1 THEN para END, ' | ') WITHIN GROUP (ORDER BY pos)",
)

_PARA_DEDUP_DUCK = "WITH " + _PARA_DEDUP_BODY.format(
    split_para="string_split(text, ' the ')",
    elem_i="a[i]",
    gen=", LATERAL (SELECT unnest(generate_series(1, len(a))) AS i) g",
    src=_PLANTED,
    agg="string_agg(CASE WHEN rn = 1 THEN para END, ' | ' ORDER BY pos)",
)

_q(
    "q_paragraph_dedup",
    _PARA_DEDUP_SPARK,
    _PARA_DEDUP_DUCK,
    "corpus-level paragraph dedup (global first-occurrence survivor, "
    "planted clone docs stripped), ordered reassembly",
)

# ---------------------------------------------------------------------------
# SimHash Hamming near-dup pairs: 16-bit SimHash per doc (same bit-vote
# body as q_simhash, over the planted corpus), banded into 2 x 8-bit band
# values (a Hamming-<=1 pair ALWAYS shares a band; Hamming-2 pairs are
# caught unless both flips land in one band — the standard LSH recall
# tradeoff), candidate pairs from the band equi-join, exact Hamming verify
# via bit_count(xor).  The oracle spells the join out and dedups it with
# DISTINCT; the Spark side takes it from ``banded_pairs``, which emits each
# pair once.  The production config is 64-bit SimHash with 4 x 16-bit
# bands — identical plan, 65536-ary buckets; 16/8 keeps the oracle's
# integer widths comfortable in both engines.
# ---------------------------------------------------------------------------

from .textops import _SHINGLES_DUCK, _SHINGLES_SPARK, _SIMHASH_BODY, _p_sub  # noqa: E402

_SIMHASH_PAIRS_BODY = """
    bands AS (
      SELECT doc_id, simhash, 0 AS band,
             CAST(floor(simhash / 256) AS BIGINT) AS bval FROM sim
      UNION ALL
      SELECT doc_id, simhash, 1 AS band, simhash % 256 AS bval FROM sim
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, CAST({ham} AS INT) AS hamming
    FROM cand WHERE {ham} <= 2
"""


def _simhash_pairs_sql(shingles: str, ham: str) -> str:
    sim_inner = _SIMHASH_BODY.format(shingles=shingles)
    # _SIMHASH_BODY is a full WITH ... SELECT; nest it as the `sim` CTE
    return "WITH sim AS (" + sim_inner + "), " + _SIMHASH_PAIRS_BODY.format(ham=ham)


def _simhash_pairs_spark(spark, sf_dir: str):
    """Materialize the per-doc SimHash frame ONCE, then take its 2 x 8-bit
    band candidates from ``banded_pairs`` — each pair once, so the
    oracle's DISTINCT (identical docs match in both bands) has no Spark
    twin — and verify Hamming on the pair row.

    Inlined as a CTE, ``sim`` would be referenced once per self-join side
    and Spark would re-run the shingle explode + md5 + 16-bit-vote groupBy
    for each.  Materializing turns every reference into a scan of ~1
    row/doc; this is the signature-table materialization a production
    SimHash dedup keeps anyway."""
    register_views(spark, sf_dir)
    sim = materialize(spark.sql(
        _p_sub(spark, _SIMHASH_BODY.format(shingles=_SHINGLES_SPARK.format(src=_PLANTED)))
    ))
    bands = ["shiftright(simhash, 8)", "simhash & 255"]
    return banded_pairs(sim, "doc_id", bands).selectExpr(
        "a.doc_id AS a_id",
        "b.doc_id AS b_id",
        "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming",
    ).where("hamming <= 2")


QUERIES["q_simhash_pairs"] = QuerySpec(
    spark=query_scope(_simhash_pairs_spark),
    oracle=_simhash_pairs_sql(
        _SHINGLES_DUCK.format(src=_PLANTED), "bit_count(xor(sa, sb))"
    ),
    description="SimHash near-dup pairs: 2x8-bit banded candidates, exact "
    "Hamming verify via bit_count(xor), planted clones at Hamming 0",
)

# ---------------------------------------------------------------------------
# PII scrubbing: deterministic contact lines appended per doc, then email
# and phone patterns redacted with native regexp_replace and counted with
# regexp_extract_all — the standard pre-training scrub pass, zero UDFs.
# ---------------------------------------------------------------------------

_PII_BODY = """
    synth AS (
      SELECT doc_id,
             concat(substring(text, 1, 80),
                    ' contact user', CAST(doc_id AS {st}),
                    '@example.com or call +1-555-',
                    lpad(CAST(doc_id % 10000 AS {st}), 4, '0'), ' now') AS raw
      FROM documents
    )
    SELECT doc_id,
           {scrub} AS clean_text,
           CAST({n_email} AS INT) AS n_emails,
           CAST({n_phone} AS INT) AS n_phones
    FROM synth
"""

_EMAIL_RE = "[a-z0-9]+@[a-z][a-z.]+"

_PII_SPARK = "WITH " + _PII_BODY.format(
    st="STRING",
    scrub=(
        "regexp_replace(regexp_replace(raw, '" + _EMAIL_RE + "', '<EMAIL>'), "
        "'\\\\+1-555-[0-9]{4}', '<PHONE>')"
    ),
    n_email="size(regexp_extract_all(raw, '" + _EMAIL_RE + "', 0))",
    n_phone="size(regexp_extract_all(raw, '\\\\+1-555-[0-9]{4}', 0))",
)

_PII_DUCK = "WITH " + _PII_BODY.format(
    st="VARCHAR",
    scrub=(
        "regexp_replace(regexp_replace(raw, '" + _EMAIL_RE + "', '<EMAIL>', 'g'), "
        r"'\+1-555-[0-9]{4}', '<PHONE>', 'g')"
    ),
    n_email="len(regexp_extract_all(raw, '" + _EMAIL_RE + "'))",
    n_phone=r"len(regexp_extract_all(raw, '\+1-555-[0-9]{4}'))",
)

_q(
    "q_pii_scrub",
    _PII_SPARK,
    _PII_DUCK,
    "PII scrub: email/phone redaction + match counts, native regexp only",
)

# ---------------------------------------------------------------------------
# Interval range join, bucketed.  144 fixed 3-hour windows at a 5-hour
# stride (deliberately NOT aligned to the bucket grid) are joined to
# events by time containment.  The Spark side uses the scale-correct
# shape: both sides key on a 6-hour epoch bucket (a window spans 1-2
# buckets -> explode), equi-join on the bucket, THEN the exact us-range
# filter — shuffle is hash(bucket), never a quadratic nested loop, and
# AQE sees an ordinary equi-join.  The DuckDB oracle is the declarative
# inequality join (its IEJoin evaluates it directly) — same semantics,
# which is exactly what the cross-check proves.  Integer `div` keeps
# bucket math exact in int64 in both engines.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Composed web pipeline: the whole curation chain in ONE declarative plan —
# boilerplate strip (main-content extraction) -> exact-dedup survivorship
# over the EXTRACTED text (post-strip dedup is the production order: chrome
# differences must not hide identical payloads) -> word-count quality gate
# -> PII scrub of the survivors.  A deterministic contact line is appended
# before the scrub so every surviving doc proves the redaction ran
# (n_emails_scrubbed = 1).  Catalyst fuses the gates: one block explode,
# one shuffle per analytic key (doc_id reassembly, md5 survivor window);
# the scrub is a pure projection on the surviving rows only.
# ---------------------------------------------------------------------------

_WEB_PIPELINE_TEMPLATE = """
    WITH mc AS (SELECT * FROM ({main_content}) m),
    g AS (
      SELECT doc_id, main_text, n_kept,
             {n_words} AS n_words,
             min(doc_id) OVER (PARTITION BY md5(main_text)) AS keeper
      FROM mc
    ),
    kept AS (
      SELECT doc_id,
             concat(main_text, ' contact user', CAST(doc_id AS {st}),
                    '@example.com') AS raw,
             n_kept, n_words
      FROM g WHERE doc_id = keeper AND n_words BETWEEN 5 AND 20000
    )
    SELECT doc_id,
           {scrub} AS clean_text,
           CAST(n_kept AS BIGINT) AS n_content_blocks,
           CAST(n_words AS BIGINT) AS n_words,
           CAST({n_email} AS INT) AS n_emails_scrubbed
    FROM kept
"""

# Runs over the PLANTED corpus (clone docs at doc_id + 1000000): the
# clones' synthesized chrome differs (the h1 carries the doc_id) but the
# extracted payload is identical, so post-strip dedup demonstrably removes
# every clone — exactly the failure mode that motivates stripping BEFORE
# dedup.
_q(
    "q_web_pipeline",
    _WEB_PIPELINE_TEMPLATE.format(
        main_content=_MAIN_CONTENT_SPARK.replace(
            "FROM documents", f"FROM {_PLANTED} tt"
        ),
        n_words="size(split(main_text, '\\\\s+'))",
        st="STRING",
        scrub="regexp_replace(raw, '" + _EMAIL_RE + "', '<EMAIL>')",
        n_email="size(regexp_extract_all(raw, '" + _EMAIL_RE + "', 0))",
    ),
    _WEB_PIPELINE_TEMPLATE.format(
        main_content=_MAIN_CONTENT_DUCK.replace(
            "FROM documents", f"FROM {_PLANTED} tt"
        ),
        n_words=r"len(string_split_regex(main_text, '\s+'))",
        st="VARCHAR",
        scrub="regexp_replace(raw, '" + _EMAIL_RE + "', '<EMAIL>', 'g')",
        n_email="len(regexp_extract_all(raw, '" + _EMAIL_RE + "'))",
    ),
    "composed web curation: boilerplate strip -> post-strip exact-dedup "
    "survivorship -> quality gate -> PII scrub, one declarative plan "
    "(planted clones eliminated by post-strip dedup)",
)

_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in epoch-us
_WIN_STRIDE_US = 5 * 3600 * 1_000_000
_WIN_LEN_US = 3 * 3600 * 1_000_000
_BUCKET_US = 6 * 3600 * 1_000_000
_N_WINS = 144

_SPARK_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"

_RANGE_JOIN_SPARK = f"""
    WITH w AS (
      SELECT CAST(k AS BIGINT) AS win_id,
             {_T0_US} + CAST(k AS BIGINT) * {_WIN_STRIDE_US} AS start_us
      FROM (SELECT explode(sequence(0, {_N_WINS - 1})) AS k)
    ),
    wb AS (
      SELECT win_id, start_us,
             explode(sequence(start_us DIV {_BUCKET_US},
                              (start_us + {_WIN_LEN_US} - 1) DIV {_BUCKET_US})) AS bucket
      FROM w
    ),
    e AS (
      SELECT value, {_SPARK_EPOCH_US} AS us FROM events
    ),
    eb AS (SELECT value, us, us DIV {_BUCKET_US} AS bucket FROM e)
    SELECT w.win_id, w.start_us,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM wb w
    JOIN eb e ON e.bucket = w.bucket
            AND e.us >= w.start_us AND e.us < w.start_us + {_WIN_LEN_US}
    GROUP BY 1, 2
"""

_RANGE_JOIN_DUCK = f"""
    WITH w AS (
      SELECT CAST(k AS BIGINT) AS win_id,
             {_T0_US} + CAST(k AS BIGINT) * {_WIN_STRIDE_US} AS start_us
      FROM (SELECT unnest(generate_series(0, {_N_WINS - 1})) AS k) g
    ),
    e AS (SELECT value, epoch_us(ts) AS us FROM events)
    SELECT w.win_id, w.start_us,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM w
    JOIN e ON e.us >= w.start_us AND e.us < w.start_us + {_WIN_LEN_US}
    GROUP BY 1, 2
"""

_q(
    "q_range_join",
    _RANGE_JOIN_SPARK,
    _RANGE_JOIN_DUCK,
    "interval range join: 6h-bucket equi-join + exact us-range filter "
    "(Spark) vs declarative IEJoin (oracle)",
)

# ---------------------------------------------------------------------------
# URL canonicalization + dedup — the crawl-frontier / WARC-index step every
# web corpus runs before content dedup (CommonCrawl URL normalization,
# surt-style canonical forms): the same page arrives as HTTPS://WWW.HOST,
# host/path/, host/path?utm_source=..., host/path#fragment, and the
# canonicalizer must fold all surface forms to one key.  The fixture corpus
# carries no URL column, so each doc derives one deterministically from
# doc_id (5 surface-form variants over 13 hosts x 7 pages; 91 mod 5 = 1, so
# consecutive docs of one canonical group cycle through ALL five forms); the operator under test is the
# normalization chain + the group-fold after it.
#
# Chain (each step portable scalar SQL, no UDF): lowercase -> strip
# #fragment (instr/substring) -> strip trailing utm_* query (anchored
# regexp_replace — at most one match, so Spark's replace-all and DuckDB's
# replace-first agree) -> fold ://www. -> trim trailing '/'.
# Scale notes: canonicalization is map-only; the only shuffle is the
# canonical-key rollup (count / distinct-forms / min-keeper all map-side
# combinable).  At 10^12 URLs this is the standard pre-shuffle key fold.
# ---------------------------------------------------------------------------

_URL_BODY = """
    WITH urls AS (
      SELECT doc_id, concat(
        CASE WHEN doc_id % 5 = 1 THEN 'HTTPS://WWW.EXAMPLE' ELSE 'https://example' END,
        CAST(doc_id % 13 AS {st}),
        CASE WHEN doc_id % 5 = 1 THEN '.COM/page/' ELSE '.com/page/' END,
        CAST(doc_id % 7 AS {st}),
        CASE doc_id % 5 WHEN 2 THEN '/' WHEN 3 THEN '?utm_source=feed'
                        WHEN 4 THEN '#section-2' ELSE '' END
      ) AS url FROM documents
    ),
    c1 AS (SELECT doc_id, url, lower(url) AS u FROM urls),
    c2 AS (
      SELECT doc_id, url,
             CASE WHEN instr(u, '#') > 0 THEN substring(u, 1, instr(u, '#') - 1)
                  ELSE u END AS u
      FROM c1
    ),
    c3 AS (
      SELECT doc_id, url,
             regexp_replace(u, '[?]utm_[a-z_]+=[a-z0-9]*$', '') AS u
      FROM c2
    ),
    c4 AS (SELECT doc_id, url, replace(u, '://www.', '://') AS u FROM c3),
    c5 AS (
      SELECT doc_id, url, trim(TRAILING '/' FROM u) AS canonical_url FROM c4
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_dups,
           CAST(count(DISTINCT url) AS BIGINT) AS n_forms,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM c5
    GROUP BY canonical_url
"""

_q(
    "q_url_canon",
    _URL_BODY.format(st="STRING"),
    _URL_BODY.format(st="VARCHAR"),
    "URL canonicalization + dedup: lowercase / fragment strip / utm strip "
    "/ www fold / trailing-slash trim, then a canonical-key rollup — "
    "map-only normalize, one combinable shuffle",
)

# ---------------------------------------------------------------------------
# Robots-rule filtering with longest-prefix-match semantics — the crawl
# politeness step between URL canonicalization and fetch: each host
# carries a rule set (prefix -> allow/deny) and a URL's verdict comes
# from its LONGEST matching rule (RFC 9309's most-specific-wins), not
# from any single join hit.  Rules are synthesized deterministically per
# host: every host allows '/' and carries a host-specific '/page/<k>'
# rule; every third host flips polarity (deny '/page/' broadly, allow
# only its specific page), so the most-specific rule genuinely overrides
# a broader one in both directions — a plain "any deny rule matched"
# join would get those hosts wrong.
#
# LPM shape: prefix match via substring equality (no LIKE-escape
# hazards), then a per-URL top-1 window ordered by rule length DESC
# (PARTITIONed BY doc_id — never global).  Scale notes: the rules side
# is O(hosts) and broadcast-sized; candidates per URL are bounded by
# that host's rule count, so the join fan-out is constant per URL.
# ---------------------------------------------------------------------------

_ROBOTS_BODY = """
    WITH urls AS (
      SELECT doc_id,
             concat('example', CAST(doc_id % 13 AS {st})) AS host,
             concat('/page/', CAST(doc_id % 7 AS {st})) AS path
      FROM documents
    ),
    hosts AS (SELECT h FROM ({hseries}) hs),
    rules AS (
      SELECT concat('example', CAST(h AS {st})) AS host, '/' AS prefix,
             'allow' AS action FROM hosts
      UNION ALL
      SELECT concat('example', CAST(h AS {st})) AS host,
             concat('/page/', CAST(h % 7 AS {st})) AS prefix,
             CASE WHEN h % 3 = 0 THEN 'allow' ELSE 'deny' END AS action
      FROM hosts
      UNION ALL
      SELECT concat('example', CAST(h AS {st})) AS host, '/page/' AS prefix,
             'deny' AS action
      FROM hosts WHERE h % 3 = 0
    ),
    matched AS (
      SELECT u.doc_id, u.host, u.path, r.prefix, r.action
      FROM urls u JOIN rules r
        ON r.host = u.host
       AND substring(u.path, 1, length(r.prefix)) = r.prefix
    ),
    ranked AS (
      SELECT doc_id, host, path, action,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY length(prefix) DESC, prefix ASC
             ) AS rn
      FROM matched
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, host, path,
           action AS verdict
    FROM ranked WHERE rn = 1
"""

_q(
    "q_robots_filter",
    _ROBOTS_BODY.format(
        st="STRING",
        hseries="SELECT explode(sequence(0, 12)) AS h",
    ),
    _ROBOTS_BODY.format(
        st="VARCHAR",
        hseries="SELECT unnest(generate_series(0, 12)) AS h",
    ),
    "robots-rule URL filtering with RFC 9309 longest-prefix-match: "
    "broadcast-sized rule table, substring prefix join, per-URL "
    "most-specific-wins top-1 window (partitioned, never global)",
)
