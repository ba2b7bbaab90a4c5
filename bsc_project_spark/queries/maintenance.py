"""Pipeline-maintenance and corpus-QA operators (round 5).

Four ops a 100-TB training-data pipeline runs between ingests:

- ``q_skew_profile`` — shuffle-key skew diagnostics per event type: key
  cardinality, heaviest key, and max/mean load ratio in integer ppm —
  the numbers that decide salting / AQE skew-join thresholds BEFORE a
  big join, not after it OOMs.  Two grouped aggregations; the hot-key
  lookup is an equi-join back on (event_type, max count), never a sort.
- ``q_compaction_plan`` — small-file compaction planning per source
  partition: size-descending serpentine (boustrophedon) bin-packing —
  the SAME semantics ``pipeline/extract.py`` uses to byte-balance page
  partitions — into ``ceil(bytes / target)`` output files.  This is the
  planning step of an Iceberg ``rewrite_data_files``, expressed
  relationally; the rank window partitions by source, so planning
  parallelism scales with partition count.
- ``q_ks_distance`` — exact two-sample Kolmogorov-Smirnov distance
  between per-language document-length distributions, the drift gate
  between corpus snapshots.  Exact in integers: D is computed as
  ``max |cum_a * n_b - cum_b * n_a|`` (cross-multiplied cumulative
  counts), divided down to ppm only at the end — no float CDFs to
  drift across engines.  The length grid is bounded (distinct lengths,
  and bucketed lengths at scale), so the lang x grid frame stays small.
- ``q_vocab_growth`` — Heaps-law vocabulary-growth curve: new and
  cumulative vocabulary per corpus decile.  First-occurrence ranks ride
  the two-phase global rank (``queries/prefix.py``) on the Spark side —
  never a single-partition window; the 10-row decile cumsum is a
  self-join over the tiny aggregate.

All output values are integers (counts / ppm) and every DuckDB ``sum``
feeding an output column is CAST to BIGINT (the round-2/round-4 HUGEINT
typed-hash lesson), including WINDOW sums.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import QuerySpec, register_views, sql_query

QUERIES: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# q_skew_profile
# ---------------------------------------------------------------------------

_SKEW_PROFILE = """
    WITH c AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_key_rows
      FROM c GROUP BY event_type
    )
    SELECT m.event_type,
           m.n_rows,
           m.n_keys,
           m.max_key_rows,
           CAST((m.max_key_rows * m.n_keys * 1000000) {idiv} m.n_rows AS BIGINT)
             AS skew_ratio_ppm,
           CAST(min(c.user_id) AS BIGINT) AS top_key
    FROM m
    JOIN c ON c.event_type = m.event_type AND c.cnt = m.max_key_rows
    GROUP BY m.event_type, m.n_rows, m.n_keys, m.max_key_rows
"""

# engine side: the ppm cross-product is staged through DECIMAL(38,0) so
# the intermediate max_key_rows * n_keys * 1e6 cannot exceed int64 at
# fleet scale — Spark (non-ANSI) would WRAP silently where DuckDB
# errors (r5 advice).  Same integral value wherever int64 suffices, so
# the oracle hash is unchanged at any tested scale.
_SKEW_PROFILE_SPARK = _SKEW_PROFILE.format(idiv="div").replace(
    "CAST((m.max_key_rows * m.n_keys * 1000000) div m.n_rows AS BIGINT)",
    "CAST((CAST(m.max_key_rows AS DECIMAL(38, 0)) * m.n_keys * 1000000)"
    " div m.n_rows AS BIGINT)",
)
assert _SKEW_PROFILE_SPARK != _SKEW_PROFILE.format(idiv="div")

QUERIES["q_skew_profile"] = QuerySpec(
    spark=sql_query(_SKEW_PROFILE_SPARK),
    oracle=_SKEW_PROFILE.format(idiv="//"),
    description=(
        "join-key skew diagnostics per event type: key cardinality, "
        "heaviest key (min id among argmax), max/mean load ratio in ppm "
        "— the pre-join numbers that pick salting / skew-join thresholds"
    ),
)


# ---------------------------------------------------------------------------
# q_compaction_plan
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 2000  # target output-file payload (chars as byte proxy)

_COMPACTION_PLAN = f"""
    WITH f AS (
      SELECT source, doc_id AS file_id, CAST(n_chars AS BIGINT) AS bytes
      FROM documents
    ),
    nb AS (
      SELECT source,
             CAST((CAST(sum(bytes) AS BIGINT) + {_COMPACT_TARGET} - 1)
                  {{idiv}} {_COMPACT_TARGET} AS BIGINT) AS n_bins
      FROM f GROUP BY source
    ),
    r AS (
      SELECT source, file_id, bytes,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY bytes DESC, file_id
             ) AS BIGINT) - 1 AS rn
      FROM f
    ),
    b AS (
      SELECT r.source, r.bytes,
             CASE WHEN (r.rn {{idiv}} nb.n_bins) % 2 = 0
                  THEN r.rn % nb.n_bins
                  ELSE nb.n_bins - 1 - (r.rn % nb.n_bins) END AS bin
      FROM r JOIN nb ON nb.source = r.source
    )
    SELECT source,
           CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes
    FROM b GROUP BY source, bin
"""

QUERIES["q_compaction_plan"] = QuerySpec(
    spark=sql_query(_COMPACTION_PLAN.format(idiv="div")),
    oracle=_COMPACTION_PLAN.format(idiv="//"),
    description=(
        f"small-file compaction planner: per-source serpentine bin-packing "
        f"(size-desc boustrophedon, the extract-pipeline balancing "
        f"semantics) into ceil(bytes/{_COMPACT_TARGET}) output files — the "
        "Iceberg rewrite_data_files planning step as a query"
    ),
)


# ---------------------------------------------------------------------------
# q_ks_distance
# ---------------------------------------------------------------------------

_KS_DISTANCE = """
    WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
    n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY lang),
    grid AS (SELECT DISTINCT v FROM d),
    cnts AS (
      SELECT lang, v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY lang, v
    ),
    padded AS (
      SELECT nl.lang, g.v, CAST(coalesce(c.c, 0) AS BIGINT) AS c
      FROM n nl CROSS JOIN grid g
      LEFT JOIN cnts c ON c.lang = nl.lang AND c.v = g.v
    ),
    cum AS (
      SELECT lang, v,
             CAST(sum(c) OVER (
               PARTITION BY lang ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM padded
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           na.n AS n_a, nb.n AS n_b,
           CAST((max(abs(a.cum * nb.n - b.cum * na.n)) * 1000000)
                {idiv} (na.n * nb.n) AS BIGINT) AS ks_ppm
    FROM cum a
    JOIN cum b ON b.v = a.v AND a.lang < b.lang
    JOIN n na ON na.lang = a.lang
    JOIN n nb ON nb.lang = b.lang
    GROUP BY a.lang, b.lang, na.n, nb.n
"""

# Grid note (r5 verdict): the grid is the EXACT distinct value set, not
# quantile buckets — distinct document lengths are bounded by the max
# document size (a few thousand values however large the corpus), so
# the lang x grid frame stays small at any scale and no bucket-count knob
# is needed; a value domain that were genuinely unbounded (e.g. float
# scores) would need a quantile grid here.
#
# Engine side: cum * n cross-products staged through DECIMAL(38, 0) so
# the intermediates cannot exceed int64 at fleet scale (same silent-wrap
# hazard and same value-preserving fix as q_skew_profile above).
_KS_DISTANCE_SPARK = _KS_DISTANCE.format(idiv="div").replace(
    """CAST((max(abs(a.cum * nb.n - b.cum * na.n)) * 1000000)
                div (na.n * nb.n) AS BIGINT)""",
    """CAST((max(abs(CAST(a.cum AS DECIMAL(38, 0)) * nb.n
                        - CAST(b.cum AS DECIMAL(38, 0)) * na.n)) * 1000000)
                div (CAST(na.n AS DECIMAL(38, 0)) * nb.n) AS BIGINT)""",
)
assert _KS_DISTANCE_SPARK != _KS_DISTANCE.format(idiv="div")

QUERIES["q_ks_distance"] = QuerySpec(
    spark=sql_query(_KS_DISTANCE_SPARK),
    oracle=_KS_DISTANCE.format(idiv="//"),
    description=(
        "exact two-sample Kolmogorov-Smirnov distance (integer "
        "cross-multiplied CDFs, ppm) between per-language document-length "
        "distributions — the drift gate between corpus snapshots"
    ),
)


# ---------------------------------------------------------------------------
# q_vocab_growth
# ---------------------------------------------------------------------------

_VG_TOKENS_SPARK = """
    SELECT doc_id, explode(split(lower(trim(text)), '\\\\s+')) AS token
    FROM documents WHERE length(trim(text)) > 0
"""


def _vocab_growth_spark(spark, sf_dir: str):
    from .prefix import global_row_number

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id")
    # two-phase global rank — the distributed order statistic; a plain
    # row_number() window here would funnel every doc through one task
    ranked = global_row_number(docs, ["doc_id"], "rnk")
    n_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    first = (
        spark.sql(_VG_TOKENS_SPARK)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    # decile(rank) = ceil(rank*10/n) via integer arithmetic, exact in
    # both engines; missing deciles (vocab saturation at scale) are
    # padded to zero so the curve keeps its 10-row shape
    dec = (
        first.join(ranked, first.first_doc == ranked.doc_id)
        .crossJoin(n_df)
        # integer DIV, not float `/`: ceil(rank*10/n) must be exact (a
        # float quotient that lands on 9.99999... would truncate wrong)
        .select(F.expr("CAST((rnk * 10 + n - 1) DIV n AS BIGINT)").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_words"))
    )
    dim = spark.range(1, 11).select(F.col("id").alias("decile"))
    padded = (
        dim.join(F.broadcast(dec), on="decile", how="left")
        .select("decile", F.coalesce("new_words", F.lit(0)).alias("new_words"))
    )
    # 10-row cumulative: a self-join over the tiny aggregate, not a
    # global-order window
    a, b = padded.alias("a"), padded.alias("b")
    return (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"), F.col("a.new_words").alias("new_words"))
        .agg(F.sum("b.new_words").cast("long").alias("vocab_size"))
        .crossJoin(n_df)
        .select(
            "decile",
            F.expr("CAST((n * decile) DIV 10 AS BIGINT)").alias("docs_seen"),
            "new_words",
            "vocab_size",
        )
    )


_VOCAB_GROWTH_DUCK = r"""
    WITH docs AS (SELECT doc_id, text FROM documents),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
    rk AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
      FROM docs
    ),
    tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      FROM docs WHERE length(trim(text)) > 0
    ),
    first AS (
      SELECT token, min(doc_id) AS first_doc FROM tok
      WHERE token <> '' GROUP BY token
    ),
    dec AS (
      SELECT CAST((rk.rnk * 10 + nn.n - 1) // nn.n AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS new_words
      FROM first JOIN rk ON rk.doc_id = first.first_doc CROSS JOIN nn
      GROUP BY 1
    ),
    dim AS (SELECT unnest(generate_series(1, 10)) AS decile),
    padded AS (
      SELECT CAST(dim.decile AS BIGINT) AS decile,
             CAST(coalesce(dec.new_words, 0) AS BIGINT) AS new_words
      FROM dim LEFT JOIN dec ON dec.decile = dim.decile
    )
    SELECT a.decile,
           CAST((nn.n * a.decile) // 10 AS BIGINT) AS docs_seen,
           a.new_words,
           CAST(sum(b.new_words) AS BIGINT) AS vocab_size
    FROM padded a
    JOIN padded b ON b.decile <= a.decile
    CROSS JOIN nn
    GROUP BY a.decile, a.new_words, nn.n
"""

QUERIES["q_vocab_growth"] = QuerySpec(
    spark=_vocab_growth_spark,
    oracle=_VOCAB_GROWTH_DUCK,
    description=(
        "Heaps-law vocabulary-growth curve: new + cumulative vocabulary "
        "per corpus decile; first-occurrence ranks via the two-phase "
        "global rank (no single-partition window)"
    ),
)


# ---------------------------------------------------------------------------
# q_temperature_mix — temperature-scaled multilingual sampling allocation
# (round 5).  The standard multilingual-pretraining knob: sample language
# i with probability proportional to n_i^alpha (alpha = 1/2 here), which
# upsamples low-resource languages relative to their raw share.  A fixed
# character budget is then apportioned EXACTLY by largest remainder
# (every unit of budget assigned, no float shares).
#
# Exactness: n^(1/2) is computed as a CORRECTED integer sqrt — one IEEE
# sqrt then a +/-1 integer adjustment, so both engines agree bit-for-bit
# even if libm rounds differently (exact for n < 2^52).  The remainder
# rank is a self-join over the bounded language dimension (never a
# single-partition window); ties break on lang.  Shape at 100 TB: one
# groupBy(lang) over the corpus, then arithmetic on a |langs|-row frame.
# ---------------------------------------------------------------------------

_TEMP_BUDGET = 100_000

_TEMPERATURE_MIX = f"""
    WITH sz AS (
      SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang
    ),
    s0 AS (
      SELECT lang, n_chars,
             CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT) AS r
      FROM sz
    ),
    isq AS (
      SELECT lang, n_chars,
             r + (CASE WHEN (r + 1) * (r + 1) <= n_chars THEN 1 ELSE 0 END)
               - (CASE WHEN r * r > n_chars THEN 1 ELSE 0 END) AS w
      FROM s0
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM isq),
    base AS (
      SELECT lang, n_chars, w,
             CAST(({_TEMP_BUDGET} * w) {{idiv}} tot.sw AS BIGINT) AS alloc0,
             CAST(({_TEMP_BUDGET} * w) % tot.sw AS BIGINT) AS rem
      FROM isq CROSS JOIN tot
    ),
    leftover AS (
      SELECT CAST({_TEMP_BUDGET} - sum(alloc0) AS BIGINT) AS k FROM base
    ),
    ranked AS (
      SELECT a.lang, a.n_chars, a.w, a.alloc0, a.rem,
             CAST(count(b.lang) AS BIGINT) + 1 AS rnk
      FROM base a
      LEFT JOIN base b
        ON b.rem > a.rem OR (b.rem = a.rem AND b.lang < a.lang)
      GROUP BY a.lang, a.n_chars, a.w, a.alloc0, a.rem
    )
    SELECT lang, n_chars,
           w AS weight_isqrt,
           CAST(alloc0 + CASE WHEN rnk <= leftover.k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_chars,
           CAST((w * 1000000) {{idiv}} (SELECT sw FROM tot) AS BIGINT)
             AS share_ppm
    FROM ranked CROSS JOIN leftover
"""

QUERIES["q_temperature_mix"] = QuerySpec(
    spark=sql_query(_TEMPERATURE_MIX.format(idiv="DIV")),
    oracle=_TEMPERATURE_MIX.format(idiv="//"),
    description=(
        "temperature-scaled (alpha=1/2) multilingual sampling allocation: "
        "corrected integer sqrt weights + exact largest-remainder "
        f"apportionment of a {_TEMP_BUDGET}-char budget; remainder rank "
        "via bounded self-join, no single-partition window"
    ),
)
