"""Similarity search over the embeddings table.

- q_cosine_topk: brute-force cosine top-k for a query set — the exactness
  baseline.  Both sides compute the dot product in DOUBLE with identical
  left-to-right accumulation so rounded values agree bit-for-bit.
- q_ann_lsh_buckets: random-hyperplane LSH with BANDED buckets — the scale
  path: each vector lands in ``_N_BANDS`` buckets of ``_BAND_BITS`` bits;
  at 100 TB the (band, bucket) pair becomes the shuffle key and only
  same-bucket pairs are compared (OR-amplification over bands keeps recall
  while each band's bucket count bounds the quadratic within-bucket cost).
- q_embed_near_dup: LSH-banded candidate generation + exact cosine verify
  over a corpus with planted duplicates.
- q_ivf_assign: IVF coarse assignment (nearest of K broadcast centroids).

Scale design (PLANS.md "ANN banding" section): with r bits per band the
expected bucket population is N / 2^r per band; r is a config knob that
grows with log2(N) so within-bucket pairing stays near-linear.  The Spark
side computes ALL plane projections in ONE vectorized numpy matmul inside
an Arrow-batched pandas UDF (replacing the per-plane interpreted
``aggregate(zip_with(...))`` passes that made round 1's plans quadratic in
plan size and 9x slower); the DuckDB oracle keeps the equivalent pure-SQL
formulation of the SAME deterministic sign function, so both engines
produce identical buckets.
"""

from __future__ import annotations

import decimal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import config
from ..pipeline.banding import banded_pairs
from . import QuerySpec, materialize, query_scope, register_views

QUERIES: dict[str, QuerySpec] = {}

_TOPK = 5
_N_QUERIES = 8


def _cosine_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # broadcast the tiny query side; candidates stream through one stage
    return spark.sql(
        f"""
        WITH q AS (SELECT vec_id AS q_id,
                          transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id AS c_id,
                     transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings),
        p AS (
          SELECT q_id, c_id,
                 aggregate(zip_with(qv, cv, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, b) -> a + b) AS dot,
                 sqrt(aggregate(transform(qv, x -> x * x), CAST(0 AS DOUBLE), (a, b) -> a + b)) AS nq,
                 sqrt(aggregate(transform(cv, x -> x * x), CAST(0 AS DOUBLE), (a, b) -> a + b)) AS nc
          FROM c CROSS JOIN q
          WHERE q_id <> c_id
        ),
        s AS (SELECT q_id, c_id, round(dot / (nq * nc), 5) AS cosine FROM p)
        SELECT q_id, c_id, cosine FROM (
          SELECT s.*, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
          FROM s
        ) WHERE rn <= {_TOPK}
        """
    )


_COSINE_TOPK_DUCK = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
    p AS (
      SELECT q_id, c_id,
             list_dot_product(qv, cv) AS dot,
             sqrt(list_dot_product(qv, qv)) AS nq,
             sqrt(list_dot_product(cv, cv)) AS nc
      FROM c CROSS JOIN q
      WHERE q_id <> c_id
    ),
    s AS (SELECT q_id, c_id, round(dot / (nq * nc), 5) AS cosine FROM p)
    SELECT q_id, c_id, cosine FROM (
      SELECT s.*, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
      FROM s
    ) t WHERE rn <= {_TOPK}
"""

QUERIES["q_cosine_topk"] = QuerySpec(
    spark=_cosine_topk_spark,
    oracle=_COSINE_TOPK_DUCK,
    description="brute-force cosine top-k (broadcast query set)",
)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH machinery.
#
# sign(i, j) is a deterministic pseudo-random +-1 for 1-based dimension i and
# plane j, computable with exact integer arithmetic in numpy, Spark SQL and
# DuckDB alike.  16 planes split into 2 bands of 8 bits: a vector's band
# signatures are substrings of its 16-char bit string.
# ---------------------------------------------------------------------------

_N_PLANES = 24
_N_BANDS = 2
_BAND_BITS = _N_PLANES // _N_BANDS


def _sign(i_expr: str, j: int) -> str:
    """SQL form of the sign function (oracle side)."""
    return f"(CASE WHEN (({i_expr} * 2654435761 + {j} * 40503) % 97) % 2 = 0 THEN 1.0 ELSE -1.0 END)"


def _sign_matrix(dim: int) -> np.ndarray:
    """(dim, _N_PLANES) float64 +-1 matrix; same formula as _sign()."""
    i = np.arange(1, dim + 1, dtype=np.int64)[:, None]
    j = np.arange(_N_PLANES, dtype=np.int64)[None, :]
    return np.where(((i * 2654435761 + j * 40503) % 97) % 2 == 0, 1.0, -1.0)


def _lsh_bits_fn(vecs: pd.Series) -> pd.Series:
    """All _N_PLANES LSH bits per vector in ONE numpy matmul per Arrow batch.

    Replaces _N_PLANES separate interpreted aggregate(zip_with(...)) passes;
    the JVM<->Python cost is one Arrow transfer of the (already needed)
    vectors, and the bit computation is a (n, d) @ (d, p) BLAS call.

    Boundary semantics: a projection that is EXACTLY zero in exact
    arithmetic can round to either side under different summation orders
    (BLAS shape, engine), so its bit is summation-order-defined.  Generic
    float embeddings never sit on that measure-zero boundary (property
    tests pin the away-from-boundary invariants); exact duplicates agree
    trivially because both rows compute the identical expression.
    """
    if len(vecs) == 0:
        return pd.Series([], dtype=object)
    out = np.empty(len(vecs), dtype=object)
    arr = [np.asarray(v, dtype=np.float64) for v in vecs]
    dims = np.array([a.shape[0] for a in arr])
    for d in np.unique(dims):
        mat = _sign_matrix(int(d))
        idx = np.nonzero(dims == d)[0]
        block = np.stack([arr[k] for k in idx])           # (n_d, d)
        bits = block @ mat >= 0.0                         # (n_d, planes)
        chars = np.where(bits, "1", "0")
        for row, k in enumerate(idx):
            out[k] = "".join(chars[row])
    return pd.Series(out)


def _lsh_bits_udf(col):
    """Lazily-built pandas UDF (the decorator form would parse its return
    type at import time, before any SparkSession exists)."""
    from pyspark.sql.types import StringType

    return pandas_udf(_lsh_bits_fn, StringType())(col)


def _band_sigs(bits_col: str) -> list[str]:
    """One bucket expression per band: the band's slice of the bit string."""
    return [
        f"substring({bits_col}, {b * _BAND_BITS + 1}, {_BAND_BITS})"
        for b in range(_N_BANDS)
    ]


def _band_stack_expr(bits_col: str) -> str:
    """Spark stack() expr emitting one (band, bucket) row per band."""
    parts = ", ".join(f"{b}, {sig}" for b, sig in enumerate(_band_sigs(bits_col)))
    return f"stack({_N_BANDS}, {parts})"


def _ann_lsh_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bits = emb.select("vec_id", _lsh_bits_udf("v").alias("bits"))
    return bits.selectExpr(
        "vec_id", f"{_band_stack_expr('bits')} AS (band, bucket)"
    )


_DUCK_BITS = ", ".join(
    f"(CASE WHEN sum(x * {_sign('i', j)}) >= 0 THEN '1' ELSE '0' END) AS b{j}"
    for j in range(_N_PLANES)
)


def _duck_band_concat(band: int) -> str:
    cols = ", ".join(f"b{j}" for j in range(band * _BAND_BITS, (band + 1) * _BAND_BITS))
    return f"concat({cols})"


_ANN_LSH_DUCK = f"""
    WITH pos AS (
      SELECT vec_id, g.i AS i, embedding[g.i]::DOUBLE AS x
      FROM embeddings e,
      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    ),
    bits AS (SELECT vec_id, {_DUCK_BITS} FROM pos GROUP BY vec_id)
    {" UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_duck_band_concat(b)} AS bucket FROM bits"
        for b in range(_N_BANDS)
    )}
"""

QUERIES["q_ann_lsh_buckets"] = QuerySpec(
    spark=_ann_lsh_spark,
    oracle=_ANN_LSH_DUCK,
    description="banded random-hyperplane LSH buckets per embedding (ANN scale path)",
)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection: banded-LSH candidates + exact
# verify over a corpus with planted duplicates — the embedding analogue of
# q_lsh_pairs.  The per-vector features (vector, bit string, norm) are
# computed ONCE into a materialized frame; ``banded_pairs`` self-joins it on
# the bit-string bands and carries both full rows onto each pair, so the
# cosine verify runs on the pair row — no DISTINCT over the candidates and
# no re-join of the features (the oracle spells out both).  Round 1
# inlined the feature CTE into both join sides -> ~9 interpreted passes and
# 27 s; at 100 TB the features frame is a materialized table.
# ---------------------------------------------------------------------------

_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (p, q) -> p + q)"
)


def _emb_dim(spark: SparkSession) -> int:
    """Embedding dimensionality, probed with a single one-row aggregate —
    feeds the EXPANDED dot-product chains (``lloyd_dot_expr``) that
    replace interpreted aggregate(zip_with) lambdas across the ANN family.
    Those chains read indices 0..d-1 only, so ragged embeddings raise
    here instead of being silently truncated to a wrong cosine."""
    lo, hi = (
        spark.table("embeddings")
        .where("embedding IS NOT NULL")
        .selectExpr("min(size(embedding))", "max(size(embedding))")
        .first()
    )
    if lo != hi:
        raise ValueError(f"ragged embeddings: sizes range from {lo} to {hi}")
    return int(hi or 0)

_NEAR_DUP_CORPUS = """
        SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        FROM embeddings WHERE vec_id % 100 = 0
"""


def _near_dup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # repartition before the feature UDF: the embeddings parquet is one
    # row group -> one scan task otherwise (8.4 -> 2.9 s at sf1.0)
    corpus = spark.sql(_NEAR_DUP_CORPUS).repartition(
        max(spark.sparkContext.defaultParallelism, 1)
    )
    feats = materialize(corpus.select(
        "vec_id",
        "v",
        _lsh_bits_udf("v").alias("bits"),
        F.expr(f"sqrt({_SPARK_DOT.format(a='v', b='v')})").alias("nrm"),
    ))
    # ONE evaluation of the pair dot: round(x, 5) of the raw quotient IS
    # round(dot / (a.nrm * b.nrm), 5), so the filter and the output column
    # share the same _raw instead of evaluating the aggregate twice
    dot = _SPARK_DOT.format(a="a.v", b="b.v")
    return (
        banded_pairs(feats, "vec_id", _band_sigs("bits"))
        .selectExpr("a.vec_id AS a_id", "b.vec_id AS b_id", f"{dot} / (a.nrm * b.nrm) AS _raw")
        .filter(F.col("_raw") > 0.999)
        .select("a_id", "b_id", F.round("_raw", 5).alias("cosine"))
    )


_NEAR_DUP_DUCK = f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 100 = 0
    ),
    pos AS (
      SELECT vec_id, g.i AS i, embedding[g.i]::DOUBLE AS x
      FROM corpus e,
      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    ),
    bits AS (SELECT vec_id, {_DUCK_BITS} FROM pos GROUP BY vec_id),
    feats AS (
      SELECT c.vec_id, c.embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) AS nrm,
             {", ".join(f"{_duck_band_concat(b)} AS s{b}" for b in range(_N_BANDS))}
      FROM corpus c JOIN bits ON bits.vec_id = c.vec_id
    ),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT vec_id, {b} AS band, s{b} AS bsig FROM feats" for b in range(_N_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bsig = y.bsig AND x.vec_id < y.vec_id
    )
    SELECT a_id, b_id,
           round(list_dot_product(fa.v, fb.v) / (fa.nrm * fb.nrm), 5) AS cosine
    FROM cand
    JOIN feats fa ON fa.vec_id = cand.a_id
    JOIN feats fb ON fb.vec_id = cand.b_id
    WHERE list_dot_product(fa.v, fb.v) / (fa.nrm * fb.nrm) > 0.999
"""

QUERIES["q_embed_near_dup"] = QuerySpec(
    spark=query_scope(_near_dup_spark),
    oracle=_NEAR_DUP_DUCK,
    description="embedding-cosine near-dup pairs via banded-LSH candidates + exact verify",
)


def _ivf_assign_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH c AS (SELECT vec_id AS centroid_id,
                          transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings WHERE vec_id < 8),
        v AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
              FROM embeddings),
        s AS (
          SELECT vec_id, centroid_id,
                 round({_SPARK_DOT.format(a='vv', b='cv')}
                       / (sqrt({_SPARK_DOT.format(a='vv', b='vv')})
                          * sqrt({_SPARK_DOT.format(a='cv', b='cv')})), 5) AS cosine
          FROM v CROSS JOIN c
        )
        SELECT vec_id, centroid_id, cosine FROM (
          SELECT s.*, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cosine DESC, centroid_id) AS rn
          FROM s
        ) WHERE rn = 1
        """
    )


_IVF_DUCK = """
    WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
    s AS (
      SELECT vec_id, centroid_id,
             round(list_dot_product(vv, cv)
                   / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))), 5) AS cosine
      FROM v CROSS JOIN c
    )
    SELECT vec_id, centroid_id, cosine FROM (
      SELECT s.*, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, centroid_id) AS rn
      FROM s
    ) t WHERE rn = 1
"""

# q_semantic_dedup (SemDeDup, Abbas et al. 2023) is registered further
# down — it reuses the exact integer-quantized Lloyd CTE chain defined
# with q_ivf_kmeans, so its trained-centroid assignment is replayable in
# the DuckDB oracle.

_SEMDEDUP_TAU = 0.999


QUERIES["q_ivf_assign"] = QuerySpec(
    spark=_ivf_assign_spark,
    oracle=_IVF_DUCK,
    description="IVF coarse assignment: nearest of K centroids per embedding",
)


# ---------------------------------------------------------------------------
# IVF top-k SEARCH: the query path that q_ivf_assign's index serves.
# For each query vector, probe the nprobe nearest centroids, then rank only
# the vectors ASSIGNED to those centroids — the classic recall/cost knob
# (nprobe = K is exact; nprobe = 2 of 8 here searches ~1/4 of the corpus).
# At scale the assignment table is partitioned by centroid_id, so a probe
# is a partition-pruned scan, and the centroid table is broadcast.
# ---------------------------------------------------------------------------

_NPROBE = 2

_IVF_SEARCH_BODY = f"""
    , probes AS (
      SELECT q_id, centroid_id FROM (
        SELECT q.q_id, c.centroid_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {{dot_qc}} / (qn * cn) DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN c
      ) t WHERE rn <= {_NPROBE}
    ),
    cand AS (
      SELECT p.q_id, a.vec_id
      FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
    ),
    scored AS (
      SELECT cand.q_id, cand.vec_id,
             round({{dot_qv}} / (qn * vn), 5) AS cosine
      FROM cand
      JOIN q ON q.q_id = cand.q_id
      JOIN v ON v.vec_id = cand.vec_id
      WHERE cand.q_id <> cand.vec_id
    )
    SELECT q_id, vec_id, cosine FROM (
      SELECT scored.*, row_number() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    ) t WHERE rn <= {_TOPK}
"""


def _ivf_search_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    dot = _SPARK_DOT
    return spark.sql(
        f"""
        WITH c AS (SELECT vec_id AS centroid_id,
                          transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
                          sqrt({dot.format(a='transform(embedding, x -> CAST(x AS DOUBLE))',
                                           b='transform(embedding, x -> CAST(x AS DOUBLE))')}) AS cn
                   FROM embeddings WHERE vec_id < 8),
        v AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS vv,
                     sqrt({dot.format(a='transform(embedding, x -> CAST(x AS DOUBLE))',
                                      b='transform(embedding, x -> CAST(x AS DOUBLE))')}) AS vn
              FROM embeddings),
        q AS (SELECT vec_id AS q_id, vv AS qv, vn AS qn FROM v
              WHERE vec_id < {_N_QUERIES}),
        assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY {dot.format(a='vv', b='cv')} / (vn * cn) DESC,
                              c.centroid_id) AS rn
            FROM v CROSS JOIN c
          ) t WHERE rn = 1
        )
        {_IVF_SEARCH_BODY.format(
            dot_qc=dot.format(a='q.qv', b='c.cv'),
            dot_qv=dot.format(a='q.qv', b='v.vv'),
        )}
        """
    )


_IVF_SEARCH_DUCK = f"""
    WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
               FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS vv,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS vn
          FROM embeddings),
    q AS (SELECT vec_id AS q_id, vv AS qv, vn AS qn FROM v
          WHERE vec_id < {_N_QUERIES}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY list_dot_product(vv, cv) / (vn * cn) DESC,
                          c.centroid_id) AS rn
        FROM v CROSS JOIN c
      ) t WHERE rn = 1
    )
    {_IVF_SEARCH_BODY.format(
        dot_qc="list_dot_product(q.qv, c.cv)",
        dot_qv="list_dot_product(q.qv, v.vv)",
    )}
"""

QUERIES["q_ivf_search"] = QuerySpec(
    spark=_ivf_search_spark,
    oracle=_IVF_SEARCH_DUCK,
    description=f"IVF top-k search: probe {_NPROBE} nearest centroids, rank "
    "only vectors assigned to them (partition-pruned at scale)",
)


# ---------------------------------------------------------------------------
# IVF with TRAINED centroids: q_ivf_kmeans trains the coarse quantizer with
# _KMEANS_ITERS iterations of the exact quantized Lloyd below
# (``lloyd_assign``), seeded with the _KMEANS_K smallest vec_ids; the
# oracle replays the same arithmetic (``lloyd_duck_ctes``).
# ---------------------------------------------------------------------------

_KMEANS_K = 8
_KMEANS_ITERS = 3


# ---------------------------------------------------------------------------
# EXACT integer-quantized Lloyd: the trick that makes iterative k-means
# cross-engine hash-checkable.  Embeddings are quantized to integers
# (floor(x*1000)); centroids are RE-QUANTIZED integer arrays every
# iteration (floor(sum*1000/count) elementwise), so:
#   - per-cluster elementwise sums are exact integer arithmetic in DOUBLE
#     (|x| <= ~600 quantized, every partial sum < 2^53) and therefore
#     ORDER-INDEPENDENT — the one thing float k-means can never promise;
#   - every dot product is an exact integer in DOUBLE (coords bounded by
#     the re-quantization, so magnitudes never grow with corpus size);
#   - the only float ops (sqrt, one multiply, one divide, round-to-5) are
#     single correctly-rounded IEEE-754 ops — bit-identical in Spark and
#     DuckDB.
# Ties at the rounded-cosine argmax break on centroid_id; empty clusters
# keep their previous centroid (standard Lloyd).  The distributed shape:
# assignment and per-partition partial sums are one map-only stage, the
# update is one groupBy(cid, pos) with automatic map-side partial
# aggregation, and only k x d centroid state crosses back (or, above the
# driver-state ceiling, stays a DataFrame).  Reference analogue: the
# reference has no clustering at all; this
# is the engine's iterative-algorithm surface made oracle-checkable.
# ---------------------------------------------------------------------------

_LLOYD_EPS = "CAST(0.000000001 AS DOUBLE)"  # zero-vector guard, exact both engines


def lloyd_duck_ctes(
    corpus_sql: str,
    iters: int,
    k_filter: str,
    extra_ctes: tuple[str, ...] = (),
) -> str:
    """DuckDB CTE chain (no leading WITH) replaying exact quantized Lloyd.

    ``corpus_sql`` must select (vec_id, v: DOUBLE array).  Produces CTEs
    ``ll_corpus`` (the corpus), ``ll_vq`` (quantized vectors + norms) and
    ``ll_assign`` (vec_id, centroid_id INT, cosine DOUBLE — the final
    assignment under the trained centroids).  ``k_filter`` is the SQL
    scalar for the seed count K (e.g. ``"8"`` or ``"(SELECT k FROM
    ll_kk)"`` with the ``ll_kk`` CTE passed through ``extra_ctes``,
    inserted after ``ll_vq`` — see q_semantic_dedup).

    Seeds are the K smallest vec_ids (two-phase bounded top-K, mirroring
    the Spark side's seed selection in ``lloyd_assign``); each iteration
    assigns to the nearest centroid (rounded cosine, ties on cid) and
    re-quantizes per-cluster integer means.  This is the ORACLE side of
    ``lloyd_assign`` below — every float op is a single correctly-rounded
    IEEE-754 op on exact integer inputs, so the two engines agree
    bit-for-bit.  DuckDB materializes repeatedly-referenced CTEs, so the
    chain evaluates each iteration once (Spark inlines CTE references,
    which is why the engine side iterates in DataFrame land instead)."""
    dot = "list_dot_product({a}, {b})".format
    quant = "list_transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS DOUBLE))"
    rebuild = "list(CAST(floor(sx * 1000.0 / n) AS DOUBLE) ORDER BY pos)"

    def explode(src):
        return (
            f"FROM {src} e, "
            "LATERAL (SELECT unnest(generate_series(1, len(e.q))) AS i) g"
        )

    parts = [
        f"ll_corpus AS ({corpus_sql})",
        f"""ll_vq AS (
          SELECT vec_id, q, greatest(sqrt({dot(a='q', b='q')}), {_LLOYD_EPS}) AS vn
          FROM (SELECT vec_id, {quant} AS q FROM ll_corpus) t
        )""",
        *extra_ctes,
        f"""ll_seedb AS (
          SELECT list_slice(list_sort(list(vec_id)), 1, {k_filter}) AS ids
          FROM ll_vq GROUP BY vec_id % 64
        )""",
        f"""ll_seed AS (
          SELECT g.i - 1 AS pos, s.ids2[g.i] AS vid
          FROM (SELECT list_slice(list_sort(flatten(list(ids))), 1,
                                  {k_filter}) AS ids2
                FROM ll_seedb) s,
               LATERAL (SELECT unnest(generate_series(1, len(s.ids2))) AS i) g
        )""",
        """ll_cent0 AS (
          SELECT CAST(s.pos AS INT) AS cid, v.q AS cv, v.vn AS cn
          FROM ll_seed s JOIN ll_vq v ON v.vec_id = s.vid
        )""",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        sum_sel = (
            f"SELECT cid, g.i AS pos, SUM(e.q[g.i]) AS sx, COUNT(*) AS n "
            f"{explode(f'll_a{i}')} GROUP BY cid, g.i"
        )
        parts += [
            f"""ll_sim{i} AS (
              SELECT v.vec_id, v.q, c.cid,
                     round({dot(a='v.q', b='c.cv')} / (v.vn * c.cn), 5) AS cos
              FROM ll_vq v CROSS JOIN ll_cent{p} c
            )""",
            f"""ll_a{i} AS (
              SELECT vec_id, q, cid FROM (
                SELECT vec_id, q, cid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM ll_sim{i}
              ) t WHERE rn = 1
            )""",
            f"ll_s{i} AS ({sum_sel})",
            f"""ll_u{i} AS (
              SELECT cid, {rebuild} AS cv FROM ll_s{i} GROUP BY cid
            )""",
            f"""ll_cent{i} AS (
              SELECT cid, cv, greatest(sqrt({dot(a='cv', b='cv')}), {_LLOYD_EPS}) AS cn
              FROM ll_u{i}
              UNION ALL
              SELECT c.cid, c.cv, c.cn FROM ll_cent{p} c
              WHERE c.cid NOT IN (SELECT cid FROM ll_u{i})
            )""",
        ]
    parts.append(
        f"""ll_assign AS (
          SELECT vec_id, centroid_id, cos AS cosine FROM (
            SELECT v.vec_id, c.cid AS centroid_id,
                   round({dot(a='v.q', b='c.cv')} / (v.vn * c.cn), 5) AS cos,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     round({dot(a='v.q', b='c.cv')} / (v.vn * c.cn), 5) DESC,
                     c.cid) AS rn
            FROM ll_vq v CROSS JOIN ll_cent{iters} c
          ) t WHERE rn = 1
        )"""
    )
    return ",\n".join(parts)


_LLOYD_Q5 = decimal.Decimal("0.00001")


def _lloyd_round5(x: float) -> float:
    """round(x, 5) HALF_UP exactly as Spark computes it for doubles
    (BigDecimal.valueOf = BigDecimal over Double.toString, i.e. the
    SHORTEST ROUND-TRIP decimal repr — which Python's repr() also is —
    then setScale(5, HALF_UP).doubleValue()).  x == 0 short-circuits so
    -0.0 canonicalizes to +0.0 the way BigDecimal (which has no signed
    zero) does."""
    if x == 0.0:
        return 0.0
    return float(
        decimal.Decimal(repr(x)).quantize(_LLOYD_Q5, rounding=decimal.ROUND_HALF_UP)
    )


def _lloyd_np_fn(cents_sorted: list, d: int, mode: str):
    """mapInPandas factory for the numpy assignment path of
    ``lloyd_assign``: all N x k cosines in ONE BLAS matmul per partition.

    Exactness: quantized components are exact integers in double, so the
    matmul's products and partial sums are exact integers (< 2^53)
    regardless of accumulation order — bit-equal to the SQL expanded sum
    — and cos = dots / (vn * cn) is the same two IEEE ops as the SQL
    ``dot / (vn * cn)``.  The argmax must follow the ROUNDED-cosine
    (cos DESC, cid ASC) rule: rounding is monotone, so the winner is
    among the columns within 1e-5 of the unrounded row max (HALF_UP
    intervals are 1e-5 wide; 2e-5 margin covers the shortest-repr
    perturbation with orders of magnitude to spare), and only those few
    candidates pay the exact decimal rounding.

    mode="sums":  emit per-partition (cid, pos, sx, n) partial sums of q
                  (exact integer adds) — the map-side combine of the
                  centroid update.
    mode="final": emit (vec_id, cid, cos) with cos exactly rounded.
    """

    C = np.array([cv for _, (cv, _) in cents_sorted], dtype=np.float64)
    cns = np.array([cn for _, (_, cn) in cents_sorted], dtype=np.float64)
    k = len(cents_sorted)

    def run(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        # session conf caps Arrow batches at 8 rows (sized for MB-scale
        # image rows); re-batch the whole partition so the matmul is one
        # BLAS call, not thousands of 8-row calls
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        Q = np.stack([np.asarray(q, dtype=np.float64) for q in pdf["q"]])
        vn = pdf["vn"].to_numpy(dtype=np.float64)
        un = (Q @ C.T) / (vn[:, None] * cns[None, :])
        m = un.max(axis=1)
        best = un.argmax(axis=1)
        rows = np.arange(len(best))
        cos = un[rows, best]
        multi = (un >= (m - 2e-5)[:, None]).sum(axis=1) > 1
        for i in np.flatnonzero(multi):
            cands = np.flatnonzero(un[i] >= m[i] - 2e-5)
            rc = [_lloyd_round5(float(un[i, j])) for j in cands]
            mr = max(rc)
            j = int(min(c for c, r in zip(cands, rc) if r == mr))
            best[i] = j
            cos[i] = un[i, j]
        if mode == "sums":
            cnt = np.bincount(best, minlength=k)
            S = np.zeros((k, d), dtype=np.float64)
            np.add.at(S, best, Q)
            act = np.flatnonzero(cnt)
            yield pd.DataFrame(
                {
                    "cid": np.repeat(act, d).astype(np.int32),
                    "pos": np.tile(np.arange(d, dtype=np.int32), len(act)),
                    "sx": S[act].ravel(),
                    "n": np.repeat(cnt[act], d).astype(np.int64),
                }
            )
        else:
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": best.astype(np.int32),
                    "cos": np.array([_lloyd_round5(float(c)) for c in cos]),
                }
            )

    return run


def lloyd_dot_expr(a: str, b: str, d: int) -> str:
    """The N x d dot product as an EXPANDED left-associated sum with the
    fold's 0.0 seed — bit-identical to the sequential
    aggregate(zip_with(...)) lambda (every IEEE add in the same order,
    including the leading 0.0 + x that canonicalizes a -0.0 first term)
    but whole-stage-codegen arithmetic instead of an interpreted
    per-element lambda (~10x per row, measured round 5)."""
    if not (0 < d <= 128):
        return _SPARK_DOT.format(a=a, b=b)
    terms = " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(d))
    return f"(CAST(0 AS DOUBLE) + {terms})"


def _lloyd_assign_frames(
    spark: SparkSession, vq: DataFrame, iters: int, k: int, d: int
) -> DataFrame:
    """Distributed Lloyd for k*d ABOVE the driver-state ceiling: the
    centroid state is a DataFrame for the whole run.  Seeds = the k
    smallest vec_ids by two-phase global rank (prefix.global_row_number
    — driver folds one subtotal per partition, never corpus rows); each
    iteration is a crossJoin + map-side-combinable max(struct) argmax
    and the same groupBy(cid, pos) update as the numpy route, with the
    rebuilt centroid frame materialized each iteration.  Same
    arithmetic op for op as the driver fold (floor(sx*1000.0/n) per
    component, greatest(sqrt(dot), eps) norms), so results are
    bit-identical — pinned by tests/test_lloyd_paths.py."""
    from .prefix import global_row_number

    dot_qc = lloyd_dot_expr("q", "cv", d)
    seeds = global_row_number(vq.select("vec_id"), ["vec_id"], "rn").where(
        F.col("rn") <= k
    )
    cents = materialize(
        seeds.join(vq, "vec_id")
        .selectExpr("CAST(rn - 1 AS INT) AS cid", "q AS cv", "vn AS cn")
    )

    def assignment(cdf: DataFrame) -> DataFrame:
        cos = F.round(F.expr(dot_qc) / (F.col("vn") * F.col("cn")), 5)
        best = F.struct(
            cos.alias("c"), (-F.col("cid")).alias("nc"), F.col("q").alias("q")
        )
        return (
            vq.crossJoin(cdf)
            .select("vec_id", best.alias("s"))
            .groupBy("vec_id")
            .agg(F.max("s").alias("s"))
            .select(
                "vec_id",
                F.col("s.q").alias("q"),
                (-F.col("s.nc")).cast("int").alias("cid"),
                F.col("s.c").alias("cos"),
            )
        )

    for _ in range(iters):
        upd = (
            assignment(cents)
            .select("cid", F.posexplode("q").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .select(
                "cid",
                "pos",
                F.expr("CAST(floor(sx * 1000.0 / n) AS DOUBLE)").alias("xq"),
            )
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, xq))),"
                    " s -> s.xq)"
                ).alias("cv")
            )
            .selectExpr(
                "cid",
                "cv",
                f"greatest(sqrt({_SPARK_DOT.format(a='cv', b='cv')}),"
                f" {_LLOYD_EPS}) AS cn",
            )
        )
        carried = cents.join(upd.select("cid"), "cid", "left_anti")
        cents = materialize(upd.unionByName(carried))
    return assignment(cents).select(
        "vec_id", F.col("cid").alias("centroid_id"), F.col("cos").alias("cosine")
    )


def lloyd_assign(
    spark: SparkSession, corpus: DataFrame, iters: int, k: int
) -> DataFrame:
    """Exact quantized Lloyd on the engine side: (vec_id, v array<double>)
    -> (vec_id, centroid_id int, cosine double) under trained centroids.

    Same arithmetic as ``lloyd_duck_ctes`` step for step (quantize to
    integers, rounded-cosine argmax with cid ties, re-quantized integer
    means, empty clusters carry over) — the driver-vs-oracle hash match
    IS the equivalence proof.  Executed ITERATIVELY, not as one SQL text:
    Spark inlines repeated CTE references, so the declarative chain
    re-evaluates every earlier iteration inside every later one (~5x
    wall at 3 iterations, measured).  Each iteration is one assignment
    job plus one groupBy(cid, pos) partial-sum job over the MATERIALIZED
    quantized corpus (repartitioned to the session's parallelism — the
    embeddings parquet is a single sub-split-size file, so without it
    every pass ran on 1-2 cores).  Two routes, picked by k*d:

      - k*d doubles within ``config.DRIVER_STATE_BYTES`` (4M cells):
        centroids driver-held, assignment is ONE numpy matmul per
        partition inside mapInPandas emitting per-partition partial sums
        (``_lloyd_np_fn`` — exact integer arithmetic, rounded-argmax tie
        rule preserved);
      - above: the fully distributed ``_lloyd_assign_frames`` — centroid
        state never touches the driver (the 100-TB contract for
        corpus-derived K).

    The vector length d comes from one min/max(size(q)) probe; ragged
    vectors raise instead of being truncated to their first d components.
    Seeds (driver route): the k smallest vec_ids via a two-phase bounded
    top-K (64-way bucketed sorted-slice, then a driver fold of 64 arrays
    of <=k ids) — no global-order window anywhere."""
    import math

    dot_qq = _SPARK_DOT.format(a="q", b="q")
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    vq = materialize(corpus.selectExpr(
        "vec_id",
        "transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS DOUBLE)) AS q",
    ).selectExpr(
        "vec_id", "q", f"greatest(sqrt({dot_qq}), {_LLOYD_EPS}) AS vn"
    ).repartition(n_parts))

    out_schema = "vec_id long, centroid_id int, cosine double"
    lo, hi = vq.selectExpr("min(size(q))", "max(size(q))").first()
    if lo != hi:
        raise ValueError(f"ragged vectors: sizes range from {lo} to {hi}")
    if hi is None:
        return spark.createDataFrame([], out_schema)
    d = int(hi)
    if k * d * 8 > config.DRIVER_STATE_BYTES:
        return _lloyd_assign_frames(spark, vq, iters, k, d)
    # ONE job for the seeds: each bucket ships its k smallest vec_ids
    # WITH their (q, vn) payloads (k structs x 64 buckets, driver-tiny),
    # so no second fetch-by-id job is needed.  array_sort on the struct
    # orders by vec_id (first field; unique, so later fields never tie).
    seed_buckets = (
        vq.groupBy(F.pmod(F.col("vec_id"), F.lit(64)).alias("b"))
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("vec_id", "q", "vn"))),
                1, k,
            ).alias("s")
        )
        .collect()
    )
    seeds = sorted(
        (s for r in seed_buckets for s in r["s"]), key=lambda s: s["vec_id"]
    )[:k]
    if not seeds:
        return spark.createDataFrame([], out_schema)
    cents = {
        cid: (list(r["q"]), float(r["vn"])) for cid, r in enumerate(seeds)
    }

    for _ in range(iters):
        # assignment AND the (cid, pos) partial sums in one mapInPandas
        # pass (one BLAS matmul per partition); the groupBy folds
        # exact-integer per-partition partials
        sums = (
            vq.mapInPandas(
                _lloyd_np_fn(sorted(cents.items()), d, "sums"),
                "cid int, pos int, sx double, n long",
            )
            .groupBy("cid", "pos")
            .agg(F.sum("sx").alias("sx"), F.sum("n").alias("n"))
            .collect()
        )
        by_cid: dict[int, list] = {}
        for r in sums:
            by_cid.setdefault(int(r["cid"]), []).append(r)
        for cid, rows in by_cid.items():
            cv = [0.0] * len(rows)
            for r in rows:
                # floor(sx * 1000.0 / n): identical single IEEE ops to
                # both engines' SQL — sx is an exact integer in double
                cv[int(r["pos"])] = float(math.floor(r["sx"] * 1000.0 / r["n"]))
            cn = max(math.sqrt(sum(x * x for x in cv)), 1e-9)
            cents[cid] = (cv, cn)
        # clusters absent from by_cid keep their previous centroid
    return vq.mapInPandas(
        _lloyd_np_fn(sorted(cents.items()), d, "final"),
        "vec_id long, cid int, cos double",
    ).select(
        "vec_id", F.col("cid").alias("centroid_id"), F.col("cos").alias("cosine")
    )


_IVF_KMEANS_DUCK = f"""
    WITH {lloyd_duck_ctes(
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
        _KMEANS_ITERS, str(_KMEANS_K))}
    SELECT vec_id, centroid_id, cosine FROM ll_assign
"""


def _ivf_kmeans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    corpus = spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings"
    )
    return lloyd_assign(spark, corpus, _KMEANS_ITERS, _KMEANS_K)


QUERIES["q_ivf_kmeans"] = QuerySpec(
    spark=query_scope(_ivf_kmeans_spark),
    oracle=_IVF_KMEANS_DUCK,
    description="IVF with trained centroids: 3 exact integer-quantized "
    "Lloyd iterations (one numpy matmul per partition, map-side partial "
    "sums), cross-engine hash-checkable",
)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the embedding
# space coarsely, then search for near-duplicates ONLY within each
# cluster — pairwise cost drops from N^2 to sum(cluster^2).  Two scale
# properties the round-3 version lacked, both flagged by review:
#   - K is DERIVED from corpus size (K = max(8, ceil(N / target_pop)))
#     inside the query itself, identically on both engines, so per-cluster
#     populations stay bounded as the corpus grows instead of N^2/8;
#   - centroids are TRAINED (the exact quantized-Lloyd chain above, 2
#     iterations) rather than "the 8 lowest vec_ids", so cluster
#     populations track the data distribution — the skew test in
#     tests/test_semdedup_scale.py pins the within-cluster pair count
#     under a planted skewed distribution.
# The near-dup verify runs on the ORIGINAL double vectors (planted clones
# are bit-identical -> same quantization -> same cluster, recall of
# planted pairs exact by construction).  Output: per-vector survivorship
# (kept = no within-cluster partner with smaller id above cosine tau).
# ---------------------------------------------------------------------------

_SEMDEDUP_TARGET_POP = 64
_SEMDEDUP_ITERS = 2

_SEMDEDUP_CORPUS_DUCK = """
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 100 = 0
"""

_SEMDEDUP_KK = (
    "ll_kk AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / "
    f"{_SEMDEDUP_TARGET_POP}.0) AS INT)) AS k FROM ll_vq)"
)


def _semdedup_duck_sql() -> str:
    dot = "list_dot_product({a}, {b})".format
    chain = lloyd_duck_ctes(
        _SEMDEDUP_CORPUS_DUCK, _SEMDEDUP_ITERS, "(SELECT k FROM ll_kk)",
        extra_ctes=(_SEMDEDUP_KK,),
    )
    return f"""
    WITH {chain},
    sd_v AS (SELECT vec_id, v AS vv, sqrt({dot(a='v', b='v')}) AS vn FROM ll_corpus),
    sd_a AS (
      SELECT s.vec_id, s.centroid_id, v.vv, v.vn
      FROM ll_assign s JOIN sd_v v ON v.vec_id = s.vec_id
    ),
    sd_dropped AS (
      SELECT DISTINCT b.vec_id
      FROM sd_a a JOIN sd_a b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {dot(a='a.vv', b='b.vv')} / (a.vn * b.vn) > {_SEMDEDUP_TAU}
    )
    SELECT a.vec_id, a.centroid_id,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM sd_a a LEFT JOIN sd_dropped d ON d.vec_id = a.vec_id
    """


def _semantic_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    register_views(spark, sf_dir)
    corpus = materialize(spark.sql(_NEAR_DUP_CORPUS))
    n = corpus.count()
    k = max(8, math.ceil(n / _SEMDEDUP_TARGET_POP))
    assign = lloyd_assign(spark, corpus, _SEMDEDUP_ITERS, k)
    # d probe for the EXPANDED dot chains below (lloyd_dot_expr: codegen
    # arithmetic bit-identical to the sequential aggregate(zip_with)
    # fold — the interpreted lambda cost ~10x per candidate pair)
    head = corpus.select("v").head(1)
    d = len(head[0]["v"]) if head else 0
    sd_v = corpus.selectExpr(
        "vec_id", "v AS vv", f"sqrt({lloyd_dot_expr('v', 'v', d)}) AS vn"
    )
    sd_a = assign.select("vec_id", "centroid_id").join(sd_v, "vec_id")
    b = sd_a.selectExpr(
        "vec_id AS vec_id2", "centroid_id AS centroid_id2",
        "vv AS vv2", "vn AS vn2",
    )
    pair_cos = F.expr(lloyd_dot_expr("vv", "vv2", d)) / (
        F.col("vn") * F.col("vn2")
    )
    dropped = (
        sd_a.join(
            b,
            (F.col("centroid_id") == F.col("centroid_id2"))
            & (F.col("vec_id") < F.col("vec_id2")),
        )
        .filter(pair_cos > _SEMDEDUP_TAU)
        .select(F.col("vec_id2").alias("dvid"))
        .distinct()
    )
    return sd_a.join(dropped, sd_a["vec_id"] == dropped["dvid"], "left").select(
        "vec_id",
        "centroid_id",
        F.when(F.col("dvid").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


QUERIES["q_semantic_dedup"] = QuerySpec(
    spark=query_scope(_semantic_dedup_spark),
    oracle=_semdedup_duck_sql(),
    description="SemDeDup: size-derived K, trained (quantized-Lloyd) "
    "centroids bucket the pairwise cosine search; within-cluster "
    "near-dups dropped, survivors kept",
)


# ---------------------------------------------------------------------------
# q_embed_covariance — the distributed Gram / covariance matrix, the
# aggregation step of every large-scale PCA / whitening / linear-probe
# pipeline: cov(X) assembled from MAP-SIDE PARTIAL X^T X blocks so the
# shuffle carries O(partitions * d^2) numbers regardless of row count —
# the textbook reduction that makes PCA feasible at 100 TB (the d x d
# eigendecomposition then happens on the driver; see tests/test_round3_ops).
#
# Cross-engine exactness: components are quantized to integer
# micro-units (floor(x * 1e6) in DOUBLE, float32 -> float64 promotion is
# exact on both engines), so n / si / sj / sij are EXACT int64 sums —
# per-Arrow-batch int64 matmul partials bounded by batch size, global
# Spark SUM far from overflow (|q| <= 6e5 here -> sij <= 4e11 per row).
# The covariance is then ONE identical double op chain both engines:
# (n*sij - si*sj) / (n*(n-1)) / 1e6 / 1e6, rounded to 9 decimals.
# ---------------------------------------------------------------------------

_GRAM_SCHEMA = "i int, j int, n long, si long, sj long, sij long"


def _gram_partials_fn(it):
    # ONE partial frame per PARTITION, not per Arrow batch: the session
    # caps batches at 8 rows (sized for MB-scale image rows), so the
    # per-batch form emitted d*(d+1)/2 partial rows per 8 vectors —
    # ~5M shuffle rows at sf1.0 where ~2080/partition suffice.  int64
    # accumulation across batches is exact, so the fold is identical.
    n_tot = 0
    s_tot = None
    g_tot = None
    for pdf in it:
        if pdf.empty:
            continue
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(m * 1e6).astype(np.int64)
        n_tot += q.shape[0]
        s = q.sum(axis=0)
        g = q.T @ q
        if s_tot is None:
            s_tot, g_tot = s, g
        else:
            s_tot = s_tot + s
            g_tot = g_tot + g
    if n_tot == 0:
        return
    d = s_tot.shape[0]
    iu, ju = np.triu_indices(d)
    yield pd.DataFrame(
        {
            "i": (iu + 1).astype(np.int32),
            "j": (ju + 1).astype(np.int32),
            "n": np.full(len(iu), n_tot, dtype=np.int64),
            "si": s_tot[iu],
            "sj": s_tot[ju],
            "sij": g_tot[iu, ju],
        }
    )


_COV_EXPR = (
    "round((CAST(n_vecs AS DOUBLE) * CAST(sum_ij AS DOUBLE)"
    " - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE))"
    " / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))"
    " / 1000000.0 / 1000000.0, 9)"
)


def _embed_cov_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    partials = (
        spark.table("embeddings")
        .select("embedding")
        # single-row-group parquet -> one scan task without this
        .repartition(max(spark.sparkContext.defaultParallelism, 1))
        .mapInPandas(_gram_partials_fn, _GRAM_SCHEMA)
    )
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum("n").alias("n_vecs"),
            F.sum("si").alias("s_i"),
            F.sum("sj").alias("s_j"),
            F.sum("sij").alias("sum_ij"),
        )
        .filter(F.col("n_vecs") >= 2)
        .select(
            "i",
            "j",
            "n_vecs",
            "sum_ij",
            F.expr(_COV_EXPR).alias("cov"),
        )
    )


_EMBED_COV_ORACLE = f"""
    WITH x AS (
      SELECT e.vec_id, CAST(g.i AS INTEGER) AS i,
             CAST(floor(e.embedding[g.i]::DOUBLE * 1000000) AS BIGINT) AS q
      FROM embeddings e,
      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    ),
    p AS (
      SELECT a.i AS i, b.i AS j,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(a.q) AS BIGINT) AS s_i,
             CAST(sum(b.q) AS BIGINT) AS s_j,
             CAST(sum(a.q * b.q) AS BIGINT) AS sum_ij
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    )
    SELECT i, j, n_vecs, sum_ij,
           {_COV_EXPR} AS cov
    FROM p WHERE n_vecs >= 2
"""


QUERIES["q_embed_covariance"] = QuerySpec(
    spark=_embed_cov_spark,
    oracle=_EMBED_COV_ORACLE,
    description=(
        "distributed covariance/Gram matrix for PCA: map-side partial "
        "X^T X per Arrow batch (integer micro-unit exact), shuffle "
        "carries O(partitions * d^2) — row count never crosses the wire"
    ),
)


# ---------------------------------------------------------------------------
# q_ann_recall — the index SELF-MEASUREMENT query: the recall@k / scan-
# cost TRADE-OFF CURVE of banded random-hyperplane LSH against the
# exact brute-force top-k, swept over band configurations derived from
# the SAME 24 projection bits ((2 bands x 12 bits) = the near-dup
# config, (4 x 6) and (8 x 3) = progressively recall-biased kNN
# configs).  This is the table a 100 TB deployment computes on a sample
# to PICK the (bands, bits) knob before committing to an index build:
# more, shorter bands -> higher recall AND more candidates scanned —
# the curve makes the trade explicit and checked (n_candidates IS the
# per-query scan cost).
#
# Both rankings use the identical scoring chain (round(dot/(nq*nc), 5),
# ties on c_id) so the comparison is engine-exact; recall_ppm is exact
# integer arithmetic.  Scale shape: features (bits + vector) computed
# once into a materialized frame; candidates are (cfg, band, bucket)
# equi-joins; only the tiny query set is broadcast into scoring.
# ---------------------------------------------------------------------------

_RECALL_CONFIGS = ((2, 12), (4, 6), (8, 3))


def _cfg_stack_expr(bits_col: str) -> str:
    """Spark stack() emitting (cfg, band, bucket) rows for every config."""
    parts = []
    n_rows = 0
    for nb, bb in _RECALL_CONFIGS:
        for b in range(nb):
            parts.append(
                f"'{nb}x{bb}', {b}, substring({bits_col}, {b * bb + 1}, {bb})"
            )
            n_rows += 1
    return f"stack({n_rows}, {', '.join(parts)})"


def _ann_recall_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    feat = materialize(emb.repartition(max(spark.sparkContext.defaultParallelism, 1)).select(
        "vec_id", "v", _lsh_bits_udf("v").alias("bits")
    ))
    d = _emb_dim(spark)
    dot = lloyd_dot_expr("q.v", "c.v", d)
    nrm_q = lloyd_dot_expr("q.v", "q.v", d)
    nrm_c = lloyd_dot_expr("c.v", "c.v", d)
    return spark.sql(
        f"""
        WITH qf AS (SELECT * FROM {{feat}} WHERE vec_id < {_N_QUERIES}),
        exact AS (
          SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({dot} / (sqrt({nrm_q}) * sqrt({nrm_c})), 5)
                       DESC, c.vec_id
                   ) AS rn
            FROM {{feat}} c CROSS JOIN qf q WHERE c.vec_id <> q.vec_id
          ) WHERE rn <= {_TOPK}
        ),
        qb AS (SELECT vec_id AS q_id, {_cfg_stack_expr('bits')} AS (cfg, band, bucket) FROM qf),
        cb AS (SELECT vec_id AS c_id, {_cfg_stack_expr('bits')} AS (cfg, band, bucket) FROM {{feat}}),
        cand AS (
          SELECT DISTINCT qb.cfg, qb.q_id, cb.c_id
          FROM qb JOIN cb ON cb.cfg = qb.cfg AND cb.band = qb.band
                         AND cb.bucket = qb.bucket
          WHERE cb.c_id <> qb.q_id
        ),
        approx AS (
          SELECT cfg, q_id, c_id FROM (
            SELECT x.cfg, x.q_id, x.c_id,
                   row_number() OVER (
                     PARTITION BY x.cfg, x.q_id
                     ORDER BY round({dot} / (sqrt({nrm_q}) * sqrt({nrm_c})), 5)
                       DESC, x.c_id
                   ) AS rn
            FROM cand x
            JOIN {{feat}} c ON c.vec_id = x.c_id
            JOIN qf q ON q.vec_id = x.q_id
          ) WHERE rn <= {_TOPK}
        ),
        grid AS (
          SELECT g.cfg, q.vec_id AS q_id
          FROM qf q CROSS JOIN (SELECT DISTINCT cfg FROM qb) g
        ),
        nc AS (
          SELECT g.cfg, g.q_id, count(c.c_id) AS n_candidates
          FROM grid g LEFT JOIN cand c ON c.cfg = g.cfg AND c.q_id = g.q_id
          GROUP BY g.cfg, g.q_id
        ),
        hits AS (
          SELECT a.cfg, e.q_id, count(*) AS n_hits
          FROM exact e JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
          GROUP BY a.cfg, e.q_id
        )
        SELECT n.cfg, n.q_id,
               CAST(n.n_candidates AS BIGINT) AS n_candidates,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.n_hits, 0) * 1000000 div {_TOPK} AS BIGINT)
                 AS recall_ppm
        FROM nc n LEFT JOIN hits h ON h.cfg = n.cfg AND h.q_id = n.q_id
        """,
        feat=feat,
    )


def _duck_cfg_bands() -> str:
    sels = []
    for nb, bb in _RECALL_CONFIGS:
        for b in range(nb):
            cols = ", ".join(f"b{j}" for j in range(b * bb, (b + 1) * bb))
            sels.append(
                f"SELECT vec_id, '{nb}x{bb}' AS cfg, {b} AS band, "
                f"concat({cols}) AS bucket FROM bits"
            )
    return " UNION ALL ".join(sels)


_ANN_RECALL_DUCK = f"""
    WITH pos AS (
      SELECT vec_id, g.i AS i, embedding[g.i]::DOUBLE AS x
      FROM embeddings e,
      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    ),
    bits AS (SELECT vec_id, {_DUCK_BITS} FROM pos GROUP BY vec_id),
    bands AS ({_duck_cfg_bands()}),
    vq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
    vc AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
    exact AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.c_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 5)
                   DESC, c.c_id
               ) AS rn
        FROM vc c CROSS JOIN vq q WHERE c.c_id <> q.q_id
      ) t WHERE rn <= {_TOPK}
    ),
    cand AS (
      SELECT DISTINCT qb.cfg, qb.vec_id AS q_id, cb.vec_id AS c_id
      FROM bands qb JOIN bands cb
        ON cb.cfg = qb.cfg AND cb.band = qb.band AND cb.bucket = qb.bucket
      WHERE qb.vec_id < {_N_QUERIES} AND cb.vec_id <> qb.vec_id
    ),
    approx AS (
      SELECT cfg, q_id, c_id FROM (
        SELECT x.cfg, x.q_id, x.c_id,
               row_number() OVER (
                 PARTITION BY x.cfg, x.q_id
                 ORDER BY round(list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 5)
                   DESC, x.c_id
               ) AS rn
        FROM cand x
        JOIN vc c ON c.c_id = x.c_id
        JOIN vq q ON q.q_id = x.q_id
      ) t WHERE rn <= {_TOPK}
    ),
    grid AS (
      SELECT g.cfg, q.q_id
      FROM vq q CROSS JOIN (SELECT DISTINCT cfg FROM bands) g
    ),
    nc AS (
      SELECT g.cfg, g.q_id, count(c.c_id) AS n_candidates
      FROM grid g LEFT JOIN cand c ON c.cfg = g.cfg AND c.q_id = g.q_id
      GROUP BY g.cfg, g.q_id
    ),
    hits AS (
      SELECT a.cfg, e.q_id, count(*) AS n_hits
      FROM exact e JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
      GROUP BY a.cfg, e.q_id
    )
    SELECT n.cfg, n.q_id,
           CAST(n.n_candidates AS BIGINT) AS n_candidates,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {_TOPK} AS BIGINT)
             AS recall_ppm
    FROM nc n LEFT JOIN hits h ON h.cfg = n.cfg AND h.q_id = n.q_id
"""


QUERIES["q_ann_recall"] = QuerySpec(
    spark=query_scope(_ann_recall_spark),
    oracle=_ANN_RECALL_DUCK,
    description=(
        "LSH recall@5 / scan-cost trade-off curve vs exact top-5, swept "
        "over band configs (2x12, 4x6, 8x3) from the same 24 projection "
        "bits — the knob-tuning table a 100 TB index build reads first"
    ),
)


# ---------------------------------------------------------------------------
# Grid-bucketed spatial radius self-join — the 2-D epsilon-neighborhood
# primitive under DBSCAN, geo near-duplicate detection, and UMAP/t-SNE
# diagnostics: all point pairs within radius r of each other.  The naive
# form is the O(n^2) cross join that cannot ship at 10^12 points; the
# grid decomposition (cell side = r, each point probes its 3x3 cell
# neighborhood) bounds candidates to local density and turns the search
# into one equi-join on cell coordinates — the same
# bucket-the-metric-space move as the LSH/IVF paths above, here with a
# GUARANTEE (no false negatives: dist < r implies cell offset <= 1, so
# the 3x3 probe covers every qualifying pair exactly once — b's home
# cell is unique, so no post-join dedup is needed either).
#
# Points are the first two embedding dims; dist^2 is two double
# multiplies + one add from float32-cast inputs (identical IEEE sequence
# both engines), reported floored to integer e-12 so the gate
# hash-checks the geometry.  Scale notes: one 9x skinny-row explode
# (map-side), one equi-join shuffle on (cx, cy); skew = local density,
# bounded for any corpus an epsilon-join is meaningful on.
# ---------------------------------------------------------------------------

_GRID_R = "5.0e-2"
_GRID_R2 = "2.5e-3"

_GRID_BODY = """
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[{i1}] AS DOUBLE) AS x,
             CAST(embedding[{i2}] AS DOUBLE) AS y
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, x, y,
             CAST(floor(x / {r}) AS BIGINT) AS cx,
             CAST(floor(y / {r}) AS BIGINT) AS cy
      FROM p
    ),
    probes AS (
      SELECT vec_id, x, y, cx + dx AS px, cy + dy AS py
      FROM cells {gen_offsets}
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(floor(
             ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) * 1.0e12
           ) AS BIGINT) AS dist2_e12
    FROM probes a JOIN cells b
      ON b.cx = a.px AND b.cy = a.py AND a.vec_id < b.vec_id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < {r2}
"""

_GRID_SPARK = _GRID_BODY.format(
    i1=0, i2=1, r=_GRID_R, r2=_GRID_R2,
    gen_offsets=(
        "LATERAL VIEW explode(array(-1, 0, 1)) gx AS dx "
        "LATERAL VIEW explode(array(-1, 0, 1)) gy AS dy"
    ),
)

_GRID_DUCK = _GRID_BODY.format(
    i1=1, i2=2, r=_GRID_R, r2=_GRID_R2,
    gen_offsets=(
        ", LATERAL (SELECT unnest([-1, 0, 1]) AS dx) gx"
        ", LATERAL (SELECT unnest([-1, 0, 1]) AS dy) gy"
    ),
)

from . import sql_query as _sql_query  # noqa: E402  (module-tail query registration)

QUERIES["q_grid_radius_join"] = QuerySpec(
    spark=_sql_query(_GRID_SPARK),
    oracle=_GRID_DUCK,
    description=(
        "grid-bucketed epsilon-neighborhood self-join (cell = r, 3x3 "
        "probe): no-false-negative spatial candidates via one (cx, cy) "
        "equi-join — the DBSCAN/geo near-dup primitive, never O(n^2)"
    ),
)

# ---------------------------------------------------------------------------
# Scalar-quantized (int8) ANN scoring — the memory-bound trick every
# production vector index ships (FAISS SQ8, Lucene/HNSW int8): store
# 64 bytes instead of 256 per vector and score in integer arithmetic.
# Per-dim symmetric scale = max|x_d| / 127 over the corpus; code =
# floor(x / scale + 0.5) (explicit half-up — both engines' round()
# disagree on ties, floor(+0.5) does not).  The checked result is the
# quantized top-5 per probe vector with its INTEGER dot product —
# bit-exact across engines because every post-quantization op is int64
# (the float stays confined to the scale division).  Recall vs the
# exact float ranking is pinned separately in tests/test_round3_ops.py.
#
# Scale notes: the per-dim max is one skinny explode + 64-group rollup;
# codes reassemble per vector (array_sort of (i, q) structs — order
# restored explicitly, collect_list alone is unordered); scoring is a
# broadcast of the 4 probe codes across the corpus — O(N) work, no
# per-dim shuffle join, the exact shape a 10^12-vector scan wants.
# ---------------------------------------------------------------------------

_SQ8_BODY = """
    WITH qe AS (
      SELECT vec_id, {i_col} AS i, {x_col} AS x
      FROM embeddings {explode}
    ),
    dims AS (
      SELECT i, max(abs(CAST(x AS DOUBLE))) AS mx FROM qe GROUP BY i
    ),
    quant AS (
      SELECT q.vec_id, q.i,
             CASE WHEN d.mx = 0.0e0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(CAST(q.x AS DOUBLE) / (d.mx / 1.27e2) + 5.0e-1)
                            AS BIGINT) END AS qv
      FROM qe q JOIN dims d ON d.i = q.i
    ),
    codes AS (
      SELECT vec_id, {code_agg} AS code FROM quant GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS qid, code AS qcode FROM codes
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)
    ),
    dots AS (
      SELECT p.qid, c.vec_id AS cid, {int_dot} AS dot
      FROM probes p CROSS JOIN codes c
      WHERE c.vec_id <> p.qid
    ),
    ranked AS (
      SELECT qid, cid, dot,
             row_number() OVER (
               PARTITION BY qid ORDER BY dot DESC, cid ASC
             ) AS rnk
      FROM dots
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(cid AS BIGINT) AS cid,
           CAST(dot AS BIGINT) AS dot
    FROM ranked WHERE rnk <= 5
"""

_SQ8_SPARK = _SQ8_BODY.format(
    i_col="t.i",
    x_col="t.x",
    explode="LATERAL VIEW posexplode(embedding) t AS i, x",
    code_agg="transform(array_sort(collect_list(struct(i, qv))), s -> s.qv)",
    int_dot=(
        "aggregate(zip_with(p.qcode, c.code, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (a, b) -> a + b)"
    ),
)

_SQ8_DUCK = _SQ8_BODY.format(
    i_col="g.i",
    x_col="embedding[g.i]",
    explode=", LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g",
    code_agg="list(qv ORDER BY i)",
    int_dot=(
        "CAST(list_dot_product(p.qcode::DOUBLE[], c.code::DOUBLE[]) AS BIGINT)"
    ),
)

QUERIES["q_quantized_ann"] = QuerySpec(
    spark=_sql_query(_SQ8_SPARK),
    oracle=_SQ8_DUCK,
    description=(
        "int8 scalar-quantized ANN: per-dim symmetric corpus scale, "
        "explicit half-up codes, integer dot top-5 per probe — 4x "
        "memory cut with bit-exact cross-engine scoring"
    ),
)


# ---------------------------------------------------------------------------
# q_pq_codes — product quantization, the codebook half of IVF-PQ (the
# canonical 100-TB ANN index: Jegou et al. 2011): split the embedding
# into M subspaces, train a small codebook per subspace, store each
# vector as M one-byte codes.  Reuses the exact quantized-Lloyd machinery
# (lloyd_assign / lloyd_duck_ctes) per subspace, so the trained codes are
# cross-engine hash-checkable like q_ivf_kmeans.  Scale shape per
# subspace: broadcast codebook, map-only assignment, k x d/M driver
# state; M subspaces are independent jobs.  Output: (vec_id, sub, code,
# cosine) — cosine is the similarity to the chosen codeword (the
# quantization-quality diagnostic).
# ---------------------------------------------------------------------------

_PQ_M = 2        # subspaces (dim 64 -> 2 x 32)
_PQ_K = 8        # codewords per subspace
_PQ_ITERS = 1


def _pq_codes_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    dim = 64
    sub_w = dim // _PQ_M
    outs = []
    for s in range(_PQ_M):
        sub_corpus = spark.sql(
            "SELECT vec_id, transform(slice(embedding, {start}, {w}), "
            "x -> CAST(x AS DOUBLE)) AS v FROM embeddings".format(
                start=s * sub_w + 1, w=sub_w
            )
        )
        outs.append(
            lloyd_assign(spark, sub_corpus, _PQ_ITERS, _PQ_K).select(
                "vec_id",
                F.lit(s).alias("sub"),
                F.col("centroid_id").alias("code"),
                "cosine",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _pq_codes_oracle() -> str:
    dim, sub_w = 64, 64 // _PQ_M
    blocks = []
    for s in range(_PQ_M):
        lo, hi = s * sub_w + 1, (s + 1) * sub_w
        chain = lloyd_duck_ctes(
            f"SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS v FROM embeddings",
            _PQ_ITERS,
            str(_PQ_K),
        )
        blocks.append(
            f"""SELECT vec_id, {s} AS sub, centroid_id AS code, cosine FROM (
    WITH {chain}
    SELECT vec_id, centroid_id, cosine FROM ll_assign) t{s}"""
        )
    return "\nUNION ALL\n".join(blocks)


QUERIES["q_pq_codes"] = QuerySpec(
    spark=query_scope(_pq_codes_spark),
    oracle=_pq_codes_oracle(),
    description=(
        f"product quantization (IVF-PQ codebooks): {_PQ_M} subspaces x "
        f"{_PQ_K} codewords via exact quantized Lloyd, per-vector codes "
        "+ codeword cosine, cross-engine hash-checked"
    ),
)
