"""Driver-checkable query registry.

Each query is a QuerySpec: a Spark callable (spark, sf_dir) -> DataFrame and
an optional DuckDB oracle SQL string over the same parquet tables.  Column
names/aliases match exactly between the two sides (the driver sorts columns
by name before value-hashing); double-valued outputs are rounded identically
on both sides.

A builder that reuses an intermediate frame ``materialize``s it and is
registered through ``query_scope``: the cached frames live exactly as
long as the returned result.  Builders pass frames to SQL text as
``spark.sql(text, name=frame)``, whose views Spark drops once the query
is analysed, so no query leaves a view behind either.
"""

from __future__ import annotations

import functools
import weakref
from collections.abc import Callable
from contextvars import ContextVar
from dataclasses import dataclass

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


# Currently-registered dir keyed by the LIVE session object (weakly):
# keying by id(spark) collides when a stopped session is garbage-collected
# and a new one reuses its id, silently skipping registration on a session
# that never had the views.  Exactly ONE dir's views can be live per
# session (they share the table names), so the cache holds the single
# current dir, not a seen-set — with a set, re-registering a previously
# seen dirA after dirB would pass the membership check while every view
# still read dirB's parquet (r5 advice).  Tests .clear() this to force
# rebinding.
_REGISTERED_DIRS: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def temp_views(spark: SparkSession) -> set[str]:
    """Names of the session's temp views.  ``SHOW VIEWS`` answers from the
    session catalog without a Spark job; ``catalog.listTables()`` lists
    the same views but launches several jobs per call."""
    return {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata parquet files as temp views (idempotent per
    session while ``sf_dir`` is unchanged).  The cache is only trusted
    while every view still EXISTS: callers that shadow a table with
    their own frame and dropTempView it afterwards (several tests do)
    would otherwise leave the cache claiming a registration the catalog
    no longer has, and the next query dies with TABLE_OR_VIEW_NOT_FOUND.
    A cache hit costs one ``temp_views`` lookup and runs no Spark job.

    A fresh registration runs none either.  ``spark.read.parquet`` infers
    a table's schema with one schema-merge job per table; instead each
    schema is read from the parquet footers on the driver with
    ``pyarrow.dataset`` (which, unlike ``pq.read_schema``, also reads a
    Spark-written directory, skipping its ``_SUCCESS`` and hidden files)
    and handed to the reader.  ``prefer_timestamp_ntz`` maps timestamps
    written without a time zone to TIMESTAMP_NTZ, as Spark's inference
    does."""
    if _REGISTERED_DIRS.get(spark) == sf_dir and temp_views(spark).issuperset(TABLES):
        return
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        schema = from_arrow_schema(
            pads.dataset(path, format="parquet").schema, prefer_timestamp_ntz=True
        )
        spark.read.schema(schema).parquet(path).createOrReplaceTempView(t)
    _REGISTERED_DIRS[spark] = sf_dir


# The frames materialized by the running builder; None outside a scope.
_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("query_scope", default=None)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now, cache it and hold the cache in the active query
    scope, which unpersists it with the query's result.  Outside a scope
    the cache stays until the session's cache is cleared.

    The frame it returns is a leaf over the cached rows, so:

    - a loop that reads each round's frame twice, as a self-join does,
      plans against a leaf instead of a tree that doubles every round;
    - the cache can be released, and a plan that still reads the frame
      then recomputes it from lineage, which a local checkpoint cannot;
    - a query reads the cache without looking it up, so
      ``spark.sql(text, name=frame)`` may take the frame: dropping that
      view after analysis uncaches only a plan equal to the view's, and
      the lookup misses a cached plan holding a WITH when a WITH query
      reads it.

    The count is eager: one plan reading a lazily persisted frame several
    times recomputes it in every reader racing to fill the cache."""
    _, leaf = _leaf(df)
    leaf.persist()
    held = _SCOPE.get()
    if held is not None:
        held.append(leaf)
    cached_rows, out = _leaf(leaf)
    cached_rows.count()  # one job fills every partition
    return out


def _leaf(df: DataFrame):
    """``df``'s rows, its plan run now up to the last stage (AQE sizes the
    shuffles), and a leaf frame over them, built the way Spark builds a
    local checkpoint: ``LogicalRDD.fromDataset`` keeps the statistics
    and partitioning.  Without AQE a sort-merge join's ordering can name
    the dropped side's key, which caching the leaf fails on (``key not
    found``), so a leaf whose ordering names a column outside its output
    claims no ordering."""
    spark, jdf = df.sparkSession, df._jdf
    jvm = spark._jvm
    rows = jdf.queryExecution().toRdd()
    plan = _scala_object(jvm.org.apache.spark.sql.execution, "LogicalRDD").fromDataset(
        rows, jdf, False
    )
    order = plan.outputOrdering()
    if not all(
        order.apply(i).references().subsetOf(plan.outputSet()) for i in range(order.size())
    ):
        plan = plan.copy(
            plan.output(), rows, plan.outputPartitioning(),
            _scala_object(jvm.scala.collection.immutable, "Nil"), False, plan.stream(),
            *(plan.otherCopyArgs().apply(i) for i in range(3)),  # session, stats, constraints
        )
    dataset = _scala_object(jvm.org.apache.spark.sql.classic, "Dataset")
    return rows, DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def _scala_object(package, name: str):
    return getattr(getattr(package, name + "$"), "MODULE$")


def _release(held: list[DataFrame]) -> None:
    for df in held:
        df.unpersist()


def query_scope(
    builder: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Run ``builder`` with a fresh scope for ``materialize``.  The frames
    are released at once if it raises, else when the caller drops the
    returned frame."""

    @functools.wraps(builder)
    def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
        held: list[DataFrame] = []
        token = _SCOPE.set(held)
        try:
            out = builder(spark, sf_dir)
        except BaseException:
            _release(held)
            raise
        finally:
            _SCOPE.reset(token)
        weakref.finalize(out, _release, held).atexit = False
        return out

    return scoped


def _sql_query_p(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    """sql_query variant that resolves the ``__P__`` token at CALL time
    to the session's default parallelism (derived from the local master /
    cluster, i.e. $SPARK_GRAFT_CPUS here — scale-adaptive, never a
    hard-coded core count).  Heavy queries use it in
    ``/*+ REPARTITION(__P__) */`` hints placed between a scan and wide
    narrow work (explodes, per-row hashing): the sf parquet files are
    single-row-group, so without the hint the whole pre-shuffle pipeline
    of a query runs in ONE scan task regardless of cores.  Kept separate
    from sql_query's inner ``run`` so token-free registrations keep
    their round-5 fingerprint (scripts/check_gate_prefix.py hashes the
    callable's source)."""

    def run_p(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(
            sql.replace(
                "__P__", str(max(spark.sparkContext.defaultParallelism, 1))
            )
        )

    return run_p


def sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    if "__P__" in sql:
        return _sql_query_p(sql)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


# The driver's correctness gate checks a 50-query PREFIX of this registry,
# so with 100+ registered queries the ordering decides which get a row in
# the driver's hard signal.  Priority rationale lives on _CHECK_FIRST below;
# union of the driver files across rounds covers every registered query, and
# scripts/check_oracle.py remains the local all-queries gate every session.
_CHECK_FIRST = [
    # --- the driver gate checks a 50-row PREFIX.  Round-6 rotation
    # (the optimization round: many implementations were restructured
    # for scale, so CHANGED queries own most of the prefix):
    # (1) the 21 queries whose fingerprint changed since the r05 gate
    #     commit — enforced mechanically by scripts/check_gate_prefix.py
    #     (numpy/distributed Lloyd, array-intersect verifies, first-band
    #     pair joins, vectorized counts, repartition hints, DECIMAL(38)
    #     ppm staging),
    # (2) hand-rotated consumers of SHARED helpers the fingerprint
    #     cannot see: the nine _link_graph users (dense-id fast path),
    #     the lloyd_assign users q_ivf_kmeans / q_pq_codes, q_phash_pairs
    #     (phash_near_dup_pairs first-band rewrite), and the four
    #     _SHINGLES_SPARK consumers registered through helper views
    #     (q_minhash_sig / q_lsh_pairs / q_minhash_est / q_dup_clusters),
    # (3) the stalest vintages for the remaining slots.
    # The query-scope change rotated in its six tail builders (q_bm25 ..
    # q_cohort_retention) in place of six unchanged r02/r03 rows.
    # Shared-helper users of pipeline.banding.banded_pairs (the one band
    # self-join, each pair from its first matching band): q_phash_pairs
    # (through phash_near_dup_pairs), q_simhash_pairs, q_lsh_pairs,
    # q_minhash_est, q_dup_clusters and q_embed_near_dup — all already in
    # the prefix below.
    "q_semantic_dedup",
    "q_containment",
    "q_prefix_join",
    "q_sparse_knn",
    "q_char_entropy",
    "q_cdc_chunks",
    "q_winnowing",
    "q_ngram_novelty",
    "q_ngram_jaccard",
    "q_simhash",
    "q_simhash_pairs",
    "q_tfidf_topk",
    "q_cooccurrence",
    "q_dsir",
    "q_incremental_dedup",
    "q_bm25",
    "q_fuzzy_join",
    "q_substring_dedup",
    "q_quality_curriculum",
    "q_char_lm_score",
    "q_cohort_retention",
    "q_skew_profile",
    "q_ks_distance",
    "q_cosine_topk",
    "q_ann_recall",
    "q_embed_covariance",
    "q_embed_near_dup",
    "q_ivf_kmeans",
    "q_pq_codes",
    "q_phash_pairs",
    "q_minhash_sig",
    "q_lsh_pairs",
    "q_minhash_est",
    "q_dup_clusters",
    "q_pagerank",
    "q_kcore",
    "q_label_prop",
    "q_triangle_count",
    "q_bfs_distance",
    "q_anchor_text",
    "q_random_walks",
    "q_hits_scores",
    "q_degree_histogram",
    # Deleted broadcast hints rotated in the last seven rows in place of
    # seven unchanged driver-checked ones (q_worst_cer .. q_pair_join).
    "q_segment_revenue",
    "q_regional_revenue",
    "q_pareto_users",
    "q_length_quantiles",
    "q_ivf_assign",
    "q_ivf_search",
    "q_vocab_growth",
    # ---- 50-row prefix boundary ----
]
_CHECK_LAST = [
    # freshest-and-unchanged (r05-vintage driver rows, implementations
    # untouched this round) deferred below the boundary; everything
    # between the boundary and these has an r03/r04 row and an unchanged
    # implementation, all green under the local dtype-aware
    # scripts/check_oracle.py gate every session.
    "q_sort_rank",
    "q_row_cluster",
    "q_boundary_f1",
    "q_instance_sep",
    "q_pixel_diff",
    "q_dedup_survivors",
    "q_contamination",
    "q_domain_stats",
    "q_kmv_sketch",
    "q_training_mix",
    "q_stratified_sample",
    "q_ann_lsh_buckets",
    "q_pivot_matrix",
    "q_resume_anti",
    "q_train_test_split",
    "q_seg_metrics",
    "q_confusion",
    "q_box_mad",
    "q_dedup_exact",
    "q_ffill",
    "q_cer",
    "q_topk_orders",
    "q_quality_score",
    "q_lang_id",
    "q_pixel_accuracy",
    "q_data_quality",
    "q_temperature_mix",
    "q_compaction_plan",
]

def all_queries() -> dict[str, QuerySpec]:
    from . import (
        eventops,
        graphops,
        maintenance,
        relational,
        similarity,
        skew,
        textops,
        visual,
        webtext,
    )

    out: dict[str, QuerySpec] = {}
    out.update(relational.QUERIES)
    out.update(textops.QUERIES)
    out.update(maintenance.QUERIES)
    out.update(similarity.QUERIES)
    out.update(eventops.QUERIES)
    out.update(webtext.QUERIES)
    out.update(visual.QUERIES)
    out.update(skew.QUERIES)
    out.update(graphops.QUERIES)
    missing = [n for n in (*_CHECK_FIRST, *_CHECK_LAST) if n not in out]
    assert not missing, f"priority lists name unregistered queries: {missing}"
    ordered = {n: out[n] for n in _CHECK_FIRST}
    for n, spec in out.items():
        if n not in _CHECK_FIRST and n not in _CHECK_LAST:
            ordered[n] = spec
    for n in _CHECK_LAST:
        ordered[n] = out[n]
    return ordered
