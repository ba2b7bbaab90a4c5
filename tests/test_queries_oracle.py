"""Every registered query must match its DuckDB oracle on sf0.001
(row count + column names + order-insensitive values) — the in-repo replica
of the driver's correctness gate.  NULL keys and ragged arrays either match
the oracle or fail loudly: those tests copy the sf0.001 tables and alter
one of them."""

import math
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bsc_project_spark.queries import (
    _REGISTERED_DIRS,
    TABLES,
    all_queries,
    materialize,
    query_scope,
    register_views,
    temp_views,
)
from bsc_project_spark.queries.similarity import _emb_dim

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_canon_cell(r[i]) for i in order) for r in rows)


def _session_state(spark):
    """Persisted RDDs and temp views: what a query could leave behind."""
    return spark.sparkContext._jsc.getPersistentRDDs().size(), temp_views(spark)


def test_temp_views_match_catalog_listing(spark):
    """``temp_views`` (SHOW VIEWS, no Spark job) lists the same temp views
    as ``catalog.listTables()``, on a session holding the ten table views
    and one more view."""
    register_views(spark, SF_DIR)
    spark.range(1).createOrReplaceTempView("extra_view")
    try:
        listed = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        assert temp_views(spark) == listed
        assert listed >= set(TABLES) | {"extra_view"}
    finally:
        spark.catalog.dropTempView("extra_view")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    """...and, once the caller drops the result, leaves the session's
    cache and temp views as it found them."""
    spec = QUERIES[name]
    register_views(spark, SF_DIR)
    before = _session_state(spark)
    sdf = spec.spark(spark, SF_DIR)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    del sdf
    assert _session_state(spark) == before
    if spec.oracle is None:
        return
    res = duck.execute(spec.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert _canon(s_cols, s_rows) == _canon(d_cols, d_rows)


def _oracle_canon(duck, name):
    res = duck.execute(QUERIES[name].oracle)
    return _canon([d[0].lower() for d in res.description], res.fetchall())


def test_query_scope_releases_on_error_and_keeps_views(spark, duck):
    """A builder that raises releases what it materialized; a caller may
    chain on a result it drops at once (the released frames recompute);
    and no query touches a caller's own temp view of the same name as
    one of its intermediates."""

    def failing(spark, sf_dir):
        materialize(spark.range(10))
        raise RuntimeError("builder failed")

    register_views(spark, SF_DIR)
    before = _session_state(spark)
    with pytest.raises(RuntimeError, match="builder failed"):
        query_scope(failing)(spark, SF_DIR)
    assert _session_state(spark) == before

    rows = QUERIES["q_pagerank"].spark(spark, SF_DIR).orderBy("doc_id").collect()
    cols = ["doc_id", "in_degree", "pagerank"]
    assert _canon(cols, [tuple(r[c] for c in cols) for r in rows]) == _oracle_canon(
        duck, "q_pagerank"
    )
    assert _session_state(spark) == before

    spark.range(3).createOrReplaceTempView("corpus")
    try:
        QUERIES["q_incremental_dedup"].spark(spark, SF_DIR).collect()
        assert [r.id for r in spark.table("corpus").collect()] == [0, 1, 2]
    finally:
        spark.catalog.dropTempView("corpus")


def test_materialized_frame_survives_scoped_sql_argument(spark):
    """spark.sql(text, name=frame) drops its view after analysis, and
    dropping a view uncaches a plan equal to the view's: a materialized
    frame passed that way must stay cached, and be read from the cache,
    until the query's result is dropped."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    n0 = persisted().size()

    def builder(spark, sf_dir):
        m = materialize(spark.range(100).selectExpr("id % 7 AS k"))
        return spark.sql("SELECT k, count(*) AS c FROM {m} GROUP BY k", m=m)

    df = query_scope(builder)(spark, SF_DIR)
    assert persisted().size() == n0 + 1
    assert sorted(r.c for r in df.collect()) == [14, 14, 14, 14, 14, 15, 15]
    assert "CachedPartitions" in df._jdf.queryExecution().toRdd().toDebugString()
    del df
    assert persisted().size() == n0


@pytest.mark.parametrize("name", ["q_prefix_join", "q_containment"])
def test_shingle_set_join_is_sized_by_aqe(spark, duck, name):
    """The per-doc shingle-set join carries no broadcast hint: it
    broadcasts the small sf0.001 sets under the default threshold and
    shuffle-joins, still matching the oracle, when broadcasts are off."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    def run():
        sdf = QUERIES[name].spark(spark, SF_DIR)
        rows = [tuple(r) for r in sdf.collect()]
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        return _canon([c.lower() for c in sdf.columns], rows), plan

    got, plan = run()
    assert "BroadcastHashJoin" in plan
    spark.conf.set(key, "-1")
    try:
        got_off, plan_off = run()
    finally:
        spark.conf.unset(key)
    assert "BroadcastHashJoin" not in plan_off
    assert "SortMergeJoin" in plan_off
    assert got_off == got == _oracle_canon(duck, name)


def _altered_sf(tmp_path, table, alter):
    for t in TABLES:
        src = f"{SF_DIR}/{t}.parquet"
        if t == table:
            pq.write_table(alter(pq.read_table(src)), tmp_path / f"{t}.parquet")
        else:
            shutil.copy(src, tmp_path / f"{t}.parquet")
    return str(tmp_path)


def _with_null_doc_id(tb: pa.Table) -> pa.Table:
    extra = {c: [None if c == "doc_id" else tb.column(c)[0].as_py()] for c in tb.column_names}
    return pa.concat_tables([tb, pa.table(extra, schema=tb.schema)])


@pytest.mark.parametrize("name", ["q_pagerank", "q_anchor_text"])
def test_null_doc_id_matches_oracle(spark, tmp_path, name):
    """The link graph's node count covers the NULL doc_id row (its ids
    frame ranks it), and the two-phase rank places it last, as the
    oracle's ORDER BY does."""
    sf = _altered_sf(tmp_path, "documents", _with_null_doc_id)
    spec = QUERIES[name]
    try:
        sdf = spec.spark(spark, sf)
        s_rows = [tuple(r) for r in sdf.collect()]
        s_cols = [c.lower() for c in sdf.columns]
    finally:
        _REGISTERED_DIRS.clear()  # don't leak the altered views
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        res = con.execute(spec.oracle)
        d_cols = [d[0].lower() for d in res.description]
        d_rows = res.fetchall()
    assert any(r[s_cols.index("doc_id")] is None for r in s_rows)
    assert _canon(s_cols, s_rows) == _canon(d_cols, d_rows)


def test_ragged_embeddings_fail_loudly(spark, tmp_path):
    """The expanded dot products read indices 0..d-1 only: a ragged
    embedding must raise instead of yielding a silently truncated cosine."""

    def ragged(tb: pa.Table) -> pa.Table:
        emb = tb.column("embedding").to_pylist()
        emb[7] = emb[7][:-1]
        return tb.set_column(
            tb.column_names.index("embedding"),
            "embedding",
            pa.array(emb, type=tb.schema.field("embedding").type),
        )

    register_views(spark, SF_DIR)
    d = _emb_dim(spark)
    assert d > 0
    sf = _altered_sf(tmp_path, "embeddings", ragged)
    try:
        register_views(spark, sf)
        with pytest.raises(ValueError, match="ragged"):
            _emb_dim(spark)
    finally:
        _REGISTERED_DIRS.clear()
