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


def test_materialize_without_aqe_matches_oracle(spark, duck):
    """With AQE off, q_prefix_join's materialized sort-merge join output
    carries an ordering on the dropped side's key; its leaf must not
    claim it, or caching the leaf fails with ``key not found``."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        sdf = QUERIES["q_prefix_join"].spark(spark, SF_DIR)
        rows = [tuple(r) for r in sdf.collect()]
        cols = [c.lower() for c in sdf.columns]
        del sdf
    finally:
        spark.conf.set(key, prev)
    assert _canon(cols, rows) == _oracle_canon(duck, "q_prefix_join")


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


def _oracle_on(sf, name):
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        return _oracle_canon(con, name)


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
    assert any(r[s_cols.index("doc_id")] is None for r in s_rows)
    assert _canon(s_cols, s_rows) == _oracle_on(sf, name)


@pytest.mark.parametrize("tables", ["test", "null_doc_id"])
@pytest.mark.parametrize("route", ["numpy", "rounds"])
def test_pagerank_routes_match_oracle(spark, tmp_path, monkeypatch, route, tables):
    """PageRank's one-task numpy route (packed edges within
    ``config.DRIVER_STATE_BYTES``) and its distributed rounds (forced by a
    budget of 0) both match the oracle, on the test tables and with a
    NULL doc_id row added."""
    from bsc_project_spark import config

    if route == "rounds":
        monkeypatch.setattr(config, "DRIVER_STATE_BYTES", 0)
    sf = SF_DIR if tables == "test" else _altered_sf(
        tmp_path, "documents", _with_null_doc_id
    )
    try:
        sdf = QUERIES["q_pagerank"].spark(spark, sf)
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        s_rows = [tuple(r) for r in sdf.collect()]
        s_cols = [c.lower() for c in sdf.columns]
    finally:
        _REGISTERED_DIRS.clear()  # don't leak the altered views
    assert ("MapInPandas" in plan) == (route == "numpy")
    assert "BatchEvalPython" not in plan
    assert _canon(s_cols, s_rows) == _oracle_on(sf, "q_pagerank")


def test_warm_pagerank_job_count(spark, spark_jobs):
    """Below the edge ceiling a warm q_pagerank runs a handful of jobs:
    the link graph's stats, ids and edges, then the edge packing, the
    numpy task and the join back.  Its distributed rounds ran 39."""

    def run():
        return QUERIES["q_pagerank"].spark(spark, SF_DIR).collect()

    run()
    jobs = spark_jobs(run)
    assert jobs <= 12, f"warm q_pagerank ran {jobs} Spark jobs"


def _spark_written_sf(spark, out):
    """Every table rewritten by Spark: a directory of part files with a
    ``_SUCCESS`` marker and hidden checksum files."""
    for t in TABLES:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").coalesce(1).write.parquet(
            f"{out}/{t}.parquet"
        )
    return str(out)


@pytest.mark.parametrize(
    "tables", ["sf0.001", "sf0.01", "sf0.1", "spark_written", "pyarrow_rewritten"]
)
def test_register_views_reads_the_inferred_schemas(spark, tmp_path, tables):
    """The schemas ``register_views`` reads from the parquet footers equal
    the ones ``spark.read.parquet`` infers, for every table: the test
    tables at three scales, a Spark-written directory, and a file
    pyarrow rewrote."""
    if tables == "spark_written":
        sf = _spark_written_sf(spark, tmp_path)
    elif tables == "pyarrow_rewritten":
        sf = _altered_sf(tmp_path, "documents", _with_null_doc_id)
    else:
        sf = os.path.join(os.path.dirname(SF_DIR), tables)
    try:
        register_views(spark, sf)
        got = {t: spark.table(t).schema for t in TABLES}
    finally:
        _REGISTERED_DIRS.clear()  # don't leak the views of this dir
    assert got == {t: spark.read.parquet(f"{sf}/{t}.parquet").schema for t in TABLES}


def test_fresh_register_views_runs_no_job(spark, spark_jobs):
    """A registration on a session that does not hold the views reads the
    schemas on the driver and launches no Spark job."""
    _REGISTERED_DIRS.clear()
    jobs = spark_jobs(lambda: register_views(spark, SF_DIR))
    assert _REGISTERED_DIRS[spark] == SF_DIR
    assert jobs == 0, f"a fresh register_views ran {jobs} Spark jobs"


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
