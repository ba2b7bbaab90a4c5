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

from bsc_project_spark.queries import _REGISTERED_DIRS, TABLES, all_queries, register_views
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


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    spec = QUERIES[name]
    sdf = spec.spark(spark, SF_DIR)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        assert len(s_rows) >= 0
        return
    res = duck.execute(spec.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert _canon(s_cols, s_rows) == _canon(d_cols, d_rows)


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
