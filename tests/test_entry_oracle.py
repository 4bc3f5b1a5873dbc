"""Local mirror of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
on DuckDB over the same parquet, compare row count, column names, and
exact values (order-insensitive)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _assert_equal(spark_pdf: pd.DataFrame, ddb_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(ddb_pdf.columns), name
    assert len(spark_pdf) == len(ddb_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(ddb_pdf)}")
    a, b = _canon(spark_pdf), _canon(ddb_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"
            else:
                assert str(x) == str(y), f"{name}.{col}[{i}]: {x!r} != {y!r}"


ORACLE_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    ddb_pdf = ddb.sql(entry_mod.oracle_sql()[name]).df()
    assert len(spark_pdf) > 0 or name in ("dedup_exact", "token_jaccard_pairs"), \
        f"{name}: empty result"
    _assert_equal(spark_pdf, ddb_pdf, name)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run with stable schema."""
    qs = entry_mod.queries()
    for name in sorted(set(qs) - set(ORACLE_NAMES)):
        df = qs[name](spark, SF_DIR)
        n = df.count()
        assert n >= 0, name
        assert len(df.columns) > 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_ann_topk_dot_null_vectors_match_oracle(spark, tmp_path):
    """A NULL embedding on either side gives a NULL dot, as DuckDB's
    list_dot_product does, ranked last by both engines — instead of
    failing the batch kernel. One query vector (vec_id < 50) and one
    corpus vector are NULLed in a copy of the embeddings table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    emb = [None if i in (7, 300) else v
           for i, v in zip(ids, t.column("embedding").to_pylist())]
    t = t.set_column(t.schema.get_field_index("embedding"),
                     t.schema.field("embedding"),
                     pa.array(emb, type=t.schema.field("embedding").type))
    pq.write_table(t, tmp_path / "embeddings.parquet")

    spark_pdf = entry_mod.queries()["ann_topk_dot"](
        spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute("create view embeddings as select * from "
                f"'{tmp_path}/embeddings.parquet'")
    ddb_pdf = con.sql(entry_mod.oracle_sql()["ann_topk_dot"]).df()
    assert spark_pdf["dot"].isna().sum() == 5  # query 7's whole top-5
    _assert_equal(spark_pdf, ddb_pdf, "ann_topk_dot")
