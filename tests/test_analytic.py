"""Analytic-core queries vs DuckDB at sf0.001 (fast full-suite check;
the driver repeats this at sf0.01)."""

import os

import duckdb
import pytest

from immoeliza_pipeline_spark.plans import analytic


def _oracle(sql, sf_dir):
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, res.fetchall()


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return str(round(v, 6))
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


def assert_matches_oracle(sdf, sql, sf_dir):
    ocols, orows = _oracle(sql, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    s_order = sorted(range(len(scols)), key=lambda i: scols[i])
    o_order = sorted(range(len(ocols)), key=lambda i: ocols[i])
    s_set = sorted(tuple(_norm(r[i]) for i in s_order) for r in srows)
    o_set = sorted(tuple(_norm(r[i]) for i in o_order) for r in orows)
    assert s_set == o_set


@pytest.mark.parametrize("name", sorted(analytic.QUERIES))
def test_analytic_query(spark, sf_dir, name):
    fn, sql = analytic.QUERIES[name]
    sdf = fn(spark, sf_dir)
    if sql is None:
        assert sdf.count() >= 0
    else:
        assert_matches_oracle(sdf, sql, sf_dir)


@pytest.mark.parametrize("name", ["rollup_order_status",
                                  "cube_priority_status"])
def test_grouping_sets_on_empty_orders(tmp_path, spark, sf_dir, name):
    """An empty orders table gives the oracle's SQL-standard
    grand-total row (NULL keys, n_orders 0), not zero rows."""
    for f in os.listdir(sf_dir):
        if f != "orders.parquet":
            os.symlink(os.path.join(sf_dir, f), tmp_path / f)
    duckdb.execute(f"COPY (SELECT * FROM '{sf_dir}/orders.parquet' LIMIT 0)"
                   f" TO '{tmp_path}/orders.parquet' (FORMAT parquet)")
    fn, sql = analytic.QUERIES[name]
    sdf = fn(spark, str(tmp_path))
    assert sdf.count() == 1
    assert_matches_oracle(sdf, sql, str(tmp_path))
