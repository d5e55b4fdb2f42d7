"""Differential correctness: every registered query vs the DuckDB oracle.

Mirrors the driver's t2 gate (row count + column names + values) at sf0.01.
Parametrized over the registry so a newly registered query is automatically
under test.
"""

from __future__ import annotations

import pytest

from olr_cdc_oracle_with_dbz_spark.plans.parity import check_query
from olr_cdc_oracle_with_dbz_spark.registry import load_all


def _names():
    return sorted(load_all().keys())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, sf_dir, duck, name):
    ok, msg = check_query(spark, name, sf_dir, con=duck)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_q23_null_groups_match_count_distinct_semantics(spark, tmp_path):
    """ADVICE r10 edge case: q23's two-pass split must keep single-aggregate
    COUNT(DISTINCT) semantics on data TPC-H never exercises — a group whose
    l_orderkey values are all NULL (n_order = 0, group NOT dropped) and a
    NULL l_returnflag group (must survive the null-safe rejoin)."""
    sf = str(tmp_path / "sfnull")
    import os

    os.makedirs(sf, exist_ok=True)
    li_rows = [
        # rf 'A': normal group, 2 distinct orderkeys
        ("A", 1, 10, 100),
        ("A", 2, 10, 101),
        ("A", 1, 11, 100),
        # rf 'X': every orderkey NULL -> COUNT(DISTINCT l_orderkey) = 0
        ("X", None, 12, 102),
        ("X", None, 12, 103),
        # rf NULL: a real group for GROUP BY semantics
        (None, 3, 13, 104),
    ]
    spark.createDataFrame(
        li_rows, "l_returnflag string, l_orderkey bigint, l_suppkey bigint, l_partkey bigint"
    ).write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2)], "o_orderkey bigint, o_custkey bigint"
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")

    from olr_cdc_oracle_with_dbz_spark.operators.aggregates import (
        q23_count_distinct,
    )

    got = {
        r["l_returnflag"]: (r["n_supp"], r["n_part"], r["n_order"])
        for r in q23_count_distinct(spark, sf).collect()
    }
    # reference semantics: SELECT l_returnflag, COUNT(DISTINCT ...) x3
    assert got == {
        "A": (2, 2, 2),
        "X": (1, 2, 0),
        None: (1, 1, 1),
    }


def test_q43c_negative_zero_zip_dot_matches_oracle(spark, tmp_path):
    """A zip_dot whose decimal sum is a small negative rounds to zero:
    DuckDB's ROUND keeps the sign (-0.0) and the driver hashes the
    rendered value, so the Spark side must return -0.0 too, not +0.0."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from olr_cdc_oracle_with_dbz_spark.plans.parity import compare_frames

    sf = tmp_path / "sfnegzero"
    sf.mkdir()
    zeros = [0.0] * 16
    negzero = list(zeros)
    negzero[0], negzero[8] = -0.0005, 0.0008  # product ~ -4e-7 -> -0.0
    poszero = list(zeros)
    poszero[0], poszero[8] = 0.0005, 0.0008  # product ~ +4e-7 -> +0.0
    plain = [float(i % 5) - 2.0 for i in range(16)]
    table = pa.table(
        {
            "vec_id": pa.array([1, 2, 3, 4], pa.int64()),
            "embedding": pa.array(
                [negzero, poszero, plain, zeros], pa.list_(pa.float32())
            ),
            "label": pa.array([0, 0, 0, 0], pa.int32()),
        }
    )
    pq.write_table(table, sf / "embeddings.parquet")

    spec = load_all()["q43c_higher_order"]
    got = spec.spark_fn(spark, str(sf)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
        )
        want = con.execute(spec.oracle).df()
    finally:
        con.close()
    assert np.signbit(want["zip_dot"].iloc[0])  # the oracle's -0.0 row
    ok, msg = compare_frames(got, want)
    assert ok, msg
