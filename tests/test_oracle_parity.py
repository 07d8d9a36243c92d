"""Mirror of the driver's correctness gate: every registry query runs in
Spark AND its oracle SQL runs in DuckDB on the same parquet tables; the two
results must match exactly (row count, column names, sorted values).

Strictness is deliberate: the driver hash-compares values, so any float
that differs in the last bit here would fail there. Queries are therefore
designed with identical arithmetic + explicit rounding on both sides.
"""

import hashlib
import json
import math
import os

import duckdb
import pytest

from entity_linking_spark.queries import oracle_sql, queries

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0  # normalize -0.0
            vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return sorted(c for c in cols), out


@pytest.mark.parametrize("name", sorted(queries().keys()))
def test_query_matches_oracle(spark, name):
    fn = queries()[name]
    sql = oracle_sql().get(name)
    sdf = fn(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    if sql is None:
        # rows-only check (driver's weaker path for non-SQL-expressible ops)
        assert len(spark_rows) >= 0
        return
    con = _duck(SF_DIR)
    try:
        res = con.execute(sql)
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    finally:
        con.close()
    s_cols, s_vals = _normalize(spark_rows, spark_cols)
    d_cols, d_vals = _normalize(duck_rows, duck_cols)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_vals) == len(d_vals), (
        f"{name}: row count {len(s_vals)} vs {len(d_vals)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_vals, d_vals) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} value mismatches; first: {mismatches[:3]}"


def test_registry_guard():
    # the correctness gate checks at most 50 queries, and a refactor of
    # the shared operators must not change an oracle string unnoticed: a
    # deliberate oracle edit updates this digest in the same commit
    assert len(queries()) <= 50
    digest = hashlib.sha256(json.dumps(oracle_sql(), sort_keys=True).encode())
    assert digest.hexdigest()[:16] == "20c17ff6df69e8aa"
