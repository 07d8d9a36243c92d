"""Smoke test of the driver contract (mirrors the driver's t1 check)."""

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"id", "cluster_id", "url"}
    # every clustered id belongs to exactly one cluster
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    # every document is returned, singletons included
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = docs.select("doc_id").collect()
    assert sorted(ids) == sorted(r["doc_id"] for r in want)
    # cluster_id is the minimum member id of its cluster
    members = {}
    for r in rows:
        members.setdefault(r["cluster_id"], []).append(r["id"])
    assert all(c == min(m) for c, m in members.items())
    # the id restore keeps the integral id's type
    assert df.schema["cluster_id"].dataType == df.schema["id"].dataType


def test_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle key corresponds to a query
    assert set(oracles) <= set(qs)
