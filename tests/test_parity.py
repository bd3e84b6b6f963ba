"""DuckDB-oracle parity for every registered query (driver-gate replica)."""

from __future__ import annotations

import pytest

from rag_vector_database_spark.plans.registry import REGISTRY

from .oracle import compare


@pytest.mark.parametrize("qdef", [q for q in REGISTRY if q.oracle],
                         ids=[q.name for q in REGISTRY if q.oracle])
def test_oracle_parity(spark, sf_dir, qdef):
    df = qdef.builder(spark, sf_dir)
    ok, msg = compare(df, qdef.oracle, sf_dir)
    assert ok, f"{qdef.name}: {msg}"


_NO_ORACLE = [q for q in REGISTRY if not q.oracle]


@pytest.mark.skipif(not _NO_ORACLE, reason="all queries have oracles")
@pytest.mark.parametrize("qdef", _NO_ORACLE, ids=[q.name for q in _NO_ORACLE])
def test_rows_only(spark, sf_dir, qdef):
    df = qdef.builder(spark, sf_dir)
    assert df.count() >= 0


def test_registry_names_unique_and_wired():
    """Duplicate names would silently shadow entries in the queries()
    dict the driver consumes; every oracle must be non-empty SQL."""
    names = [q.name for q in REGISTRY]
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1)
    for q in REGISTRY:
        if q.oracle is not None:
            assert q.oracle.strip().upper().startswith(
                ("SELECT", "WITH", "(")), q.name


def test_trajectory_knn_null_user_id(spark, sf_dir, tmp_path):
    """A user_id-NULL trajectory is never the query user: the oracle's
    min(user_id) ignores NULL, so the Spark probe sorts NULLs last."""
    import os

    import duckdb

    from rag_vector_database_spark.plans.registry import (REGISTRY,
                                                          q_trajectory_knn)

    src = f"{sf_dir}/events.parquet"
    for name in os.listdir(sf_dir):
        if name != "events.parquet":
            os.symlink(f"{sf_dir}/{name}", tmp_path / name)
    duckdb.sql(f"""
        COPY (SELECT * FROM '{src}' UNION ALL
              SELECT 1000000 + i, TIMESTAMP '2024-01-01' + i * INTERVAL 1 MINUTE,
                     NULL, ['view', 'click', 'purchase'][i + 1], 1.0, NULL
              FROM range(3) t(i))
        TO '{tmp_path}/events.parquet' (FORMAT parquet)""")
    oracle = next(q.oracle for q in REGISTRY if q.name == "trajectory_knn")
    ok, msg = compare(q_trajectory_knn(spark, str(tmp_path)), oracle,
                      str(tmp_path))
    assert ok, msg
