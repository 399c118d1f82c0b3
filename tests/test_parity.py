"""Per-operator DuckDB-oracle parity — local replica of the driver's t2 gate.

Every registered query key with an oracle is compared at sf0.001 (fast);
run with ``SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01`` to mirror the
driver exactly.  Keys without an oracle get a smoke check (runs, stable
schema, >=0 rows).
"""

from __future__ import annotations

import pytest

from tools.check_parity import canon_rows, compare, duck_con

from odc_product_docker_images_spark import registry


def _keys():
    return sorted(registry.all_queries())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("key", _keys())
def test_query_parity(key, spark, sf_dir, duck):
    q = registry.all_queries()[key]
    sdf = q.fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        assert len(sdf) >= 0
        return
    ddf = duck.execute(q.oracle).df()
    problems = compare(key, sdf, ddf)
    assert not problems, f"{key}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 5


def test_registry_consistency():
    qs = registry.queries()
    os_ = registry.oracle_sql()
    assert set(os_) <= set(qs)
    registering = {fn.__module__ for fn in qs.values()}
    silent = [m for m in registry._MODULES if m not in registering]
    assert not silent, f"registry modules that register no key: {silent}"
