"""Per-operator DuckDB-oracle parity — local replica of the driver's t2 gate.

Every registered query key with an oracle is compared at sf0.001 (fast);
run with ``SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01`` to mirror the
driver exactly.  Every key's output columns must be hashable scalars.
Keys without an oracle get a smoke check (runs, stable schema: the plan's
column names, and a non-empty result).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from tools.check_parity import canon_rows, compare, duck_con

from odc_product_docker_images_spark import registry


# Keys without an oracle whose result may be empty at the test scale, each
# with a one-line reason.  None today: all of them return rows at sf0.001.
_EMPTY_OK: dict[str, str] = {}

# The driver's canonicalizer converts the result to pandas and sorts and
# hashes every cell; array/map/struct columns arrive as ndarray/dict cells
# and raise ``TypeError: unhashable type`` — a hard red row regardless of
# the math (this killed ``agg_approx_percentile`` in round 1).
_UNHASHABLE = (T.ArrayType, T.MapType, T.StructType)


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
    df = q.fn(spark, sf_dir)
    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, _UNHASHABLE)
    ]
    assert not bad, f"{key}: non-scalar output columns break the driver gate: {bad}"
    sdf = df.toPandas()
    if q.oracle is None:
        assert list(sdf.columns) == df.schema.names
        if key not in _EMPTY_OK:
            assert len(sdf) > 0, f"{key}: no rows"
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
