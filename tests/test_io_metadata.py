"""io metadata: footer row counts, and the schema memo behind ``io.load``.

io.table_rows — footer-metadata row counts for sizing/audit gates (r13).

The r13 optimization replaced raw-table sizing ``count()`` jobs (geomedian
partition sizing, similarity grid sizing, audit-gate thresholds) with
parquet-footer row counts.  Value identity is the whole contract: the
footer count must equal ``load(...).count()`` for every fixture table, or
partition counts / audit slices silently change.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_DIR

from odc_product_docker_images_spark import io
from odc_product_docker_images_spark.io import load, table_rows


def test_table_rows_matches_spark_count(spark):
    for table in ("lineitem", "events", "documents", "embeddings"):
        assert table_rows(SF_DIR, table) == load(spark, SF_DIR, table).count(), table


def test_table_rows_handles_directory_tables(spark, tmp_path):
    """Replica fixtures are DIRECTORIES of part files — the footer count
    must sum every part."""
    out = tmp_path / "t.parquet"
    spark.range(1234).write.mode("overwrite").parquet(str(out))
    assert table_rows(str(tmp_path), "t") == 1234


def test_load_schema_equals_inferred(spark):
    """A load served from the schema memo has exactly the schema an
    inferring read gives, nullability included, for every fixture table;
    only the feed timestamp is normalized to ``timestamp``."""
    tables = sorted(p.name.removesuffix(".parquet") for p in Path(SF_DIR).glob("*.parquet"))
    assert {"lineitem", "orders", "events", "documents", "embeddings"} <= set(tables)
    for t in tables:
        load(spark, SF_DIR, t)  # fills the memo (and sets the nanos conf for events)
        inferred = spark.read.parquet(f"{SF_DIR}/{t}.parquet").schema
        want = T.StructType([
            T.StructField(f.name, T.TimestampType(), f.nullable)
            if f.name in io._NANOS_TS.get(t, []) else f
            for f in inferred.fields
        ])
        assert load(spark, SF_DIR, t).schema == want, t
    assert dict(load(spark, SF_DIR, "events").dtypes)["ts"] == "timestamp"


def test_load_sees_a_rewritten_table(spark, tmp_path):
    """Rewriting a table in place changes its fixture tag: the next load
    infers again and shows the new column and rows."""
    out = str(tmp_path / "t.parquet")
    spark.range(10).write.mode("overwrite").parquet(out)
    assert load(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(20).withColumn("extra", F.col("id") * 2).write.mode("overwrite").parquet(out)
    again = load(spark, str(tmp_path), "t")
    assert again.columns == ["id", "extra"]
    assert again.count() == 20


def test_two_loads_of_one_table_self_join(spark):
    """Each load is a fresh relation: a non-equi self-join over two loads
    of one table resolves and returns rows (a memoized DataFrame on both
    sides raises an ambiguous-column error)."""
    a = load(spark, SF_DIR, "orders")
    b = load(spark, SF_DIR, "orders")
    rows = a.join(b, a.o_orderkey < b.o_orderkey).select(a.o_orderkey).limit(5).collect()
    assert len(rows) == 5
