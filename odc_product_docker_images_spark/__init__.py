"""PySpark-native analytics engine with the query/data-processing surface of
``SatelliteApplicationsCatapult/odc-product-docker-images`` (Open Data Cube
EO-product batch pipelines), re-expressed Spark-first.

The reference stack loads analysis-ready satellite imagery (``Datacube.load``),
computes derived products with numpy/xarray (mosaics, water classification,
NDVI anomaly, fractional cover, geomedian composites), and writes partitioned
output.  Here the same semantics are declared as Spark DataFrame plans over
columnar Parquet: band math is column arithmetic, composites are grouped
aggregations over the time axis, epoch comparisons are joins, QA masks are
bitwise predicates, and the Redis task stream becomes Structured Streaming.

Layout (SURVEY.md §7):
    session.py    SparkSession builder (AQE, Arrow, UTC)
    schemas.py    fixed StructType registry per table (§1 schema system)
    io.py         parquet scan/sink helpers with pushdown-friendly layout
    registry.py   query-key -> (callable, oracle SQL) registry (driver contract)
    scratch.py    .tmp space: per-call directories + write-once artifacts
    operators/    scans, projections, joins, aggregates, windows, setops
    functions/    scalar families + determinism helpers
    kernels/      pandas-UDF/UDAF kernels (geomedian, frac cover, wofs)
    streaming/    Structured Streaming surface + batch-form analogs
    textvec/      dedup / similarity / text-analysis extension surface
    plans/        explain-plan checks (pushdown/broadcast assertions)
"""

__version__ = "0.1.0"
