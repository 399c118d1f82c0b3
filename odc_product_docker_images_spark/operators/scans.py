"""Scans with pushdown (SURVEY.md §2.1 S1/P1/P2).

Reference analog: ``Datacube.load(product, time=(t0,t1), lat/lon,
measurements=[...])`` — the Postgres index resolves the spatiotemporal
predicate (pushdown) and GDAL reads only the requested bands (column
pruning).  Spark-first: declare ``select`` + ``where`` on the parquet scan
and Catalyst pushes both into the reader — ``.explain`` shows
``PushedFilters`` and a pruned ``ReadSchema`` (asserted in
``plans/checks.py``).  At 100 TB the same plan prunes whole partitions
when the table is laid out ``partitionBy(time_key)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.det import davg, dround, dsum, sql_davg, sql_dround, sql_dsum
from ..io import load, write_partitioned
from ..registry import register
from ..scratch import fresh


@register(
    "scan_pushdown",
    oracle="""
        SELECT l_orderkey, l_quantity, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity > 30
    """,
)
def scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1: band selection + time predicate, both pushed into the scan."""
    return (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_shipdate")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 30)
        )
    )


@register(
    "filter_range",
    oracle="""
        SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_partkey BETWEEN 100 AND 500
    """,
)
def filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: spatio-temporal bbox analog — time range + key range (the
    lat/lon bbox of ``datacube.api.query.Query``, re-expressed as sargable
    range predicates that reach the parquet row-group stats)."""
    lf = load(spark, sf_dir, "lineitem")
    return lf.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_partkey").between(100, 500)
    ).select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")


# filter_polygon's area of interest: a deliberately NON-convex hexagon in
# the (value, user_id) plane so the even-odd rule is actually exercised
# (a convex polygon never yields >1 crossing on a side).  Vertex y's sit
# at .5 offsets: user_id is integer-valued, so no test point ever lands
# exactly on a vertex scanline and the crossing convention's tie rule is
# never reached — parity can't hinge on it.
_POLY = [
    (50.0, 10.5),
    (250.0, 40.5),
    (450.0, 10.5),
    (350.0, 80.5),
    (450.0, 140.5),
    (150.0, 120.5),
]


def _poly_crossings_sql(px: str, py: str) -> str:
    """Even-odd crossing count, one CASE term per edge — the SAME
    left-to-right IEEE arithmetic the Spark side builds, so the strict
    float comparisons agree bit-for-bit across engines.  Every vertex
    literal is CAST AS DOUBLE (the CLAUDE.md literal rule): bare float
    literals parse as DECIMAL in DuckDB, and a DECIMAL (x2-x1) would
    evaluate exactly while Spark subtracts doubles — it only happens to
    agree for binary-exact .0/.5 vertices, and the cast keeps parity
    independent of the coordinates chosen."""

    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    terms = []
    n = len(_POLY)
    for i in range(n):
        (x1, y1), (x2, y2) = _POLY[i], _POLY[(i + 1) % n]
        terms.append(
            f"CASE WHEN (({d(y1)} > {py}) != ({d(y2)} > {py}))"
            f" AND ({px} < ({d(x2)} - {d(x1)}) * ({py} - {d(y1)})"
            f" / ({d(y2)} - {d(y1)}) + {d(x1)}) THEN 1 ELSE 0 END"
        )
    return " + ".join(terms)


@register(
    "filter_polygon",
    oracle=f"""
        SELECT event_id, user_id, value
        FROM events
        WHERE value >= 50.0 AND value <= 450.0
          AND user_id >= 11 AND user_id <= 140
          AND ({_poly_crossings_sql("value", "CAST(user_id AS DOUBLE)")}) % 2 = 1
    """,
)
def filter_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+: polygon area-of-interest filter — the reference's
    ``dc.load(geopolygon=...)`` / ``datacube.utils.geometry`` mask.  The
    index resolves datasets intersecting the polygon, then per-pixel
    masking keeps only coordinates inside it; here both collapse into one
    predicate: an even-odd ray cast (crossing count of a rightward ray
    against each polygon edge) written as a per-edge CASE sum.  Spark-first:
    the whole test is a single codegen'd expression riding the scan — no
    UDF, no join, no shuffle; the polygon's bounding box is ALSO emitted
    as sargable min/max range predicates (the filter_range pattern — a
    strict superset of the inside set, with the integer y coordinate
    rounded inward past the .5-offset vertex scanlines) so parquet
    row-group stats prune before the exact test runs: PLANS.md shows the
    pushed bbox while the ray cast stays in the codegen stage.
    Determinism: both engines evaluate the identical literal arithmetic
    (one multiply, one divide, strict compares per edge) on the identical
    operand order, and the crossing count is exact integer arithmetic."""
    ev = load(spark, sf_dir, "events").where(
        (F.col("value") >= 50.0)
        & (F.col("value") <= 450.0)
        & (F.col("user_id") >= 11)
        & (F.col("user_id") <= 140)
    )
    px, py = F.col("value"), F.col("user_id").cast("double")
    n = len(_POLY)
    crossings = None
    for i in range(n):
        (x1, y1), (x2, y2) = _POLY[i], _POLY[(i + 1) % n]
        cross = (
            ((F.lit(y1) > py) != (F.lit(y2) > py))
            & (px < (F.lit(x2) - F.lit(x1)) * (py - F.lit(y1)) / (F.lit(y2) - F.lit(y1)) + F.lit(x1))
        ).cast("int")
        crossings = cross if crossings is None else crossings + cross
    return ev.where(crossings % 2 == 1).select("event_id", "user_id", "value")


# Both tile sources synthesize or decode the same pixels, so both scans
# share one oracle: DuckDB regenerates the pixels from RANGE and runs the
# same composite.
_TILE_SCAN_ORACLE = f"""
        WITH px AS (
            SELECT a.range AS y, b.range AS x,
                   CAST((a.range * 31 + b.range * 17) % 255 AS DOUBLE) AS red,
                   CAST((a.range * 13 + b.range * 41) % 255 AS DOUBLE) AS nir
            FROM RANGE(0, 128) a CROSS JOIN RANGE(0, 128) b
        )
        SELECT CAST(FLOOR(y / 16) AS BIGINT) AS cell_y,
               CAST(FLOOR(x / 16) AS BIGINT) AS cell_x,
               {sql_davg("(nir - red) / (nir + red + 1e-9)", "mean_ndvi")},
               COUNT(*) AS n_px
        FROM px GROUP BY 1, 2
    """


def _ndvi_cells(spark: SparkSession, blob_dir: str | None = None) -> DataFrame:
    """Read 4×4 tiles of 32² pixels (``tile_source.tile_pixels``), then
    NDVI band math → regrid (floor-divide grid binning, the GeoBox cell-id
    trick) → per-cell composite.  One shuffle (the regrid groupBy); tile
    reads are independent executor tasks."""
    from ..sources.tile_source import tile_pixels

    px = tile_pixels(spark, tiles=4, tile_size=32, blob_dir=blob_dir)
    ndvi = (px["nir"] - px["red"]) / (px["nir"] + px["red"] + F.lit(1e-9))
    cell = [F.floor(F.col("y") / 16).cast("long").alias("cell_y"),
            F.floor(F.col("x") / 16).cast("long").alias("cell_x")]
    return (
        px.select(*cell, ndvi.alias("ndvi"))
        .groupBy("cell_y", "cell_x")
        .agg(
            davg("ndvi", "mean_ndvi"),
            F.count(F.lit(1)).alias("n_px"),
        )
    )


@register("source_tile_scan", oracle=_TILE_SCAN_ORACLE)
def source_tile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the Datacube.load pipeline as a ``mapInArrow`` tile scan —
    per-tile parallel read → NDVI band math → regrid → per-cell composite.

    The source's pixel formula is deterministic integer arithmetic
    (tile_source.py), so the WHOLE pipeline carries a full value-hash
    oracle.  Cross-engine traps handled: explicit FLOOR before the
    BIGINT cast (DuckDB's double→int cast ROUNDS, Spark's truncates) and
    the cell mean through the exact decimal path (a bare AVG of doubles is
    summation-order-dependent)."""
    return _ndvi_cells(spark)


@register("source_tile_scan_tiff", oracle=_TILE_SCAN_ORACLE)
def source_tile_scan_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: ``source_tile_scan``'s pipeline with the GDAL-shaped read made
    REAL — each tile's read task opens and decodes actual striped
    GeoTIFF blobs (the ``multimodal/geotiff.py`` reader: header, IFD,
    out-of-line strip offset/byte-count arrays, geo tags) instead of
    synthesizing pixels arithmetically.  The blob store is generated
    write-once from the SAME deterministic formula, so the DuckDB RANGE
    oracle still hashes the WHOLE pipeline end-to-end: a codec bug
    (wrong strip order, endianness, offset arithmetic) lands in the
    pixel values and flips the hash row.  Per-tile decode tasks are
    independent executor reads — the Datacube.load / GDAL fan-out
    shape; at 100 TB the blob dir is the object bucket."""
    from ..sources.tile_source import ensure_tiff_tiles

    return _ndvi_cells(spark, blob_dir=ensure_tiff_tiles(tiles=4, tile_size=32))


@register(
    "regrid_bin",
    oracle=f"""
        SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS cell_x,
               CAST(FLOOR(user_id / 100.0) AS BIGINT) AS cell_y,
               COUNT(*) AS n_obs,
               {sql_davg("value", "mean_value")},
               CAST(MAX(event_id) AS BIGINT) AS latest_event
        FROM events
        GROUP BY 1, 2
    """,
)
def regrid_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regrid as a first-class operator: the reference re-loads with a new
    ``output_crs``/``resolution`` (GeoBox), which is exactly fixed-width
    grid binning — cell id = ``floor(coord / res)`` — followed by a
    per-cell composite.  One shuffle (the cell groupBy, partial-aggregated
    map-side); at 100 TB the cell key doubles as the write-partitioning
    key so downstream tile reads prune by directory."""
    ev = load(spark, sf_dir, "events")
    cell_x = F.floor(F.col("value") / F.lit(25.0)).cast("bigint").alias("cell_x")
    cell_y = F.floor(F.col("user_id") / F.lit(100.0)).cast("bigint").alias("cell_y")
    return ev.groupBy(cell_x, cell_y).agg(
        F.count(F.lit(1)).alias("n_obs"),
        davg("value", "mean_value"),
        F.max("event_id").cast("bigint").alias("latest_event"),
    )


_BL_STEPS = 200  # target samples per axis at 1/4-cell pitch: tx = i/4 ≤ 49.75


@register(
    "regrid_bilinear",
    oracle=f"""
        WITH grid AS (
            SELECT l_partkey % 100 AS gx, l_suppkey % 100 AS gy,
                   {sql_davg("l_quantity", "v")}
            FROM lineitem GROUP BY 1, 2
        ), t AS (
            SELECT a.range / 4.0 AS tx, b.range / 4.0 AS ty
            FROM RANGE(0, {_BL_STEPS}) a CROSS JOIN RANGE(0, {_BL_STEPS}) b
        ), corners AS (
            SELECT tx, ty, CAST(FLOOR(tx) AS BIGINT) AS gx,
                   CAST(FLOOR(ty) AS BIGINT) AS gy,
                   (1 - (tx - FLOOR(tx))) * (1 - (ty - FLOOR(ty))) AS w FROM t
            UNION ALL
            SELECT tx, ty, CAST(FLOOR(tx) + 1 AS BIGINT), CAST(FLOOR(ty) AS BIGINT),
                   (tx - FLOOR(tx)) * (1 - (ty - FLOOR(ty))) FROM t
            UNION ALL
            SELECT tx, ty, CAST(FLOOR(tx) AS BIGINT), CAST(FLOOR(ty) + 1 AS BIGINT),
                   (1 - (tx - FLOOR(tx))) * (ty - FLOOR(ty)) FROM t
            UNION ALL
            SELECT tx, ty, CAST(FLOOR(tx) + 1 AS BIGINT), CAST(FLOOR(ty) + 1 AS BIGINT),
                   (tx - FLOOR(tx)) * (ty - FLOOR(ty)) FROM t
        )
        SELECT tx, ty, {sql_dsum("w * v", "v_bilinear")}
        FROM corners JOIN grid USING (gx, gy)
        GROUP BY tx, ty HAVING COUNT(*) = 4
    """,
)
def regrid_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regrid with BILINEAR resampling — the reference's
    ``load(resampling="bilinear")`` path: sample the source raster at a
    finer target pitch, each target value the 4-corner weighted mean.

    Relational shape: composite the source to a dense cell grid ONCE (one
    hash-agg through the exact decimal path so both engines hold the
    identical raster), generate the target lattice declaratively
    (``spark.range`` × ``spark.range``), EXPLODE each target into its 4
    (corner key, weight) rows, and join the grid a single time on the cell
    key — a 4-way self-join would scan and composite the source four times
    (caught in PLANS.md; DataFrames don't dedupe common subplans).  The
    1/4-cell pitch makes every coordinate, fraction and weight product
    binary-exact; the 4-addend weighted sum goes through the exact decimal
    path so its grouped accumulation order can't matter.  Edge semantics:
    ``HAVING COUNT(*) = 4`` emits only targets with all corners present.
    Scale: one grid build, one broadcast-or-co-partitioned join, one
    rollup keyed by target — nothing quadratic, source scanned once."""
    lf = load(spark, sf_dir, "lineitem")
    grid = lf.groupBy(
        (F.col("l_partkey") % 100).alias("gx"),
        (F.col("l_suppkey") % 100).alias("gy"),
    ).agg(davg("l_quantity", "v"))
    ta = spark.range(_BL_STEPS).select((F.col("id") / F.lit(4.0)).alias("tx"))
    tb = spark.range(_BL_STEPS).select((F.col("id") / F.lit(4.0)).alias("ty"))
    t = ta.crossJoin(tb)
    x0, y0 = F.floor("tx").cast("bigint"), F.floor("ty").cast("bigint")
    wx, wy = F.col("tx") - F.floor("tx"), F.col("ty") - F.floor("ty")
    corner = lambda dx, dy, w: F.struct(
        (x0 + dx).alias("gx"), (y0 + dy).alias("gy"), w.alias("w")
    )
    corners = t.select(
        "tx",
        "ty",
        F.explode(
            F.array(
                corner(0, 0, (1 - wx) * (1 - wy)),
                corner(1, 0, wx * (1 - wy)),
                corner(0, 1, (1 - wx) * wy),
                corner(1, 1, wx * wy),
            )
        ).alias("c"),
    ).select("tx", "ty", "c.gx", "c.gy", "c.w")
    return (
        corners.join(grid, ["gx", "gy"])
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("_nc"),
            dsum(F.col("w") * F.col("v"), "v_bilinear"),
        )
        .where(F.col("_nc") == 4)
        .select("tx", "ty", "v_bilinear")
    )


# Six-parameter affine: (x, y) → (A·x + B·y + C,  D·x + E·y + F) — the
# ``output_crs=`` reprojection analog as pure arithmetic.  All six
# coefficients are BINARY-EXACT doubles (sums of powers of two) so every
# multiply/add is one IEEE op with an identical written form in both
# engines — no rounding anywhere in the transform.
_AFF = {"a": 0.75, "b": -0.25, "c": 1024.0, "d": 0.25, "e": 0.75, "f": -512.0}
_AFF_RES = 32.0  # target grid resolution (power of two: the divide is exact scaling)


@register(
    "proj_crs_transform",
    oracle=f"""
        SELECT CAST(FLOOR(({_AFF['a']} * value + {_AFF['b']} * user_id + {_AFF['c']})
                          / {_AFF_RES}) AS BIGINT) AS cell_x,
               CAST(FLOOR(({_AFF['d']} * value + {_AFF['e']} * user_id + {_AFF['f']})
                          / {_AFF_RES}) AS BIGINT) AS cell_y,
               COUNT(*) AS n_obs,
               {sql_davg("value", "mean_value")},
               CAST(MAX(event_id) AS BIGINT) AS latest_event
        FROM events
        GROUP BY 1, 2
    """,
)
def proj_crs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+: coordinate-system transform + regrid — the reference's
    ``reproject_and_fuse`` / ``load(output_crs=..., resolution=...)``
    semantics.  A CRS warp between projected systems is, per GDAL's own
    model, a six-parameter AFFINE geotransform (rotation · scale +
    translation) applied per coordinate, followed by binning into the
    target grid and a per-cell composite; only datum shifts between
    curved systems need more than affine, and those reduce to the same
    per-row closed-form arithmetic.  Expressed Spark-first: the transform
    is two fused column expressions riding the scan's codegen stage (zero
    extra passes, zero UDFs), the regrid is the ``floor(coord'/res)`` cell
    key, and the composite is one partial-aggregated hash-agg — the SAME
    single-shuffle shape as ``regrid_bin``, because reprojection changes
    the key arithmetic, not the plan.

    Determinism: coefficients and resolution are binary-exact, the written
    expression form is identical in both engines (left-to-right IEEE
    multiply-adds, one divide), and the integer cell id goes through an
    explicit FLOOR on both sides (DuckDB's CAST rounds, Spark's
    truncates).  The measure mean takes the exact decimal path.  Scale
    (100 TB): per-row map work + one shuffle keyed by target cell; the
    cell key doubles as the sink's write-partition key so downstream tile
    reads prune by directory, exactly as regrid_bin."""
    ev = load(spark, sf_dir, "events")
    x, y = F.col("value"), F.col("user_id")
    xp = F.lit(_AFF["a"]) * x + F.lit(_AFF["b"]) * y + F.lit(_AFF["c"])
    yp = F.lit(_AFF["d"]) * x + F.lit(_AFF["e"]) * y + F.lit(_AFF["f"])
    cell_x = F.floor(xp / F.lit(_AFF_RES)).cast("bigint").alias("cell_x")
    cell_y = F.floor(yp / F.lit(_AFF_RES)).cast("bigint").alias("cell_y")
    return ev.groupBy(cell_x, cell_y).agg(
        F.count(F.lit(1)).alias("n_obs"),
        davg("value", "mean_value"),
        F.max("event_id").cast("bigint").alias("latest_event"),
    )


@register(
    "sink_partitioned_write",
    oracle="""
        SELECT CAST(YEAR(l_shipdate) AS INTEGER) AS ship_year,
               COUNT(*) AS n,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        FROM lineitem
        GROUP BY 1
    """,
)
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: partitioned sink round-trip — the COG/S3 writer analog.  Writes
    lineitem partitioned by ship_year (directory layout = the pruning
    index, mode=overwrite = idempotent-by-key) then RE-READS and aggregates
    per partition, so the oracle checks the full write→read path."""
    out = str(fresh("sink_demo"))
    lf = load(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    write_partitioned(lf, out, ["ship_year"])
    back = spark.read.parquet(out)
    return back.groupBy("ship_year").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# -- curvilinear reprojection (S6+, r5) -------------------------------------
#
# WGS84 lat/lon → Transverse Mercator (UTM-zone-32 analog): the genuinely
# CURVED warp `dc.load(output_crs=…)` performs between geographic and
# projected CRSs (⟨pub⟩ datacube-core : datacube/storage/_load.py ::
# reproject_and_fuse; odc-geo).  Snyder's closed-form ellipsoidal forward
# (USGS PP 1395 eq. 8-9..8-13) is plain transcendental arithmetic, so it
# compiles to codegen'd column expressions — the plan is STILL the
# single-shuffle regrid+composite, only the key arithmetic got curvier.
#
# Cross-engine determinism: every step below is ONE SQL text evaluated by
# F.expr on the Spark side and verbatim in the DuckDB oracle, so the
# written IEEE op order is identical by construction; trig args are built
# from exact ops (int %, fmod, one multiply by an exact literal), and the
# libm last-ulp spread in SIN/COS/TAN/SQRT is absorbed by the standing
# dround(4) policy before any FLOOR touches a value.
_TM = {
    "a": 6378137.0,
    "e2": 0.0066943799901413165,
    "ep2": 0.006739496742276434,
    "k0": 0.9996,
    "m0": 0.9983242984527954,
    "m2": 0.002514607060518705,
    "m4": 2.6390465943376213e-06,
    "m6": 3.4180460865957878e-09,
    "deg": 0.017453292519943295,  # pi/180
}


def _tm_c(v: float) -> str:
    # bare decimal literals parse as DECIMAL in BOTH engines (exact-decimal
    # chain trap) — force every constant to DOUBLE at the literal
    return f"CAST({v!r} AS DOUBLE)"


# ordered (name, expr) steps; each references prior names, lat/lon synth:
# phi = ((user_id % 80) - 40)°, Δλ = ((value fmod 6) - 3)° around the zone
# meridian — both trig arguments are exact-op products, bit-identical in
# both engines.
_TM_STEPS: list[tuple[str, str]] = [
    ("phi", f"(CAST(user_id % 80 AS DOUBLE) - CAST(40.0 AS DOUBLE)) * {_tm_c(_TM['deg'])}"),
    ("dlam", f"((value % CAST(6.0 AS DOUBLE)) - CAST(3.0 AS DOUBLE)) * {_tm_c(_TM['deg'])}"),
    ("sphi", "SIN(phi)"),
    ("cphi", "COS(phi)"),
    ("tphi", "TAN(phi)"),
    ("nn", f"{_tm_c(_TM['a'])} / SQRT(CAST(1.0 AS DOUBLE) - {_tm_c(_TM['e2'])} * sphi * sphi)"),
    ("tt", "tphi * tphi"),
    ("cc", f"{_tm_c(_TM['ep2'])} * cphi * cphi"),
    ("aa", "dlam * cphi"),
    (
        "mm",
        f"{_tm_c(_TM['a'])} * ({_tm_c(_TM['m0'])} * phi"
        f" - {_tm_c(_TM['m2'])} * SIN(CAST(2.0 AS DOUBLE) * phi)"
        f" + {_tm_c(_TM['m4'])} * SIN(CAST(4.0 AS DOUBLE) * phi)"
        f" - {_tm_c(_TM['m6'])} * SIN(CAST(6.0 AS DOUBLE) * phi))",
    ),
    (
        "easting",
        f"{_tm_c(_TM['k0'])} * nn * (aa"
        " + (CAST(1.0 AS DOUBLE) - tt + cc) * aa * aa * aa / CAST(6.0 AS DOUBLE)"
        " + (CAST(5.0 AS DOUBLE) - CAST(18.0 AS DOUBLE) * tt + tt * tt"
        f" + CAST(72.0 AS DOUBLE) * cc - CAST(58.0 AS DOUBLE) * {_tm_c(_TM['ep2'])})"
        " * aa * aa * aa * aa * aa / CAST(120.0 AS DOUBLE))"
        " + CAST(500000.0 AS DOUBLE)",
    ),
    (
        "northing",
        f"{_tm_c(_TM['k0'])} * (mm + nn * tphi * (aa * aa / CAST(2.0 AS DOUBLE)"
        " + (CAST(5.0 AS DOUBLE) - tt + CAST(9.0 AS DOUBLE) * cc"
        " + CAST(4.0 AS DOUBLE) * cc * cc) * aa * aa * aa * aa / CAST(24.0 AS DOUBLE)"
        " + (CAST(61.0 AS DOUBLE) - CAST(58.0 AS DOUBLE) * tt + tt * tt"
        f" + CAST(600.0 AS DOUBLE) * cc - CAST(330.0 AS DOUBLE) * {_tm_c(_TM['ep2'])})"
        " * aa * aa * aa * aa * aa * aa / CAST(720.0 AS DOUBLE)))",
    ),
]


def _tm_oracle() -> str:
    inner = "SELECT event_id, user_id, value FROM events"
    for name, txt in _TM_STEPS:
        inner = f"SELECT *, {txt} AS {name} FROM ({inner})"
    inner = (
        f"SELECT *, {sql_dround('easting', 4)} AS easting_r,"
        f" {sql_dround('northing', 4)} AS northing_r FROM ({inner})"
    )
    return f"""
        SELECT CAST(FLOOR(easting_r / 512.0) AS BIGINT) AS cell_e,
               CAST(FLOOR(northing_r / 512.0) AS BIGINT) AS cell_n,
               COUNT(*) AS n_obs,
               {sql_davg("easting_r", "mean_easting")},
               CAST(MAX(event_id) AS BIGINT) AS latest_event
        FROM ({inner})
        GROUP BY 1, 2
    """


@register("proj_crs_curvilinear", oracle=_tm_oracle())
def proj_crs_curvilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6++: lat/lon → Transverse Mercator forward projection (Snyder's
    ellipsoidal closed form on WGS84), then the standard regrid+composite.
    The six-parameter affine key (`proj_crs_transform`) covers
    projected→projected warps; this is the curved geographic→projected
    leg of `reproject_and_fuse`.  Everything rides one codegen'd
    projection — no UDF, no extra pass — and the composite is the same
    single hash-shuffle as `regrid_bin`: at 100 TB reprojection is free
    map-side arithmetic, and the 512 m cell key doubles as the sink
    partition key."""
    df = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    for name, txt in _TM_STEPS:
        df = df.withColumn(name, F.expr(txt))
    df = df.withColumn("easting_r", dround("easting", 4)).withColumn(
        "northing_r", dround("northing", 4)
    )
    return df.groupBy(
        F.floor(F.col("easting_r") / F.lit(512.0)).cast("bigint").alias("cell_e"),
        F.floor(F.col("northing_r") / F.lit(512.0)).cast("bigint").alias("cell_n"),
    ).agg(
        F.count(F.lit(1)).alias("n_obs"),
        davg("easting_r", "mean_easting"),
        F.max("event_id").cast("bigint").alias("latest_event"),
    )
