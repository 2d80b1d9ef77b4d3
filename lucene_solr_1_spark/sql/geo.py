"""Spatial queries — `LatLonPoint` re-expressed on the relational path.

Reference surface (lucene/core `document/LatLonPoint.java:49-50,176,241`):

* `newBoxQuery(minLat, maxLat, minLon, maxLon)` — points inside a
  lat/lon rectangle (BKD range scan in the reference; a pushed-down
  range predicate over two doc-value columns here — exactly the
  predicate shape parquet min/max pruning and Z-order clustering eat
  at 100 TB).
* `newDistanceQuery(lat, lon, radiusMeters)` — points within a
  haversine radius.
* `LatLonPointSortField` / `LatLonPointDistanceComparator` — sort by
  haversine distance from a query point; top-k here is a bounded
  TakeOrderedAndProject, never a global sort.

Distance is the classic haversine with the reference's mean earth
radius (`SloppyMath.haversinMeters` / `haversinSortKey`,
`util/SloppyMath.java:50-95,203`: 2·R·asin(√h), R = 6,371,008.7714 m).
We use the h = sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2) form, algebraically
equal to the reference's 1−cos form (sin²(x/2) = (1−cos x)/2) and
better conditioned for small angles.

The test tables carry no coordinates, so both engines derive a
deterministic synthetic point per doc from doc_id with *integer*
arithmetic (modular multiply, then one divide — IEEE-identical across
engines): lat = (doc_id·7919 mod 18001)/100 − 90, lon =
(doc_id·104729 mod 36001)/100 − 180. The transcendental steps (sin,
cos, asin) may differ by ~1 ulp between the JVM and DuckDB's libm —
~1e-7 m at earth scale — absorbed by round(.., 4) km outputs and
rounded sort keys like every relational oracle pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .relational import load_documents

EARTH_RADIUS_M = 6_371_008.7714  # SloppyMath.java:203 (mean radius)

# deterministic synthetic coordinates (exact integer arithmetic; both
# engines compute bit-identical doubles). Exponent-form literals: Spark
# and DuckDB both lex `1e2` as DOUBLE, whereas `100.0` parses as DECIMAL
# in Spark and would make lat/lon DECIMAL columns (hash-visible).
_LAT_SQL = "((doc_id * 7919) % 18001) / 1e2 - 9e1"
_LON_SQL = "((doc_id * 104729) % 36001) / 1e2 - 18e1"


def _with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).select(
        "doc_id",
        F.expr(_LAT_SQL).alias("lat"),
        F.expr(_LON_SQL).alias("lon"),
    )


def _haversine_m(lat_col, lon_col, qlat: float, qlon: float):
    """2·R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))) in double."""
    p1 = F.radians(lat_col)
    p2 = F.radians(F.lit(float(qlat)))
    dphi = F.radians(F.lit(float(qlat)) - lat_col) / 2.0
    dlmb = F.radians(F.lit(float(qlon)) - lon_col) / 2.0
    h = F.pow(F.sin(dphi), 2.0) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlmb), 2.0)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))


def _haversine_m_sql(qlat: float, qlon: float) -> str:
    return (
        f"2.0 * {EARTH_RADIUS_M!r} * asin(sqrt("
        f"pow(sin(radians({qlat!r} - lat) / 2.0), 2.0)"
        f" + cos(radians(lat)) * cos(radians({qlat!r}))"
        f" * pow(sin(radians({qlon!r} - lon) / 2.0), 2.0)))"
    )


def geo_bbox_spark(
    spark: SparkSession, sf_dir: str,
    min_lat: float, max_lat: float, min_lon: float, max_lon: float,
) -> DataFrame:
    """LatLonPoint.newBoxQuery: docs whose point falls in the box."""
    pts = _with_coords(spark, sf_dir)
    return (
        pts.where(
            (F.col("lat") >= float(min_lat)) & (F.col("lat") <= float(max_lat))
            & (F.col("lon") >= float(min_lon)) & (F.col("lon") <= float(max_lon))
        )
        .orderBy("doc_id")
        .select("doc_id", F.round("lat", 4).alias("lat"), F.round("lon", 4).alias("lon"))
    )


def geo_bbox_duck(
    min_lat: float, max_lat: float, min_lon: float, max_lon: float
) -> str:
    return f"""
WITH pts AS (SELECT doc_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM documents)
SELECT doc_id, round(lat, 4) AS lat, round(lon, 4) AS lon FROM pts
WHERE lat >= {float(min_lat)} AND lat <= {float(max_lat)}
  AND lon >= {float(min_lon)} AND lon <= {float(max_lon)}
ORDER BY doc_id
""".strip()


def geo_distance_topk_spark(
    spark: SparkSession, sf_dir: str, qlat: float, qlon: float, k: int = 10
) -> DataFrame:
    """LatLonPointSortField: k nearest docs to (qlat, qlon) with their
    haversine distance in km; ties break doc_id asc (the reference's
    docID tie-break, LatLonPointDistanceComparator.java)."""
    pts = _with_coords(spark, sf_dir)
    d = pts.withColumn("dist_km", _haversine_m(F.col("lat"), F.col("lon"), qlat, qlon) / 1000.0)
    return (
        d.orderBy(F.round(F.col("dist_km"), 4).asc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", F.round(F.col("dist_km"), 4).alias("dist_km"))
    )


def geo_distance_topk_duck(qlat: float, qlon: float, k: int = 10) -> str:
    return f"""
WITH pts AS (SELECT doc_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM documents),
d AS (SELECT doc_id, {_haversine_m_sql(qlat, qlon)} / 1000.0 AS dist_km FROM pts)
SELECT doc_id, round(dist_km, 4) AS dist_km FROM d
ORDER BY round(dist_km, 4) ASC, doc_id LIMIT {k}
""".strip()


def geo_distance_range_spark(
    spark: SparkSession, sf_dir: str, qlat: float, qlon: float, radius_km: float
) -> DataFrame:
    """LatLonPoint.newDistanceQuery: docs within radius_km of the query
    point (filter semantics — constant-score in the reference)."""
    pts = _with_coords(spark, sf_dir)
    d = pts.withColumn("dist_km", _haversine_m(F.col("lat"), F.col("lon"), qlat, qlon) / 1000.0)
    return (
        d.where(F.round(F.col("dist_km"), 4) <= float(radius_km))
        .orderBy("doc_id")
        .select("doc_id", F.round(F.col("dist_km"), 4).alias("dist_km"))
    )


def geo_distance_range_duck(qlat: float, qlon: float, radius_km: float) -> str:
    return f"""
WITH pts AS (SELECT doc_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM documents),
d AS (SELECT doc_id, {_haversine_m_sql(qlat, qlon)} / 1000.0 AS dist_km FROM pts)
SELECT doc_id, round(dist_km, 4) AS dist_km FROM d
WHERE round(dist_km, 4) <= {float(radius_km)}
ORDER BY doc_id
""".strip()


def _validate_polygon(lats: tuple, lons: tuple) -> None:
    if len(lats) != len(lons) or len(lats) < 3:
        raise ValueError("polygon needs >= 3 (lat, lon) vertices")
    for i in range(len(lats)):
        j = (i + 1) % len(lats)
        if lats[i] == lats[j]:
            raise ValueError(
                "horizontal polygon edges are not supported (the ray-cast "
                "crossing test is undefined on them; perturb the vertex)"
            )


def _polygon_inside_sql(lats: tuple, lons: tuple) -> str:
    """Even-odd ray-cast point-in-polygon (the crossing-number algorithm
    Polygon2D realizes as an edge tree, geo/Polygon2D.java:143-188
    internalContains / EdgeTree crossings): count edges whose Y-span
    brackets the point and whose X at the point's Y lies right of it;
    odd = inside. ONE generator emits the SAME SQL text for Spark and
    DuckDB — multiply/divide only (IEEE-identical, no libm), the CASE
    guard keeps the division off horizontal-miss edges. Vertices are
    written in exponent form, which both engines lex as DOUBLE (a bare
    decimal lexes as DECIMAL)."""
    _validate_polygon(lats, lons)
    n = len(lats)
    terms = []
    for i in range(n):
        j = (i + 1) % n
        yi, xi = f"{float(lats[i]):.17e}", f"{float(lons[i]):.17e}"
        yj, xj = f"{float(lats[j]):.17e}", f"{float(lons[j]):.17e}"
        terms.append(
            f"(CASE WHEN (({yi} > lat) <> ({yj} > lat)) AND "
            f"(lon < ({xj} - {xi}) * (lat - {yi}) / ({yj} - {yi})"
            f" + {xi}) THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2) = 1"


def geo_polygon_spark(
    spark: SparkSession, sf_dir: str, lats: tuple, lons: tuple
) -> DataFrame:
    """LatLonPoint.newPolygonQuery (document/LatLonPoint.java:262,
    geo/Polygon.java): docs whose point falls inside the polygon.
    Plan shape: the polygon's bounding box is a plain range predicate
    (the BKD coarse pass — on stored coordinate columns it reaches the
    parquet scan as min/max pruning) and only box survivors evaluate
    the unrolled ray-cast CASE chain (the Polygon2D exact pass), all
    inside whole-stage codegen."""
    _validate_polygon(lats, lons)
    pts = _with_coords(spark, sf_dir)
    boxed = pts.where(
        (F.col("lat") >= float(min(lats))) & (F.col("lat") <= float(max(lats)))
        & (F.col("lon") >= float(min(lons))) & (F.col("lon") <= float(max(lons)))
    )
    return (
        boxed.where(F.expr(_polygon_inside_sql(lats, lons)))
        .orderBy("doc_id")
        .select(
            "doc_id",
            F.round(F.col("lat"), 4).alias("lat"),
            F.round(F.col("lon"), 4).alias("lon"),
        )
    )


def geo_polygon_duck(lats: tuple, lons: tuple) -> str:
    """Twin of geo_polygon_spark — same bbox prefilter, same generated
    ray-cast expression text."""
    _validate_polygon(lats, lons)
    return f"""
WITH pts AS (SELECT doc_id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM documents),
boxed AS (
  SELECT * FROM pts
  WHERE lat >= {float(min(lats))} AND lat <= {float(max(lats))}
    AND lon >= {float(min(lons))} AND lon <= {float(max(lons))}
)
SELECT doc_id, round(lat, 4) AS lat, round(lon, 4) AS lon
FROM boxed WHERE {_polygon_inside_sql(lats, lons)}
ORDER BY doc_id
""".strip()
