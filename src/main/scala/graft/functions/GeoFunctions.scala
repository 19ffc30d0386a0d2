package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic column expressions (pure Catalyst — codegen'd, no UDFs).
  *
  * Re-expresses the reference's geo kernel (haversine
  * `/root/reference/etl/utils.py:62-66`, equirectangular
  * `/root/reference/etl/er.py:146-150`, bbox math
  * `/root/reference/etl/utils.py:103-117,237-267`, grid cells
  * `/root/reference/etl/er.py:164-177`) as Spark column functions so the
  * whole geo pipeline stays inside whole-stage codegen.
  */
object GeoFunctions {

  /** Mean Earth radius in meters (reference `etl/utils.py:66`). */
  val EarthRadiusM = 6371000.0

  /** Meters per degree of latitude (reference `etl/er.py:148`). */
  val MetersPerDegLat = 111320.0

  /** Meters per degree of longitude at the equator (reference `etl/er.py:149`:
    * 40_075_000 m circumference / 360). */
  val MetersPerDegLonEq = 40075000.0 / 360.0

  /** Great-circle distance in meters (haversine, reference `etl/utils.py:62-66`). */
  def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2) - radians(lat1)
    val dLon = radians(lon2) - radians(lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    asin(sqrt(a)) * 2 * EarthRadiusM
  }

  /** Fast equirectangular approximation in meters, valid for < ~2 km
    * (reference `etl/er.py:146-150`). */
  def equirectM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val midLat = radians((lat1 + lat2) / 2)
    val dx = (lon2 - lon1) * MetersPerDegLonEq * cos(midLat)
    val dy = (lat2 - lat1) * MetersPerDegLat
    sqrt(dx * dx + dy * dy)
  }

  /** Kilometres to degrees of longitude at a given latitude, with the
    * reference's cos(lat) clamp (`etl/utils.py:237-267`: denominator floored
    * at 0.01 to avoid pole blowups). */
  def kmToDegLon(km: Column, lat: Column): Column =
    km / greatest(cos(radians(lat)) * (MetersPerDegLonEq / 1000.0), lit(0.01))

  /** bbox containment: bbox as (minLat, minLon, maxLat, maxLon)
    * (reference `etl/utils.py:103-117`). */
  def bboxContains(lat: Column, lon: Column,
                   minLat: Column, minLon: Column,
                   maxLat: Column, maxLon: Column): Column =
    lat >= minLat && lat <= maxLat && lon >= minLon && lon <= maxLon

  /** Integer grid cell key for spatial blocking: a single long encoding
    * (floor(lat/cell), floor(lon/cell)). Works for cell sizes down to ~1e-4°
    * since each axis index fits comfortably in 32 bits.
    * (reference 0.01° binning `etl/er.py:164-166`). */
  def cellKey(lat: Column, lon: Column, cellDeg: Double): Column =
    (floor(lat / cellDeg).cast("long") + 1800000L) * 4000000L +
      (floor(lon / cellDeg).cast("long") + 1800000L)

  /** All 9 cell keys of the 3x3 neighborhood around a point's cell —
    * explode one join side over these to turn a radius self-join into an
    * equi-join (reference neighbor-cell pairing `etl/er.py:167-177`). */
  def neighborCellKeys(lat: Column, lon: Column, cellDeg: Double): Column = {
    val cy = floor(lat / cellDeg).cast("long") + 1800000L
    val cx = floor(lon / cellDeg).cast("long") + 1800000L
    val cells = for (dy <- -1 to 1; dx <- -1 to 1)
      yield (cy + dy) * 4000000L + (cx + dx)
    array(cells: _*)
  }

  /** Point-in-polygon by ray casting, byte-matching the reference formula
    * (`etl/utils.py:134-151`): edges straddling the point's LONGITUDE are
    * tested with `lat < (yj-yi)*(lon-xi)/((xj-xi)+1e-12) + yi` — including
    * the +1e-12 degenerate-edge guard on the same axis. Interior points
    * agree under either ray orientation; boundary/degenerate cases only
    * match the reference with this exact arithmetic. Polygon is a
    * Seq[(lat, lon)]; this is the driver-side kernel reused by the UDF
    * below. */
  def pointInPolygon(lat: Double, lon: Double,
                     poly: Seq[(Double, Double)]): Boolean = {
    if (poly.length < 3) return false
    var inside = false
    var j = poly.length - 1
    var i = 0
    while (i < poly.length) {
      val (yi, xi) = poly(i)
      val (yj, xj) = poly(j)
      val intersects = ((xi > lon) != (xj > lon)) &&
        (lat < (yj - yi) * (lon - xi) / ((xj - xi) + 1e-12) + yi)
      if (intersects) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** UDF form: polygon column is array<struct<lat:double,lon:double>>. */
  val pointInPolygonUdf = udf {
    (lat: Double, lon: Double, poly: Seq[org.apache.spark.sql.Row]) =>
      if (poly == null) false
      else pointInPolygon(lat, lon, poly.map(r => (r.getDouble(0), r.getDouble(1))))
  }
}
