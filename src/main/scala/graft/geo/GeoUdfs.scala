package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Geometry UDFs over JTS (SURVEY.md §2.8). Spark 4.1.2's built-in ST
  * surface is WKB/SRID codecs only, so envelope/reproject/GeoJSON/
  * containment are custom — scalar UDFs first (serializable, fast to
  * build); the containment predicate is the promotion candidate to a
  * codegen Expression if benchmarks demand (SURVEY.md §2.10).
  */
object GeoUdfs {

  /** OP-SP-4: WKT geometry → (xmin, ymin, xmax, ymax). */
  val stEnvelope =
    udf { (wkt: String) =>
      val e = Jts.envelope(Jts.parseWkt(wkt))
      (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }

  /** OP-SP-6 (+ ETL.py:438 extent→polygon): WKT → GeoJSON Polygon of
    * the geometry's envelope, 1-decimal fixed formatting.
    */
  val stEnvelopeGeoJson =
    udf { (wkt: String) =>
      Jts.toGeoJson(Jts.envelopePolygon(Jts.parseWkt(wkt)))
    }

  /** OP-SP-5: reproject an NZTM bbox's corners to WGS84
    * (lat_min, lon_min, lat_max, lon_max), rounded to 1e-6°.
    */
  val stReprojectBbox =
    udf { (xmin: Double, ymin: Double, xmax: Double, ymax: Double) =>
      val (latMin, lonMin) = Transform.inverse(xmin, ymin)
      val (latMax, lonMax) = Transform.inverse(xmax, ymax)
      def r6(d: Double) = math.rint(d * 1e6) / 1e6
      (r6(latMin), r6(lonMin), r6(latMax), r6(lonMax))
    }

  /** Executor-side cache of prepared geometries keyed by WKT: the
    * containment predicate runs once per (row × region) pair, so
    * re-parsing + re-indexing the same handful of broadcast region
    * polygons per pair would dominate the join (measured 375 k parses
    * at sf0.1). Regions are a small dim, so the cache is bounded.
    */
  private object PreparedCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String,
        org.locationtech.jts.geom.prep.PreparedGeometry]()
    def get(wkt: String): org.locationtech.jts.geom.prep.PreparedGeometry =
      cache.computeIfAbsent(wkt,
        w => org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(
          Jts.parseWkt(w)))
  }

  /** JOIN-3 predicate: point strictly inside the WKT polygon (JTS
    * interior semantics — boundary points excluded, matching the
    * oracle's strict inequalities). PreparedGeometry with point-in-
    * polygon index, cached per executor.
    */
  val stContainsPoint =
    udf { (wkt: String, x: Double, y: Double) =>
      PreparedCache.get(wkt).containsProperly(
        new org.locationtech.jts.geom.GeometryFactory()
          .createPoint(new org.locationtech.jts.geom.Coordinate(x, y)))
    }

  def st_envelope(c: Column): Column = stEnvelope(c)
  def st_envelope_geojson(c: Column): Column = stEnvelopeGeoJson(c)
  def st_reproject_bbox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    stReprojectBbox(xmin, ymin, xmax, ymax)
  def st_contains_point(wkt: Column, x: Column, y: Column): Column =
    stContainsPoint(wkt, x, y)
}
