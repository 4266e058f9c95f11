package graft.functions

import graft.core._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level geo/tiling functions.
  *
  * Everything that is pure arithmetic is expressed as native Column math so it
  * stays inside WholeStageCodegen (the reference used Java UDFs for all of
  * these: GlobalPixelUDF.java:31-58, EncodeBorYearUDF.java:49-62,
  * HBaseKeyUDF.java:42-63). The Java-hashCode salt is a native Catalyst
  * expression ([[JavaHashExpr]]); nothing here is a UDF.
  */
object GeoFunctions {

  /** `(year, bor) → year*100 + borId` packed agg key (EncodeBorYearUDF.java:58-62).
    * `borId` must already be a dictionary-encoded int column.
    */
  def encodeBorYear(year: Column, borId: Column): Column =
    coalesce(year, lit(0)).cast("long") * 100 + borId

  def borYearYear(encoded: Column): Column = greatest(encoded / 100, lit(0)).cast("int")
  def borYearBor(encoded: Column): Column = pmod(encoded, lit(100)).cast("int")

  /** Dictionary-encode basisOfRecord to its reference id (BOR_MAPPING). */
  def borId(bor: Column): Column = {
    val m = map(BorYear.BorIds.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    element_at(m, bor)
  }

  /** EPSG:3857 global pixel (x, y) as doubles at `zoom` — pure Column math,
    * formula of SphericalMercator.java:43-48.
    */
  def mercatorXY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column) = {
    val pixels = lit((tileSize.toLong << zoom).toDouble)
    val sinLat = sin(lat * lit(math.Pi / 180))
    val y = (lit(0.5) - log((lit(1) + sinLat) / (lit(1) - sinLat)) / lit(4 * math.Pi)) * pixels
    val x = (lng + lit(180)) / lit(360) * pixels
    (x, y)
  }

  /** EPSG:4326 Plate-Carrée global pixel — linear, exactly reproducible in any
    * engine (WGS84.java:37-44).
    */
  def wgs84XY(lat: Column, lng: Column, zoom: Int, tileSize: Int): (Column, Column) = {
    val ppd = lit((tileSize.toLong << zoom).toDouble / 180)
    ((lng + lit(180)) * ppd, (lit(90) - lat) * ppd)
  }

  /** Plottability predicate per projection (F3; SphericalMercator.java:51-53,
    * NorthPoleLAEAEurope.java:54-57, WGS84AntarcticPolarStereographic.java:74-77).
    */
  def isPlottable(epsg: String, lat: Column, lng: Column): Column = {
    val lngOk = lng >= -180 && lng <= 180
    epsg match {
      case "EPSG:3857" =>
        lat >= -Projections.MercatorMaxLatitude && lat <= Projections.MercatorMaxLatitude && lngOk
      case "EPSG:4326" => lat >= -90 && lat <= 90 && lngOk
      case "EPSG:3575" => lat >= 0 && lngOk
      case "EPSG:3031" => lat <= 0 && lngOk
      case other       => throw new IllegalArgumentException(other)
    }
  }

  /** Floored integer pixel at max zoom; lower zooms derive via `shiftright`
    * (TileMapBuilder.java:129-138, the O3 compute-once pyramid trick).
    *
    * Clamped into [0, globalPixels−1]: plottable BOUNDARY coordinates
    * (lng=180 anywhere, lat=−90 in 4326, the projection rim in the polar
    * SRSs) otherwise floor to exactly `globalPixels` — one past the last
    * pixel, addressing a tile row/column that does not exist, silently
    * dropping edge data. Core `Tiles.toTileXY` and the reference
    * (Tiles.java:86-90) clamp exactly this case; the Column path must
    * agree with them.
    */
  def pixelAtMaxZoom(epsg: String, lat: Column, lng: Column, maxZoom: Int, tileSize: Int)
      : (Column, Column) = {
    val gpx = tileSize.toLong << maxZoom
    // EPSG:4326 is the 2×1 tile scheme (WGS84.java:37-44): 360° of
    // longitude span TWO z0 tiles, so its x-axis is 2·gpx pixels wide
    val maxX = (if (epsg == "EPSG:4326") 2 * gpx else gpx) - 1
    def cl(c: Column, mx: Long): Column = least(greatest(c, lit(0L)), lit(mx))
    val (x, y) = epsg match {
      case "EPSG:3857"               => mercatorXY(lat, lng, maxZoom, tileSize)
      case "EPSG:4326"               => wgs84XY(lat, lng, maxZoom, tileSize)
      case "EPSG:3575" | "EPSG:3031" => polarXY(epsg, lat, lng, maxZoom, tileSize)
      case other                     => throw new IllegalArgumentException(other)
    }
    (cl(floor(x).cast("long"), maxX), cl(floor(y).cast("long"), gpx - 1))
  }

  /** Polar projections (EPSG:3575 north LAEA lon0=10°E, EPSG:3031 Antarctic
    * stereographic) as pure Column math — closed-form spherical formulas, so
    * the whole pixel pipeline stays inside WholeStageCodegen (the reference
    * routes these through GeoTools inside a Java UDF,
    * GlobalPixelUDF.java:31-58 + WGS84Azimuthal.java:44-96).
    */
  def polarXY(epsg: String, lat: Column, lng: Column, zoom: Int, tileSize: Int)
      : (Column, Column) = {
    val R = Projections.EarthRadius
    val phi = lat * lit(math.Pi / 180)
    val gpx = lit((tileSize.toLong << zoom).toDouble)
    epsg match {
      case "EPSG:3575" =>
        val extent = Projections.LaeaExtent
        val dl = lng * lit(math.Pi / 180) - lit(10.0 * (math.Pi / 180))
        val rho = lit(2.0 * R) * sin(lit(math.Pi / 4) - phi / lit(2.0))
        val mx = rho * sin(dl)
        val my = -(rho * cos(dl))
        val ppm = lit((tileSize.toLong << zoom).toDouble / extent / 2.0)
        ((mx + lit(extent)) * ppm, gpx - (my + lit(extent)) * ppm)
      case "EPSG:3031" =>
        val extent = Projections.StereographicExtent
        val k0 = extent / (2.0 * R)
        val lam = lng * lit(math.Pi / 180)
        val rho = lit(2.0 * R * k0) * tan(lit(math.Pi / 4) + phi / lit(2.0))
        val mx = rho * sin(lam)
        val my = rho * cos(lam)
        val ppm = lit((tileSize.toLong << zoom).toDouble / extent / 2.0)
        ((mx + lit(extent)) * ppm, gpx - (my + lit(extent)) * ppm)
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Tile address of a global pixel: `px div tileSize` (clamped by construction
    * since pixels are in-range).
    */
  def tileAddr(px: Column, tileSize: Int): Column = (px / tileSize).cast("long")

  /** `hash & 0x0fffffff % modulus` salt from Java String.hashCode parity
    * (ModulusSalt.java:61-65). Spark's `hash()` is Murmur3, so this needs
    * custom code: a native Catalyst expression with codegen
    * ([[JavaHashExpr]]), so the salted-key path stays inside
    * WholeStageCodegen.
    */
  def saltOf(key: Column, modulus: Int): Column =
    pmod(JavaHashExpr.of(key).bitwiseAND(lit(0xfffffff)), lit(modulus))

  /** Full salted sort key "NNN:mapKey:z:x:y" (HBaseKeyUDF.java:42-52). */
  def saltedTileKey(mapKey: Column, z: Column, x: Column, y: Column, modulus: Int): Column = {
    val digits = Salt(modulus).digitCount
    val key = concat_ws(":", mapKey, z, x, y)
    concat_ws(":", lpad(saltOf(key, modulus), digits, "0"), key)
  }

  /** Hex cell (q, r) of a global pixel on a world-wide flat-top grid — the
    * Spark-first re-design of per-tile hex binning (graft.core.HexGrid).
    * Pure Column math: axial transform + cube rounding, codegen-friendly and
    * reproducible in ANSI SQL for the oracle.
    */
  def hexCell(px: Column, py: Column, radius: Double): (Column, Column) = {
    val q = (px * lit(2.0 / 3.0)) / lit(radius)
    val r = (px * lit(-1.0 / 3.0) + py * lit(math.sqrt(3) / 3.0)) / lit(radius)
    cubeRound(q, r)
  }

  /** Cube-round fractional axial coords to the containing hexagon. */
  private def cubeRound(q: Column, r: Column): (Column, Column) = {
    val s = -q - r
    val rq = round(q); val rr = round(r); val rs = round(s)
    val dq = abs(rq - q); val dr = abs(rr - r); val ds = abs(rs - s)
    val fq = when(dq > dr && dq > ds, -rr - rs).otherwise(rq)
    val fr = when(!(dq > dr && dq > ds) && dr > ds, -rq - rs).otherwise(rr)
    (fq.cast("long"), fr.cast("long"))
  }

}
