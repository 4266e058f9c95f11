package graft.operators

import graft.core.YearRange
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Query-time (serving) semantics over the built point/tile tables,
  * re-expressed as DataFrame re-aggregations (reference:
  * VectorTileFilters.java:102-242, PointFeatureFilters.java:65-114,
  * HexBin.java:85-199, SquareBin.java:60-141, Capabilities.java:194-334,
  * RegressionResource.java:226-355, AdHocMapsResource.java:153-262).
  *
  * All of these operate on point aggregates (map_key, lat10, lng10, bor_year,
  * occ_count) or pixel aggregates, so at 100 TB they run over the *prebuilt*
  * salted index, not the raw fact table — each is a single partial-aggregated
  * shuffle over one view's slice.
  */
object TileServe {
  import OccurrenceView.{TileSize, MaxZoom}

  /** F6: inclusive year-range filter; unknown year (encoded 0) only passes an
    * unbounded range (Range.java:21-62 null semantics).
    */
  def yearRangeFilter(df: DataFrame, range: YearRange): DataFrame = {
    if (range.isUnbounded) df
    else {
      val year = borYearYear(col("bor_year"))
      val known = col("bor_year") >= lit(100) // encoded null-year is 0..99
      val lo = range.lo.map(y => year >= y).getOrElse(lit(true))
      val hi = range.hi.map(y => year <= y).getOrElse(lit(true))
      df.filter(known && lo && hi)
    }
  }

  /** F7: basisOfRecord filter (dictionary ids). */
  def borFilter(df: DataFrame, borIds: Seq[Int]): DataFrame =
    if (borIds.isEmpty) df else df.filter(borYearBor(col("bor_year")).isin(borIds: _*))

  /** A6/A7: per-pixel re-aggregation of a view's points into one zoom's pixel
    * space with per-year verbose counts flattened away (the "simple" tile).
    */
  def renderPixels(points: DataFrame, epsg: String, z: Int): DataFrame = {
    val shift = MaxZoom - z
    MapBuild.withPixels(points, epsg)
      .groupBy(
        col("map_key"),
        shiftright(col("px"), shift).as("px"),
        shiftright(col("py"), shift).as("py"))
      .agg(sum("occ_count").as("total"))
  }

  /** §3.2 full serving path over the BUILT store: resolve the manifest,
    * fetch one tile blob by salted key (S8), decode the MVT, apply year/bor
    * filters to its per-feature attributes (F6/F7), and re-aggregate to
    * per-pixel totals (A6) — the reference's
    * TileResource.getTile → HBaseMaps.getTile → VectorTileFilters chain.
    */
  def serveTile(spark: org.apache.spark.sql.SparkSession, workDir: String,
      epsg: String, mapKey: String, z: Int, x: Long, y: Long,
      years: YearRange, borIds: Seq[Int]): Seq[(Int, Int, Long)] = {
    val m = graft.sources.Workflow.readManifest(workDir)
      .getOrElse(throw new IllegalStateException(s"no manifest in $workDir"))
    val key = s"$epsg:$mapKey:$z:$x:$y"
    // the GET targets the zoom=$z sub-store directly: the tile store is one
    // directory tree per (srs, zoom) (like the reference's per-zoom HFile
    // dirs), and z is in the request — listing the whole srs tree per GET
    // paid a 7× file-listing tax (measured ~1.9 s vs ~0.15 s, BASELINE.md).
    // A zoom the store doesn't carry is an empty response, not a read
    // error (the old whole-tree scan's behavior for an unmatched key)
    val zoomDir = s"${m.tiles}/srs=${epsg.replace(':', '_')}/zoom=$z"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(zoomDir)))
      return Seq.empty
    // job-free GET: salt dir + footer-pruned row-group read, no Spark job
    // (the scheduled-scan arm KeyedSink.lookup stays as the SinkSpec
    // equality oracle)
    val blobs = graft.sources.KeyedSink
      .lookupDirect(zoomDir, graft.sources.Workflow.TileSaltModulus, key)
      .map(_.getAs[Array[Byte]]("mvt"))
    tileFilterAggregate(blobs, years, borIds)
  }

  /** In-process half of [[serveTile]] AFTER the blob GET: MVT decode +
    * layer/year filters + per-pixel re-aggregation. Factored so the
    * perfbench `serve` workload's `mvt_decode`/`filter` layers time
    * EXACTLY the production serve kernel (BASELINE.md's round-8 latency
    * numbers were taken the same way).
    */
  def tileFilterAggregate(blobs: Seq[Array[Byte]], years: YearRange,
      borIds: Seq[Int]): Seq[(Int, Int, Long)] =
    blobs.flatMap { bytes =>
      graft.functions.Mvt.decodeTile(bytes)
        .filter(f => borIds.isEmpty || borIds.contains(f.layer.stripPrefix("bor").toInt))
        .flatMap { f =>
          val kept = f.yearCounts.collect {
            case (yr, n) if years.contains(if (yr == 0) None else Some(yr)) => n
          }.sum
          if (kept > 0) Some((f.x, f.y, kept)) else None
        }
    }.groupBy(t => (t._1, t._2))
      .map { case ((px, py), ts) => (px, py, ts.map(_._3).sum) }
      .toSeq.sortBy(t => (t._1, t._2))

  /** S7 full serving path over the BUILT blob store: fetch a small view's
    * PointFeatures blob by salted key, decode, and apply year/bor filters to
    * the decoded features — the reference's PointResource →
    * HBaseMaps.getPoints → PointFeatureFilters chain
    * (PointFeatureFilters.java:65-114). Returns
    * (lat10, lng10, bor_year, occ_count) rows.
    */
  def servePoints(spark: org.apache.spark.sql.SparkSession, workDir: String,
      mapKey: String, years: YearRange, borIds: Seq[Int]): Seq[(Long, Long, Long, Long)] = {
    val m = graft.sources.Workflow.readManifest(workDir)
      .getOrElse(throw new IllegalStateException(s"no manifest in $workDir"))
    pointsFilterDecode(
      graft.sources.KeyedSink.lookupDirect(s"${m.points}_blobs",
        graft.sources.Workflow.PointSaltModulus, mapKey)
        .map(_.getAs[Array[Byte]]("blob")),
      years, borIds)
  }

  /** In-process half of [[servePoints]] AFTER the blob GET: decode +
    * year/bor filters. Shared with the perfbench `serve` workload's
    * `point_decode` layer (see [[tileFilterAggregate]]'s rationale).
    */
  def pointsFilterDecode(blobs: Seq[Array[Byte]], years: YearRange,
      borIds: Seq[Int]): Seq[(Long, Long, Long, Long)] =
    blobs.flatMap(graft.functions.PointBlob.decode)
      .filter { p =>
        val yr = (p.borYear / 100).toInt
        (borIds.isEmpty || borIds.contains((p.borYear % 100).toInt)) &&
          years.contains(if (yr == 0) None else Some(yr))
      }
      .map(p => (p.lat10, p.lng10, p.borYear, p.count))

  /** J1: country-mask semi-join — density pixels kept only where the mask
    * view also has a pixel (VectorTileFilters.java:83-99). A broadcast-able
    * semi-join on the pixel key at any scale (the mask is one view's tile).
    */
  def maskSemiJoin(density: DataFrame, mask: DataFrame): DataFrame =
    density.join(mask.select("px", "py").distinct(), Seq("px", "py"), "left_semi")

  /** A9: square binning — `(x/cell, y/cell)` cells with summed totals AND
    * the cell's polygon corners in global pixel space — the reference's bins
    * are emitted as polygon features (SquareBin.java:121-141). Corners are
    * integer arithmetic, exact in any engine.
    */
  def squareBin(pixels: DataFrame, cellSize: Int): DataFrame =
    pixels
      .groupBy(
        col("map_key"),
        (col("px") / cellSize).cast("long").as("cell_x"),
        (col("py") / cellSize).cast("long").as("cell_y"))
      .agg(sum("total").as("total"))
      // the reference's packed cell identity `(x<<32)|y` (SquareBin.java:114-120)
      .withColumn("cell_key",
        shiftleft(col("cell_x"), 32).bitwiseOR(col("cell_y")))
      .withColumn("x0", col("cell_x") * cellSize)
      .withColumn("y0", col("cell_y") * cellSize)
      .withColumn("x1", (col("cell_x") + 1) * cellSize)
      .withColumn("y1", (col("cell_y") + 1) * cellSize)

  /** A8: hex binning on the world-wide flat-top grid (graft.core.HexGrid),
    * with each cell's polygon (centre + 6 flat-top vertices) emitted like
    * the reference's hexagon features (HexBin.java:217-257).
    */
  def hexBin(pixels: DataFrame, radius: Double): DataFrame = {
    val (q, r) = hexCell(col("px"), col("py"), radius)
    withHexPolygon(
      pixels
        .groupBy(col("map_key"), q.as("hex_q"), r.as("hex_r"))
        .agg(sum("total").as("total")),
      radius)
  }

  /** Polygon columns for hex cells: centre (cx, cy) and vertices v0..v5 in
    * global pixel space. The trig offsets are precomputed driver-side and
    * injected as double literals, so the oracle SQL shares the exact IEEE
    * values and op order (graft.core.HexGrid.polygonOf re-expressed as
    * Column math). Values are raw doubles — with bit-identical constants and
    * op order both engines produce bit-identical results, whereas a
    * round(_, 6) pass re-introduces engine-specific decimal rounding.
    */
  def withHexPolygon(cells: DataFrame, radius: Double): DataFrame = {
    val cx = (col("hex_q") * lit(1.5)) * lit(radius)
    val cy = (col("hex_q") * lit(math.sqrt(3) / 2) +
      col("hex_r") * lit(math.sqrt(3))) * lit(radius)
    val base = cells
      .withColumn("cx", cx)
      .withColumn("cy", cy)
    (0 until 6).foldLeft(base) { (df, i) =>
      val dx = radius * math.cos(math.toRadians(60.0 * i))
      val dy = radius * math.sin(math.toRadians(60.0 * i))
      df.withColumn(s"v${i}x", cx + lit(dx))
        .withColumn(s"v${i}y", cy + lit(dy))
    }
  }

  /** A11: capabilities — global extent + year span + total for one view
    * (Capabilities.java:194-248). Simple min/max variant; the
    * antimeridian-aware longitude spread is CircularExtentAgg below.
    */
  def capabilities(points: DataFrame): DataFrame = {
    val year = borYearYear(col("bor_year"))
    points
      .groupBy("map_key")
      .agg(
        min(col("lat10")).as("min_lat10"),
        max(col("lat10")).as("max_lat10"),
        min(col("lng10")).as("min_lng10"),
        max(col("lng10")).as("max_lng10"),
        min(when(col("bor_year") >= 100, year)).as("min_year"),
        max(when(col("bor_year") >= 100, year)).as("max_year"),
        sum("occ_count").as("total"))
  }

  /** F8/A7: point-features-in-tile filter — keeps the pixels of one tile ±
    * buffer, honouring dateline wrap at the x-edges, and emits tile-local
    * coordinates (negative / ≥tileSize inside the buffer)
    * (Tiles.java:58-127, PointFeatureFilters.java:145-156). tx/ty are
    * columns so the tile address may come from a data-dependent join.
    */
  def pointsInTile(pixels: DataFrame, tx: Column, ty: Column, z: Int,
      tileSize: Int, buffer: Int, tilesHorizontal: Long): DataFrame = {
    val maxG = tilesHorizontal * tileSize
    val px = col("px"); val py = col("py")
    val inY = py >= ty * tileSize - buffer && py <= ty * tileSize + tileSize + buffer
    val inX = px >= tx * tileSize - buffer && px <= tx * tileSize + tileSize + buffer
    val wrapWest = tx === 0 && px >= maxG - buffer
    val wrapEast = tx === tilesHorizontal - 1 && px < buffer
    val lpx = when(wrapWest, px - maxG)
      .when(wrapEast, px + maxG - tx * tileSize)
      .otherwise(px - tx * tileSize)
    pixels
      .filter(inY && (inX || wrapWest || wrapEast))
      .select(tx.as("tx"), ty.as("ty"),
        lpx.as("lpx"), (py - ty * tileSize).as("lpy"), col("total"))
  }

  /** A11 full: antimeridian-aware longitude extent per view — find the
    * largest circular gap between occupied longitudes; the extent is the
    * complement of that gap (Capabilities.java:288-334). west10 is the
    * longitude after the gap, east10 the one before it (west > east ⟺ the
    * extent crosses the antimeridian). Deterministic tiebreak: smaller gap
    * end wins among equal gaps.
    */
  def circularExtent(points: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = points.select("map_key", "lng10").distinct()
    val w = Window.partitionBy("map_key").orderBy("lng10")
    val whole = Window.partitionBy("map_key")
    val g = d
      .withColumn("prev", lag("lng10", 1).over(w))
      .withColumn("mx", max("lng10").over(whole))
      .withColumn("gap",
        when(col("prev").isNull, col("lng10") + 3600 - col("mx"))
          .otherwise(col("lng10") - col("prev")))
      .withColumn("east_cand", coalesce(col("prev"), col("mx")))
    g.withColumn("rn",
        row_number().over(Window.partitionBy("map_key")
          .orderBy(col("gap").desc, col("lng10"))))
      .filter(col("rn") === 1)
      .select(col("map_key"), col("lng10").as("west10"), col("east_cand").as("east10"))
  }

  /** A12/A13: per-cell OLS regression of normalized yearly counts
    * (species/group per year → slope/intercept/r2/count), built on Spark's
    * codegen'd `regr_*` aggregates rather than driver-side SimpleRegression
    * (RegressionResource.java:258-314).
    *
    * speciesYearly/groupYearly: (cell, year, n) rows.
    */
  def regression(speciesYearly: DataFrame, groupYearly: DataFrame): DataFrame = {
    val s = speciesYearly.as("s")
    val g = groupYearly.as("g")
    val joined = s.join(g, Seq("cell", "year"), "inner")
      .select(col("cell"), col("year"),
        (col("s.n").cast("double") / col("g.n")).as("ratio"))
    joined
      .groupBy("cell")
      .agg(
        regr_slope(col("ratio"), col("year")).as("slope"),
        regr_intercept(col("ratio"), col("year")).as("intercept"),
        regr_count(col("ratio"), col("year")).as("n_years"))
  }

  /** Scalar formulas over the raw `regr_*` aggregate columns
    * (slope_raw, icept_raw, r2_raw, syy, sxx, ny). The SAME text is executed
    * by Spark (via `expr`) and by the DuckDB oracle, so both engines run the
    * identical IEEE-754 op sequence given equal aggregate inputs.
    *
    * SSE = Syy·(1−r²). Significance is the two-sided p-value of the slope:
    * t = |slope|·√(Sxx·(n−2)/SSE), mapped to a standard normal via the
    * classic t→z shrink z = t·(1−1/(4df))/√(1+t²/(2df)), then
    * p = 1−erf(z/√2) with the Abramowitz–Stegun 7.1.26 polynomial erf —
    * pure arithmetic, so it is expressible identically in any engine
    * (the reference uses commons-math TDistribution,
    * RegressionResource.java:296-314; this closed form agrees to ~1e-3,
    * which is the fidelity a significance flag needs).
    */
  val RegrSse = "syy * (1.0 - r2_raw)"
  private val RegrT = s"abs(slope_raw) * sqrt(sxx * (ny - 2.0) / ($RegrSse))"
  private val RegrZ = s"($RegrT) * (1.0 - 1.0/(4.0*(ny - 2.0))) / " +
    s"sqrt(1.0 + ($RegrT)*($RegrT)/(2.0*(ny - 2.0)))"
  private val RegrX = s"($RegrZ) * 0.7071067811865476"
  private val RegrU = s"1.0/(1.0 + 0.3275911*($RegrX))"
  private val RegrErf = s"1.0 - ($RegrU)*(0.254829592 + ($RegrU)*(-0.284496736 + " +
    s"($RegrU)*(1.421413741 + ($RegrU)*(-1.453152027 + ($RegrU)*1.061405429))))" +
    s"*exp(-($RegrX)*($RegrX))"
  val RegrP = s"CASE WHEN $RegrSse <= 0.0 THEN 0.0 ELSE 1.0 - ($RegrErf) END"

  /** A12 full reference parity: per-cell OLS with the reference's complete
    * output — slope, intercept, r², SSE and significance
    * (RegressionResource.java:258-314) — over two yearly-count layers
    * (species ⋈ higher-taxon) joined on the cell id. Cells with fewer than
    * 3 years are dropped (df = n−2 must be positive).
    */
  def regressionFull(speciesYearly: DataFrame, groupYearly: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val j = speciesYearly.as("s")
      .join(groupYearly.as("g"), keyCols :+ "year")
      .select(keyCols.map(col) :+ col("year") :+
        (col("s.n").cast("double") / col("g.n")).as("ratio"): _*)
    j.groupBy(keyCols.map(col): _*)
      .agg(
        regr_slope(col("ratio"), col("year")).as("slope_raw"),
        regr_intercept(col("ratio"), col("year")).as("icept_raw"),
        regr_r2(col("ratio"), col("year")).as("r2_raw"),
        regr_syy(col("ratio"), col("year")).as("syy"),
        regr_sxx(col("ratio"), col("year")).as("sxx"),
        regr_count(col("ratio"), col("year")).as("ny"))
      .filter(col("ny") >= 3)
      // `+ 0.0` collapses IEEE −0.0 to +0.0 (engines disagree on the sign
      // a round() of a tiny negative keeps; the value is identical)
      .select(keyCols.map(col) ++ Seq(
        (round(col("slope_raw"), 6) + 0.0).as("slope"),
        (round(col("icept_raw"), 6) + 0.0).as("intercept"),
        (round(col("r2_raw"), 6) + 0.0).as("r2"),
        col("ny").as("n_years"),
        (round(expr(RegrSse), 6) + 0.0).as("sse"),
        (round(expr(RegrP), 6) + 0.0).as("p_value")): _*)
  }

  /** S9/A10: ad-hoc geo-grid aggregation — the ES geotile replacement.
    * mode GEO_BOUNDS: per-cell bounding box + count; GEO_CENTROID: weighted
    * centroid + count (AdHocMapsResource.java:186-262).
    */
  def geotile(dfGeo: DataFrame, z: Int, bounds: Boolean): DataFrame = {
    val (px, py) = wgs84XY(col("lat"), col("lng"), z, 1) // 1px tiles ≙ geotile cells
    val cells = dfGeo
      .withColumn("cell_x", floor(px).cast("long"))
      .withColumn("cell_y", floor(py).cast("long"))
    if (bounds)
      cells.groupBy("cell_x", "cell_y").agg(
        count(lit(1)).as("doc_count"),
        min("lat10").as("min_lat10"), max("lat10").as("max_lat10"),
        min("lng10").as("min_lng10"), max("lng10").as("max_lng10"))
    else
      cells.groupBy("cell_x", "cell_y").agg(
        count(lit(1)).as("doc_count"),
        avg(col("lat10")).as("centroid_lat10"),
        avg(col("lng10")).as("centroid_lng10"))
  }
}
