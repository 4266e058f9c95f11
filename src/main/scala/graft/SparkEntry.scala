package graft

import graft.core.{HexGrid, YearRange}
import graft.functions.GeoFunctions._
import graft.operators.{Dedup, MapBuild, Multimodal, OccurrenceView, Similarity, TileServe}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle in `oracleSql` producing an
  * identically-named, identically-valued result on the same parquet tables.
  *
  * Floating-point discipline: every double expression in the Spark plan is
  * mirrored token-for-token in the oracle SQL (same literals, same
  * association order) so both engines execute the same IEEE-754 op
  * sequence. Sums that are order-dependent (doubles across rows) are
  * rounded; integer sums are exact.
  */
object SparkEntry {
  import OccurrenceView._

  /** Flagship: full point-map build (explode → A2 → A3) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    MapBuild.featureRollup(
      MapBuild.pointAgg(MapBuild.explodeMapKeys(occ(spark, "/root/testdata/sf0.001"))))

  // ---------------------------------------------------------------- helpers

  private def exploded(s: SparkSession, dir: String): DataFrame =
    MapBuild.explodeMapKeys(occ(s, dir))

  private def points(s: SparkSession, dir: String): DataFrame =
    MapBuild.pointAgg(exploded(s, dir))

  private def tilesZ6(s: SparkSession, dir: String): DataFrame =
    MapBuild.tileAssembly(MapBuild.rawPixelsAt(occ(s, dir), "EPSG:4326", 6), 6)

  /** Raw (unaggregated) z10 pixels feeding the bin operators. The bins
    * re-aggregate on their own cell key, and sums compose, so going straight
    * from the exploded records to ONE bin-keyed shuffle yields values
    * identical to the point-store → pixel-agg → bin chain while dropping two
    * shuffles (occ's lat/lng ARE the point store's lat10-derived coords, so
    * the pixel math is bit-identical).
    */
  private def binPixelsZ10(s: SparkSession, dir: String): DataFrame =
    MapBuild.rawPixelsAt(occ(s, dir), "EPSG:4326", 10)
      .withColumnRenamed("occ_count", "total")

  /** Per-record "point" rows (occ_count = 1). The serving filters and
    * aggregates fed by these re-aggregate on their own keys, and their
    * sums/min/max/distinct compose, so raw records yield values identical
    * to the materialized point store minus its build shuffle. Equivalence
    * of serving FROM the store is proven separately (SinkSpec
    * serve-equals-fresh, q58 blob roundtrip).
    */
  private def rawPoints(s: SparkSession, dir: String): DataFrame =
    exploded(s, dir).withColumn("occ_count", lit(1L))

  /** As [[rawPoints]] for the ALL view only: "0:0" is in every record's key
    * array, so the explode degenerates to a constant column.
    */
  private def rawPointsAll(s: SparkSession, dir: String): DataFrame =
    occ(s, dir).withColumn("map_key", lit("0:0")).withColumn("occ_count", lit(1L))

  private val Hex = HexGrid(TileSize, 8)

  // ------------------------------------------------------------ the queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: per-view counts (MapBuilder.java:205-229)
    "q01_view_counts" -> ((s, dir) =>
      MapBuild.viewCounts(occ(s, dir))),

    // A1 HAVING: the large/small bifurcation stat
    "q02_large_views" -> ((s, dir) =>
      MapBuild.largeViews(occ(s, dir), Threshold)),

    // §2.6 grouping-sets alternative to the G1 explode: per-dimension view
    // counts in one pass — Catalyst's Expand carries only the grouping
    // columns, leaner than exploding a string array through every column
    // (equals q01 exactly)
    "q63_grouping_sets" -> ((s, dir) => {
      val dims = OccurrenceView.viewKeyDims.indices.map(i => s"k${i + 1}")
      val o = OccurrenceView.viewKeyDims.zip(dims)
        .foldLeft(occ(s, dir)) { case (df, (c, n)) => df.withColumn(n, c) }
      o.groupingSets(
          Seq.empty +: dims.map(n => Seq(col(n))),
          dims.map(col): _*)
        .agg(count(lit(1)).as("occ_count"))
        .select(
          coalesce(dims.map(col) :+ lit("0:0"): _*).as("map_key"),
          col("occ_count"))
    }),

    // A2: point-map aggregate (PointMapBuilder.java:53-70)
    "q03_point_agg" -> ((s, dir) => points(s, dir)),

    // A3: per-view feature blob rollup (PointMapBuilder.java:73-92)
    "q04_feature_rollup" -> ((s, dir) =>
      MapBuild.featureRollup(points(s, dir))),

    // A4: max-zoom pixel aggregate, Web Mercator (TileMapBuilder.java:140-160)
    "q05_pixel_agg_3857" -> ((s, dir) =>
      MapBuild.pixelAgg(occ(s, dir), "EPSG:3857")),

    // A4: max-zoom pixel aggregate, Plate Carrée
    "q06_pixel_agg_4326" -> ((s, dir) =>
      MapBuild.pixelAgg(occ(s, dir), "EPSG:4326")),

    // A4/C2: max-zoom pixel aggregate, north-polar LAEA (hemisphere-clipped, F2/F3)
    "q26_pixel_agg_3575" -> ((s, dir) =>
      MapBuild.pixelAgg(occ(s, dir), "EPSG:3575")),

    // A4/C2: max-zoom pixel aggregate, Antarctic stereographic
    "q27_pixel_agg_3031" -> ((s, dir) =>
      MapBuild.pixelAgg(occ(s, dir), "EPSG:3031")),

    // A5/O3: zoom rollup via bit-shift re-aggregation (TileMapBuilder.java:129-138)
    "q07_zoom_rollup" -> ((s, dir) =>
      MapBuild.rollupToZoom(MapBuild.pixelAgg(occ(s, dir), "EPSG:4326"), MaxZoom, 10)),

    // A5: tile assembly at one zoom (TileMapBuilder.java:173-204)
    "q08_tiles_z6" -> ((s, dir) => tilesZ6(s, dir)),

    // A9: square binning (SquareBin.java:60-141)
    "q09_square_bin" -> ((s, dir) =>
      TileServe.squareBin(binPixelsZ10(s, dir), 64)),

    // A8: hex binning on the global flat-top grid (HexBin.java:85-199)
    "q10_hex_bin" -> ((s, dir) =>
      TileServe.hexBin(binPixelsZ10(s, dir), Hex.radius)),

    // A11: capabilities extent/year/total (Capabilities.java:194-248)
    "q11_capabilities" -> ((s, dir) =>
      TileServe.capabilities(rawPoints(s, dir))),

    // A12/A13: per-cell OLS regression via regr_* (RegressionResource.java:258-314)
    "q12_regression" -> ((s, dir) => {
      val base = occ(s, dir).filter(col("year").isNotNull)
        .withColumn("cell", expr("(lng10 + 1800) div 100"))
      val g = base.groupBy("cell", "year").agg(count(lit(1)).as("gn"))
      val sp = base.filter(col("bor_id") === 0)
        .groupBy("cell", "year").agg(count(lit(1)).as("sn"))
      val j = sp.join(g, Seq("cell", "year"))
        .select(col("cell"), col("year"), (col("sn").cast("double") / col("gn")).as("ratio"))
      j.groupBy("cell").agg(
        (round(regr_slope(col("ratio"), col("year")), 6) + 0.0).as("slope"),
        (round(regr_intercept(col("ratio"), col("year")), 6) + 0.0).as("intercept"),
        regr_count(col("ratio"), col("year")).as("n_years"))
    }),

    // A12 full parity: per-hexagon regression — species layer ⋈ higher-taxon
    // layer on hex id, emitting slope/intercept/r²/SSE/significance
    // (RegressionResource.java:258-314). Hex cells are the world grid at z2
    // (coarse enough that every hex holds hundreds of records at test scale,
    // so the ≥3-species-years gate emits real rows — at z10 the grid out-
    // resolves the testdata and the result set is vacuously empty);
    // "species" ≙ the 1:7 taxon view's records, "higher taxon" ≙ all.
    "q55_hex_regression" -> ((s, dir) => {
      val base = MapBuild
        .withPixels(occ(s, dir).filter(col("year").isNotNull), "EPSG:4326")
        .select(col("year"), col("l_partkey"),
          shiftright(col("px"), MaxZoom - 2).as("px"),
          shiftright(col("py"), MaxZoom - 2).as("py"))
      val (hq, hr) = hexCell(col("px"), col("py"), Hex.radius)
      val cells = base.select(col("year"), col("l_partkey"),
        hq.as("hex_q"), hr.as("hex_r"))
      // one scan + one shuffle: both layers come from a single conditional
      // aggregation (values identical to separately-aggregated layers; the
      // species layer is the sn>0 slice), then the layer join is a
      // broadcast over the already-aggregated rows
      val yearly = cells.groupBy("hex_q", "hex_r", "year")
        .agg(count(lit(1)).as("gn"),
          count(when(col("l_partkey") % 50 === 7, 1)).as("sn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      yearly.count() // barrier: both layer branches read the materialized agg
      val group = yearly.select(col("hex_q"), col("hex_r"), col("year"), col("gn").as("n"))
      val species = yearly.filter(col("sn") > 0)
        .select(col("hex_q"), col("hex_r"), col("year"), col("sn").as("n"))
      TileServe.regressionFull(species, group, Seq("hex_q", "hex_r"))
    }),

    // S9/A10: ad-hoc geotile aggregation, GEO_BOUNDS (AdHocMapsResource.java:186-232)
    "q13_geotile_bounds" -> ((s, dir) =>
      TileServe.geotile(eventsGeo(s, dir), 6, bounds = true)),

    // S9/A10: GEO_CENTROID mode
    "q14_geotile_centroid" -> ((s, dir) =>
      TileServe.geotile(eventsGeo(s, dir), 6, bounds = false)),

    // F6: serving year-range filter (Range.java:21-62)
    "q15_year_filter" -> ((s, dir) =>
      TileServe.yearRangeFilter(rawPoints(s, dir), YearRange(Some(1995), Some(2005)))
        .groupBy("map_key").agg(sum("occ_count").as("total"))),

    // F7: serving basisOfRecord filter
    "q16_bor_filter" -> ((s, dir) =>
      TileServe.borFilter(rawPoints(s, dir), Seq(0, 2))
        .groupBy("map_key").agg(sum("occ_count").as("total"))),

    // C4/O9: salted sorted keys, Java-hashCode parity (HBaseKeyUDF.java:42-63)
    "q17_salted_keys" -> ((s, dir) =>
      tilesZ6(s, dir)
        .select(
          saltedTileKey(col("map_key"), col("z"), col("tx"), col("ty"), 100).as("salted"),
          col("total"))),

    // ANN: brute-force cosine top-k over the embedding column (JIT kernels)
    "q18_ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      Similarity.cosineTopK(emb, qv, 20)
    }),

    // Dedup: exact content hash groups
    "q19_dedup_exact" -> ((s, dir) =>
      documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("canonical_id"))),

    // Text: token counting (whitespace + BPE-ish regex)
    "q20_token_stats" -> ((s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        when(length(trim(col("text"))) === 0, 0)
          .otherwise(size(split(trim(col("text")), "\\s+"))).as("n_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe_tokens"),
        length(col("text")).as("len_chars"))),

    // Text: language-ID by stopword-hit scoring (confusion counts vs labels)
    "q21_lang_id" -> ((s, dir) => {
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      def cnt(w: String): Column =
        (length(padded) - length(replace(padded, lit(w), lit("")))) / lit(w.length)
      val sEn = cnt(" the ") + cnt(" and ") + cnt(" of ")
      val sFr = cnt(" le ") + cnt(" et ") + cnt(" la ")
      val sDe = cnt(" der ") + cnt(" und ") + cnt(" die ")
      documents(s, dir)
        .withColumn("lang_pred",
          when(sEn >= sFr && sEn >= sDe, "en").when(sFr >= sDe, "fr").otherwise("de"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    }),

    // Text: quality scoring (length / alpha ratio / punct ratio / word count)
    "q22_quality_score" -> ((s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        length(col("text")).as("len_chars"),
        regexp_count(lower(col("text")), lit("[a-z]+")).as("n_words"),
        round(length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double")
          / length(col("text")), 6).as("alpha_ratio"),
        round(regexp_count(col("text"), lit("[.,;:!?]")).cast("double")
          / length(col("text")), 6).as("punct_ratio"))),

    // Text: document fingerprint (31-polynomial rolling hash mod 2^32)
    "q23_doc_fingerprint" -> ((s, dir) => {
      val fp = udf { (t: String) => Dedup.cpFold(t, 4294967296L) }
      documents(s, dir).select(col("doc_id"), fp(col("text")).as("fp"))
    }),

    // J1: country-mask semi-join of density pixels against a mask view's pixels
    "q34_country_mask" -> ((s, dir) => {
      // explode is pruned to just the two joined views BEFORE the pixel
      // shuffle; persist+count so the density and mask branches read one
      // materialized pixel table instead of re-running the scan. The
      // handle can't unpersist here (the returned plan reads it), so every
      // sweep consumer clears the cache after each query's action —
      // Verify/Bench in their run loops, PlanSpec in afterAll.
      val rp = TileServe.renderPixels(
        rawPoints(s, dir).filter(col("map_key").isin("0:0", "4:3")),
        "EPSG:4326", 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rp.count()
      TileServe.maskSemiJoin(
        rp.filter(col("map_key") === "0:0"),
        rp.filter(col("map_key") === "4:3"))
        .select("px", "py", "total")
    }),

    // F4/O10: large/small bifurcation — small views via broadcast anti-join
    "q35_small_views" -> ((s, dir) => {
      val ex = exploded(s, dir)
      val small = MapBuild.filterToViews(ex, MapBuild.largeViews(occ(s, dir), Threshold), keep = false)
      MapBuild.featureRollup(MapBuild.pointAgg(small))
    }),

    // A3/S7 binary parity: small views encoded into deterministic
    // PointFeatures blobs and decoded back — the blob roundtrip gate
    // (point_feature.proto, ProtobufTiles.java:31-51)
    "q58_point_blob" -> ((s, dir) => {
      val ex = exploded(s, dir)
      val small = MapBuild.filterToViews(ex,
        MapBuild.largeViews(occ(s, dir), Threshold), keep = false)
      graft.operators.PointEncode.decodeBlobs(s,
        graft.operators.PointEncode.pointBlobs(s, MapBuild.pointAgg(small)))
    }),

    // G2: buffer-replica tile explode at z6 (dateline wrap + 8-neighbour buffers)
    "q36_tile_replicas" -> ((s, dir) =>
      MapBuild.tileReplicaAssembly(
        MapBuild.pixelAggAt(occ(s, dir), "EPSG:4326", 6, withBor = false),
        "EPSG:4326", 6)),

    // G2/G3 at EPSG:3857: the Mercator replica gate — z0 (1-tile world,
    // where the dateline wrap degenerates to the tile itself and must
    // dedupe) stacked with z1 (2-tile world, real wrap into the opposite
    // tile's buffer), the hardest TileXYUDF.java:202-223 cases
    "q59_tile_replicas_3857" -> ((s, dir) => {
      val z1px = MapBuild.pixelAggAt(occ(s, dir), "EPSG:3857", 1, withBor = false)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      z1px.count() // barrier: both union branches read the materialized level
      val z0 = MapBuild.tileReplicaAssembly(
        MapBuild.rollupToZoom(z1px, 1, 0), "EPSG:3857", 0)
      val z1 = MapBuild.tileReplicaAssembly(z1px, "EPSG:3857", 1)
      z0.unionByName(z1)
    }),

    // A14/O5: dictionary-encode view keys to dense ints for shuffle shrink —
    // broadcast dictionary (bounded by #views), NOT a global Window
    "q37_dict_encode" -> ((s, dir) =>
      MapBuild.dictionaryEncode(s, MapBuild.viewCounts(occ(s, dir)))),

    // Multimodal: binary payload column -> typed mapPartitions "decode" (stubbed codec)
    "q38_media_meta" -> ((s, dir) =>
      Multimodal.decodeMeta(s, Multimodal.withPayload(documents(s, dir))).toDF()),

    // Multimodal: frame sampling via explode over decoded frame counts
    "q39_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(s, Multimodal.withPayload(documents(s, dir))).toDF(), 5)),

    // Multimodal: aspect-preserving resize geometry (integer scale-fit,
    // never upscale) with the pixel re-encode stubbed to an RGB size formula
    "q61_media_resize" -> ((s, dir) =>
      Multimodal.resizeFit(s,
        Multimodal.decodeMeta(s, Multimodal.withPayload(documents(s, dir))).toDF(),
        32, 24).toDF()),

    // Multimodal: per-partition feature extraction (stub model) — 8-dim
    // code-point signature, flattened to columns for the oracle
    "q62_media_features" -> ((s, dir) => {
      val f = Multimodal.extractFeatures(s, Multimodal.withPayload(documents(s, dir)))
      f.select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("feature"), i + 1).as(s"f$i")): _*)
    }),

    // A6/S8 serving combo: year-filtered render of the busiest z6 tile of the ALL view
    "q40_tile_render" -> ((s, dir) => {
      val p = TileServe.yearRangeFilter(rawPointsAll(s, dir), YearRange(Some(1995), Some(2005)))
      val pix = TileServe.renderPixels(p, "EPSG:4326", 6)
        .withColumn("tx", (col("px") / TileSize).cast("long"))
        .withColumn("ty", (col("py") / TileSize).cast("long"))
      val top = pix.groupBy("tx", "ty").agg(sum("total").as("tile_total"))
        .orderBy(col("tile_total").desc, col("tx"), col("ty")).limit(1)
      pix.join(broadcast(top.select("tx", "ty")), Seq("tx", "ty"))
        .select(col("tx"), col("ty"),
          pmod(col("px"), lit(TileSize.toLong)).as("lpx"),
          pmod(col("py"), lit(TileSize.toLong)).as("lpy"), col("total"))
    }),

    // A6 verbose mode: per-pixel per-year counts of the busiest tile
    "q53_tile_verbose" -> ((s, dir) => {
      val pix = MapBuild.withPixels(rawPointsAll(s, dir), "EPSG:4326")
        .select(
          shiftright(col("px"), MaxZoom - 6).as("px"),
          shiftright(col("py"), MaxZoom - 6).as("py"),
          when(col("bor_year") >= 100, (col("bor_year") / 100).cast("int"))
            .otherwise(0).as("yr"),
          col("occ_count"))
        .groupBy("px", "py", "yr").agg(sum("occ_count").as("n"))
        .withColumn("tx", (col("px") / TileSize).cast("long"))
        .withColumn("ty", (col("py") / TileSize).cast("long"))
      val top = pix.groupBy("tx", "ty").agg(sum("n").as("t"))
        .orderBy(col("t").desc, col("tx"), col("ty")).limit(1)
      pix.join(broadcast(top.select("tx", "ty")), Seq("tx", "ty"))
        .select(col("tx"), col("ty"),
          pmod(col("px"), lit(TileSize.toLong)).as("lpx"),
          pmod(col("py"), lit(TileSize.toLong)).as("lpy"),
          col("yr"), col("n"))
    }),

    // A11 full: antimeridian-aware circular longitude extent per view
    "q41_circular_extent" -> ((s, dir) =>
      TileServe.circularExtent(rawPoints(s, dir))),

    // A5 encode: MVT binary tiles (rows-only check — protobuf not SQL-expressible)
    "q42_mvt_tiles" -> ((s, dir) => {
      val z6 = MapBuild.pixelAggAt(occ(s, dir), "EPSG:4326", 6)
      graft.operators.TileEncode.mvtTiles(s, z6, 6)
        .select(col("map_key"), col("z"), col("tx"), col("ty"),
          length(col("mvt")).as("mvt_len"))
    }),

    // A5 decode gate: the q42 MVT blobs decoded back to per-pixel per-year
    // rows — closes the encode path's no-oracle gap (the bytes aren't
    // SQL-expressible; their decoded content is)
    "q54_mvt_decoded" -> ((s, dir) => {
      import s.implicits._
      val z6 = MapBuild.pixelAggAt(occ(s, dir), "EPSG:4326", 6)
      graft.operators.TileEncode.mvtTiles(s, z6, 6)
        .select("map_key", "tx", "ty", "mvt")
        .as[(String, Long, Long, Array[Byte])]
        .flatMap { case (k, tx, ty, bytes) =>
          graft.functions.Mvt.decodeTile(bytes).flatMap { f =>
            val bor = f.layer.stripPrefix("bor").toInt
            f.yearCounts.toSeq.map { case (yr, n) =>
              (k, tx, ty, f.x.toLong, f.y.toLong, bor, yr, n)
            }
          }
        }
        .toDF("map_key", "tx", "ty", "lpx", "lpy", "bor", "year", "n")
    }),

    // O3 full chain: the z6→z0 tile pyramid in one lineage (each level
    // consumes the previous level's output — input halves per level)
    "q45_pyramid" -> ((s, dir) => {
      // the pyramid family builds on a forked session with AQE partition
      // coalescing OFF (MapBuild.noCoalesceSession): the byte-sized
      // coalescer under-sizes these explode-amplified agg states 10-20x
      // and sort-spills at scale (probe-measured; see MapBuild.sumAgg)
      val s2 = MapBuild.noCoalesceSession(s)
      MapBuild.pyramid(occ(s2, dir), "EPSG:4326", 0, 6)
    }),

    // Beyond-reference: INCREMENTAL pyramid maintenance. Split the corpus
    // into an already-ingested base (90%) and a new ingest batch (10%);
    // merge the batch into the stored sum-mergeable pixel state and
    // recompute ONLY the tiles the batch touches (broadcast dirty-key
    // semi-join), clean tiles passing through via anti-join. The oracle is
    // q45's FULL-REBUILD SQL over base+delta — equality proves the
    // incremental path reproduces the rebuild without corpus-grain work.
    "q111_incremental_pyramid" -> ((s, dir) => {
      val o = occ(MapBuild.noCoalesceSession(s), dir) // see q45 comment
      val base = o.filter(col("l_orderkey") % 10 =!= 0)
      val delta = o.filter(col("l_orderkey") % 10 === 0)
      // barrier: the state feeds both the stored pyramid and the merge —
      // persist so the base aggregation runs once (caller-owned lifetime,
      // as with the other barrier-persisting builders)
      val state = MapBuild.pyramidState(base, "EPSG:4326", 6)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stored = MapBuild.pyramidFromState(state, 0, 6)
      MapBuild.incrementalPyramid(state, stored, delta, "EPSG:4326", 0, 6)
    }),

    // q111 with a DELTA-PROPORTIONAL STATE SCAN: the stored state lives on
    // disk partitioned by coarse cell (MapBuild.writePrunedState) and the
    // ingest reads it through a partition filter — clean cells' files are
    // never opened (round-6 audit's one scale caveat on q111). Same
    // full-rebuild oracle; SinkSpec additionally asserts the pruned read's
    // inputFiles stay inside the dirty coarse cells.
    "q145_pruned_pyramid" -> ((s, dir) => {
      val s2 = MapBuild.noCoalesceSession(s)
      val o = occ(s2, dir)
      val base = o.filter(col("l_orderkey") % 10 =!= 0)
      val delta = o.filter(col("l_orderkey") % 10 === 0)
      val state = MapBuild.pyramidState(base, "EPSG:4326", 6)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val store = java.nio.file.Files
        .createTempDirectory("graft-prunedstate").toString
      MapBuild.writePrunedState(state, store, 6, 2)
      val stored = MapBuild.pyramidFromState(state, 0, 6)
      MapBuild.incrementalPyramidPruned(s2, store, stored, delta,
        "EPSG:4326", 0, 6, 2)
    }),

    // F8/A7: buffered tile-containment filter with dateline wrap, tile-local coords
    "q46_points_in_tile" -> ((s, dir) => {
      val pix = TileServe.renderPixels(rawPointsAll(s, dir), "EPSG:4326", 6)
      val top = pix
        .groupBy((col("px") / TileSize).cast("long").as("ttx"),
          (col("py") / TileSize).cast("long").as("tty"))
        .agg(sum("total").as("tile_total"))
        .orderBy(col("tile_total").desc, col("ttx"), col("tty")).limit(1)
      TileServe.pointsInTile(
        pix.crossJoin(broadcast(top.select("ttx", "tty"))),
        col("ttx"), col("tty"), 6, TileSize, 64, 128L)
    }),

    // Dedup: connected-components duplicate clusters (iterative min-label propagation)
    "q47_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(documents(s, dir), 0.5)),

    // Dedup end-to-end: keep each near-dup cluster's representative (the
    // min-id member) and aggregate the surviving corpus — the consumption
    // step after q47's labeling
    "q66_cluster_canonical" -> ((s, dir) => {
      val docs = documents(s, dir)
      val canon = Dedup.duplicateClusters(docs, 0.5)
        .filter(col("doc_id") === col("cluster_id")).select("doc_id")
      docs.join(canon, Seq("doc_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // Composite: training-corpus filter (canonical ∩ lang ∩ quality ∩ token bounds)
    "q48_corpus_filter" -> ((s, dir) => {
      val docs = documents(s, dir)
      val canon = docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("cid"))
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      def cnt(w: String): Column =
        (length(padded) - length(replace(padded, lit(w), lit("")))) / lit(w.length)
      val sEn = cnt(" the ") + cnt(" and ") + cnt(" of ")
      val sFr = cnt(" le ") + cnt(" et ") + cnt(" la ")
      val sDe = cnt(" der ") + cnt(" und ") + cnt(" die ")
      docs
        .join(canon, md5(col("text")) === col("h") && col("doc_id") === col("cid"), "left_semi")
        .filter(when(sEn >= sFr && sEn >= sDe, "en").when(sFr >= sDe, "fr").otherwise("de") === "en")
        .filter((length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double")
          / length(col("text"))) >= 0.7)
        .withColumn("n_tokens",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
        .filter(col("n_tokens").between(10, 200))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // O9 skew pattern: two-stage salted aggregation (equals q01 exactly)
    "q49_salted_agg" -> ((s, dir) =>
      exploded(s, dir)
        .withColumn("sk", col("l_orderkey") % 16)
        .groupBy("map_key", "sk").agg(count(lit(1)).as("c"))
        .groupBy("map_key").agg(sum("c").as("occ_count"))),

    // Pipeline: deterministic per-stratum sampling (LCG hash of the id —
    // reproducible across engines and runs, no RNG state; the SHARED
    // overflow-hardened Corpus.lcg, not an inline copy — round-9 review)
    "q50_stratified_sample" -> ((s, dir) =>
      documents(s, dir)
        .filter(graft.operators.Corpus.lcg(col("doc_id")) % 100 < 25)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))),

    // Pipeline: deterministic train/val/test split (80/10/10 by id hash)
    "q51_data_split" -> ((s, dir) => {
      val b = graft.operators.Corpus.lcg(col("doc_id")) % 100
      documents(s, dir)
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // Pipeline: sequence-length bucketing for batch packing (16-token buckets)
    "q52_length_buckets" -> ((s, dir) =>
      documents(s, dir)
        .withColumn("n_tokens",
          when(length(trim(col("text"))) === 0, 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))))
        .groupBy((expr("n_tokens div 16") * 16).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))),

    // Pipeline: deterministic sequence packing — documents assigned to
    // fixed 4096-token training bins by running-offset within each source
    // (longest-first for tight packing; the running sum is sharded over
    // length buckets so no task ever sorts a whole source)
    "q64_sequence_packing" -> ((s, dir) =>
      graft.operators.Corpus.sequencePacking(documents(s, dir), 4096L)),

    // S10: year facet over the occurrence view (RegressionResource.java:226-252)
    "q43_year_facet" -> ((s, dir) =>
      occ(s, dir).filter(col("year").isNotNull)
        .groupBy("year").agg(count(lit(1)).as("n"))),

    // S9/C6 ad-hoc: tileBoundary-driven bbox filter + geotile agg inside one tile
    "q44_adhoc_tile" -> ((s, dir) => {
      val (la0, la1, lo0, lo1) =
        graft.core.Wgs84(TileSize).tileBoundary(2, 2, 1, 0.0)
      TileServe.geotile(
        eventsGeo(s, dir)
          .filter(col("lat") >= la0 && col("lat") <= la1 &&
            col("lng") >= lo0 && col("lng") <= lo1), 6, bounds = false)
    }),

    // S9/C6 polar ad-hoc: a pole tile's boundary (EPSG:3575, z2 NE quadrant)
    // drives the bbox pre-filter — the tile reaches the pole (maxLat=90) and
    // spans a circular (antimeridian-crossing) longitude range, the quadrant
    // fan-out case (AdHocMapsResource.java:156-170, NorthPoleLAEAEurope.java:67-211)
    "q56_adhoc_polar_3575" -> ((s, dir) => {
      val (la0, la1, lo0, lo1) =
        graft.core.NorthPoleLaea(TileSize).tileBoundary(2, 2, 1, 0.1)
      val lngF =
        if (lo0 <= lo1) col("lng") >= lo0 && col("lng") <= lo1
        else col("lng") >= lo0 || col("lng") <= lo1
      TileServe.geotile(
        eventsGeo(s, dir)
          .filter(col("lat") >= la0 && col("lat") <= la1 && lngF), 6, bounds = false)
    }),

    // S9/C6 polar ad-hoc: an EPSG:3031 seam tile (z2, buffered) — the
    // boundary crosses the antimeridian WITHOUT containing the pole, the
    // circular-range serving case (WGS84AntarcticPolarStereographic.java:87-224)
    "q57_adhoc_polar_3031" -> ((s, dir) => {
      val (la0, la1, lo0, lo1) =
        graft.core.AntarcticStereographic(TileSize).tileBoundary(2, 1, 3, 0.25)
      val lngF =
        if (lo0 <= lo1) col("lng") >= lo0 && col("lng") <= lo1
        else col("lng") >= lo0 || col("lng") <= lo1
      TileServe.geotile(
        eventsGeo(s, dir)
          .filter(col("lat") >= la0 && col("lat") <= la1 && lngF), 6, bounds = false)
    }),

    // Dedup: MinHash signatures (5-code-point shingles, 8 permutations)
    "q28_minhash_sig" -> ((s, dir) =>
      Dedup.withMinhashSignature(documents(s, dir))
        .select(col("doc_id") +: (0 until Dedup.NumHashes).map(k => col(s"mh$k")): _*)),

    // Dedup: LSH banding → bucket-local candidate pairs → est similarity
    "q29_lsh_neardup" -> ((s, dir) =>
      Dedup.lshCandidatePairs(documents(s, dir), 0.5)),

    // Dedup: 32-bit SimHash fingerprints
    "q30_simhash" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"), Dedup.simhash32(col("text")).as("simhash"))),

    // Dedup: exact word-trigram Jaccard within source blocks
    "q31_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(documents(s, dir), "source", 0.02)),

    // Similarity: embedding-cosine near-dup pairs
    "q32_embed_neardup" -> ((s, dir) =>
      Similarity.cosinePairs(embeddings(s, dir), 0.4)),

    // Similarity: random-hyperplane LSH-bucketed ANN top-k
    "q33_lsh_ann" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
      Similarity.lshTopK(emb, qv, 10)
    }),

    // Similarity: IVF ANN — deterministic coarse quantizer, nprobe=2 cells
    "q60_ivf_ann" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
      Similarity.ivfTopK(emb, qv, 10)
    }),

    // IVF recall audit: per-query hit count of the probed top-k against the
    // brute-force ground truth — the recall/scan-fraction evidence an ANN
    // index publishes before being trusted (the ANN analog of q114's
    // est-vs-exact and q139's LSH calibration)
    "q149_ivf_recall" -> ((s, dir) =>
      Similarity.ivfRecall(embeddings(s, dir), 5)),

    // the nprobe TUNING CURVE in one pass: recall@5 per (query, nprobe) for
    // the whole grid, sims + cell ranking computed once; nprobe=16 probes
    // every cell, so that row is a built-in brute-equivalence sanity check
    "q150_ivf_sweep" -> ((s, dir) =>
      Similarity.ivfRecallSweep(embeddings(s, dir), 5, Seq(1, 2, 4, 8, 16))),

    // PQ recall audit — the q149 analog for the OTHER approximate index:
    // per-query hits of the PqM-way ADC-quantized top-5 against exact
    // ground truth (quantization bias, not probe truncation)
    "q151_pq_recall" -> ((s, dir) =>
      Similarity.pqRecall(embeddings(s, dir), 5)),

    // the compression-vs-recall curve: recall@5 per (query, m_sub) for a
    // grid of subvector counts in ONE pass; m_sub=0 is the identity
    // quantizer whose row must read exactly 10⁶ — built-in brute sanity
    "q152_pq_m_sweep" -> ((s, dir) =>
      Similarity.pqRecallSweep(embeddings(s, dir), 5, Seq(1, 2, 4, 8, 16))),

    // SimHash near-dup: 4×8-bit pigeonhole bands over the q30 fingerprint
    // (perfect recall within Hamming ≤ 3), hot-band cap, bit_count verify —
    // the text-side Hamming complement to the Jaccard estimators
    "q154_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(documents(s, dir))),

    // hyperplane-LSH ANN recall sweep — the fourth index family's audit
    // (q33's probe set IS the radius-1 row): recall@5 per (query, bucket
    // Hamming radius); radius 8 admits every bucket ≡ brute and must read
    // exactly 10⁶ (built-in sanity, also OperatorSpec-asserted)
    "q157_lsh_recall" -> ((s, dir) =>
      Similarity.lshAnnRecallSweep(embeddings(s, dir), 5, Seq(0, 1, 2, 8))),

    // the COMPOSED index's recall curve: recall@5 per (query, nprobe) of
    // the ADC-quantized, probe-truncated top-k vs exact ground truth —
    // both error axes (q149 probe truncation × q151 quantization bias)
    // interacting; the nprobe=16 full-probe row isolates pure quantization
    // and must equal q151 (asserted in OperatorSpec)
    "q155_ivfpq_recall" -> ((s, dir) =>
      Similarity.ivfPqRecallSweep(embeddings(s, dir), 5, Seq(1, 2, 4, 8, 16))),

    // IVF+PQ composed: coarse quantizer routes to 4 probed cells, ADC
    // scans byte codes within them — the real inverted-file-with-PQ index
    // (q60's routing × q77's kernel); raw vectors touched by neither
    "q153_ivfpq_ann" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      Similarity.ivfPqTopK(emb, qv, 10, 4)
    }),

    // Similarity: int8 quantization (scale + index-weighted checksum)
    "q65_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(embeddings(s, dir))),

    // Events: hourly tumbling-window aggregate (batch analog of the stream path)
    "q24_event_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("tstamp")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))),

    // Events: gap-based sessionization via window functions (30-min gap)
    "q25_sessionize" -> ((s, dir) => {
      val ev = events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
      val lagT = lag(col("tsec"), 1).over(w)
      val sess = ev
        .withColumn("new_s", when(lagT.isNull || (col("tsec") - lagT) > 1800, 1).otherwise(0))
        .withColumn("sid", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id")
        .agg(max("sid").as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // Pipeline: benchmark decontamination — corpus docs flagged by word-5gram
    // overlap against the eval source (broadcast semi-join, corpus never
    // shuffles raw text)
    "q67_decontam" -> ((s, dir) =>
      graft.operators.Corpus.decontaminate(documents(s, dir), "src0", 5, 0.5)),

    // Pipeline: Gopher-style repetition quality signals per document
    "q68_repetition" -> ((s, dir) =>
      graft.operators.Corpus.repetitionStats(documents(s, dir))),

    // Pipeline: temperature-scaled (alpha=0.5) domain mixing — per-source
    // keep-counts from a tiny broadcast aggregate, deterministic LCG pick
    "q69_domain_mix" -> ((s, dir) =>
      graft.operators.Corpus.temperatureMix(documents(s, dir), 3.0)),

    // As-of join: each click matched to the user's most recent prior error —
    // single-shuffle union + window carry-forward (no range join)
    "q70_asof_join" -> ((s, dir) =>
      graft.operators.AsOfJoin.eventAsOf(events(s, dir), "click", "error")),

    // Pipeline: TF-IDF top-5 terms per source (deterministic tiebreaks)
    "q71_tfidf_terms" -> ((s, dir) =>
      graft.operators.Corpus.tfidfTopTerms(documents(s, dir), 5)),

    // IVF training: one Lloyd (k-means) iteration over the deterministic
    // codebook — assignment + integer-exact per-cell update evidence
    "q72_kmeans_step" -> ((s, dir) =>
      Similarity.kmeansStep(embeddings(s, dir))),

    // Pipeline: context-window chunking — overlapping 32-token spans at
    // stride 24 per document (pure span arithmetic, no shuffle)
    "q73_doc_chunking" -> ((s, dir) =>
      graft.operators.Corpus.chunkSpans(documents(s, dir), 32, 24)),

    // Pipeline: regex redaction (the PII-scrub shape) over a Java∩RE2-safe
    // pattern; the synthetic corpus has no emails/phones, so a lexicon
    // pattern with real hits exercises the identical plumbing
    "q74_pii_scrub" -> ((s, dir) =>
      graft.operators.Corpus.regexScrub(documents(s, dir),
        "\\b(customer|supplier|part)\\b", "<ENT>")),

    // Pipeline: exact discrete token-count quantiles per source (rank
    // statistic — bit-exact in any engine, unlike interpolated
    // percentiles); runs the q86 histogram decomposition since round 9,
    // so no task ever sorts a whole source
    "q75_token_quantiles" -> ((s, dir) =>
      graft.operators.Corpus.tokenQuantilesDisc(documents(s, dir),
        Seq(0.5, 0.9, 0.99))),

    // ANN/PQ: product-quantization codes (8 subspaces × 16 centroids,
    // deterministic sampled codebook) — the vector-compression side of
    // IVF+PQ; encoding is broadcast + row-local, no shuffle
    "q76_pq_codes" -> ((s, dir) =>
      Similarity.pqEncode(embeddings(s, dir)).drop("label")),

    // ANN/PQ serving: asymmetric-distance top-10 — the query's distance
    // table becomes literal-array lookups over the code columns (pure
    // codegen Column math at scan time)
    "q77_pq_ann" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0)
      Similarity.pqTopK(emb, qv, 10)
    }),

    // Retrieval: BM25 top-15 docs for a 3-term query — filtered explode,
    // broadcast corpus stats, fixed-order per-term score sum
    "q78_bm25_topk" -> ((s, dir) =>
      graft.operators.Corpus.bm25TopK(documents(s, dir), Bm25Terms, 15)),

    // Quality: vocabulary-coverage scoring vs the corpus top-16 vocab —
    // integer-exact counts, single-division rates
    "q79_vocab_coverage" -> ((s, dir) =>
      graft.operators.Corpus.vocabCoverage(documents(s, dir), VocabSize)),

    // SemDeDup: k-means-cell-blocked cosine dedup keeping the earliest id —
    // per-cell survivor evidence (integer checksums)
    "q80_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(embeddings(s, dir), 0.4)),

    // Deterministic global training order with NO single-partition window:
    // bucket histogram offsets + per-bucket rank
    "q81_global_order" -> ((s, dir) =>
      graft.operators.Corpus.globalOrderIndex(documents(s, dir))),

    // Count-min sketch heavy hitters: d×w bounded-shuffle sketch build,
    // estimates vs true counts for the top-10 tokens
    "q82_cms_heavy" -> ((s, dir) =>
      graft.operators.Sketch.cmsHeavyHitters(documents(s, dir), 10)),

    // Contrastive hard-negative mining: per-anchor best different-label
    // neighbour, LSH-bucket-blocked, anchor-partitioned argmax
    "q83_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(embeddings(s, dir))),

    // Linear-counting cardinality sketch: per-source distinct-token estimate
    // from m=64 slot occupancy vs the exact count
    "q84_linear_count" -> ((s, dir) =>
      graft.operators.Sketch.linearCount(documents(s, dir), 64)),

    // Ingest-time dedup: a new batch (doc_id % 4 == 0) against the existing
    // corpus's LSH band index — dup_of = smallest duplicated corpus doc
    "q85_ingest_dedup" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.ingestDedup(docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0), 0.5)
    }),

    // The rank statistic's histogram decomposition, named explicitly —
    // since round 9 q75 runs this same plan (the row-sort arm is the
    // CorpusSpec-only audit reference); both stay oracle-paired
    "q86_hist_quantiles" -> ((s, dir) =>
      graft.operators.Corpus.tokenQuantilesHist(documents(s, dir),
        Seq(0.5, 0.9, 0.99))),

    // Sub-document dedup: 16-token chunks keep their first occurrence only;
    // docs rebuilt from surviving chunks (md5 fingerprint evidence)
    "q87_chunk_dedup" -> ((s, dir) =>
      graft.operators.Corpus.chunkDedup(documents(s, dir), 16)),

    // Token-budget selection: per source, quality-ranked greedy fill to a
    // 1000-token budget (integer cumulative sum, source-partitioned window)
    "q88_token_budget" -> ((s, dir) =>
      graft.operators.Corpus.tokenBudgetSelect(documents(s, dir), 1000L)),

    // Dataset-card rollup: per-source totals, exact mean length, language
    // mix, exact-dup rate — distincts as sub-aggregates (no Expand)
    "q89_corpus_profile" -> ((s, dir) =>
      graft.operators.Corpus.corpusProfile(documents(s, dir))),

    // HyperLogLog distinct-token estimate per source (16 registers; the
    // power-of-two register sum is IEEE-exact, hence order-independent)
    "q90_hll_count" -> ((s, dir) =>
      graft.operators.Sketch.hllCount(documents(s, dir))),

    // Pipeline: bigram-LM perplexity scoring — add-one-smoothed corpus LM,
    // per-doc mean nll in exact integer micro-nats (no float sum anywhere)
    "q91_bigram_lm" -> ((s, dir) =>
      graft.operators.Corpus.bigramLmScore(documents(s, dir))),

    // Sketch: Bloom-filter ingest membership screen — corpus bits vs the
    // q85 new batch, exact verdict alongside (false positives visible)
    "q92_bloom_ingest" -> ((s, dir) => {
      val docs = documents(s, dir)
      graft.operators.Sketch.bloomIngest(docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0))
    }),

    // Dedup: exact Levenshtein verification of the q29 LSH candidates over
    // 96-char prefixes (cost bounded per pair, candidates only — never n²)
    "q93_edit_verify" -> ((s, dir) =>
      Dedup.editVerifiedPairs(documents(s, dir), 0.5, 96, 24)),

    // Tokenizer training: top-20 adjacent code-point pairs by word-frequency
    // weight — one BPE merge-step statistic over the vocabulary
    "q94_bpe_pairs" -> ((s, dir) =>
      graft.operators.Corpus.bpePairCounts(documents(s, dir), 20)),

    // Events: ordered conversion funnel (view → click → purchase, each
    // stage strictly after the previous; user_id-keyed stage aggregates)
    "q95_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(events(s, dir),
        Seq("view", "click", "purchase"))),

    // Events: cohort retention triangle — first-active-day cohorts ×
    // day offset, exact integer counts
    "q96_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.retentionCohorts(events(s, dir))),

    // Embedding-corpus statistics: top-30 skip-gram pairs (window 2) with
    // pointwise mutual information — one ln over mirrored double math
    "q97_pmi_pairs" -> ((s, dir) =>
      graft.operators.Corpus.pmiPairs(documents(s, dir), 2, 30)),

    // Dedup: asymmetric trigram-set containment on LSH candidates — the
    // quote/boilerplate-inclusion detector Jaccard misses
    "q98_containment" -> ((s, dir) =>
      Dedup.containmentPairs(documents(s, dir), 0.5, 0.8)),

    // Sketch mergeability: HLL union estimates for every source pair via
    // register-wise max — the associative-merge property 100 TB needs
    "q99_hll_union" -> ((s, dir) =>
      graft.operators.Sketch.hllUnion(documents(s, dir))),

    // Retrieval: boolean AND/NOT token query with exact phrase counts —
    // shuffle-free scan-shaped filter beside the ranked BM25 (q78)
    "q100_bool_phrase" -> ((s, dir) =>
      graft.operators.Corpus.booleanRetrieve(documents(s, dir),
        Seq("spark", "window"), Seq("table"), "spark window")),

    // Lakehouse: CDC merge-on-read — deterministic changelog (updates on
    // doc_id%5, deletes on %17; delete wins on the overlap) vs snapshot
    "q101_cdc_merge" -> ((s, dir) => {
      val docs = documents(s, dir)
      val changes = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          lit(1).as("seq"), lit("u").as("op"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id"), lit("").as("text"),
            lit(2).as("seq"), lit("d").as("op")))
      graft.operators.Changelog.cdcMerge(docs, changes)
    }),

    // Warehouse: SCD2 validity intervals of each user's event-type regimes
    "q102_scd2" -> ((s, dir) =>
      graft.operators.EventAnalytics.scd2Intervals(events(s, dir))),

    // Data quality: referential-integrity / pk-dup / null audit over the
    // star schema — anti-joins with AQE-broadcast dimensions
    "q103_dq_audit" -> ((s, dir) =>
      graft.operators.DataQuality.audit(s, dir)),

    // Time series: trailing-3-hour burst ratios per event type — exact
    // counts, one mirrored division (no order-dependent variance sums)
    "q104_hourly_burst" -> ((s, dir) =>
      graft.operators.EventAnalytics.hourlyBursts(events(s, dir))),

    // Temporal join: events rolled up into their SCD2 regime — Spark side
    // is a carry-forward window (NO range join); the oracle cross-checks
    // with a genuine interval join
    "q105_interval_join" -> ((s, dir) =>
      graft.operators.EventAnalytics.eventsInRegimes(events(s, dir))),

    // Graph: 3-iteration PageRank over the near-dup graph in exact
    // integer micro-units — bit-identical in any engine (no float sums)
    "q106_pagerank" -> ((s, dir) =>
      Dedup.pagerankMicro(documents(s, dir), 0.5, 3)),

    // Raster: 3×3 focal density surface over the 0.1° cell grid with
    // dateline wrap — collapse-before-amplify (agg first, then the bounded
    // 9-arm explode over aggregated cells)
    "q107_focal_density" -> ((s, dir) =>
      graft.operators.Spatial.focalDensity(occ(s, dir))),

    // S6-style storage-layout audit: Morton (Z-order) keys over the q08 z6
    // tile store, 64-key blocks (span ≤ 8×8 by construction)
    "q108_zorder_layout" -> ((s, dir) =>
      graft.operators.Spatial.zorderLayout(tilesZ6(s, dir), 7, 6)),

    // O3 deep pyramid: >8 levels forces the ITERATIVE per-level halving
    // chain (the reference's z16 production shape) — same rollup semantics
    // as q45's one-pass, gated by the same grouped-rollup oracle family
    "q109_pyramid_deep" -> ((s, dir) => {
      val s2 = MapBuild.noCoalesceSession(s) // see q45 comment
      MapBuild.pyramid(occ(s2, dir), "EPSG:4326", 0, 10)
    }),

    // O3 at the reference's FULL production depth: z0–z16 Mercator — the
    // exact stage the only published perf table times (example.yaml:
    // 124-127 "Z16: 5, …" = the 14.9 k rows/core-sec baseline row); three
    // iterative 7-level chunks, explode span never exceeds 7. `Lab time
    // fullDepth perZoom` decomposes this build per zoom on the x10
    // replica (PROFILE.md)
    "q182_pyramid_full" -> ((s, dir) => {
      val s2 = MapBuild.noCoalesceSession(s) // see q45 comment
      MapBuild.pyramid(occ(s2, dir), "EPSG:3857", 0, 16)
    }),

    // Dedup: containment-DEDICATED blocking — exact prefix filter on the
    // contained side's sorted trigram hashes; recall is independent of the
    // doc size ratio, unlike the q98 LSH route
    "q110_containment_blocked" -> ((s, dir) =>
      Dedup.containmentBlockedPairs(documents(s, dir), 0.8, 50)),

    // EXACT-threshold Jaccard self-join (AllPairs/PPJoin prefix filtering,
    // df-ascending token order): every pair ≥ 0.6, zero recall loss, no
    // all-pairs, no bucket cap — frequency ordering demotes boilerplate
    // trigrams out of every prefix, so the corpus's degenerate hot key
    // costs nothing by construction (the LSH path q29 pays a cap for the
    // same corpus). Complements q29 (probabilistic) and q31 (blocked).
    "q147_ppjoin_exact" -> ((s, dir) =>
      Dedup.ppjoinPairs(documents(s, dir), 600000L)),

    // LSH (bands x rows) tuner weighted by the corpus's own positive
    // pairs: the MMDS S-curve's expected recall per signature split,
    // evaluated over the EXACT J >= t pair set q147 enumerates
    // losslessly — plus the worst single pair and the analytic s50
    "q166_lsh_tuner" -> ((s, dir) =>
      Dedup.lshParamTuner(documents(s, dir), 600000L)),

    // DSIR importance weights (Xie et al. NeurIPS'23): per doc,
    // log p_target - log p_raw under add-one hashed-bigram bag models
    // (target = the 'en' slice) — the weight column importance
    // resampling (q140's sampler) consumes
    "q167_dsir_weights" -> ((s, dir) =>
      graft.operators.Corpus.dsirWeights(documents(s, dir), "en", 4096)),

    // Gopher rule card (Rae et al. 2021 App. A): per source, the named
    // pass/fail filter rules with per-rule fail counts and the
    // conjunctive keep rate — WHICH rule drives each source's attrition
    "q168_gopher_card" -> ((s, dir) =>
      graft.operators.Corpus.gopherQualityCard(documents(s, dir))),

    // n-gram diversity card: per n in 1..5, occurrence/distinct counts,
    // type-token ratio, Shannon entropy (nano) — the memorization-risk /
    // diversity summary; the n-slope shows where repetition sets in
    "q170_ngram_diversity" -> ((s, dir) =>
      graft.operators.Corpus.ngramDiversityCard(documents(s, dir), 5)),

    // PII scrub report: per source, email/IPv4/phone match counts and the
    // redaction character delta — row-local regex scrub (the corpus is
    // synthetic word-salad, so the zeros ARE the expected report; the
    // scrub mechanics are pinned by OperatorSpec fixtures)
    "q171_pii_report" -> ((s, dir) =>
      graft.operators.Corpus.piiReport(documents(s, dir))),

    // DSIR hash-collision audit: per bucket-count arm, mean |weight
    // difference| + sign agreement vs the EXACT unhashed-bigram LM —
    // the q167 estimator's own recall-style evidence (hashing collides
    // bigrams and biases the log-ratio; more buckets must dominate)
    "q176_dsir_hash_audit" -> ((s, dir) =>
      graft.operators.Corpus.dsirHashAudit(documents(s, dir), "en",
        Seq(64, 512, 4096))),

    // Heaps'-law vocabulary-growth curve: cumulative vocab vs cumulative
    // token occurrences over 10 doc-id-decile prefixes — whether new data
    // still brings new language; each token billed to its FIRST decile,
    // so the whole curve is one keyed min (never a scan per point)
    "q173_vocab_growth" -> ((s, dir) =>
      graft.operators.Corpus.vocabGrowthCurve(documents(s, dir))),

    // Zipf rank-frequency audit: ln(freq)-on-ln(rank) slope/intercept/r2
    // over the top-100 terms — natural text sits near slope -1; flat =
    // machine-generated signature, steep = boilerplate domination
    "q174_zipf_slope" -> ((s, dir) =>
      graft.operators.Corpus.zipfSlope(documents(s, dir), 100)),

    // Sketch algebra HLL lacks: KMV bottom-k sketches support UNION and
    // INTERSECTION (|U∩A∩B|/|U| Jaccard) — the train/eval-overlap
    // estimator. Typed Aggregator with k-long-bounded mergeable state.
    // k=16 (not the production KmvK=64) so the sf0.01 gate exercises BOTH
    // estimator branches: sources hold ~25 distinct docs — below 64 every
    // sketch would stay exact and the (k−1)·M/h_k path would ship untested
    "q112_kmv_overlap" -> ((s, dir) =>
      graft.operators.Sketch.kmvOverlap(documents(s, dir), 16)),

    // Alignment-free substring-overlap detection via winnowed fingerprints
    // (MOSS): any shared ≥11-char substring guarantees a shared
    // fingerprint, shifts don't move untouched-region fingerprints (unlike
    // q87's chunk boundaries), hot fingerprints capped like q29's buckets
    "q113_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(documents(s, dir), 3, 50)),

    // Distinct-cardinality pyramid: HLL registers built once at z6, then
    // register-MAX rolled up the tile tree (parent sketch = merge of
    // children) — per-tile distinct species at every zoom in one corpus
    // pass, with exact counts as ground truth
    "q114_pyramid_distinct" -> ((s, dir) =>
      MapBuild.pyramidDistinct(occ(s, dir), "EPSG:4326", 0, 6)),

    // Great-circle radius query: per-view location/occurrence totals within
    // 2000 km of a center — bbox prefilter (pushdown-friendly, mirrored
    // literal-for-literal) then exact haversine, token-identical in both
    // engines like the q26/q27 polar trig
    "q115_radius_agg" -> ((s, dir) => {
      val pts = MapBuild.pointAgg(exploded(s, dir))
        .withColumn("lat", col("lat10") / 10.0)
        .withColumn("lng", col("lng10") / 10.0)
        .filter(col("lat") >= -18.5 && col("lat") <= 18.5 &&
          col("lng") >= -19.0 && col("lng") <= 19.0)
      val latr = col("lat") * lit(math.Pi / 180.0)
      val lngr = col("lng") * lit(math.Pi / 180.0)
      val dist = lit(2.0 * 6371000.0) *
        asin(sqrt(pow(sin(latr / 2.0), 2.0) + cos(latr) * pow(sin(lngr / 2.0), 2.0)))
      pts.withColumn("dist", dist)
        .filter(col("dist") <= 2000000.0)
        .groupBy("map_key")
        .agg(count(lit(1)).as("n_locs"), sum("occ_count").as("total"))
    }),

    // Exact-k-per-stratum sampling WITHOUT per-group sorts: bottom-k of a
    // bijective affine-mod-prime doc hash via the KMV aggregator (bounded
    // mergeable state), membership by broadcast semi-join — the same
    // sample falls out of any partitioning or batch split
    "q118_bottomk_sample" -> ((s, dir) =>
      graft.operators.Sketch.bottomKSample(documents(s, dir), 12)),

    // q69's temperature quota, but MATERIALIZED: the actual sampled doc ids
    // per source, selected as a prefix of the sorted bottom-k sketch —
    // window-free, exact quotas, partitioning-invariant
    "q119_quota_sample" -> ((s, dir) =>
      graft.operators.Sketch.quotaSample(documents(s, dir), 3.0)),

    // Audio modality: stub-decoded PCM → framed short-time energy → VAD
    // voiced-segment stats, ALL row-local (HOF folds over per-row sample
    // arrays — zero shuffle; scan-and-emit at any corpus size)
    "q120_audio_vad" -> ((s, dir) =>
      graft.operators.Media.audioVad(documents(s, dir))),

    // Image modality: perceptual difference-hash (9×8 stub grid → 64
    // gradient bits → 4×16-bit words), pure codegen'd CASE arithmetic
    // generated from ONE loop shared with the oracle SQL — no UDF
    "q121_dhash" -> ((s, dir) =>
      graft.operators.Media.dhash(documents(s, dir))),

    // Image near-dup: Hamming-ball search via 4-band pigeonhole blocking
    // (perfect recall at distance ≤ 3, unlike probabilistic MinHash bands)
    // + bit_count(xor) verify; hot-band cap bounds the largest bucket
    "q122_dhash_neardup" -> ((s, dir) =>
      graft.operators.Media.dhashNearDup(documents(s, dir))),

    // REAL byte-stream decode, oracle-gated (round-10 verdict #4): per doc
    // the stub grid is encoded as actual PNG bytes, decoded back through
    // javax.imageio (raster samples, integer box-average — no stub on the
    // decode path), and dHashed from the DECODED grid + 2 full-grid
    // checksums; the oracle computes the same values from the closed-form
    // stub math, so any decoder bit-error breaks the hash. q121/q122 keep
    // exercising the arithmetic-stub corpus unchanged
    "q184_png_roundtrip" -> ((s, dir) =>
      graft.operators.Media.pngRoundtripDhash(documents(s, dir))),

    // IMAGE duplicate clusters: connected components (the q47 min-label
    // machinery, factored free of its LSH edge source) over the verified
    // dHash Hamming-ball edges — the cross-modality composition a media
    // dedup pipeline runs (pairs alone don't dedup; clusters pick one
    // canonical per connected set)
    "q148_image_clusters" -> ((s, dir) => {
      val docs = documents(s, dir)
      Dedup.clustersFromEdges(docs.select("doc_id"),
        graft.operators.Media.dhashNearDup(docs))
    }),

    // Inverted-index build: df + delta-encoded posting prefix per term; the
    // prefix is the KMV aggregator's bottom-k of raw doc ids (k-long
    // bounded partial-agg state — no term's posting list is ever sorted
    // whole, unlike the rank-window formulation the oracle runs)
    "q123_postings" -> ((s, dir) =>
      graft.operators.Corpus.invertedIndex(documents(s, dir))),

    // Cross-modal pair curation (CLIP-style): text-quality gates AND an
    // embedding spikiness screen, each pushed below the id equi-join
    "q124_pair_curation" -> ((s, dir) =>
      Similarity.pairCuration(documents(s, dir), embeddings(s, dir))),

    // Key-skew profile: exact p50/p99/max of the per-key count distribution
    // via a count-of-counts histogram — the salting-decision diagnostic,
    // windows over value-domain rows only
    "q125_skew_profile" -> ((s, dir) =>
      graft.operators.DataQuality.skewProfile(events(s, dir))),

    // Freshness-weighted activity: exact power-of-two half-life decay
    // (integer shift), scalar max-timestamp broadcast, one keyed agg
    "q126_decay_weights" -> ((s, dir) =>
      graft.operators.EventAnalytics.decayedActivity(events(s, dir))),

    // Grouped top-k WITHOUT a rank window: packed order key through the
    // KMV bottom-k aggregator — k longs of mergeable state per group where
    // the window formulation (the oracle) sorts each source whole
    "q127_grouped_topk" -> ((s, dir) =>
      graft.operators.Sketch.groupedTopK(documents(s, dir), 5)),

    // Graph trio completion (with q47 components, q106 PageRank): triangle
    // counts + local clustering coefficient over the capped near-dup edge
    // list — ≈1 marks collapsible duplicate cliques, ≈0 marks template-hub
    // false-positive stars
    "q117_triangles" -> ((s, dir) =>
      Dedup.triangleStats(documents(s, dir), 0.5)),

    // the degree-ordered (Chiba–Nishizeki) triangle plan forced, against
    // the SAME oracle as q117: the auto dispatch picks id-orientation on
    // this uniform-degree corpus, so without this gate the degree path —
    // the one a hub-skewed production graph would take — would ship with
    // unit-test coverage only
    "q146_triangles_degree" -> ((s, dir) =>
      Dedup.triangleStats(documents(s, dir), 0.5, "degree")),

    // k-nearest locations to the center with a deterministic total order
    // (rounded distance, then the coordinates) — TakeOrderedAndProject,
    // never a global sort of the full location set
    "q116_knn_geo" -> ((s, dir) => {
      val loc = occ(s, dir).select("lat10", "lng10").distinct()
        .withColumn("lat", col("lat10") / 10.0)
        .withColumn("lng", col("lng10") / 10.0)
      val latr = col("lat") * lit(math.Pi / 180.0)
      val lngr = col("lng") * lit(math.Pi / 180.0)
      val dist = lit(2.0 * 6371000.0) *
        asin(sqrt(pow(sin(latr / 2.0), 2.0) + cos(latr) * pow(sin(lngr / 2.0), 2.0)))
      loc.withColumn("dist_m", round(dist, 4))
        .select("lat10", "lng10", "dist_m")
        .orderBy(col("dist_m"), col("lat10"), col("lng10"))
        .limit(10)
    }),

    // Distant supervision: mine a bounded gazetteer (top-20 bigrams by df),
    // broadcast it, tag the corpus in one scan — the per-(entity, source)
    // mention matrix
    "q128_gazetteer_mentions" -> ((s, dir) =>
      graft.operators.Corpus.gazetteerMentions(documents(s, dir), 20)),

    // Leakage-free split: 80/10/10 assigned by LCG of the near-dup CLUSTER
    // id (q47's labels), so no near-dup pair straddles train/eval — the
    // audit totals per split
    "q129_leakage_split" -> ((s, dir) =>
      Dedup.leakageFreeSplit(documents(s, dir), 0.5)),

    // Mergeable sample-quantile estimator: per-source KMV bottom-16 sample
    // median vs the exact rank statistic, with the absolute error column —
    // bounded state even when the value domain isn't
    "q130_sample_quantiles" -> ((s, dir) =>
      graft.operators.Sketch.sampleQuantiles(documents(s, dir), 16)),

    // Point-in-time-correct per-event training features: previous event
    // type, gap, and the trailing-hour count EXCLUSIVE of the current
    // second — leakage-safe behavioral features, user-keyed windows
    "q131_user_features" -> ((s, dir) =>
      graft.operators.EventAnalytics.pointInTimeFeatures(events(s, dir))),

    // Distribution-shift monitor: PSI of each source's token-length
    // histogram vs the src0 baseline, add-one smoothed, integer micro-nats
    "q132_psi_drift" -> ((s, dir) =>
      graft.operators.Corpus.psiDrift(documents(s, dir), "src0")),

    // Export lifecycle: deterministic 16-shard manifest with counts, token
    // totals, id ranges, and an order-insensitive content checksum
    "q133_export_shards" -> ((s, dir) =>
      graft.operators.Corpus.exportShards(documents(s, dir), 16)),

    // Batch ANN serving: top-5 neighbours for EVERY query (vec_id%100==0)
    // in one corpus scan — broadcast query set, codegen dot products,
    // per-query top-k as bounded KMV state (never a per-query sort)
    "q134_query_ann" -> ((s, dir) =>
      Similarity.queryAnnJoin(embeddings(s, dir), 5)),

    // Embedding class prototypes + per-dim variance in exact micro-units —
    // nearest-class-mean / dead-dimension diagnostics, one keyed aggregate
    "q136_label_stats" -> ((s, dir) =>
      Similarity.labelStats(embeddings(s, dir))),

    // Word2vec negative-sampling table: unigram^0.75 micro-weights and
    // integer sampling probabilities over the top-30 vocabulary
    "q137_negative_sampling" -> ((s, dir) =>
      graft.operators.Corpus.negativeSampling(documents(s, dir), 30)),

    // QA span extraction: every 0-based token position of "key value" —
    // (context, answer_start) training pairs, row-local HOF filter
    "q138_span_positions" -> ((s, dir) =>
      graft.operators.Corpus.spanPositions(documents(s, dir), "key", "value")),

    // Estimator calibration: signature-agreement band × exact-Jaccard
    // decile matrix over the capped candidate pairs — the threshold-tuning
    // evidence published before committing to an est>=t dedup cut
    "q139_lsh_calibration" -> ((s, dir) =>
      Dedup.lshCalibration(documents(s, dir), 0.5)),

    // k-core of the near-dup graph — the fifth graph-analytic on the q47
    // edge list (CC/PageRank/triangles/walks): iterative peel to the
    // maximal subgraph where every member keeps >= 3 near-dup neighbours
    // INSIDE it — the densely cross-linked duplication communities
    // (template farms, mirror rings); fixpoint asserted within 8 rounds
    "q158_kcore" -> ((s, dir) =>
      Dedup.kCore(documents(s, dir), 0.5, 3, 8)),

    // soft dedup: downweight instead of drop — every doc keeps weight
    // 1/cluster_size so each near-dup cluster contributes one document's
    // worth of gradient; the third dedup action next to q66/q172
    "q175_soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(documents(s, dir), 0.5)),

    // quality-aware canonical: keep the LONGEST member of each near-dup
    // cluster (q66 keeps min-id) — the production "keep best copy"
    // policy, with the measured per-source delta between the two policies
    "q172_keep_longest" -> ((s, dir) =>
      Dedup.keepLongestCanonical(documents(s, dir), 0.5)),

    // label-propagation communities — the sixth graph-analytic on the
    // q47 edge list: locally-cohesive duplication communities (CC merges
    // chains, k-core keeps only the dense core); fixed-round synchronous
    // LPA with self-vote and min-label tie-break, engine-mirrorable
    "q169_lpa_communities" -> ((s, dir) =>
      Dedup.lpaCommunities(documents(s, dir), 0.5, 4)),

    // ExactSubstr (Lee et al. ACL'22): every 40-char window occurring at
    // >1 (doc,position) marks its span duplicated; per doc, the duplicated
    // position count, the UNION-covered characters, and the duplicated
    // fraction — the position-complete exact signal winnowing samples.
    // The gram exchanges carry the 63-bit hash key (8 bytes, not the
    // 40-char string; oracle mirrors the hash); q177 audits collisions
    "q159_exact_substring" -> ((s, dir) =>
      Dedup.exactSubstringSpans(documents(s, dir), 40)),

    // the ACTION half of ExactSubstr: cut every duplicated span and emit
    // the cleaned corpus (merged span count, kept length, cleaned text);
    // kept + covered == n_chars against q159 is OperatorSpec-asserted
    "q161_substring_cut" -> ((s, dir) =>
      Dedup.exactSubstringCut(documents(s, dir), 40)),

    // duplicate-cluster size spectrum over the q47 labels: per cluster
    // size, cluster and doc counts — partitions the corpus exactly
    // (sigma n_docs == corpus, OperatorSpec-asserted), singletons included
    "q162_cluster_spectrum" -> ((s, dir) =>
      Dedup.clusterSpectrum(documents(s, dir), 0.5)),

    // q141's provenance report at ExactSubstr granularity: per source
    // pair, distinct 40-grams both contain verbatim — shared-TEXT flow,
    // visible long before whole docs become near-duplicates
    "q163_substring_flow" -> ((s, dir) =>
      Dedup.substringFlow(documents(s, dir), 40)),

    // the ExactSubstr paper's own report: distribution of merged
    // duplicated-span lengths (mass at 40 = phrase reuse; long tail =
    // copied sections) — row-local island fold, keyed count
    "q164_span_spectrum" -> ((s, dir) =>
      Dedup.spanLengthSpectrum(documents(s, dir), 40)),

    // per-source duplication profile: internal (template) vs external
    // (cross-source copying) duplicated window positions + share —
    // the evidence separating two different curation fixes
    "q165_source_dup_profile" -> ((s, dir) =>
      Dedup.sourceDupProfile(documents(s, dir), 40)),

    // substring-level decontamination (Lee et al. ACL'22 §6.2): per train
    // doc, positions whose 40-char window appears VERBATIM in the eval
    // source (src0), union-covered chars (= the cuttable span) and the
    // contaminated fraction — position-exact verbatim containment where
    // q67's word-5-gram overlap is dilution-prone whole-doc similarity;
    // the eval side broadcasts as 8-byte hashed keys
    "q178_substring_decontam" -> ((s, dir) =>
      Dedup.substringDecontaminate(documents(s, dir), "src0", 40)),

    // SEMANTIC decontamination — q178's embedding-space complement:
    // rephrased leakage shares no 40-char window but sits next to the
    // eval point in embedding space; per train vector, max cosine to any
    // eval vector + the argmax eval id (q134 packed key, no rank window)
    "q180_semantic_decontam" -> ((s, dir) =>
      Similarity.semanticDecontam(documents(s, dir), embeddings(s, dir),
        "src0")),

    // q180's SCALE path (round-10 verdict #3): eval routed through the
    // q153 IVF cells — per train vector, exact dots against only the
    // nprobe nearest cells' eval vectors — with recall vs the brute
    // ground truth MEASURED per nprobe (the q155 sweep pattern); the
    // nprobe=16 full-probe row must read recall 10⁶ exactly (asserted
    // in OperatorSpec too)
    "q183_ivf_decontam" -> ((s, dir) =>
      Similarity.ivfSemanticDecontamRecall(documents(s, dir),
        embeddings(s, dir), "src0", Seq(1, 2, 4, 16))),

    // the ACTION half of q178 — decontaminate by CUTTING: eval-covered
    // spans spliced out of every train doc (clean docs verbatim, the
    // benchmark's rows excluded); loses covered_chars per doc where
    // dropping loses the document
    "q179_decontam_cut" -> ((s, dir) =>
      Dedup.substringDecontamCut(documents(s, dir), "src0", 40)),

    // the BOUNDED-vote LPA arm on a hub-bearing graph — q169's scale
    // path, oracle-paired: a CRT bipartite layer (orderkey mod 997 ×
    // mod 89 — right nodes ~170-degree, sampled) plus a ~5000-leaf star
    // (heavy sampling) under 3 synchronous rounds with ≤8 votes per
    // node. The (src,dst)-keyed multiply-xor-shift sampling hash is
    // plain BIGINT algebra, so DuckDB replays the sampled topology
    // token-for-token — the arm that was suite-gated-only in round 9
    "q181_lpa_bounded" -> ((s, dir) => {
      val o = orders(s, dir).select(col("o_orderkey"))
      val e1 = o.select((col("o_orderkey") % 997).as("doc_a"),
          (col("o_orderkey") % 89).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b")).distinct()
      val e2 = o.select(lit(100000L).as("doc_a"),
        (col("o_orderkey") % 5000 + 10000).as("doc_b")).distinct()
      Dedup.lpaFromEdges(e1.unionByName(e2), 3, "bounded", 8)
    }),

    // gram-hash collision audit for the hashed ExactSubstr core: per hash
    // width, duplicated positions under the hashed key vs the string-gram
    // ground truth — 16/24-bit rows are the positive control (collisions
    // MUST appear), the 63-bit row reading extra_pos = 0 is the measured
    // license for q159/q161/q163-q165's 8-byte gram exchange
    "q177_gram_hash_audit" -> ((s, dir) =>
      Dedup.substringHashAudit(documents(s, dir), 40, Seq(16, 24, 32, 63))),

    // edge-level recall audit of the LSH candidate graph: non-edges with
    // >= 2 common neighbors (counted over a bounded 8-slot per-node
    // sketch — the naive wedge join is c^3 on near-clique clusters) are
    // predicted missed near-dups, each verified with the exact shingle
    // Jaccard (the q139 estimand) — the measured false-negative evidence
    // for the q47 transitive-closure assumption
    "q160_lsh_miss_audit" -> ((s, dir) =>
      Dedup.lshMissAudit(documents(s, dir), 0.5, 2, 8)),

    // q139's audit for the HAMMING estimator: simhash Hamming distance ×
    // exact-Jaccard decile over the SAME capped candidate population —
    // the evidence behind q154's hamming<=3 near-dup radius, directly
    // comparable to the MinHash operating points
    "q156_simhash_calibration" -> ((s, dir) =>
      Dedup.simhashCalibration(documents(s, dir), 0.5)),

    // Weighted without-replacement sampling (A-ES): 8 docs per source with
    // probability ∝ n_tokens, deterministic exponential keys, per-source
    // state = 8 packed longs (KMV) — never a per-source sort
    "q140_weighted_sample" -> ((s, dir) =>
      graft.operators.Sketch.weightedSample(documents(s, dir), 8)),

    // Provenance: cross-source duplicate-flow matrix — near-dup pair
    // counts per unordered source pair, the per-source dedup-policy report
    "q141_dup_flow" -> ((s, dir) =>
      Dedup.dupFlow(documents(s, dir), 0.5)),

    // Temporal split with embargo: train ≤ exact p80 timestamp, a 1-hour
    // embargo dropped, test after — the time-axis leakage control; the cut
    // is found hour-bucketed (q81 pattern), never a global sort
    "q142_temporal_split" -> ((s, dir) =>
      graft.operators.EventAnalytics.temporalEmbargoSplit(events(s, dir), 3600L)),

    // Graph-embedding prep: deterministic 4-hop walks over the near-dup
    // graph (hash-argmin neighbor choice), one sentence per start node
    "q144_random_walks" -> ((s, dir) =>
      Dedup.randomWalks(documents(s, dir), 0.5, 4)),

    // CAPSTONE composition — the full curation pipeline in one gate:
    // quality floor (≥5 tokens) → near-dup cluster canonicals (q47/q66)
    // → benchmark decontamination vs src0 (q67, zero shared 5-grams) →
    // 80/10/10 split — per-split doc and token totals, every stage an
    // already-verified operator
    "q143_curation_pipeline" -> ((s, dir) => {
      val docs = documents(s, dir)
      val nTok = size(graft.operators.Corpus.tokens(col("text")))
      val canonical = Dedup.duplicateClusters(docs, 0.5)
        .filter(col("cluster_id") === col("doc_id")).select("doc_id")
      val clean = graft.operators.Corpus.decontaminate(docs, "src0", 5, 0.5)
        .filter(col("n_shared") === 0).select("doc_id")
      val b = graft.operators.Corpus.lcg(col("doc_id")) % 100
      docs.filter(nTok >= 5)
        .join(canonical, Seq("doc_id"), "left_semi")
        .join(clean, Seq("doc_id"), "left_semi")
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .withColumn("n_tokens", nTok.cast("long"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // Skew remedy q125 prescribes: salted shuffle-hash join — the "0:0"
    // ALL view (in EVERY record) is the deliberate hot key; 16 salts
    // spread its probe work while staying row-identical to the plain join
    "q135_salted_join" -> ((s, dir) => {
      val f = exploded(s, dir)
      val dim = f.groupBy("map_key").agg(min("lat10").as("anchor_lat"))
      graft.operators.DataQuality
        .saltedJoin(f, dim, "map_key", 16, col("l_orderkey"))
        .groupBy("map_key")
        .agg(count(lit(1)).as("n_rows"), max("anchor_lat").as("anchor_lat"))
    })
  )

  /** q78's query terms; q79's vocab size (the synthetic corpus has 31
    * distinct tokens, so top-16 leaves real OOV mass).
    */
  private val Bm25Terms = Seq("spark", "window", "merge")
  private val VocabSize = 16

  // ---------------------------------------------------------- the oracles

  /** occ2 CTE + exploded view + point aggregate, shared by most oracles. */
  private val Ex = OccSql +
    ",\nex AS (SELECT o.*, unnest(o.map_keys) AS map_key FROM occ2 o)"
  private val Pts = Ex +
    ",\npts AS (SELECT map_key, lat10, lng10, bor_year, count(*) AS occ_count" +
    " FROM ex GROUP BY map_key, lat10, lng10, bor_year)"

  /** A Scala Double as a DuckDB DOUBLE literal with identical bits. Bare
    * decimal literals ("1.5") parse as DECIMAL in DuckDB and silently switch
    * the whole expression to exact decimal arithmetic, which drifts from
    * Spark's IEEE doubles past ~9 significant digits; the quoted cast keeps
    * both engines on the same double (shortest-roundtrip repr both ways).
    */
  private def dbl(x: Double) = s"CAST('$x' AS DOUBLE)"

  /** Pixel-grid clamp — mirrors GeoFunctions.pixelAtMaxZoom's boundary
    * clamp (lng=180 / lat=−90 / polar rim floor to one past the last pixel
    * otherwise). The 4326 x-axis is TWO z0 tiles wide (2·gpx pixels).
    */
  private def clampPx(e: String, maxPx: Long = 33554431L) =
    s"least(greatest($e, 0), $maxPx)"

  /** 4326 z16 global pixel exprs — token-mirrors GeoFunctions.wgs84XY. */
  private def px4326(lng: String) =
    clampPx(s"CAST(floor(($lng + 180.0)*(33554432.0/180.0)) AS BIGINT)", 67108863L)
  private def py4326(lat: String) =
    clampPx(s"CAST(floor((90.0 - $lat)*(33554432.0/180.0)) AS BIGINT)")

  /** 3857 z16 global pixel exprs — token-mirrors GeoFunctions.mercatorXY. */
  private def px3857(lng: String) =
    clampPx(s"CAST(floor((($lng + 180.0)/360.0)*33554432.0) AS BIGINT)")
  private def py3857(lat: String) =
    clampPx(s"CAST(floor((0.5 - ln((1.0 + sin($lat*(pi()/180.0)))/(1.0 - sin($lat*(pi()/180.0))))" +
      s"/(4.0*pi()))*33554432.0) AS BIGINT)")

  private val MercMaxLat = "(180.0/pi())*(2.0*atan(exp(pi())) - pi()/2.0)"

  /** z16→z6 pixel rollup + tile assembly CTE chain (tilesZ6 mirror). */
  private val TilesZ6Sql = Ex + s""",
px16 AS (SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
z6 AS (SELECT map_key, px >> 10 AS px, py >> 10 AS py, bor_year, CAST(sum(occ_count) AS BIGINT) AS occ_count
  FROM px16 GROUP BY ALL),
pp AS (SELECT map_key, px // 512 AS tx, py // 512 AS ty, px % 512 AS lpx, py % 512 AS lpy,
  CAST(sum(occ_count) AS BIGINT) AS pixel_total, count(*) AS n_features
  FROM z6 GROUP BY ALL),
tl AS (SELECT map_key, tx, ty, count(*) AS n_pixels, CAST(sum(pixel_total) AS BIGINT) AS total, 6 AS z
  FROM pp GROUP BY map_key, tx, ty)"""

  /** Full z0–z6 pyramid rebuild (q45's oracle; also the oracle for the
    * incremental-maintenance gate q111, whose base+delta = the whole
    * corpus). */
  private val PyramidSql = Ex + s""",
px16 AS (SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
pxc AS (SELECT map_key, px, py, CAST(sum(occ_count) AS BIGINT) AS total FROM px16 GROUP BY ALL),
${(0 to 6).map { z => s"""
lvl$z AS (SELECT map_key, px >> ${16 - z} AS px, py >> ${16 - z} AS py, CAST(sum(total) AS BIGINT) AS total
  FROM pxc GROUP BY ALL),
tl$z AS (SELECT map_key, px // 512 AS tx, py // 512 AS ty, count(*) AS n_pixels,
  CAST(sum(total) AS BIGINT) AS total, $z AS z
  FROM lvl$z GROUP BY map_key, tx, ty)""" }.mkString(",")}
${(6 to 0 by -1).map(z => s"SELECT * FROM tl$z").mkString("\nUNION ALL ")}"""

  /** renderPixels(4326, z10) over pts — mirror of TileServe.renderPixels. */
  private val RpZ10Sql = Pts + s""",
ptsll AS (SELECT *, lat10/10.0 AS lat, lng10/10.0 AS lng FROM pts),
rp AS (SELECT map_key, ${px4326("lng")} >> 6 AS px, ${py4326("lat")} >> 6 AS py,
  CAST(sum(occ_count) AS BIGINT) AS total
  FROM ptsll WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL)"""

  /** Shingle hashes CTE over documents — mirrors Dedup.shingleHashes. */
  private val HsSql =
    """WITH sh AS (SELECT doc_id, source,
  [substr(text, i, 5) for i in range(1, length(text) - 3)] AS shingles FROM documents),
hs AS (SELECT doc_id, source,
  [list_reduce(list_prepend(CAST(0 AS BIGINT),
     [CAST(unicode(c) AS BIGINT) for c in string_split(sh, '')]),
     (a, b) -> (a*31 + b) % 2147483647) for sh in shingles] AS hs FROM sh)"""

  // the one Scala source of truth for the affine hash family lives in
  // Dedup; the oracle SQL below is generated from it
  private val MinhashAs = Dedup.As
  private val MinhashBs = Dedup.Bs

  /** sig CTE: minhash columns mh0..mh7 — mirrors Dedup.withMinhashSignature. */
  private val SigSql = HsSql + ",\nsig AS (SELECT doc_id, " +
    MinhashAs.zip(MinhashBs).zipWithIndex.map { case ((a, b), k) =>
      s"list_min([($a * h + $b) % 2147483647 for h in hs]) AS mh$k"
    }.mkString(",\n  ") + "\n  FROM hs)"

  /** Fold-based dot product of two DuckDB float lists, cast to double. */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) for i in range(1, 65)]), (x, y) -> x + y)"

  /** Random-hyperplane LSH bucket — mirrors Similarity.bucketCol. */
  private def bucketSql(emb: String) =
    (0 until Similarity.NumPlanes).map { d =>
      s"CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST($emb[i] AS DOUBLE) * CAST(((($d*67 + (i-1)*31) % 19) - 9) AS DOUBLE) " +
        s"for i in range(1, 65)]), (x, y) -> x + y) > 0.0 " +
        s"THEN CAST(${1L << d} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("(", " + ", ")")

  /** Java String.hashCode, 32-bit wrap-around, as a DuckDB fold. */
  private def javaHashSql(k: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(unicode(c) AS BIGINT) for c in string_split($k, '')]), " +
      s"(a, b) -> (a*31 + b) % 4294967296)"

  /** The ExactSubstr 63-bit gram key (Dedup.gramKeyExpr) as DuckDB SQL:
    * unsigned base-31 fold of the gram in the high 32 bits, fold of the
    * REVERSED gram mod 2³¹ in the low 31 — max value exactly 2⁶³−1, so
    * BIGINT-safe in both engines, and byte-exact oracle-paired: the oracle
    * merges identical hash classes exactly as the engine does.
    */
  private def gramHash63Sql(g: String) =
    s"(${javaHashSql(g)} * 2147483648 + ${javaHashSql(s"reverse($g)")} % 2147483648)"

  /** Recursive-CTE connected components over LSH near-dup edges, ending in
    * `lbl(doc_id, cluster_id)` — shared by q47 (the labels) and q66 (the
    * canonical-corpus consumption).
    */
  /** Verified near-dup edge list (LSH candidates + minhash-agreement filter
    * at 0.5) — the graph underlying q47/q66/q106/q117. Canonical a<b rows
    * in `ed0`.
    */
  /** PPJoin CTE chain ending in `res(doc_a, doc_b, n_common, n_a, n_b)`:
    * every prefix-filter candidate pair with exact trigram-shingle
    * intersection/sizes (mirrors Dedup.ppjoinPairs at t = 0.6) — shared by
    * q147 (the exact-threshold pairs) and q166 (the banding tuner weighted
    * by that complete positive set).
    */
  private val PpjoinSql = """WITH tkp AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
tgp AS (SELECT doc_id,
  [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS gs FROM tkp),
shp0 AS (SELECT doc_id, list_distinct([list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(g, '')]),
    (a, b) -> (a*31 + b) % 2147483647) for g in gs]) AS s FROM tgp),
shp AS (SELECT doc_id, s FROM shp0 WHERE len(s) > 0),
tok AS (SELECT doc_id, unnest(s) AS h FROM shp),
dfreq AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
ordd AS (SELECT doc_id, list_sort(list(df * 2147483648 + h)) AS os, count(*) AS n
  FROM tok JOIN dfreq USING (h) GROUP BY doc_id),
probe AS (SELECT doc_id, n,
  unnest(os[1 : CAST(n - ((600000 * n + 999999) // 1000000) + 1 AS BIGINT)]) % 2147483648 AS h
  FROM ordd),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM probe a JOIN probe b ON a.h = b.h AND a.doc_id < b.doc_id
   AND least(a.n, b.n) * 1000000 >= greatest(a.n, b.n) * 600000),
res AS (SELECT cand.doc_a, cand.doc_b,
  CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS n_common,
  CAST(len(x.s) AS BIGINT) AS n_a, CAST(len(y.s) AS BIGINT) AS n_b
  FROM cand JOIN shp x ON cand.doc_a = x.doc_id JOIN shp y ON cand.doc_b = y.doc_id)"""

  /** Calibration CTE: every capped-LSH candidate pair with its signature
    * agreement (0–8) and exact distinct-shingle sets — the q139 oracle's
    * shared prefix (mirrors Dedup.lshCalibration at minEst = 0.5 ⇔
    * agree ≥ 4).
    */
  private val CalibSql = SigSql + s""",
cbands AS (${(0 until Dedup.NumBands).map(b =>
    s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
    .mkString("\n  UNION ALL ")}),
cok AS (SELECT band, bh FROM cbands GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
cbk AS (SELECT b.* FROM cbands b JOIN cok USING (band, bh)),
ccand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM cbk x JOIN cbk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
ces AS (SELECT doc_a, doc_b,
    (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) AS agree
  FROM ccand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id),
cds AS (SELECT doc_id, list_distinct(hs) AS s FROM hs),
cex AS (SELECT f.agree,
    len(list_intersect(a.s, b.s)) AS i,
    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
  FROM ces f JOIN cds a ON f.doc_a = a.doc_id JOIN cds b ON f.doc_b = b.doc_id
  WHERE f.agree >= 4)"""

  private val EdgesSql = SigSql + s""",
bands AS (${(0 until Dedup.NumBands).map(b =>
    s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
    .mkString("\n  UNION ALL ")}),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, bh)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
ed0 AS (SELECT doc_a, doc_b FROM (
  SELECT doc_a, doc_b,
    (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
  WHERE est_sim >= 0.5)"""

  private val ClustersSql = EdgesSql.replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
ed AS (SELECT doc_a AS a, doc_b AS b FROM ed0 UNION SELECT doc_b, doc_a FROM ed0),
cl AS (SELECT a, b FROM ed UNION SELECT cl.a, ed.b FROM cl JOIN ed ON cl.b = ed.a),
lbl AS (SELECT d.doc_id, LEAST(d.doc_id, coalesce(min(cl.b), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN cl ON cl.a = d.doc_id
  GROUP BY d.doc_id)"""

  def oracleSql: Map[String, String] = Map(
    "q01_view_counts" -> (Ex +
      "\nSELECT map_key, count(*) AS occ_count FROM ex GROUP BY map_key"),

    "q02_large_views" -> (Ex +
      s"\nSELECT map_key, count(*) AS occ_count FROM ex GROUP BY map_key HAVING count(*) >= $Threshold"),

    "q63_grouping_sets" -> (Ex +
      "\nSELECT map_key, count(*) AS occ_count FROM ex GROUP BY map_key"),

    "q03_point_agg" -> (Pts + "\nSELECT * FROM pts"),

    "q04_feature_rollup" -> (Pts + s"""
SELECT map_key, count(*) AS n_features, CAST(sum(occ_count) AS BIGINT) AS total,
       CAST(sum(${javaHashSql("concat_ws(',', lat10, lng10, bor_year, occ_count)")}) % 4294967296 AS BIGINT) AS blob_fp
FROM pts GROUP BY map_key"""),

    "q05_pixel_agg_3857" -> (Ex + s"""
SELECT map_key, ${px3857("lng")} AS px, ${py3857("lat")} AS py, bor_year, count(*) AS occ_count
FROM ex
WHERE lat >= -$MercMaxLat AND lat <= $MercMaxLat AND lng >= -180 AND lng <= 180
GROUP BY ALL"""),

    "q06_pixel_agg_4326" -> (Ex + s"""
SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
FROM ex
WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
GROUP BY ALL"""),

    "q26_pixel_agg_3575" -> (Ex + s""",
pol AS (SELECT map_key, bor_year,
  (2.0*6378137.0)*sin((pi()/4.0) - (lat*(pi()/180.0))/2.0) AS rho,
  (lng*(pi()/180.0)) - (10.0*(pi()/180.0)) AS dl
  FROM ex WHERE lat >= 0 AND lng >= -180 AND lng <= 180),
xy AS (SELECT map_key, bor_year, rho*sin(dl) AS mx, -(rho*cos(dl)) AS my FROM pol)
SELECT map_key,
  ${clampPx("CAST(floor((mx + (sqrt(2.0)*6378137.0)) * ((33554432.0/(sqrt(2.0)*6378137.0))/2.0)) AS BIGINT)")} AS px,
  ${clampPx("CAST(floor(33554432.0 - (my + (sqrt(2.0)*6378137.0)) * ((33554432.0/(sqrt(2.0)*6378137.0))/2.0)) AS BIGINT)")} AS py,
  bor_year, count(*) AS occ_count
FROM xy GROUP BY ALL"""),

    "q27_pixel_agg_3031" -> (Ex + s""",
pol AS (SELECT map_key, bor_year,
  ((2.0*6378137.0)*(12367396.21845986/(2.0*6378137.0)))*tan((pi()/4.0) + (lat*(pi()/180.0))/2.0) AS rho,
  lng*(pi()/180.0) AS lam
  FROM ex WHERE lat <= 0 AND lng >= -180 AND lng <= 180),
xy AS (SELECT map_key, bor_year, rho*sin(lam) AS mx, rho*cos(lam) AS my FROM pol)
SELECT map_key,
  ${clampPx("CAST(floor((mx + 12367396.21845986) * ((33554432.0/12367396.21845986)/2.0)) AS BIGINT)")} AS px,
  ${clampPx("CAST(floor(33554432.0 - (my + 12367396.21845986) * ((33554432.0/12367396.21845986)/2.0)) AS BIGINT)")} AS py,
  bor_year, count(*) AS occ_count
FROM xy GROUP BY ALL"""),

    "q07_zoom_rollup" -> (Ex + s"""
, px16 AS (SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL)
SELECT map_key, px >> 6 AS px, py >> 6 AS py, bor_year, CAST(sum(occ_count) AS BIGINT) AS occ_count
FROM px16 GROUP BY ALL"""),

    "q08_tiles_z6" -> (TilesZ6Sql + "\nSELECT * FROM tl"),

    // cell_key = (x<<32)|y ≡ x*2^32 + y (cells are non-negative, disjoint bits)
    "q09_square_bin" -> (RpZ10Sql + """
SELECT *, cell_x * 4294967296 + cell_y AS cell_key,
  cell_x * 64 AS x0, cell_y * 64 AS y0,
  (cell_x + 1) * 64 AS x1, (cell_y + 1) * 64 AS y1
FROM (SELECT map_key, px // 64 AS cell_x, py // 64 AS cell_y,
  CAST(sum(total) AS BIGINT) AS total FROM rp GROUP BY ALL)"""),

    "q10_hex_bin" -> (RpZ10Sql + s""",
ax AS (SELECT map_key, total,
  (px * ${dbl(2.0 / 3.0)}) / ${dbl(Hex.radius)} AS q,
  (px * ${dbl(-1.0 / 3.0)} + py * ${dbl(math.sqrt(3) / 3.0)}) / ${dbl(Hex.radius)} AS r FROM rp),
rnd AS (SELECT map_key, total, q, r, -q - r AS s,
  round(q) AS rq, round(r) AS rr, round(-q - r) AS rs FROM ax),
dd AS (SELECT *, abs(rq - q) AS dq, abs(rr - r) AS dr, abs(rs - s) AS ds FROM rnd),
cells AS (SELECT map_key, total,
  CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS BIGINT) AS hex_q,
  CAST(CASE WHEN dq > dr AND dq > ds THEN rr
            WHEN dr > ds THEN -rq - rs ELSE rr END AS BIGINT) AS hex_r FROM dd)
SELECT map_key, hex_q, hex_r, CAST(sum(total) AS BIGINT) AS total,
  (hex_q * ${dbl(1.5)}) * ${dbl(Hex.radius)} AS cx,
  (hex_q * ${dbl(math.sqrt(3) / 2)} + hex_r * ${dbl(math.sqrt(3))}) * ${dbl(Hex.radius)} AS cy,
  ${(0 until 6).map { i =>
        val dx = Hex.radius * math.cos(math.toRadians(60.0 * i))
        val dy = Hex.radius * math.sin(math.toRadians(60.0 * i))
        s"((hex_q * ${dbl(1.5)}) * ${dbl(Hex.radius)}) + ${dbl(dx)} AS v${i}x,\n  " +
          s"((hex_q * ${dbl(math.sqrt(3) / 2)} + hex_r * ${dbl(math.sqrt(3))}) * ${dbl(Hex.radius)}) + ${dbl(dy)} AS v${i}y"
      }.mkString(",\n  ")}
FROM cells GROUP BY map_key, hex_q, hex_r"""),

    "q11_capabilities" -> (Pts + """
SELECT map_key,
  min(lat10) AS min_lat10, max(lat10) AS max_lat10,
  min(lng10) AS min_lng10, max(lng10) AS max_lng10,
  min(CASE WHEN bor_year >= 100 THEN CAST(bor_year // 100 AS INT) END) AS min_year,
  max(CASE WHEN bor_year >= 100 THEN CAST(bor_year // 100 AS INT) END) AS max_year,
  CAST(sum(occ_count) AS BIGINT) AS total
FROM pts GROUP BY map_key"""),

    "q12_regression" -> (OccSql + """,
base AS (SELECT *, (lng10 + 1800) // 100 AS cell FROM occ2 WHERE year IS NOT NULL),
g AS (SELECT cell, year, count(*) AS gn FROM base GROUP BY cell, year),
sp AS (SELECT cell, year, count(*) AS sn FROM base WHERE bor_id = 0 GROUP BY cell, year),
j AS (SELECT sp.cell, sp.year, CAST(sp.sn AS DOUBLE) / g.gn AS ratio
      FROM sp JOIN g ON sp.cell = g.cell AND sp.year = g.year)
SELECT cell, round(regr_slope(ratio, year), 6) + 0.0 AS slope,
       round(regr_intercept(ratio, year), 6) + 0.0 AS intercept,
       regr_count(ratio, year) AS n_years
FROM j GROUP BY cell"""),

    "q55_hex_regression" -> (OccSql + s""",
base AS (SELECT year, l_partkey, ${px4326("lng")} >> 14 AS px, ${py4326("lat")} >> 14 AS py
  FROM occ2 WHERE year IS NOT NULL
    AND lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180),
ax AS (SELECT year, l_partkey,
  (px * ${dbl(2.0 / 3.0)}) / ${dbl(Hex.radius)} AS q,
  (px * ${dbl(-1.0 / 3.0)} + py * ${dbl(math.sqrt(3) / 3.0)}) / ${dbl(Hex.radius)} AS r FROM base),
rnd AS (SELECT year, l_partkey, q, r, -q - r AS s,
  round(q) AS rq, round(r) AS rr, round(-q - r) AS rs FROM ax),
dd AS (SELECT *, abs(rq - q) AS dq, abs(rr - r) AS dr, abs(rs - s) AS ds FROM rnd),
cells AS (SELECT year, l_partkey,
  CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS BIGINT) AS hex_q,
  CAST(CASE WHEN dq > dr AND dq > ds THEN rr
            WHEN dr > ds THEN -rq - rs ELSE rr END AS BIGINT) AS hex_r FROM dd),
g AS (SELECT hex_q, hex_r, year, count(*) AS n FROM cells GROUP BY ALL),
sp AS (SELECT hex_q, hex_r, year, count(*) AS n FROM cells
  WHERE l_partkey % 50 = 7 GROUP BY ALL),
j AS (SELECT sp.hex_q, sp.hex_r, sp.year, CAST(sp.n AS DOUBLE) / g.n AS ratio
  FROM sp JOIN g ON sp.hex_q = g.hex_q AND sp.hex_r = g.hex_r AND sp.year = g.year),
r AS (SELECT hex_q, hex_r,
  regr_slope(ratio, year) AS slope_raw, regr_intercept(ratio, year) AS icept_raw,
  regr_r2(ratio, year) AS r2_raw, regr_syy(ratio, year) AS syy,
  regr_sxx(ratio, year) AS sxx, regr_count(ratio, year) AS ny
  FROM j GROUP BY hex_q, hex_r HAVING regr_count(ratio, year) >= 3)
SELECT hex_q, hex_r, round(slope_raw, 6) + 0.0 AS slope, round(icept_raw, 6) + 0.0 AS intercept,
  round(r2_raw, 6) + 0.0 AS r2, ny AS n_years,
  round(${graft.operators.TileServe.RegrSse}, 6) + 0.0 AS sse,
  round(${graft.operators.TileServe.RegrP}, 6) + 0.0 AS p_value
FROM r"""),

    "q13_geotile_bounds" -> (EventsGeoSql + """
SELECT CAST(floor((lng + 180.0)*(64.0/180.0)) AS BIGINT) AS cell_x,
       CAST(floor((90.0 - lat)*(64.0/180.0)) AS BIGINT) AS cell_y,
       count(*) AS doc_count,
       min(lat10) AS min_lat10, max(lat10) AS max_lat10,
       min(lng10) AS min_lng10, max(lng10) AS max_lng10
FROM ev2 GROUP BY ALL"""),

    "q14_geotile_centroid" -> (EventsGeoSql + """
SELECT CAST(floor((lng + 180.0)*(64.0/180.0)) AS BIGINT) AS cell_x,
       CAST(floor((90.0 - lat)*(64.0/180.0)) AS BIGINT) AS cell_y,
       count(*) AS doc_count,
       avg(lat10) AS centroid_lat10, avg(lng10) AS centroid_lng10
FROM ev2 GROUP BY ALL"""),

    "q15_year_filter" -> (Pts + """
SELECT map_key, CAST(sum(occ_count) AS BIGINT) AS total FROM pts
WHERE bor_year >= 100 AND bor_year // 100 BETWEEN 1995 AND 2005
GROUP BY map_key"""),

    "q16_bor_filter" -> (Pts + """
SELECT map_key, CAST(sum(occ_count) AS BIGINT) AS total FROM pts
WHERE bor_year % 100 IN (0, 2)
GROUP BY map_key"""),

    "q17_salted_keys" -> (TilesZ6Sql + s""",
k AS (SELECT concat_ws(':', map_key, z, tx, ty) AS key, total FROM tl)
SELECT concat_ws(':', lpad(CAST((${javaHashSql("key")} % 268435456) % 100 AS VARCHAR), 2, '0'), key) AS salted,
       total
FROM k"""),

    "q18_ann_topk" -> """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id, e.label,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(e.embedding[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS dot,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS se,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(q.qv[i] AS DOUBLE)*CAST(q.qv[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS sq
  FROM embeddings e, q)
SELECT vec_id, label, round(dot/(sqrt(se)*sqrt(sq)), 6) AS sim FROM sims
ORDER BY sim DESC, vec_id LIMIT 20""",

    "q19_dedup_exact" -> """SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
FROM documents GROUP BY md5(text)""",

    "q20_token_stats" -> """SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
  length(text) AS len_chars
FROM documents""",

    "q21_lang_id" -> """WITH sc AS (
  SELECT lang,
    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4 AS s_en,
    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' le ', ''))) / 4
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' et ', ''))) / 4
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' la ', ''))) / 4 AS s_fr,
    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' der ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' und ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' die ', ''))) / 5 AS s_de
  FROM documents)
SELECT lang,
  CASE WHEN s_en >= s_fr AND s_en >= s_de THEN 'en'
       WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS lang_pred,
  count(*) AS n
FROM sc GROUP BY ALL""",

    "q22_quality_score" -> """SELECT doc_id,
  length(text) AS len_chars,
  len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
  round(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text), 6) AS punct_ratio
FROM documents""",

    "q23_doc_fingerprint" -> (s"""SELECT doc_id, ${javaHashSql("text")} AS fp FROM documents"""),

    "q34_country_mask" -> (RpZ10Sql + """
SELECT r.px, r.py, r.total FROM rp r
WHERE r.map_key = '0:0'
  AND EXISTS (SELECT 1 FROM rp m WHERE m.map_key = '4:3' AND m.px = r.px AND m.py = r.py)"""),

    "q35_small_views" -> (Ex + s""",
lv AS (SELECT map_key FROM ex GROUP BY map_key HAVING count(*) >= $Threshold),
spts AS (SELECT map_key, lat10, lng10, bor_year, count(*) AS occ_count
  FROM ex WHERE map_key NOT IN (SELECT map_key FROM lv)
  GROUP BY map_key, lat10, lng10, bor_year)
SELECT map_key, count(*) AS n_features, CAST(sum(occ_count) AS BIGINT) AS total,
       CAST(sum(${javaHashSql("concat_ws(',', lat10, lng10, bor_year, occ_count)")}) % 4294967296 AS BIGINT) AS blob_fp
FROM spts GROUP BY map_key"""),

    "q58_point_blob" -> (Ex + s""",
lv AS (SELECT map_key FROM ex GROUP BY map_key HAVING count(*) >= $Threshold),
spts AS (SELECT map_key, lat10, lng10, bor_year, count(*) AS occ_count
  FROM ex WHERE map_key NOT IN (SELECT map_key FROM lv)
  GROUP BY map_key, lat10, lng10, bor_year)
SELECT * FROM spts"""),

    // z6 4326 grid: 128x64 tiles, 512 px tiles, 64 px buffer, dateline wrap.
    // Each neighbour arm mirrors one addOn() branch of Tiles.collectToTiles:
    // the buffer flag implies containment for in-range neighbours, and the
    // wrapped x-edge tiles contain exactly the flagged edge pixels.
    "q36_tile_replicas" -> (Ex + s""",
px16 AS (SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
z6p AS (SELECT map_key, px >> 10 AS px, py >> 10 AS py, CAST(sum(occ_count) AS BIGINT) AS occ_count
  FROM px16 GROUP BY ALL),
reps AS (SELECT map_key, occ_count, px // 512 AS tx, py // 512 AS ty, px % 512 AS lx, py % 512 AS ly FROM z6p),
nbr AS (
  SELECT map_key, occ_count, tx, ty FROM reps
  UNION ALL SELECT map_key, occ_count, CASE WHEN tx - 1 < 0 THEN 127 ELSE tx - 1 END, ty FROM reps WHERE lx < 64
  UNION ALL SELECT map_key, occ_count, CASE WHEN tx + 1 > 127 THEN 0 ELSE tx + 1 END, ty FROM reps WHERE lx >= 448
  UNION ALL SELECT map_key, occ_count, tx, ty - 1 FROM reps WHERE ly < 64 AND ty - 1 >= 0
  UNION ALL SELECT map_key, occ_count, tx, ty + 1 FROM reps WHERE ly >= 448 AND ty + 1 <= 63
  UNION ALL SELECT map_key, occ_count, CASE WHEN tx - 1 < 0 THEN 127 ELSE tx - 1 END, ty - 1 FROM reps WHERE lx < 64 AND ly < 64 AND ty - 1 >= 0
  UNION ALL SELECT map_key, occ_count, CASE WHEN tx + 1 > 127 THEN 0 ELSE tx + 1 END, ty - 1 FROM reps WHERE lx >= 448 AND ly < 64 AND ty - 1 >= 0
  UNION ALL SELECT map_key, occ_count, CASE WHEN tx - 1 < 0 THEN 127 ELSE tx - 1 END, ty + 1 FROM reps WHERE lx < 64 AND ly >= 448 AND ty + 1 <= 63
  UNION ALL SELECT map_key, occ_count, CASE WHEN tx + 1 > 127 THEN 0 ELSE tx + 1 END, ty + 1 FROM reps WHERE lx >= 448 AND ly >= 448 AND ty + 1 <= 63)
SELECT map_key, tx, ty, count(*) AS n_pixels, CAST(sum(occ_count) AS BIGINT) AS total, 6 AS z
FROM nbr GROUP BY map_key, tx, ty"""),

    // Mercator replica mirror: z0 collapses to the single world tile (wrap
    // self-dedupes); z1 wraps west/east into the opposite tile's 64px buffer
    "q59_tile_replicas_3857" -> (Ex + s""",
px16m AS (SELECT map_key, ${px3857("lng")} AS px, ${py3857("lat")} AS py, count(*) AS occ_count
  FROM ex WHERE lat >= -$MercMaxLat AND lat <= $MercMaxLat AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
z1p AS (SELECT map_key, px >> 15 AS px, py >> 15 AS py, CAST(sum(occ_count) AS BIGINT) AS occ
  FROM px16m GROUP BY ALL),
z0p AS (SELECT map_key, px >> 1 AS px, py >> 1 AS py, CAST(sum(occ) AS BIGINT) AS occ
  FROM z1p GROUP BY ALL),
z0t AS (SELECT map_key, 0 AS tx, 0 AS ty, count(*) AS n_pixels,
  CAST(sum(occ) AS BIGINT) AS total, 0 AS z FROM z0p GROUP BY map_key),
reps AS (SELECT map_key, occ, px // 512 AS tx, py // 512 AS ty,
  px % 512 AS lx, py % 512 AS ly FROM z1p),
nbr AS (
  SELECT map_key, occ, tx, ty FROM reps
  UNION ALL SELECT map_key, occ, CASE WHEN tx - 1 < 0 THEN 1 ELSE tx - 1 END, ty FROM reps WHERE lx < 64
  UNION ALL SELECT map_key, occ, CASE WHEN tx + 1 > 1 THEN 0 ELSE tx + 1 END, ty FROM reps WHERE lx >= 448
  UNION ALL SELECT map_key, occ, tx, ty - 1 FROM reps WHERE ly < 64 AND ty - 1 >= 0
  UNION ALL SELECT map_key, occ, tx, ty + 1 FROM reps WHERE ly >= 448 AND ty + 1 <= 1
  UNION ALL SELECT map_key, occ, CASE WHEN tx - 1 < 0 THEN 1 ELSE tx - 1 END, ty - 1 FROM reps WHERE lx < 64 AND ly < 64 AND ty - 1 >= 0
  UNION ALL SELECT map_key, occ, CASE WHEN tx + 1 > 1 THEN 0 ELSE tx + 1 END, ty - 1 FROM reps WHERE lx >= 448 AND ly < 64 AND ty - 1 >= 0
  UNION ALL SELECT map_key, occ, CASE WHEN tx - 1 < 0 THEN 1 ELSE tx - 1 END, ty + 1 FROM reps WHERE lx < 64 AND ly >= 448 AND ty + 1 <= 1
  UNION ALL SELECT map_key, occ, CASE WHEN tx + 1 > 1 THEN 0 ELSE tx + 1 END, ty + 1 FROM reps WHERE lx >= 448 AND ly >= 448 AND ty + 1 <= 1),
z1t AS (SELECT map_key, tx, ty, count(*) AS n_pixels,
  CAST(sum(occ) AS BIGINT) AS total, 1 AS z FROM nbr GROUP BY map_key, tx, ty)
SELECT * FROM z0t UNION ALL SELECT * FROM z1t"""),

    "q37_dict_encode" -> (Ex + """
SELECT map_key, row_number() OVER (ORDER BY map_key) - 1 AS key_id, occ_count
FROM (SELECT map_key, count(*) AS occ_count FROM ex GROUP BY map_key)"""),

    "q38_media_meta" -> """SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
  CAST(1 + (octet_length(encode(text)) * 7) % 48 AS INT) AS height,
  CAST(1 + octet_length(encode(text)) % 24 AS INT) AS n_frames
FROM documents""",

    "q39_frame_sample" -> """WITH meta AS (
  SELECT doc_id, CAST(1 + octet_length(encode(text)) % 24 AS INT) AS n_frames FROM documents)
SELECT doc_id, unnest(range(0, n_frames, 5)) AS frame_id FROM meta""",

    // resize mirror: fit (w,h) into 32x24 — num/den chosen by the tighter
    // axis, integer floor division, floor at 1px, never upscale
    "q61_media_resize" -> """WITH meta AS (SELECT doc_id,
  CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
  CAST(1 + (octet_length(encode(text)) * 7) % 48 AS INT) AS height
  FROM documents),
s AS (SELECT doc_id, width, height,
  CASE WHEN width * 24 <= height * 32 THEN 24 ELSE 32 END AS num,
  CASE WHEN width * 24 <= height * 32 THEN height ELSE width END AS den
  FROM meta),
o AS (SELECT doc_id, width, height,
  CASE WHEN den <= num THEN width ELSE CAST(GREATEST(1, width * num // den) AS INT) END AS out_w,
  CASE WHEN den <= num THEN height ELSE CAST(GREATEST(1, height * num // den) AS INT) END AS out_h
  FROM s)
SELECT doc_id, width, height, out_w, out_h, 3 * out_w * out_h AS out_bytes FROM o""",

    // feature mirror: code-point sums per (index mod 8) bucket, mod 2^31-1
    "q62_media_features" -> ("""WITH cs AS (SELECT doc_id, string_split(text, '') AS c FROM documents)
SELECT doc_id,
  """ + (0 until 8).map { j =>
      s"CAST(coalesce(list_sum([unicode(c[i]) for i in range(1, len(c) + 1) " +
        s"if (i - 1) % 8 = $j]), 0) % 2147483647 AS BIGINT) AS f$j"
    }.mkString(",\n  ") + "\nFROM cs"),

    "q40_tile_render" -> (Pts + s""",
fpts AS (SELECT * FROM pts WHERE map_key = '0:0'
  AND bor_year >= 100 AND bor_year // 100 BETWEEN 1995 AND 2005),
ptsll AS (SELECT *, lat10/10.0 AS lat, lng10/10.0 AS lng FROM fpts),
rp AS (SELECT map_key, ${px4326("lng")} >> 10 AS px, ${py4326("lat")} >> 10 AS py,
  CAST(sum(occ_count) AS BIGINT) AS total
  FROM ptsll WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
fpf AS (SELECT px, py, total, px // 512 AS tx, py // 512 AS ty FROM rp),
top AS (SELECT tx, ty FROM fpf GROUP BY tx, ty
  ORDER BY CAST(sum(total) AS BIGINT) DESC, tx, ty LIMIT 1)
SELECT f.tx, f.ty, f.px % 512 AS lpx, f.py % 512 AS lpy, f.total
FROM fpf f JOIN top t ON f.tx = t.tx AND f.ty = t.ty"""),

    "q53_tile_verbose" -> (Pts + s""",
f0 AS (SELECT * FROM pts WHERE map_key = '0:0'),
ptsll AS (SELECT *, lat10/10.0 AS lat, lng10/10.0 AS lng FROM f0),
pix0 AS (SELECT ${px4326("lng")} >> 10 AS px, ${py4326("lat")} >> 10 AS py,
  CASE WHEN bor_year >= 100 THEN CAST(bor_year // 100 AS INT) ELSE 0 END AS yr, occ_count
  FROM ptsll WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180),
pixg AS (SELECT px, py, yr, CAST(sum(occ_count) AS BIGINT) AS n, px // 512 AS tx, py // 512 AS ty
  FROM pix0 GROUP BY px, py, yr),
top AS (SELECT tx, ty FROM pixg GROUP BY tx, ty
  ORDER BY CAST(sum(n) AS BIGINT) DESC, tx, ty LIMIT 1)
SELECT p.tx, p.ty, p.px % 512 AS lpx, p.py % 512 AS lpy, p.yr, p.n
FROM pixg p JOIN top t ON p.tx = t.tx AND p.ty = t.ty"""),

    "q41_circular_extent" -> (Pts + """,
d AS (SELECT DISTINCT map_key, lng10 FROM pts),
g AS (SELECT map_key, lng10,
  lag(lng10) OVER (PARTITION BY map_key ORDER BY lng10) AS prev,
  max(lng10) OVER (PARTITION BY map_key) AS mx FROM d),
gg AS (SELECT map_key, lng10,
  CASE WHEN prev IS NULL THEN lng10 + 3600 - mx ELSE lng10 - prev END AS gap,
  coalesce(prev, mx) AS east_cand FROM g),
rk AS (SELECT map_key, lng10, east_cand,
  row_number() OVER (PARTITION BY map_key ORDER BY gap DESC, lng10) AS rn FROM gg)
SELECT map_key, lng10 AS west10, east_cand AS east10 FROM rk WHERE rn = 1"""),

    "q54_mvt_decoded" -> (Ex + s""",
px16 AS (SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
z6 AS (SELECT map_key, px >> 10 AS px, py >> 10 AS py, bor_year, CAST(sum(occ_count) AS BIGINT) AS n
  FROM px16 GROUP BY ALL)
SELECT map_key, px // 512 AS tx, py // 512 AS ty, px % 512 AS lpx, py % 512 AS lpy,
  CAST(bor_year % 100 AS INT) AS bor, CAST(bor_year // 100 AS INT) AS year, n
FROM z6"""),

    "q45_pyramid" -> PyramidSql,
    "q145_pruned_pyramid" -> PyramidSql,

    // incremental maintenance must reproduce the full rebuild exactly —
    // same oracle as q45 (base+delta = the whole corpus)
    "q111_incremental_pyramid" -> PyramidSql,

    "q46_points_in_tile" -> (RpZ10Sql.replace(" >> 6 AS px", " >> 10 AS px").replace(" >> 6 AS py", " >> 10 AS py") + """,
f0 AS (SELECT px, py, total FROM rp WHERE map_key = '0:0'),
top AS (SELECT px // 512 AS ttx, py // 512 AS tty FROM f0 GROUP BY ttx, tty
  ORDER BY CAST(sum(total) AS BIGINT) DESC, ttx, tty LIMIT 1)
SELECT t.ttx AS tx, t.tty AS ty,
  CASE WHEN t.ttx = 0 AND f.px >= 65536 - 64 THEN f.px - 65536
       WHEN t.ttx = 127 AND f.px < 64 THEN f.px + 65536 - t.ttx*512
       ELSE f.px - t.ttx*512 END AS lpx,
  f.py - t.tty*512 AS lpy, f.total
FROM f0 f, top t
WHERE f.py >= t.tty*512 - 64 AND f.py <= t.tty*512 + 512 + 64
  AND ((f.px >= t.ttx*512 - 64 AND f.px <= t.ttx*512 + 512 + 64)
    OR (t.ttx = 0 AND f.px >= 65536 - 64) OR (t.ttx = 127 AND f.px < 64))"""),

    "q47_dup_clusters" -> (ClustersSql + """
SELECT doc_id, cluster_id FROM lbl"""),

    "q66_cluster_canonical" -> (ClustersSql + """
SELECT d.source, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN lbl ON d.doc_id = lbl.doc_id AND lbl.cluster_id = d.doc_id
GROUP BY d.source"""),

    "q175_soft_dedup" -> (ClustersSql + """,
csz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM lbl GROUP BY cluster_id)
SELECT lbl.doc_id, lbl.cluster_id, csz.cluster_size,
  1000000 // csz.cluster_size AS weight_micro
FROM lbl JOIN csz USING (cluster_id)"""),

    "q172_keep_longest" -> (ClustersSql + """,
ck AS (SELECT lbl.cluster_id,
  CAST(min((4194304 - d.n_chars) * 1099511627776 + lbl.doc_id)
    % 1099511627776 AS BIGINT) AS keep_id
  FROM lbl JOIN documents d ON lbl.doc_id = d.doc_id GROUP BY lbl.cluster_id)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(CASE WHEN ck.keep_id <> ck.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_policy_delta
FROM ck JOIN documents d ON d.doc_id = ck.keep_id GROUP BY d.source"""),

    "q48_corpus_filter" -> """WITH canon AS (
  SELECT md5(text) AS h, min(doc_id) AS cid FROM documents GROUP BY md5(text)),
base AS (SELECT d.* FROM documents d JOIN canon c ON md5(d.text) = c.h AND d.doc_id = c.cid),
sc AS (SELECT *,
    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' and ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' of ', ''))) / 4 AS s_en,
    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' le ', ''))) / 4
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' et ', ''))) / 4
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' la ', ''))) / 4 AS s_fr,
    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' der ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' und ', ''))) / 5
    + (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' die ', ''))) / 5 AS s_de
  FROM base),
fl AS (SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM sc
  WHERE (CASE WHEN s_en >= s_fr AND s_en >= s_de THEN 'en'
         WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END) = 'en'
    AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) >= 0.7)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM fl WHERE n_tokens BETWEEN 10 AND 200 GROUP BY source""",

    "q49_salted_agg" -> (Ex +
      "\nSELECT map_key, count(*) AS occ_count FROM ex GROUP BY map_key"),

    "q50_stratified_sample" -> """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 % 100 < 25
GROUP BY source""",

    "q51_data_split" -> """SELECT CASE WHEN ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 % 100 < 80 THEN 'train'
  WHEN ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 % 100 < 90 THEN 'val' ELSE 'test' END AS split,
  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ALL""",

    "q52_length_buckets" -> """WITH tk AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens FROM documents)
SELECT (n_tokens // 16) * 16 AS bucket, count(*) AS n_docs,
  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
FROM tk GROUP BY bucket""",

    "q64_sequence_packing" -> """WITH tk AS (SELECT doc_id, source,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
  ORDER BY n_tokens DESC, doc_id) AS cum FROM tk)
SELECT source, CAST((cum - n_tokens) // 4096 AS BIGINT) AS bin_id,
  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM c GROUP BY source, bin_id""",

    "q43_year_facet" -> (OccSql + """
SELECT year, count(*) AS n FROM occ2 WHERE year IS NOT NULL GROUP BY year"""),

    "q44_adhoc_tile" -> {
      val (la0, la1, lo0, lo1) = graft.core.Wgs84(OccurrenceView.TileSize).tileBoundary(2, 2, 1, 0.0)
      EventsGeoSql + s"""
SELECT CAST(floor((lng + 180.0)*(64.0/180.0)) AS BIGINT) AS cell_x,
       CAST(floor((90.0 - lat)*(64.0/180.0)) AS BIGINT) AS cell_y,
       count(*) AS doc_count,
       avg(lat10) AS centroid_lat10, avg(lng10) AS centroid_lng10
FROM ev2
WHERE lat >= $la0 AND lat <= $la1 AND lng >= $lo0 AND lng <= $lo1
GROUP BY ALL"""
    },

    "q56_adhoc_polar_3575" -> {
      val (la0, la1, lo0, lo1) =
        graft.core.NorthPoleLaea(OccurrenceView.TileSize).tileBoundary(2, 2, 1, 0.1)
      val lngSql = if (lo0 <= lo1) s"lng >= $lo0 AND lng <= $lo1"
        else s"(lng >= $lo0 OR lng <= $lo1)"
      EventsGeoSql + s"""
SELECT CAST(floor((lng + 180.0)*(64.0/180.0)) AS BIGINT) AS cell_x,
       CAST(floor((90.0 - lat)*(64.0/180.0)) AS BIGINT) AS cell_y,
       count(*) AS doc_count,
       avg(lat10) AS centroid_lat10, avg(lng10) AS centroid_lng10
FROM ev2
WHERE lat >= $la0 AND lat <= $la1 AND $lngSql
GROUP BY ALL"""
    },

    "q57_adhoc_polar_3031" -> {
      val (la0, la1, lo0, lo1) =
        graft.core.AntarcticStereographic(OccurrenceView.TileSize).tileBoundary(2, 1, 3, 0.25)
      val lngSql = if (lo0 <= lo1) s"lng >= $lo0 AND lng <= $lo1"
        else s"(lng >= $lo0 OR lng <= $lo1)"
      EventsGeoSql + s"""
SELECT CAST(floor((lng + 180.0)*(64.0/180.0)) AS BIGINT) AS cell_x,
       CAST(floor((90.0 - lat)*(64.0/180.0)) AS BIGINT) AS cell_y,
       count(*) AS doc_count,
       avg(lat10) AS centroid_lat10, avg(lng10) AS centroid_lng10
FROM ev2
WHERE lat >= $la0 AND lat <= $la1 AND $lngSql
GROUP BY ALL"""
    },

    "q28_minhash_sig" -> (SigSql + "\nSELECT * FROM sig"),

    "q29_lsh_neardup" -> (SigSql + s""",
bands AS (${(0 until Dedup.NumBands).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
      .mkString("\n  UNION ALL ")}),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, bh)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
SELECT * FROM (
  SELECT doc_a, doc_b,
    (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
WHERE est_sim >= 0.5"""),

    "q30_simhash" -> (HsSql + """
SELECT doc_id, CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END for h in hs]) > 0
  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS simhash
FROM hs"""),

    "q154_simhash_neardup" -> (HsSql + s""",
simh AS (SELECT doc_id, CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END for h in hs]) > 0
  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS sh
  FROM hs WHERE len(hs) > 0),
bands AS (
  ${(0 until 4).map(j =>
        s"SELECT doc_id, sh, $j AS band, (sh >> ${8 * j}) & 255 AS bw FROM simh WHERE sh IS NOT NULL")
        .mkString("\n  UNION ALL\n  ")}),
hot AS (SELECT band, bw FROM bands GROUP BY band, bw HAVING COUNT(*) > ${graft.operators.Dedup.SimhashBandCap}),
capped AS (SELECT * FROM bands b WHERE NOT EXISTS (
  SELECT 1 FROM hot WHERE hot.band = b.band AND hot.bw = b.bw)),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
  FROM capped a JOIN capped b
  ON a.band = b.band AND a.bw = b.bw AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3"""),

    "q31_ngram_jaccard" -> """WITH tk AS (SELECT doc_id, source,
  regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
tg AS (SELECT doc_id, source,
  [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS gs FROM tk),
sh AS (SELECT doc_id, source,
  list_distinct([list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(g, '')]),
    (a, b) -> (a*31 + b) % 2147483647) for g in gs]) AS s FROM tg)
SELECT * FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.s, b.s)) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.02""",

    "q32_embed_neardup" -> (s"""WITH e AS (SELECT vec_id, embedding,
  ${bucketSql("embedding")} AS bucket,
  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS sim
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT * FROM p WHERE sim >= 0.4"""),

    // multi-probe mirror: the query bucket plus the 8 Hamming-distance-1
    // buckets (one hyperplane sign flipped each)
    "q33_lsh_ann" -> (s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
b AS (SELECT e.vec_id, e.label, e.embedding, ${bucketSql("e.embedding")} AS bucket FROM embeddings e),
qb AS (SELECT qv, ${bucketSql("qv")} AS qbucket FROM q)
SELECT vec_id, label, bucket,
  round(${dotSql("embedding", "qv")}
    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 6) AS sim
FROM b, qb
WHERE bucket = qbucket OR xor(bucket, qbucket) IN (${(0 until Similarity.NumPlanes)
      .map(d => 1L << d).mkString(", ")})
ORDER BY sim DESC, vec_id LIMIT 10"""),

    // IVF mirror: same codebook (vec_id < 16), same ascending-index L2 fold,
    // same (dist, cid) argmin tiebreak, probe the 2 cells nearest the query
    "q60_ivf_ann" -> {
      def l2Sql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
          s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) for i in range(1, 65)]), " +
          s"(a, b) -> a + b)"
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < ${Similarity.IvfK}),
d AS (SELECT e.vec_id, e.label, e.embedding, c.cid, ${l2Sql("e.embedding", "c.cemb")} AS dist
  FROM embeddings e, c),
cells AS (SELECT vec_id, label, embedding, cid AS cell FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qd AS (SELECT c.cid, ${l2Sql("q.qv", "c.cemb")} AS dist FROM c, q),
probes AS (SELECT cid FROM (SELECT cid, row_number() OVER (ORDER BY dist, cid) AS rn FROM qd) WHERE rn <= 2)
SELECT vec_id, label, cell,
  round(${dotSql("embedding", "qv")}
    / (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})), 6) AS sim
FROM cells, q WHERE cell IN (SELECT cid FROM probes)
ORDER BY sim DESC, vec_id LIMIT 10"""
    },

    "q149_ivf_recall" -> {
      def l2Sql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
          s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) for i in range(1, 65)]), " +
          s"(a, b) -> a + b)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
    ${dotSql("embedding", "embedding")} AS sq
  FROM embeddings WHERE vec_id % 100 = 0),
c0 AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS se
  FROM embeddings WHERE vec_id % 100 <> 0),
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < ${Similarity.IvfK}),
d AS (SELECT c0.vec_id, cent.cid, ${l2Sql("c0.embedding", "cent.cemb")} AS dist FROM c0, cent),
cellof AS (SELECT vec_id, cid AS cell FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
qd AS (SELECT q.query_id, cent.cid, ${l2Sql("q.qv", "cent.cemb")} AS dist FROM q, cent),
probes AS (SELECT query_id, cid AS cell FROM (
  SELECT query_id, cid, row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS rn
  FROM qd) WHERE rn <= 2),
sims AS (SELECT q.query_id, c0.vec_id,
    CAST(round(round(${dotSql("c0.embedding", "q.qv")}
      / (sqrt(c0.se) * sqrt(q.sq)), 6) * 1000000, 0) AS BIGINT) AS sm
  FROM c0 CROSS JOIN q),
bp AS (SELECT query_id, (1000000 - sm) * 1099511627776 + vec_id AS pk FROM sims),
brute AS (SELECT query_id, pk % 1099511627776 AS vec_id FROM (
  SELECT query_id, pk, row_number() OVER (PARTITION BY query_id ORDER BY pk) AS rn FROM bp)
  WHERE rn <= 5),
ip AS (SELECT s.query_id, (1000000 - s.sm) * 1099511627776 + s.vec_id AS pk
  FROM sims s JOIN cellof ON s.vec_id = cellof.vec_id
  JOIN probes p ON p.query_id = s.query_id AND p.cell = cellof.cell),
ivf AS (SELECT query_id, pk % 1099511627776 AS vec_id FROM (
  SELECT query_id, pk, row_number() OVER (PARTITION BY query_id ORDER BY pk) AS rn FROM ip)
  WHERE rn <= 5)
SELECT b.query_id,
  CAST(count(i.vec_id) AS BIGINT) AS n_hits,
  CAST(count(i.vec_id) AS BIGINT) * 1000000 // 5 AS recall_micro
FROM brute b LEFT JOIN ivf i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
GROUP BY b.query_id"""
    },

    "q150_ivf_sweep" -> {
      def l2Sql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
          s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) for i in range(1, 65)]), " +
          s"(a, b) -> a + b)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
    ${dotSql("embedding", "embedding")} AS sq
  FROM embeddings WHERE vec_id % 100 = 0),
c0 AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS se
  FROM embeddings WHERE vec_id % 100 <> 0),
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < ${Similarity.IvfK}),
d AS (SELECT c0.vec_id, cent.cid, ${l2Sql("c0.embedding", "cent.cemb")} AS dist FROM c0, cent),
cellof AS (SELECT vec_id, cid AS cell FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
qd AS (SELECT q.query_id, cent.cid, ${l2Sql("q.qv", "cent.cemb")} AS dist FROM q, cent),
ranked AS (SELECT query_id, cid AS cell,
  row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS crank FROM qd),
grid AS (SELECT unnest([1, 2, 4, 8, 16]) AS nprobe),
sims AS (SELECT q.query_id, c0.vec_id,
    CAST(round(round(${dotSql("c0.embedding", "q.qv")}
      / (sqrt(c0.se) * sqrt(q.sq)), 6) * 1000000, 0) AS BIGINT) AS sm
  FROM c0 CROSS JOIN q),
bp AS (SELECT query_id, (1000000 - sm) * 1099511627776 + vec_id AS pk FROM sims),
brute AS (SELECT query_id, pk % 1099511627776 AS vec_id FROM (
  SELECT query_id, pk, row_number() OVER (PARTITION BY query_id ORDER BY pk) AS rn FROM bp)
  WHERE rn <= 5),
ip AS (SELECT s.query_id, g.nprobe,
    (1000000 - s.sm) * 1099511627776 + s.vec_id AS pk
  FROM sims s JOIN cellof ON s.vec_id = cellof.vec_id
  JOIN ranked r ON r.query_id = s.query_id AND r.cell = cellof.cell
  CROSS JOIN grid g WHERE r.crank <= g.nprobe),
ivf AS (SELECT query_id, nprobe, pk % 1099511627776 AS vec_id FROM (
  SELECT query_id, nprobe, pk,
    row_number() OVER (PARTITION BY query_id, nprobe ORDER BY pk) AS rn FROM ip)
  WHERE rn <= 5)
SELECT i.query_id, CAST(i.nprobe AS INT) AS nprobe,
  CAST(count(b.vec_id) AS BIGINT) AS n_hits,
  CAST(count(b.vec_id) AS BIGINT) * 1000000 // 5 AS recall_micro
FROM ivf i LEFT JOIN brute b ON i.query_id = b.query_id AND i.vec_id = b.vec_id
GROUP BY i.query_id, i.nprobe"""
    },

    "q151_pq_recall" -> (pqRecallCtes(Seq(8), 5) + """
SELECT t.query_id,
  CAST(count(b.vec_id) AS BIGINT) AS n_hits,
  CAST(count(b.vec_id) AS BIGINT) * 1000000 // 5 AS recall_micro
FROM topk t LEFT JOIN brute b ON t.query_id = b.query_id AND t.vec_id = b.vec_id
WHERE t.m_sub = 8
GROUP BY t.query_id"""),

    "q152_pq_m_sweep" -> (pqRecallCtes(Seq(1, 2, 4, 8, 16), 5) + """
SELECT t.query_id, CAST(t.m_sub AS INT) AS m_sub,
  CAST(count(b.vec_id) AS BIGINT) AS n_hits,
  CAST(count(b.vec_id) AS BIGINT) * 1000000 // 5 AS recall_micro
FROM topk t LEFT JOIN brute b ON t.query_id = b.query_id AND t.vec_id = b.vec_id
GROUP BY t.query_id, t.m_sub"""),

    "q157_lsh_recall" -> (s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
    ${dotSql("embedding", "embedding")} AS sq, ${bucketSql("embedding")} AS qb
  FROM embeddings WHERE vec_id % 100 = 0),
c0 AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS se,
    ${bucketSql("embedding")} AS bucket
  FROM embeddings WHERE vec_id % 100 <> 0),
sims AS (SELECT q.query_id, c0.vec_id,
    CAST(bit_count(xor(c0.bucket, q.qb)) AS INT) AS hd,
    CAST(round(round(${dotSql("c0.embedding", "q.qv")}
      / (sqrt(c0.se) * sqrt(q.sq)), 6) * 1000000, 0) AS BIGINT) AS sm
  FROM c0 CROSS JOIN q),
bp AS (SELECT query_id, (1000000 - sm) * 1099511627776 + vec_id AS pk FROM sims),
brute AS (SELECT query_id, pk % 1099511627776 AS vec_id FROM (
  SELECT query_id, pk, row_number() OVER (PARTITION BY query_id ORDER BY pk) AS rn FROM bp)
  WHERE rn <= 5),
grid AS (SELECT unnest([0, 1, 2, 8]) AS radius),
ap AS (SELECT s.query_id, g.radius,
    (1000000 - s.sm) * 1099511627776 + s.vec_id AS pk
  FROM sims s CROSS JOIN grid g WHERE s.hd <= g.radius),
arm AS (SELECT query_id, radius, pk % 1099511627776 AS vec_id FROM (
  SELECT query_id, radius, pk,
    row_number() OVER (PARTITION BY query_id, radius ORDER BY pk) AS rn FROM ap)
  WHERE rn <= 5)
SELECT a.query_id, CAST(a.radius AS INT) AS radius,
  CAST(count(b.vec_id) AS BIGINT) AS n_hits,
  CAST(count(b.vec_id) AS BIGINT) * 1000000 // 5 AS recall_micro
FROM arm a LEFT JOIN brute b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
GROUP BY a.query_id, a.radius"""),

    "q155_ivfpq_recall" -> {
      def l2Sql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
          s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) for i in range(1, 65)]), " +
          s"(a, b) -> a + b)"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
c0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
cbq AS (SELECT vec_id AS cbk, embedding AS cemb FROM embeddings WHERE vec_id < ${Similarity.PqK}),
sub AS (SELECT unnest(range(0, ${Similarity.PqM})) AS j),
pd AS (SELECT e.vec_id, s.j, c.cbk,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    [(CAST(e.embedding[s.j * 8 + i] AS DOUBLE) - CAST(c.cemb[s.j * 8 + i] AS DOUBLE))
     * (CAST(e.embedding[s.j * 8 + i] AS DOUBLE) - CAST(c.cemb[s.j * 8 + i] AS DOUBLE))
     for i in range(1, 9)]), (a, b) -> a + b) AS dist
  FROM c0 e CROSS JOIN sub s CROSS JOIN cbq c),
codes AS (SELECT vec_id, j, cbk AS code FROM (
  SELECT vec_id, j, cbk,
    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, cbk ASC) AS rn
  FROM pd) WHERE rn = 1),
rp AS (SELECT c.vec_id, c.j,
    [CAST(cbq.cemb[c.j * 8 + i] AS DOUBLE) for i in range(1, 9)] AS part
  FROM codes c JOIN cbq ON cbq.cbk = c.code),
recon AS (SELECT vec_id, flatten(list(part ORDER BY j)) AS recon FROM rp GROUP BY vec_id),
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < ${Similarity.IvfK}),
cd AS (SELECT c0.vec_id, cent.cid, ${l2Sql("c0.embedding", "cent.cemb")} AS dist FROM c0, cent),
cellof AS (SELECT vec_id, cid AS cell FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
qd AS (SELECT q.query_id, cent.cid, ${l2Sql("q.qv", "cent.cemb")} AS dist FROM q, cent),
ranked AS (SELECT query_id, cid AS cell,
  row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS crank FROM qd),
grid AS (SELECT unnest([1, 2, 4, 8, 16]) AS nprobe),
bs AS (SELECT qq.query_id, e.vec_id,
    CAST(round(round(${l2Sql("qq.qv", "e.embedding")}, 6) * 1000000, 0) AS BIGINT) AS dme
  FROM c0 e CROSS JOIN q qq),
brute AS (SELECT query_id, pk % 2097152 AS vec_id FROM (
  SELECT query_id, dme * 2097152 + vec_id AS pk,
    row_number() OVER (PARTITION BY query_id ORDER BY dme * 2097152 + vec_id) AS rn FROM bs)
  WHERE rn <= 5),
sa AS (SELECT qq.query_id, r.vec_id,
    CAST(round(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [(CAST(qq.qv[i] AS DOUBLE) - r.recon[i]) * (CAST(qq.qv[i] AS DOUBLE) - r.recon[i])
       for i in range(1, 65)]), (a, b) -> a + b), 6) * 1000000, 0) AS BIGINT) AS dma
  FROM recon r CROSS JOIN q qq),
ip AS (SELECT s.query_id, g.nprobe, s.dma * 2097152 + s.vec_id AS pk
  FROM sa s JOIN cellof ON s.vec_id = cellof.vec_id
  JOIN ranked rk ON rk.query_id = s.query_id AND rk.cell = cellof.cell
  CROSS JOIN grid g WHERE rk.crank <= g.nprobe),
ivf AS (SELECT query_id, nprobe, pk % 2097152 AS vec_id FROM (
  SELECT query_id, nprobe, pk,
    row_number() OVER (PARTITION BY query_id, nprobe ORDER BY pk) AS rn FROM ip)
  WHERE rn <= 5)
SELECT i.query_id, CAST(i.nprobe AS INT) AS nprobe,
  CAST(count(b.vec_id) AS BIGINT) AS n_hits,
  CAST(count(b.vec_id) AS BIGINT) * 1000000 // 5 AS recall_micro
FROM ivf i LEFT JOIN brute b ON i.query_id = b.query_id AND i.vec_id = b.vec_id
GROUP BY i.query_id, i.nprobe"""
    },

    "q65_embed_quantize" -> """WITH m AS (
  SELECT vec_id, embedding,
    list_max([abs(CAST(embedding[i] AS DOUBLE)) for i in range(1, 65)]) AS mx
  FROM embeddings)
SELECT vec_id,
  round(CASE WHEN mx = 0.0 THEN 0.0 ELSE 127.0 / mx END, 6) AS scale,
  CAST(CASE WHEN mx = 0.0 THEN 0 ELSE list_sum(
    [floor(CAST(embedding[i] AS DOUBLE) * (127.0 / mx) + 0.5) * i for i in range(1, 65)])
  END AS BIGINT) AS qsum
FROM m""",

    "q24_event_hourly" -> """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
  count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY ALL""",

    "q25_sessionize" -> """WITH ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
l AS (SELECT user_id, tsec,
  lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS pt FROM ev),
n AS (SELECT user_id, CASE WHEN pt IS NULL OR tsec - pt > 1800 THEN 1 ELSE 0 END AS new_s FROM l)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM n GROUP BY user_id""",

    "q67_decontam" -> """WITH tk AS (
  SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
g AS (SELECT doc_id, source,
  list_distinct([array_to_string(toks[i:i+4], ' ')
                 for i in range(1, len(toks) - 3)]) AS grams FROM tk),
ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'),
corpus AS (SELECT * FROM g WHERE source <> 'src0'),
sh AS (SELECT doc_id, count(*) AS n_shared
  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) cg
  WHERE gram IN (SELECT gram FROM ev) GROUP BY doc_id)
SELECT c.doc_id, c.source, len(c.grams) AS n_grams,
  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
  CAST(coalesce(sh.n_shared, 0) AS DOUBLE) / greatest(len(c.grams), 1) AS overlap,
  CASE WHEN CAST(coalesce(sh.n_shared, 0) AS DOUBLE) / greatest(len(c.grams), 1)
       >= CAST('0.5' AS DOUBLE) THEN 1 ELSE 0 END AS contaminated
FROM corpus c LEFT JOIN sh USING (doc_id)""",

    "q68_repetition" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT doc_id, toks,
  [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] AS bgs
  FROM tk WHERE len(toks) > 0),
wc AS (SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS w FROM base) GROUP BY doc_id, w),
wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
  CAST(max(c) AS BIGINT) AS top_word FROM wc GROUP BY doc_id),
bc AS (SELECT doc_id, bg, count(*) AS c
  FROM (SELECT doc_id, unnest(bgs) AS bg FROM base) GROUP BY doc_id, bg),
ba AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram FROM bc GROUP BY doc_id)
SELECT wa.doc_id, wa.n_words,
  CAST(wa.n_words - wa.n_distinct AS DOUBLE) / wa.n_words AS dup_word_frac,
  CAST(wa.top_word AS DOUBLE) / wa.n_words AS top_word_frac,
  CAST(coalesce(ba.top_bigram, 0) AS DOUBLE) / greatest(wa.n_words - 1, 1) AS top_bigram_frac
FROM wa LEFT JOIN ba USING (doc_id)""",

    "q69_domain_mix" -> """WITH keep AS (
  SELECT source,
    least(count(*), CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)) * CAST('3.0' AS DOUBLE)) AS BIGINT)) AS n_keep
  FROM documents GROUP BY source),
rk AS (SELECT d.*, keep.n_keep,
  row_number() OVER (PARTITION BY d.source
    ORDER BY (d.doc_id * 1103515245 + 12345) % 2147483648 ASC, d.doc_id ASC) AS rn
  FROM documents d JOIN keep USING (source))
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM rk WHERE rn <= n_keep GROUP BY source""",

    "q70_asof_join" -> """WITH ev AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tmicro FROM events),
c AS (SELECT * FROM ev WHERE event_type = 'click'),
e AS (SELECT * FROM ev WHERE event_type = 'error')
SELECT c.event_id, c.user_id, e.event_id AS err_event_id,
  c.tmicro - e.tmicro AS lag_micros, e.value AS err_value
FROM c ASOF JOIN e ON c.user_id = e.user_id AND c.tmicro >= e.tmicro""",

    "q71_tfidf_terms" -> """WITH tk AS (
  SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT * FROM tk WHERE len(toks) > 0),
words AS (SELECT doc_id, source, unnest(toks) AS w FROM base),
dfreq AS (SELECT w, count(*) AS df
  FROM (SELECT DISTINCT doc_id, w FROM words) GROUP BY w),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM base),
tf AS (SELECT source, w, count(*) AS tf FROM words GROUP BY source, w),
scored AS (SELECT tf.source, tf.w, tf.tf, dfreq.df,
  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (w) CROSS JOIN n),
rk AS (SELECT *, row_number() OVER (PARTITION BY source
  ORDER BY score DESC, w ASC) AS rn FROM scored)
SELECT source, w, tf, df, score, CAST(rn AS INT) AS rn FROM rk WHERE rn <= 5""",

    "q72_kmeans_step" -> """WITH c AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16),
d AS (SELECT e.vec_id, c.cid,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    [(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))
     * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE)) for i in range(1, 65)]),
    (a, b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN c),
asn AS (SELECT vec_id, cid AS cell FROM (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
  FROM d) WHERE rn = 1),
q AS (SELECT vec_id,
  list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
            for i in range(1, 65)]) AS q1,
  list_sum([CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) * i
            for i in range(1, 65)]) AS qw
  FROM embeddings)
SELECT cell, count(*) AS n_vecs, CAST(sum(q1) AS BIGINT) AS s1,
  CAST(sum(qw) AS BIGINT) AS sw,
  CAST(sum(qw) AS DOUBLE) / (CAST('1000.0' AS DOUBLE) * count(*)) AS mean_w
FROM asn JOIN q USING (vec_id) GROUP BY cell""",

    "q73_doc_chunking" -> """WITH tk AS (
  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
  FROM documents),
st AS (SELECT doc_id, n, unnest(generate_series(0, n - 1, 24)) AS tok_start
  FROM tk WHERE n > 0)
SELECT doc_id, CAST(tok_start // 24 AS BIGINT) AS chunk_idx,
  CAST(tok_start AS BIGINT) AS tok_start,
  CAST(least(tok_start + 32, n) AS BIGINT) AS tok_end,
  CAST(least(tok_start + 32, n) - tok_start AS BIGINT) AS n_chunk_tokens
FROM st""",

    "q74_pii_scrub" -> """SELECT doc_id,
  CAST(len(regexp_extract_all(text, '\b(customer|supplier|part)\b')) AS BIGINT)
    AS n_hits,
  CAST(length(regexp_replace(text, '\b(customer|supplier|part)\b', '<ENT>', 'g'))
    AS BIGINT) AS scrubbed_len
FROM documents""",

    "q75_token_quantiles" -> """WITH tk AS (
  SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
r AS (SELECT source, n_tokens,
  row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
  count(*) OVER (PARTITION BY source) AS n FROM tk)
SELECT source,
  CAST(max(CASE WHEN rn = ceil(0.5 * n) THEN n_tokens END) AS BIGINT) AS p50,
  CAST(max(CASE WHEN rn = ceil(0.9 * n) THEN n_tokens END) AS BIGINT) AS p90,
  CAST(max(CASE WHEN rn = ceil(0.99 * n) THEN n_tokens END) AS BIGINT) AS p99
FROM r GROUP BY source""",

    "q76_pq_codes" -> (PqCodesSql + s"""
SELECT vec_id,
  ${(0 until 8).map(m =>
        s"CAST(max(CASE WHEN m = $m THEN code END) AS INT) AS c$m")
        .mkString(",\n  ")}
FROM codes GROUP BY vec_id"""),

    "q77_pq_ann" -> (PqCodesSql + """,
t AS (SELECT m, k, dist FROM d WHERE vec_id = 0),
ad AS (SELECT c.vec_id,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.dist ORDER BY t.m)),
    (a, b) -> a + b) AS adist
  FROM codes c JOIN t ON c.m = t.m AND c.code = t.k GROUP BY c.vec_id)
SELECT e.vec_id, e.label, round(ad.adist, 6) AS adist
FROM ad JOIN embeddings e USING (vec_id)
ORDER BY round(ad.adist, 6) ASC, e.vec_id LIMIT 10"""),

    "q153_ivfpq_ann" -> (PqCodesSql + """,
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16),
cd AS (SELECT e.vec_id, cent.cid,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    [(CAST(e.embedding[i] AS DOUBLE) - CAST(cent.cemb[i] AS DOUBLE))
     * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.cemb[i] AS DOUBLE))
     for i in range(1, 65)]), (a, b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN cent),
cellof AS (SELECT vec_id, cid AS cell FROM (
  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM cd) WHERE rn = 1),
probes AS (SELECT cid AS cell FROM (
  SELECT cid, row_number() OVER (ORDER BY dist, cid) AS rn FROM cd WHERE vec_id = 0)
  WHERE rn <= 4),
t AS (SELECT m, k, dist FROM d WHERE vec_id = 0),
ad AS (SELECT c.vec_id,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.dist ORDER BY t.m)),
    (a, b) -> a + b) AS adist
  FROM codes c JOIN t ON c.m = t.m AND c.code = t.k
  JOIN cellof ON cellof.vec_id = c.vec_id
  JOIN probes p ON p.cell = cellof.cell
  GROUP BY c.vec_id)
SELECT e.vec_id, e.label, round(ad.adist, 6) AS adist
FROM ad JOIN embeddings e USING (vec_id)
ORDER BY round(ad.adist, 6) ASC, e.vec_id LIMIT 10"""),

    "q78_bm25_topk" -> """WITH tk AS (
  SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT * FROM tk WHERE len(toks) > 0),
dl AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS dl FROM base),
words AS (SELECT doc_id, w FROM
  (SELECT doc_id, unnest(toks) AS w FROM base)
  WHERE w IN ('spark', 'window', 'merge')),
tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
corpus AS (SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl
  FROM base),
scored AS (SELECT tf.doc_id, tf.w,
  ln(1.0 + (corpus.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
    * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
        / (CAST(corpus.sum_dl AS DOUBLE) / corpus.n_docs)))) AS s
  FROM tf JOIN dfr USING (w) JOIN dl USING (doc_id) CROSS JOIN corpus),
piv AS (SELECT doc_id,
  max(CASE WHEN w = 'spark' THEN s END) AS s0,
  max(CASE WHEN w = 'window' THEN s END) AS s1,
  max(CASE WHEN w = 'merge' THEN s END) AS s2
  FROM scored GROUP BY doc_id)
SELECT dl.doc_id, dl.source, dl.dl,
  round(coalesce(s0, 0.0) + coalesce(s1, 0.0) + coalesce(s2, 0.0), 6) AS score
FROM dl JOIN piv USING (doc_id)
ORDER BY score DESC, dl.doc_id LIMIT 15""",

    "q79_vocab_coverage" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT * FROM tk WHERE len(toks) > 0),
words AS (SELECT doc_id, unnest(toks) AS w FROM base),
cnt AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
vocab AS (SELECT w, cnt FROM cnt ORDER BY cnt DESC, w ASC LIMIT 16),
j AS (SELECT words.doc_id, vocab.cnt FROM words LEFT JOIN vocab USING (w))
SELECT doc_id, count(*) AS n_tokens,
  CAST(count(*) - count(cnt) AS BIGINT) AS n_oov,
  CAST(count(*) - count(cnt) AS DOUBLE) / count(*) AS oov_rate,
  CAST(sum(coalesce(cnt, 0)) AS DOUBLE) / count(*) AS mean_vocab_freq
FROM j GROUP BY doc_id""",

    "q80_semantic_dedup" -> s"""WITH c AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 16),
d AS (SELECT e.vec_id, e.embedding, c.cid,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    [(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))
     * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE)) for i in range(1, 65)]),
    (a, b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN c),
asn AS (SELECT vec_id, embedding, cid AS cell FROM (
  SELECT vec_id, embedding, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
  FROM d) WHERE rn = 1),
e AS (SELECT vec_id, embedding, cell,
  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM asn),
dup AS (SELECT DISTINCT b.cell, b.vec_id
  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6)
    >= CAST('0.4' AS DOUBLE))
SELECT e.cell, count(*) AS n_vecs,
  CAST(sum(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN dup.vec_id IS NULL THEN e.vec_id END) AS BIGINT) AS kept_sum,
  count(*) - CAST(sum(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped
FROM e LEFT JOIN dup ON e.cell = dup.cell AND e.vec_id = dup.vec_id
GROUP BY e.cell""",

    "q81_global_order" -> """WITH h AS (
  SELECT doc_id, (doc_id * 1103515245 + 12345) % 2147483648 AS h FROM documents)
SELECT doc_id, h,
  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
FROM h""",

    "q82_cms_heavy" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
words AS (SELECT unnest(toks) AS w FROM tk WHERE len(toks) > 0),
hw AS (SELECT w, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(w, '')]),
    (a, b) -> (a * 31 + b) % 2147483647) AS h FROM words),
par AS (SELECT * FROM (VALUES (0, 1299721, 7), (1, 15485863, 11),
  (2, 32452843, 13), (3, 49979687, 17)) AS t(j, a, b)),
cells AS (SELECT p.j, ((p.a * hw.h + p.b) % 2147483647) % 16 AS slot,
  count(*) AS cell FROM hw CROSS JOIN par p GROUP BY p.j, slot),
top AS (SELECT w, count(*) AS true_cnt FROM words GROUP BY w
  ORDER BY true_cnt DESC, w ASC LIMIT 10),
th AS (SELECT top.w, top.true_cnt, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(top.w, '')]),
    (a, b) -> (a * 31 + b) % 2147483647) AS h FROM top),
probes AS (SELECT th.w, th.true_cnt, p.j,
  ((p.a * th.h + p.b) % 2147483647) % 16 AS slot FROM th CROSS JOIN par p)
SELECT probes.w, probes.true_cnt, CAST(min(cells.cell) AS BIGINT) AS est
FROM probes JOIN cells USING (j, slot)
GROUP BY probes.w, probes.true_cnt
ORDER BY probes.true_cnt DESC, probes.w ASC""",

    "q83_hard_negatives" -> s"""WITH e AS (SELECT vec_id, label, embedding,
  ${bucketSql("embedding")} AS bucket,
  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
p AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
  b.vec_id AS neg_id, b.label AS neg_label,
  round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS sim
  FROM e a JOIN e b ON a.bucket = b.bucket
    AND a.vec_id <> b.vec_id AND a.label <> b.label),
r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
  ORDER BY sim DESC, neg_id ASC) AS rn FROM p)
SELECT anchor_id, anchor_label, neg_id, neg_label, sim FROM r WHERE rn = 1""",

    "q84_linear_count" -> """WITH tk AS (
  SELECT source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
words AS (SELECT source, unnest(toks) AS w FROM tk WHERE len(toks) > 0),
dw AS (SELECT DISTINCT source, w FROM words),
hw AS (SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(w, '')]),
    (a, b) -> (a * 31 + b) % 2147483647) % 64 AS slot FROM dw),
occ AS (SELECT source, count(DISTINCT slot) AS occupied FROM hw GROUP BY source),
tru AS (SELECT source, count(*) AS true_distinct FROM dw GROUP BY source)
SELECT tru.source, tru.true_distinct, occ.occupied,
  CASE WHEN occ.occupied = 64 THEN NULL
       ELSE round(-64.0 * ln(CAST(64 - occ.occupied AS DOUBLE) / 64.0), 4)
  END AS est
FROM tru JOIN occ USING (source)""",

    "q85_ingest_dedup" -> (SigSql + s""",
bands AS (${(0 until Dedup.NumBands).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
      .mkString("\n  UNION ALL ")}),
idx AS (SELECT doc_id AS old_id, band, bh FROM bands WHERE doc_id % 4 <> 0),
ok AS (SELECT band, bh FROM idx GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
idx2 AS (SELECT idx.* FROM idx JOIN ok USING (band, bh)),
nb AS (SELECT doc_id AS new_id, band, bh FROM bands WHERE doc_id % 4 = 0),
cand AS (SELECT DISTINCT new_id, old_id FROM nb JOIN idx2 USING (band, bh)),
est AS (SELECT new_id, old_id,
  (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
  FROM cand JOIN sig sa ON new_id = sa.doc_id JOIN sig sb ON old_id = sb.doc_id),
dup AS (SELECT new_id, CAST(min(old_id) AS BIGINT) AS dup_of
  FROM est WHERE est_sim >= 0.5 GROUP BY new_id)
SELECT d.doc_id, dup.dup_of
FROM documents d LEFT JOIN dup ON d.doc_id = dup.new_id
WHERE d.doc_id % 4 = 0"""),

    "q86_hist_quantiles" -> """WITH tk AS (
  SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
r AS (SELECT source, n_tokens,
  row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
  count(*) OVER (PARTITION BY source) AS n FROM tk)
SELECT source,
  CAST(max(CASE WHEN rn = ceil(0.5 * n) THEN n_tokens END) AS BIGINT) AS p50,
  CAST(max(CASE WHEN rn = ceil(0.9 * n) THEN n_tokens END) AS BIGINT) AS p90,
  CAST(max(CASE WHEN rn = ceil(0.99 * n) THEN n_tokens END) AS BIGINT) AS p99
FROM r GROUP BY source""",

    "q87_chunk_dedup" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT * FROM tk WHERE len(toks) > 0),
ch0 AS (SELECT doc_id,
  unnest([struct_pack(idx := i,
      ctext := array_to_string(toks[i*16+1 : i*16+16], ' '))
    for i in range(0, ((len(toks) - 1) // 16) + 1)]) AS c
  FROM base),
ch AS (SELECT doc_id, c.idx AS idx, c.ctext AS ctext FROM ch0),
pd AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
kept AS (SELECT * FROM (SELECT ch.*,
    row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id, idx) AS rn
  FROM ch) WHERE rn = 1)
SELECT k.doc_id, pd.n_chunks, count(*) AS n_kept,
  CAST(sum(len(string_split(k.ctext, ' '))) AS BIGINT) AS kept_tokens,
  md5(array_to_string(list(k.ctext ORDER BY k.idx), ' ')) AS fp
FROM kept k JOIN pd USING (doc_id)
GROUP BY k.doc_id, pd.n_chunks""",

    "q88_token_budget" -> """WITH tk AS (
  SELECT doc_id, source, text,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
base AS (SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
    / length(text) AS quality
  FROM tk WHERE n_tokens > 0),
r AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
    ORDER BY quality DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM base)
SELECT source, count(*) AS n_kept,
  CAST(max(cum_tokens) AS BIGINT) AS tokens_kept,
  min(quality) AS worst_quality
FROM r WHERE cum_tokens <= 1000 GROUP BY source""",

    "q89_corpus_profile" -> """WITH tk AS (
  SELECT source, n_chars,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
t AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM tk GROUP BY source),
l AS (SELECT source, count(*) AS n_langs
  FROM (SELECT DISTINCT source, lang FROM documents) GROUP BY source),
u AS (SELECT source, count(*) AS n_distinct_texts
  FROM (SELECT DISTINCT source, md5(text) AS h FROM documents) GROUP BY source)
SELECT t.source, t.n_docs, t.sum_tokens, t.sum_chars,
  CAST(t.sum_tokens AS DOUBLE) / t.n_docs AS mean_tokens,
  l.n_langs,
  CAST(t.n_docs - u.n_distinct_texts AS DOUBLE) / t.n_docs AS dup_rate
FROM t JOIN l USING (source) JOIN u USING (source)""",

    "q90_hll_count" -> """WITH tk AS (
  SELECT source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
words AS (SELECT source, unnest(toks) AS w FROM tk WHERE len(toks) > 0),
hw AS (SELECT source, w, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(w, '')]),
    (a, b) -> (a * 31 + b) % 2147483647) AS h FROM words),
rr AS (SELECT source, h % 16 AS reg,
  CASE WHEN h // 16 = 0 THEN 28
       ELSE 27 - CAST(floor(log2(h // 16)) AS INT) END AS rho FROM hw),
regs AS (SELECT source, reg, max(rho) AS m_reg FROM rr GROUP BY source, reg),
agg AS (SELECT source, count(*) AS n_regs,
  sum(power(2.0, -m_reg)) AS s_hit FROM regs GROUP BY source),
tru AS (SELECT source, count(*) AS true_distinct
  FROM (SELECT DISTINCT source, w FROM words) GROUP BY source)
SELECT tru.source, tru.true_distinct,
  round(0.673 * 16 * 16 / (agg.s_hit + CAST(16 - agg.n_regs AS DOUBLE)), 4) AS est
FROM tru JOIN agg USING (source)""",

    "q91_bigram_lm" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
bgl AS (SELECT doc_id,
  [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bgs FROM base),
dbg AS (SELECT doc_id, bg, count(*) AS occ
  FROM (SELECT doc_id, unnest(bgs) AS bg FROM bgl) GROUP BY doc_id, bg),
lm2 AS (SELECT bg, CAST(sum(occ) AS BIGINT) AS c2,
  string_split(bg, ' ')[1] AS w1 FROM dbg GROUP BY bg),
lm1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM lm2 GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(toks) AS w FROM base)),
sc AS (SELECT d.doc_id, d.occ,
  CAST(round(round(ln(CAST(l1.c1 + v.v AS DOUBLE) / CAST(l2.c2 + 1 AS DOUBLE)), 6)
    * 1000000.0, 0) AS BIGINT) AS micro
  FROM dbg d JOIN lm2 l2 USING (bg) JOIN lm1 l1 USING (w1) CROSS JOIN v)
SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
  CAST(sum(occ * micro) AS BIGINT) AS micro_nll,
  round(CAST(sum(occ * micro) AS DOUBLE) / CAST(sum(occ) AS DOUBLE)
    / 1000000.0, 6) AS avg_nll
FROM sc GROUP BY doc_id""",

    "q92_bloom_ingest" -> {
      val hv = (0 until graft.operators.Sketch.BloomK)
        .map(i => s"(${Dedup.As(i)}, ${Dedup.Bs(i)})").mkString(", ")
      s"""WITH f AS (SELECT doc_id, ${javaHashSql("text")} AS fp FROM documents),
old AS (SELECT * FROM f WHERE doc_id % 4 <> 0),
nb AS (SELECT * FROM f WHERE doc_id % 4 = 0),
h(a, b) AS (VALUES $hv),
bits AS (SELECT DISTINCT ((h.a * old.fp + h.b) % 2147483647) % 65536 AS pos
  FROM old CROSS JOIN h),
np AS (SELECT nb.doc_id, ((h.a * nb.fp + h.b) % 2147483647) % 65536 AS pos
  FROM nb CROSS JOIN h),
hits AS (SELECT doc_id, count(*) AS n_hit FROM np
  WHERE pos IN (SELECT pos FROM bits) GROUP BY doc_id),
oldfp AS (SELECT DISTINCT fp FROM old)
SELECT nb.doc_id, nb.fp,
  CASE WHEN coalesce(hits.n_hit, 0) = 3 THEN 1 ELSE 0 END AS bloom_hit,
  CASE WHEN oldfp.fp IS NOT NULL THEN 1 ELSE 0 END AS exact_dup
FROM nb LEFT JOIN hits USING (doc_id) LEFT JOIN oldfp ON nb.fp = oldfp.fp"""
    },

    "q93_edit_verify" -> (SigSql + s""",
bands AS (${(0 until Dedup.NumBands).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
      .mkString("\n  UNION ALL ")}),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, bh)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
vp AS (SELECT doc_a, doc_b FROM (
  SELECT doc_a, doc_b,
    (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
  WHERE est_sim >= 0.5),
pre AS (SELECT doc_id, substr(text, 1, 96) AS pre FROM documents)
SELECT doc_a, doc_b,
  CASE WHEN lev <= 24 THEN CAST(lev AS INT) ELSE -1 END AS edit_dist,
  CASE WHEN lev <= 24 THEN 1 ELSE 0 END AS near_dup
FROM (SELECT vp.doc_a, vp.doc_b, levenshtein(a.pre, b.pre) AS lev
  FROM vp JOIN pre a ON vp.doc_a = a.doc_id
  JOIN pre b ON vp.doc_b = b.doc_id)"""),

    "q94_bpe_pairs" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
wf AS (SELECT w, count(*) AS freq
  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
pr AS (SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair, freq
  FROM wf),
pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pr GROUP BY pair)
SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair ASC LIMIT 20""",

    "q95_funnel" -> """WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tmicro FROM events),
u AS (SELECT DISTINCT user_id FROM ev),
s1 AS (SELECT user_id, min(tmicro) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.tmicro) AS t2 FROM ev e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.tmicro > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.tmicro) AS t3 FROM ev e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.tmicro > s2.t2 GROUP BY e.user_id)
SELECT u.user_id, s1.t1, s2.t2, s3.t3,
  (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END
   + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
   + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS stage
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)""",

    "q96_retention" -> """WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
coh AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
SELECT coh.cohort_day, d.day - coh.cohort_day AS day_offset,
  count(*) AS n_users
FROM days d JOIN coh USING (user_id) GROUP BY 1, 2""",

    "q97_pmi_pairs" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
pairs AS (SELECT unnest(
    [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
    || [toks[i] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]) AS pair
  FROM base),
pc AS (SELECT pair, count(*) AS c_ab FROM pairs GROUP BY pair),
wc AS (SELECT w, count(*) AS c_w
  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w),
tot AS (SELECT (SELECT CAST(sum(c_ab) AS BIGINT) FROM pc) AS p_tot,
               (SELECT CAST(sum(c_w) AS BIGINT) FROM wc) AS n_tok)
SELECT pc.pair, pc.c_ab, l.c_w AS c_l, r.c_w AS c_r,
  round(ln(CAST(pc.c_ab AS DOUBLE) * CAST(tot.n_tok AS DOUBLE)
      * CAST(tot.n_tok AS DOUBLE)
    / (CAST(tot.p_tot AS DOUBLE) * CAST(l.c_w AS DOUBLE)
      * CAST(r.c_w AS DOUBLE))), 6) + 0.0 AS pmi
FROM pc
JOIN wc l ON l.w = string_split(pc.pair, ' ')[1]
JOIN wc r ON r.w = string_split(pc.pair, ' ')[2]
CROSS JOIN tot
ORDER BY pc.c_ab DESC, pc.pair ASC LIMIT 30""",

    "q98_containment" -> (SigSql + s""",
bands AS (${(0 until Dedup.NumBands).map(b =>
      s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
      .mkString("\n  UNION ALL ")}),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, bh)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
vp AS (SELECT doc_a, doc_b FROM (
  SELECT doc_a, doc_b,
    (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
  WHERE est_sim >= 0.5),
tkc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
tgc AS (SELECT doc_id,
  [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS gs FROM tkc),
shc AS (SELECT doc_id, list_distinct([list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(g, '')]),
    (a, b) -> (a*31 + b) % 2147483647) for g in gs]) AS s FROM tgc)
SELECT * FROM (
  SELECT vp.doc_a, vp.doc_b,
    CAST(len(list_intersect(a.s, b.s)) AS INT) AS n_common,
    CAST(len(a.s) AS INT) AS n_a, CAST(len(b.s) AS INT) AS n_b,
    len(list_intersect(a.s, b.s)) / len(a.s) AS contain_a,
    len(list_intersect(a.s, b.s)) / len(b.s) AS contain_b
  FROM vp JOIN shc a ON vp.doc_a = a.doc_id JOIN shc b ON vp.doc_b = b.doc_id
  WHERE len(a.s) > 0 AND len(b.s) > 0)
WHERE greatest(contain_a, contain_b) >= CAST('0.8' AS DOUBLE)"""),

    "q99_hll_union" -> """WITH tk AS (
  SELECT source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
words AS (SELECT source, unnest(toks) AS w FROM tk WHERE len(toks) > 0),
hw AS (SELECT source, w, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(w, '')]),
    (a, b) -> (a * 31 + b) % 2147483647) AS h FROM words),
rr AS (SELECT source, h % 16 AS reg,
  CASE WHEN h // 16 = 0 THEN 28
       ELSE 27 - CAST(floor(log2(h // 16)) AS INT) END AS rho FROM hw),
regs AS (SELECT source, reg, max(rho) AS m_reg FROM rr GROUP BY source, reg),
srcs AS (SELECT DISTINCT source FROM regs),
pairs AS (SELECT x.source AS src_a, y.source AS src_b
  FROM srcs x, srcs y WHERE x.source < y.source),
mem AS (SELECT src_a, src_b, src_a AS source FROM pairs
  UNION ALL SELECT src_a, src_b, src_b FROM pairs),
mr AS (SELECT m.src_a, m.src_b, r.reg, max(r.m_reg) AS m_reg
  FROM mem m JOIN regs r USING (source) GROUP BY 1, 2, 3),
agg AS (SELECT src_a, src_b, count(*) AS n_regs,
  sum(power(2.0, -m_reg)) AS s_hit FROM mr GROUP BY 1, 2),
tru AS (SELECT src_a, src_b, count(*) AS true_union FROM (
  SELECT DISTINCT m.src_a, m.src_b, dw.w
  FROM mem m JOIN (SELECT DISTINCT source, w FROM words) dw USING (source))
  GROUP BY 1, 2)
SELECT tru.src_a, tru.src_b, tru.true_union,
  round(0.673 * 16 * 16 / (agg.s_hit + CAST(16 - agg.n_regs AS DOUBLE)), 4)
    AS est_union
FROM tru JOIN agg USING (src_a, src_b)""",

    "q100_bool_phrase" -> """WITH tk AS (
  SELECT doc_id, source, text,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents)
SELECT doc_id, source,
  CAST(len(regexp_extract_all(text, '\bspark window\b')) AS BIGINT) AS phrase_cnt
FROM tk
WHERE list_contains(toks, 'spark') AND list_contains(toks, 'window')
  AND NOT list_contains(toks, 'table')""",

    "q101_cdc_merge" -> """WITH log AS (
  SELECT doc_id, text, 0 AS seq, 'u' AS op FROM documents
  UNION ALL
  SELECT doc_id, text || ' v2', 1, 'u' FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, '', 2, 'd' FROM documents WHERE doc_id % 17 = 0),
latest AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
  FROM log)
SELECT doc_id, md5(text) AS fp, CAST(seq AS INT) AS last_seq
FROM latest WHERE rn = 1 AND op <> 'd'""",

    "q102_scd2" -> """WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tmicro FROM events),
l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
    ORDER BY tmicro, event_id) AS prev_type FROM ev),
s AS (SELECT user_id, event_id, event_type, tmicro FROM l
  WHERE prev_type IS NULL OR prev_type <> event_type)
SELECT user_id, event_type, tmicro AS valid_from,
  lead(tmicro) OVER (PARTITION BY user_id ORDER BY tmicro, event_id) AS valid_to
FROM s""",

    "q103_dq_audit" -> """SELECT 'orders_orphan_custkey' AS check_name, count(*) AS n_bad
  FROM orders o WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_orphan_orderkey', count(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem_orphan_partkey', count(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'lineitem_orphan_suppkey', count(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
UNION ALL
SELECT 'orders_dup_orderkey', CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
  SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1) WHERE c > 1
UNION ALL
SELECT 'lineitem_dup_pk', CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
  SELECT l_orderkey, l_linenumber, count(*) AS c FROM lineitem GROUP BY 1, 2)
  WHERE c > 1
UNION ALL
SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
UNION ALL
SELECT 'lineitem_null_shipdate', count(*) FROM lineitem WHERE l_shipdate IS NULL""",

    "q104_hourly_burst" -> """WITH h AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
    count(*) AS n
  FROM events GROUP BY 1, 2),
w AS (SELECT hour, event_type, n,
  count(n) OVER (PARTITION BY event_type ORDER BY hour
    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS prev_n,
  sum(n) OVER (PARTITION BY event_type ORDER BY hour
    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS prev_sum FROM h)
SELECT hour, event_type, n,
  CASE WHEN prev_n = 3
       THEN round(CAST(n AS DOUBLE) / (CAST(prev_sum AS DOUBLE) / 3.0), 6)
  END AS burst
FROM w""",

    "q105_interval_join" -> """WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tmicro FROM events),
l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
    ORDER BY tmicro, event_id) AS prev_type FROM ev),
s AS (SELECT user_id, event_id, event_type, tmicro FROM l
  WHERE prev_type IS NULL OR prev_type <> event_type),
iv AS (SELECT user_id, event_type, tmicro AS valid_from,
  lead(tmicro) OVER (PARTITION BY user_id ORDER BY tmicro, event_id) AS valid_to
  FROM s)
SELECT iv.user_id, iv.valid_from, iv.event_type, count(*) AS n_events
FROM ev JOIN iv ON ev.user_id = iv.user_id
  AND ev.tmicro >= iv.valid_from
  AND (iv.valid_to IS NULL OR ev.tmicro < iv.valid_to)
GROUP BY 1, 2, 3""",

    "q106_pagerank" -> {
      val prIters = (1 to 3).map { i =>
        val prev = s"r${i - 1}"
        s"""c$i AS (SELECT s.dst AS doc_id, CAST(sum($prev.r // d.deg) AS BIGINT) AS c
  FROM sym s JOIN deg d USING (src) JOIN $prev ON $prev.doc_id = s.src
  GROUP BY 1),
r$i AS (SELECT b.doc_id,
  CAST(150000 + (850 * coalesce(c$i.c, 0)) // 1000 AS BIGINT) AS r
  FROM r0 b LEFT JOIN c$i ON b.doc_id = c$i.doc_id)"""
      }.mkString(",\n")
      SigSql + s""",
bands AS (${(0 until Dedup.NumBands).map(b =>
        s"SELECT doc_id, $b AS band, (mh${2 * b}*31 + mh${2 * b + 1}) % 2147483647 AS bh FROM sig")
        .mkString("\n  UNION ALL ")}),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh
  HAVING count(*) <= ${Dedup.DefaultBucketCap}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, bh)),
cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
vp AS (SELECT doc_a, doc_b FROM (
  SELECT doc_a, doc_b,
    (${(0 until 8).map(k => s"CASE WHEN sa.mh$k = sb.mh$k THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
  WHERE est_sim >= 0.5),
sym AS (SELECT doc_a AS src, doc_b AS dst FROM vp
  UNION ALL SELECT doc_b, doc_a FROM vp),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
$prIters
SELECT doc_id, r AS rank_micro FROM r3"""
    },

    "q107_focal_density" -> (OccSql + ",\n" + graft.operators.Spatial.FocalSql + """
SELECT c.lat10, c.lng10, c.n, f.focal9
FROM cells c JOIN focal f USING (lat10, lng10)"""),

    // n_tiles: ty < 2^6 by the tile-grid contract, so tx*64 + ty is a
    // bijection on (tx, ty) — DuckDB-safe distinct-pair count
    "q108_zorder_layout" -> (TilesZ6Sql + s"""
SELECT (${graft.operators.Spatial.mortonExpr("tx", "ty", 7, 6, "//")} // 64) AS zb,
  count(*) AS n_rows, count(DISTINCT tx*64 + ty) AS n_tiles,
  CAST(sum(total) AS BIGINT) AS block_total,
  max(tx) - min(tx) + 1 AS span_x, max(ty) - min(ty) + 1 AS span_y
FROM tl GROUP BY zb"""),

    "q109_pyramid_deep" -> (Ex + s""",
px16 AS (SELECT map_key, ${px4326("lng")} AS px, ${py4326("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
pxc AS (SELECT map_key, px, py, CAST(sum(occ_count) AS BIGINT) AS total FROM px16 GROUP BY ALL),
${(0 to 10).map { z => s"""
lvl$z AS (SELECT map_key, px >> ${16 - z} AS px, py >> ${16 - z} AS py, CAST(sum(total) AS BIGINT) AS total
  FROM pxc GROUP BY ALL),
tl$z AS (SELECT map_key, px // 512 AS tx, py // 512 AS ty, count(*) AS n_pixels,
  CAST(sum(total) AS BIGINT) AS total, $z AS z
  FROM lvl$z GROUP BY map_key, tx, ty)""" }.mkString(",")}
${(10 to 0 by -1).map(z => s"SELECT * FROM tl$z").mkString("\nUNION ALL ")}"""),

    "q182_pyramid_full" -> (Ex + s""",
fpx16 AS (SELECT map_key, ${px3857("lng")} AS px, ${py3857("lat")} AS py, bor_year, count(*) AS occ_count
  FROM ex WHERE lat >= -$MercMaxLat AND lat <= $MercMaxLat AND lng >= -180 AND lng <= 180
  GROUP BY ALL),
fpxc AS (SELECT map_key, px, py, CAST(sum(occ_count) AS BIGINT) AS total FROM fpx16 GROUP BY ALL),
${(0 to 16).map { z => s"""
flvl$z AS (SELECT map_key, px >> ${16 - z} AS px, py >> ${16 - z} AS py, CAST(sum(total) AS BIGINT) AS total
  FROM fpxc GROUP BY ALL),
ftl$z AS (SELECT map_key, px // 512 AS tx, py // 512 AS ty, count(*) AS n_pixels,
  CAST(sum(total) AS BIGINT) AS total, $z AS z
  FROM flvl$z GROUP BY map_key, tx, ty)""" }.mkString(",")}
${(16 to 0 by -1).map(z => s"SELECT * FROM ftl$z").mkString("\nUNION ALL ")}"""),

    "q110_containment_blocked" -> """WITH tkc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
tgc AS (SELECT doc_id,
  [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS gs FROM tkc),
shc0 AS (SELECT doc_id, list_distinct([list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(g, '')]),
    (a, b) -> (a*31 + b) % 2147483647) for g in gs]) AS s FROM tgc),
shc AS (SELECT doc_id, list_sort(s) AS s FROM shc0 WHERE len(s) > 0),
post AS (SELECT doc_id AS doc_b, unnest(s) AS h FROM shc),
ok AS (SELECT h FROM post GROUP BY h HAVING count(*) <= 50),
postok AS (SELECT p.doc_b, p.h FROM post p JOIN ok USING (h)),
probe AS (SELECT doc_id AS doc_a,
  unnest(s[1 : CAST(len(s) - CAST(ceil(len(s) * CAST('0.8' AS DOUBLE)) AS BIGINT) + 1 AS BIGINT)]) AS h
  FROM shc),
cand AS (SELECT DISTINCT doc_a, doc_b FROM probe JOIN postok USING (h) WHERE doc_a <> doc_b),
res AS (SELECT cand.doc_a, cand.doc_b,
  CAST(len(list_intersect(a.s, b.s)) AS INT) AS n_common,
  CAST(len(a.s) AS INT) AS n_a, CAST(len(b.s) AS INT) AS n_b,
  len(list_intersect(a.s, b.s)) / len(a.s) AS contain_a
  FROM cand JOIN shc a ON cand.doc_a = a.doc_id JOIN shc b ON cand.doc_b = b.doc_id)
SELECT * FROM res WHERE contain_a >= CAST('0.8' AS DOUBLE)""",

    "q147_ppjoin_exact" -> (PpjoinSql + """
SELECT doc_a, doc_b, n_common, n_a, n_b,
  n_common * 1000000 // (n_a + n_b - n_common) AS jacc_micro
FROM res WHERE n_common * 1000000 // (n_a + n_b - n_common) >= 600000"""),

    "q166_lsh_tuner" -> (PpjoinSql + """,
pos AS (SELECT n_common * 1000000 // (n_a + n_b - n_common) AS jacc_micro
  FROM res WHERE n_common * 1000000 // (n_a + n_b - n_common) >= 600000),
grid(bands, rows_per_band) AS (VALUES (1, 8), (2, 4), (4, 2), (8, 1)),
pp AS (SELECT bands, rows_per_band, CAST(round(round(
    1 - power(1 - power(jacc_micro / 1000000.0, CAST(rows_per_band AS DOUBLE)),
              CAST(bands AS DOUBLE)), 6) * 1000000.0, 0) AS BIGINT) AS p_micro
  FROM pos CROSS JOIN grid)
SELECT bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_true_pairs,
  CAST(CAST(sum(p_micro) AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT)
    AS exp_recall_micro,
  min(p_micro) AS worst_pair_micro,
  CAST(round(round(power(1.0 / bands, 1.0 / rows_per_band), 6)
    * 1000000.0, 0) AS BIGINT) AS s50_micro
FROM pp GROUP BY bands, rows_per_band"""),

    "q167_dsir_weights" -> s"""WITH tk AS (
  SELECT doc_id, lang,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents),
dbase AS (SELECT doc_id, lang, toks FROM tk WHERE len(toks) >= 2),
bgl AS (SELECT doc_id, lang,
  [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bgs FROM dbase),
ft AS (SELECT doc_id, lang, ${javaHashSql("bg")} % 4096 AS f
  FROM (SELECT doc_id, lang, unnest(bgs) AS bg FROM bgl)),
raw AS (SELECT f, CAST(count(*) AS BIGINT) AS cr FROM ft GROUP BY f),
tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS ct0 FROM ft WHERE lang = 'en' GROUP BY f),
lm AS (SELECT raw.f, raw.cr, coalesce(tgt.ct0, 0) AS ct
  FROM raw LEFT JOIN tgt USING (f)),
tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM lm),
lmw AS (SELECT f, CAST(round(round(
    ln((ct + 1.0) / (nt + 4096.0)) - ln((cr + 1.0) / (nr + 4096.0)),
    6) * 1000000.0, 0) AS BIGINT) AS micro FROM lm CROSS JOIN tot),
docf AS (SELECT doc_id, lang, f, CAST(count(*) AS BIGINT) AS occ
  FROM ft GROUP BY doc_id, lang, f),
dw AS (SELECT docf.doc_id, CAST(sum(occ) AS BIGINT) AS n_feats,
  CAST(sum(occ * micro) AS BIGINT) AS micro_logweight
  FROM docf JOIN lmw USING (f) GROUP BY docf.doc_id)
SELECT d.doc_id, d.lang,
  CAST(coalesce(dw.n_feats, 0) AS BIGINT) AS n_feats,
  CAST(coalesce(dw.micro_logweight, 0) AS BIGINT) AS micro_logweight
FROM documents d LEFT JOIN dw USING (doc_id)""",

    "q168_gopher_card" -> """WITH tk AS (
  SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
pd AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
  coalesce(list_sum([CAST(length(t) AS BIGINT) for t in toks]), 0) AS sum_chars,
  CAST(len(list_distinct([t for t in toks
    if t IN ('the','a','of','and','to','with')])) AS BIGINT) AS n_stop,
  CAST(len([t for t in toks if regexp_matches(t, '[A-Za-z]')]) AS BIGINT) AS n_alpha
  FROM tk),
bgx AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
    for i in range(1, len(toks))]) AS bg FROM tk WHERE len(toks) >= 2),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY doc_id, bg),
tb AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_bg,
  CAST(sum(c) AS BIGINT) AS n_bg FROM bgc GROUP BY doc_id),
fl AS (SELECT pd.source,
  CASE WHEN n_tokens < 50 OR n_tokens > 100000 THEN 1 ELSE 0 END AS f_wc,
  CASE WHEN n_tokens = 0 THEN 1
    WHEN sum_chars * 1000000 // n_tokens < 3000000
      OR sum_chars * 1000000 // n_tokens > 10000000 THEN 1
    ELSE 0 END AS f_mwl,
  CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_sw,
  CASE WHEN n_bg IS NULL OR max_bg <= 1 THEN 0
    WHEN max_bg * 1000000 // n_bg > 100000 THEN 1 ELSE 0 END AS f_bg,
  CASE WHEN n_tokens = 0 THEN 1
    WHEN n_alpha * 1000000 // n_tokens < 800000 THEN 1 ELSE 0 END AS f_aw
  FROM pd LEFT JOIN tb USING (doc_id))
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(f_wc) AS BIGINT) AS n_fail_word_count,
  CAST(sum(f_mwl) AS BIGINT) AS n_fail_mean_word_len,
  CAST(sum(f_sw) AS BIGINT) AS n_fail_stopwords,
  CAST(sum(f_bg) AS BIGINT) AS n_fail_top_bigram,
  CAST(sum(f_aw) AS BIGINT) AS n_fail_alpha_words,
  CAST(sum(CASE WHEN f_wc + f_mwl + f_sw + f_bg + f_aw = 0
    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  CAST(sum(CASE WHEN f_wc + f_mwl + f_sw + f_bg + f_aw = 0
    THEN 1 ELSE 0 END) * 1000000 AS BIGINT) // CAST(count(*) AS BIGINT)
    AS keep_micro
FROM fl GROUP BY source""",

    "q170_ngram_diversity" -> {
      val branches = (1 to 5).map { n =>
        if (n == 1) "SELECT 1 AS n, unnest(toks) AS g FROM tk"
        else {
          val cc = (0 until n)
            .map(k => if (k == 0) "toks[i]" else s"toks[i+$k]")
            .mkString(" || ' ' || ")
          s"SELECT $n AS n, unnest([$cc for i in range(1, len(toks) - ${n - 2})]) AS g FROM tk"
        }
      }.mkString("\nUNION ALL ")
      s"""WITH tk AS (SELECT
  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents),
g AS ($branches),
c AS (SELECT n, g, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY n, g),
t AS (SELECT n, CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS d
  FROM c GROUP BY n)
SELECT c.n, t.tot AS n_occurrences, t.d AS n_distinct,
  t.d * 1000000 // t.tot AS ttr_micro,
  CAST(sum(CAST(round(round(-(c / tot) * ln(c / tot), 9)
    * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS entropy_nano
FROM c JOIN t USING (n) GROUP BY c.n, t.tot, t.d"""
    },

    "q171_pii_report" -> s"""WITH sc AS (SELECT source,
  CAST(len(regexp_extract_all(text, '${graft.operators.Corpus.PiiEmail}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '${graft.operators.Corpus.PiiIpv4}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '${graft.operators.Corpus.PiiPhone}')) AS BIGINT) AS n_phone,
  CAST(length(text) AS BIGINT) AS n_chars_in,
  regexp_replace(regexp_replace(regexp_replace(text,
    '${graft.operators.Corpus.PiiEmail}', '<EMAIL>', 'g'),
    '${graft.operators.Corpus.PiiIpv4}', '<IP>', 'g'),
    '${graft.operators.Corpus.PiiPhone}', '<PHONE>', 'g') AS clean_text
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_with_pii,
  CAST(sum(n_email) AS BIGINT) AS n_email,
  CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
  CAST(sum(n_phone) AS BIGINT) AS n_phone,
  CAST(sum(n_chars_in) AS BIGINT) AS n_chars_in,
  CAST(sum(length(clean_text)) AS BIGINT) AS n_chars_out
FROM sc GROUP BY source""",

    "q176_dsir_hash_audit" -> {
      val arms = Seq(64, 512, 4096)
      val armCtes = arms.map { b =>
        s"""lm$b AS (SELECT ${javaHashSql("bg")} % $b AS f,
  CAST(count(*) AS BIGINT) AS cr,
  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM bx GROUP BY 1),
lmw$b AS (SELECT f, CAST(round(round(
    ln((ct + 1.0) / (nt + CAST(bex AS DOUBLE))) - ln((cr + 1.0) / (nr + CAST(bex AS DOUBLE))),
    6) * 1000000.0, 0) AS BIGINT) AS micro FROM lm$b CROSS JOIN totE),
w$b AS (SELECT doc_id, CAST(sum(occ * micro) AS BIGINT) AS w
  FROM (SELECT doc_id, ${javaHashSql("bg")} % $b AS f,
        CAST(count(*) AS BIGINT) AS occ FROM bx GROUP BY 1, 2)
  JOIN lmw$b USING (f) GROUP BY doc_id)"""
      }.mkString(",\n")
      val armRows = arms.map { b =>
        s"SELECT $b AS buckets, w$b.w, wE.wx FROM w$b JOIN wE USING (doc_id)"
      }.mkString("\n  UNION ALL ")
      s"""WITH tk AS (
  SELECT doc_id, lang,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents),
dbase AS (SELECT doc_id, lang, toks FROM tk WHERE len(toks) >= 2),
bgl AS (SELECT doc_id, lang,
  [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bgs FROM dbase),
bx AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM bgl),
lmE AS (SELECT bg AS f, CAST(count(*) AS BIGINT) AS cr,
  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM bx GROUP BY bg),
totE AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt,
  CAST(count(*) AS BIGINT) AS bex FROM lmE),
lmwE AS (SELECT f, CAST(round(round(
    ln((ct + 1.0) / (nt + CAST(bex AS DOUBLE))) - ln((cr + 1.0) / (nr + CAST(bex AS DOUBLE))),
    6) * 1000000.0, 0) AS BIGINT) AS micro FROM lmE CROSS JOIN totE),
wE AS (SELECT doc_id, CAST(sum(occ * micro) AS BIGINT) AS wx
  FROM (SELECT doc_id, bg AS f, CAST(count(*) AS BIGINT) AS occ
        FROM bx GROUP BY doc_id, bg)
  JOIN lmwE USING (f) GROUP BY doc_id),
$armCtes
SELECT buckets, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(abs(w - wx)) AS BIGINT) // CAST(count(*) AS BIGINT)
    AS mean_abs_diff_micro,
  CAST(sum(CASE WHEN (CASE WHEN w > 0 THEN 1 WHEN w < 0 THEN -1 ELSE 0 END)
    = (CASE WHEN wx > 0 THEN 1 WHEN wx < 0 THEN -1 ELSE 0 END)
    THEN 1 ELSE 0 END) AS BIGINT) AS n_sign_agree
FROM ($armRows)
GROUP BY buckets"""
    },

    "q173_vocab_growth" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
mx AS (SELECT max(doc_id) AS mxid FROM documents),
fdec AS (SELECT CAST(fd * 10 // (mxid + 1) AS INT) AS decile,
    CAST(count(*) AS BIGINT) AS new_vocab
  FROM (SELECT w, min(doc_id) AS fd
        FROM (SELECT doc_id, unnest(toks) AS w FROM tk) GROUP BY w)
  CROSS JOIN mx GROUP BY 1),
odec AS (SELECT CAST(doc_id * 10 // (mxid + 1) AS INT) AS decile,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(toks)) AS BIGINT) AS n_occ
  FROM tk CROSS JOIN mx GROUP BY 1),
cum AS (SELECT a.decile, CAST(sum(b.n_docs) AS BIGINT) AS cum_docs,
    CAST(sum(b.n_occ) AS BIGINT) AS cum_tokens
  FROM odec a JOIN odec b ON b.decile <= a.decile GROUP BY a.decile)
SELECT cum.decile, cum.cum_docs, cum.cum_tokens,
  CAST(coalesce(sum(f.new_vocab), 0) AS BIGINT) AS cum_vocab
FROM cum LEFT JOIN fdec f ON f.decile <= cum.decile
GROUP BY cum.decile, cum.cum_docs, cum.cum_tokens""",

    "q174_zipf_slope" -> """WITH tk AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
tf AS (SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
top AS (SELECT w, c FROM tf ORDER BY c DESC, w ASC LIMIT 100),
rk AS (SELECT a.w, a.c, 1 + count(b.w) AS rnk FROM top a LEFT JOIN top b
  ON b.c > a.c OR (b.c = a.c AND b.w < a.w) GROUP BY a.w, a.c)
SELECT CAST(count(*) AS BIGINT) AS k,
  round(regr_slope(ln(c), ln(rnk)), 6) + 0.0 AS slope,
  round(regr_intercept(ln(c), ln(rnk)), 6) + 0.0 AS intercept,
  round(regr_r2(ln(c), ln(rnk)), 6) + 0.0 AS r2
FROM rk""",

    "q112_kmv_overlap" -> s"""WITH hs AS (SELECT source, ${javaHashSql("text")} AS h FROM documents),
d AS (SELECT DISTINCT source, h FROM hs),
rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d),
sk AS (SELECT source, list(h ORDER BY h) AS kmv FROM rk WHERE rn <= 16 GROUP BY source),
pr AS (SELECT a.source AS source_a, b.source AS source_b, a.kmv AS ka, b.kmv AS kb
  FROM sk a JOIN sk b ON a.source < b.source),
uu AS (SELECT *, list_sort(list_distinct(list_concat(ka, kb)))[1:16] AS u FROM pr),
cc AS (SELECT *, len(list_filter(u, x -> list_contains(ka, x) AND list_contains(kb, x))) AS inter FROM uu)
SELECT source_a, source_b,
  CAST(CASE WHEN len(ka) < 16 THEN len(ka) ELSE 64424509440 // ka[16] END AS BIGINT) AS est_a,
  CAST(CASE WHEN len(kb) < 16 THEN len(kb) ELSE 64424509440 // kb[16] END AS BIGINT) AS est_b,
  CAST(CASE WHEN len(u) < 16 THEN len(u) ELSE 64424509440 // u[16] END AS BIGINT) AS est_union,
  CAST(inter * 1000000 // len(u) AS BIGINT) AS jacc_micro,
  CAST(inter * (CASE WHEN len(u) < 16 THEN len(u) ELSE 64424509440 // u[16] END) // len(u) AS BIGINT) AS est_inter
FROM cc""",

    "q113_winnow_overlap" -> """WITH base AS (
  SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) >= 11),
pos AS (SELECT doc_id, len, unnest(range(0, len - 7)) AS p, text FROM base),
h AS (SELECT doc_id, len, p, list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(substr(text, CAST(p + 1 AS BIGINT), 8), '')]),
    (a, b) -> (a * 31 + b) % 2147483647) AS hh FROM pos),
c AS (SELECT doc_id, len, p, hh * 1048576 + (1048575 - p) AS comb FROM h),
wm AS (SELECT doc_id, len, p, min(comb) OVER (
    PARTITION BY doc_id ORDER BY p ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cmin FROM c),
fp AS (SELECT DISTINCT doc_id, cmin // 1048576 AS fph FROM wm WHERE p <= len - 11),
ok AS (SELECT fph FROM fp GROUP BY fph HAVING count(*) <= 50),
fpo AS (SELECT f.doc_id, f.fph FROM fp f JOIN ok USING (fph)),
cnt AS (SELECT doc_id, count(*) AS nfp FROM fpo GROUP BY doc_id),
pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM fpo a JOIN fpo b ON a.fph = b.fph AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b HAVING count(*) >= 3)
SELECT doc_a, doc_b, n_shared, ca.nfp AS n_a, cb.nfp AS n_b,
  CAST(n_shared * 1000000 // least(ca.nfp, cb.nfp) AS BIGINT) AS overlap_micro
FROM pr JOIN cnt ca ON pr.doc_a = ca.doc_id JOIN cnt cb ON pr.doc_b = cb.doc_id""",

    "q114_pyramid_distinct" -> (OccSql + s""",
px AS (SELECT ${px4326("lng")} >> 19 AS tx, ${py4326("lat")} >> 19 AS ty, l_partkey,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    [CAST(unicode(c) AS BIGINT) for c in string_split(CAST(l_partkey AS VARCHAR), '')]),
    (a, b) -> (a * 31 + b) % 2147483647) AS h
  FROM occ2 WHERE lat >= -90 AND lat <= 90 AND lng >= -180 AND lng <= 180),
rr AS (SELECT tx, ty, h % 16 AS reg,
  CASE WHEN h // 16 = 0 THEN 28
       ELSE 27 - CAST(floor(log2(h // 16)) AS INT) END AS rho FROM px),
regs6 AS (SELECT tx, ty, reg, max(rho) AS m_reg FROM rr GROUP BY tx, ty, reg),
lv AS (SELECT z, regs6.tx >> (6 - z) AS tx, regs6.ty >> (6 - z) AS ty, reg, max(m_reg) AS m_reg
  FROM regs6, (SELECT unnest(range(0, 7)) AS z) GROUP BY 1, 2, 3, reg),
agg AS (SELECT z, tx, ty, count(*) AS n_regs, sum(power(2.0, -m_reg)) AS s_hit
  FROM lv GROUP BY z, tx, ty),
td AS (SELECT DISTINCT tx, ty, l_partkey FROM px),
tl AS (SELECT DISTINCT z, td.tx >> (6 - z) AS tx, td.ty >> (6 - z) AS ty, l_partkey
  FROM td, (SELECT unnest(range(0, 7)) AS z)),
tru AS (SELECT z, tx, ty, count(*) AS true_distinct FROM tl GROUP BY z, tx, ty)
SELECT tru.z, tru.tx, tru.ty, tru.true_distinct,
  round(0.673 * 16 * 16 / (agg.s_hit + CAST(16 - agg.n_regs AS DOUBLE)), 4) AS est
FROM tru JOIN agg USING (z, tx, ty)"""),

    "q115_radius_agg" -> (Pts + """,
pll AS (SELECT map_key, lat10/10.0 AS lat, lng10/10.0 AS lng, occ_count FROM pts),
pbb AS (SELECT * FROM pll
  WHERE lat >= -18.5 AND lat <= 18.5 AND lng >= -19.0 AND lng <= 19.0),
pd AS (SELECT map_key, occ_count,
  2.0 * 6371000.0 * asin(sqrt(pow(sin((lat*(pi()/180.0))/2.0), 2.0)
    + cos(lat*(pi()/180.0)) * pow(sin((lng*(pi()/180.0))/2.0), 2.0))) AS dist
  FROM pbb)
SELECT map_key, count(*) AS n_locs, CAST(sum(occ_count) AS BIGINT) AS total
FROM pd WHERE dist <= 2000000.0 GROUP BY map_key"""),

    "q116_knn_geo" -> (OccSql + """,
loc AS (SELECT DISTINCT lat10, lng10 FROM occ2),
lll AS (SELECT lat10, lng10, lat10/10.0 AS lat, lng10/10.0 AS lng FROM loc),
ld AS (SELECT lat10, lng10,
  round(2.0 * 6371000.0 * asin(sqrt(pow(sin((lat*(pi()/180.0))/2.0), 2.0)
    + cos(lat*(pi()/180.0)) * pow(sin((lng*(pi()/180.0))/2.0), 2.0))), 4) AS dist_m
  FROM lll)
SELECT lat10, lng10, dist_m FROM ld ORDER BY dist_m, lat10, lng10 LIMIT 10"""),

    "q117_triangles" -> (EdgesSql + """,
tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM ed0 e1 JOIN ed0 e2 ON e1.doc_b = e2.doc_a
  JOIN ed0 e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
pn AS (SELECT doc_id, count(*) AS n_tri FROM (
  SELECT a AS doc_id FROM tri UNION ALL SELECT b AS doc_id FROM tri
  UNION ALL SELECT c AS doc_id FROM tri) GROUP BY doc_id),
dg AS (SELECT doc_id, count(*) AS deg FROM (
  SELECT doc_a AS doc_id FROM ed0 UNION ALL SELECT doc_b AS doc_id FROM ed0)
  GROUP BY doc_id)
SELECT pn.doc_id, pn.n_tri, dg.deg,
  CAST(CASE WHEN dg.deg >= 2 THEN pn.n_tri * 2000000 // (dg.deg * (dg.deg - 1))
       ELSE 0 END AS BIGINT) AS clust_micro
FROM pn JOIN dg USING (doc_id)"""),

    // same statistic, so same oracle — only the enumeration plan differs
    "q146_triangles_degree" -> (EdgesSql + """,
tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM ed0 e1 JOIN ed0 e2 ON e1.doc_b = e2.doc_a
  JOIN ed0 e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
pn AS (SELECT doc_id, count(*) AS n_tri FROM (
  SELECT a AS doc_id FROM tri UNION ALL SELECT b AS doc_id FROM tri
  UNION ALL SELECT c AS doc_id FROM tri) GROUP BY doc_id),
dg AS (SELECT doc_id, count(*) AS deg FROM (
  SELECT doc_a AS doc_id FROM ed0 UNION ALL SELECT doc_b AS doc_id FROM ed0)
  GROUP BY doc_id)
SELECT pn.doc_id, pn.n_tri, dg.deg,
  CAST(CASE WHEN dg.deg >= 2 THEN pn.n_tri * 2000000 // (dg.deg * (dg.deg - 1))
       ELSE 0 END AS BIGINT) AS clust_micro
FROM pn JOIN dg USING (doc_id)"""),

    "q118_bottomk_sample" -> """WITH hs AS (
  SELECT source, doc_id, (1299721 * doc_id + 7) % 2147483647 AS h FROM documents),
rk AS (SELECT source, doc_id,
  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hs)
SELECT source, doc_id FROM rk WHERE rn <= 12""",

    "q119_quota_sample" -> """WITH keep AS (
  SELECT source,
    least(count(*), CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)) * CAST('3.0' AS DOUBLE)) AS BIGINT)) AS n_keep
  FROM documents GROUP BY source),
hs AS (SELECT source, doc_id, (1299721 * doc_id + 7) % 2147483647 AS h FROM documents),
rk AS (SELECT hs.source, hs.doc_id, keep.n_keep,
  row_number() OVER (PARTITION BY hs.source ORDER BY h) AS rn
  FROM hs JOIN keep USING (source))
SELECT source, doc_id FROM rk WHERE rn <= n_keep""",

    "q120_audio_vad" -> graft.operators.Media.AudioVadSql,

    "q121_dhash" -> graft.operators.Media.dhashHashSql,

    "q122_dhash_neardup" -> graft.operators.Media.dhashNearDupSql(),

    "q184_png_roundtrip" -> graft.operators.Media.pngRoundtripDhashSql,

    // q47's recursive-closure labeling over the dHash edge query (the full
    // q122 oracle SQL nested as the ed0 CTE)
    "q148_image_clusters" -> s"""WITH RECURSIVE ed0 AS (
${graft.operators.Media.dhashNearDupSql()}),
ed AS (SELECT doc_a AS a, doc_b AS b FROM ed0 UNION SELECT doc_b, doc_a FROM ed0),
cl AS (SELECT a, b FROM ed UNION SELECT cl.a, ed.b FROM cl JOIN ed ON cl.b = ed.a),
lbl AS (SELECT d.doc_id, LEAST(d.doc_id, coalesce(min(cl.b), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN cl ON cl.a = d.doc_id
  GROUP BY d.doc_id)
SELECT doc_id, cluster_id FROM lbl""",

    "q123_postings" -> """WITH tk AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
words AS (SELECT DISTINCT doc_id, w FROM (
  SELECT doc_id, unnest(toks) AS w FROM tk WHERE len(toks) > 0)
  WHERE length(w) >= 4),
dfreq AS (SELECT w, COUNT(*) AS df FROM words GROUP BY w),
rk AS (SELECT w, doc_id,
  row_number() OVER (PARTITION BY w ORDER BY doc_id) AS rn FROM words),
del AS (SELECT w, doc_id,
  doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY w ORDER BY doc_id), 0) AS delta
  FROM (SELECT * FROM rk WHERE rn <= 16)),
post AS (SELECT w, string_agg(CAST(delta AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM del GROUP BY w)
SELECT dfreq.w, CAST(df AS BIGINT) AS df, post.postings
FROM dfreq JOIN post USING (w) WHERE df >= 2""",

    "q124_pair_curation" -> """WITH t AS (SELECT doc_id, source,
  len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
  round(CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/length(text), 6) AS alpha_ratio
  FROM documents),
e AS (SELECT vec_id AS doc_id, label,
  round(list_max([abs(CAST(embedding[i] AS DOUBLE)) for i in range(1,65)]), 6) AS max_comp
  FROM embeddings)
SELECT t.doc_id, t.source, t.n_words, t.alpha_ratio, e.label, e.max_comp
FROM t JOIN e USING (doc_id)
WHERE n_words >= 12 AND alpha_ratio >= 0.82 AND max_comp <= 0.35""",

    "q125_skew_profile" -> """WITH kc AS (
  SELECT event_type, user_id, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
tot AS (SELECT event_type, COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total,
  MAX(cnt) AS max_cnt FROM kc GROUP BY 1),
hist AS (SELECT event_type, cnt, COUNT(*) AS nk FROM kc GROUP BY 1, 2),
r AS (SELECT event_type, cnt,
  SUM(nk) OVER (PARTITION BY event_type ORDER BY cnt) AS hi,
  SUM(nk) OVER (PARTITION BY event_type) AS nks FROM hist),
ps AS (SELECT event_type,
  CAST(MIN(CASE WHEN hi >= ceil(0.5 * nks) THEN cnt END) AS BIGINT) AS p50_cnt,
  CAST(MIN(CASE WHEN hi >= ceil(0.99 * nks) THEN cnt END) AS BIGINT) AS p99_cnt
  FROM r GROUP BY 1)
SELECT tot.event_type, tot.n_keys, tot.total, tot.max_cnt,
  CAST(max_cnt * 1000000 // total AS BIGINT) AS top_share_micro, ps.p50_cnt, ps.p99_cnt
FROM tot JOIN ps USING (event_type)""",

    "q126_decay_weights" -> """WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
m AS (SELECT MAX(tsec) AS mx FROM e),
w AS (SELECT user_id,
  CAST(1000000 >> CAST(least(((mx - tsec) // 3600) // 48, 20) AS INT) AS BIGINT) AS w_micro
  FROM e, m)
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(w_micro) AS BIGINT) AS fresh_score,
  MAX(w_micro) AS latest_w
FROM w GROUP BY user_id""",

    "q127_grouped_topk" -> """WITH rk AS (SELECT source, doc_id, n_chars,
  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents)
SELECT source, CAST(rn AS INT) AS rn, doc_id, n_chars FROM rk WHERE rn <= 5""",

    "q128_gazetteer_mentions" -> """WITH tk AS (SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
base AS (SELECT doc_id, source, toks FROM tk WHERE len(toks) >= 2),
bg AS (SELECT doc_id, source,
    unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS entity
  FROM base),
pds AS (SELECT entity, source, doc_id, count(*) AS occ FROM bg GROUP BY 1, 2, 3),
dict AS (SELECT entity, count(*) AS df FROM pds GROUP BY entity
  ORDER BY df DESC, entity ASC LIMIT 20)
SELECT p.entity, p.source, CAST(d.df AS BIGINT) AS df,
  CAST(sum(p.occ) AS BIGINT) AS n_mentions, count(*) AS n_docs
FROM pds p JOIN dict d USING (entity)
GROUP BY 1, 2, 3""",

    "q129_leakage_split" -> (ClustersSql + """,
sp AS (SELECT l.doc_id, l.cluster_id,
  CASE WHEN (l.cluster_id * 1103515245 + 12345) % 2147483648 % 100 < 80 THEN 'train'
       WHEN (l.cluster_id * 1103515245 + 12345) % 2147483648 % 100 < 90 THEN 'val'
       ELSE 'test' END AS split FROM lbl l),
pc AS (SELECT sp.split, sp.cluster_id, count(*) AS nd,
    CAST(sum(d.n_chars) AS BIGINT) AS sc
  FROM sp JOIN documents d ON sp.doc_id = d.doc_id
  GROUP BY 1, 2)
SELECT split, CAST(sum(nd) AS BIGINT) AS n_docs, count(*) AS n_clusters,
  CAST(sum(sc) AS BIGINT) AS sum_chars
FROM pc GROUP BY split"""),

    "q130_sample_quantiles" -> """WITH tk AS (SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
hs AS (SELECT source, doc_id, (1299721 * doc_id + 7) % 2147483647 AS h FROM documents),
rk AS (SELECT source, doc_id,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hs),
smp AS (SELECT source, doc_id FROM rk WHERE rn <= 16),
sv AS (SELECT t.source, t.n_tokens,
    row_number() OVER (PARTITION BY t.source ORDER BY t.n_tokens, t.doc_id) AS rn,
    count(*) OVER (PARTITION BY t.source) AS m
  FROM smp s JOIN tk t ON s.source = t.source AND s.doc_id = t.doc_id),
est AS (SELECT source, CAST(max(m) AS BIGINT) AS n_sample,
    CAST(max(CASE WHEN rn = (m + 1) // 2 THEN n_tokens END) AS BIGINT) AS est_p50
  FROM sv GROUP BY source),
ev AS (SELECT source, n_tokens,
    row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
    count(*) OVER (PARTITION BY source) AS n
  FROM tk),
ex AS (SELECT source,
    CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_tokens END) AS BIGINT) AS exact_p50
  FROM ev GROUP BY source)
SELECT e.source, e.n_sample, e.est_p50, x.exact_p50,
  abs(e.est_p50 - x.exact_p50) AS abs_err
FROM est e JOIN ex x ON e.source = x.source""",

    "q131_user_features" -> """WITH ev AS (SELECT event_id, user_id, event_type,
    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
f AS (SELECT event_id, user_id,
    coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY tsec, event_id), 'none') AS prev_type,
    coalesce(tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id), -1) AS gap_sec,
    count(*) OVER (PARTITION BY user_id ORDER BY tsec
      RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING) AS n_prev_1h
  FROM ev)
SELECT event_id, user_id, prev_type, CAST(gap_sec AS BIGINT) AS gap_sec,
  CAST(n_prev_1h AS BIGINT) AS n_prev_1h
FROM f""",

    "q132_psi_drift" -> """WITH tk AS (SELECT source,
    (CASE WHEN length(trim(text)) = 0 THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END // 16) * 16 AS bucket
  FROM documents),
cnt AS (SELECT source, bucket, count(*) AS c FROM tk GROUP BY 1, 2),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
nb AS (SELECT count(*) AS nb FROM (SELECT DISTINCT bucket FROM cnt)),
bt AS (SELECT b.bucket, c0.c AS c0
  FROM (SELECT DISTINCT bucket FROM cnt) b
  LEFT JOIN (SELECT bucket, c FROM cnt WHERE source = 'src0') c0 USING (bucket)),
n0 AS (SELECT n AS n0 FROM tot WHERE source = 'src0'),
grid AS (SELECT t.source, t.n, bt.bucket, bt.c0, c.c, nb.nb, n0.n0
  FROM tot t CROSS JOIN bt CROSS JOIN nb CROSS JOIN n0
  LEFT JOIN cnt c ON c.source = t.source AND c.bucket = bt.bucket
  WHERE t.source <> 'src0'),
term AS (SELECT source, nb,
    CAST(round(((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / CAST(n + nb AS DOUBLE)
      - (CAST(coalesce(c0, 0) AS DOUBLE) + 1.0) / CAST(n0 + nb AS DOUBLE))
      * round(ln(((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / CAST(n + nb AS DOUBLE))
        / ((CAST(coalesce(c0, 0) AS DOUBLE) + 1.0) / CAST(n0 + nb AS DOUBLE))), 6)
      * 1e6, 0) AS BIGINT) AS t
  FROM grid)
SELECT source, CAST(max(nb) AS BIGINT) AS n_buckets,
  CAST(sum(t) AS BIGINT) AS psi_micro
FROM term GROUP BY source""",

    "q133_export_shards" -> (s"""WITH tk AS (SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
    ${javaHashSql("text")} AS fp,
    (doc_id * 1103515245 + 12345) % 2147483648 % 16 AS shard
  FROM documents)
SELECT CAST(shard AS INT) AS shard, count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
  CAST(sum(fp) % 4294967296 AS BIGINT) AS checksum
FROM tk GROUP BY shard"""),

    "q134_query_ann" -> s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
    ${dotSql("embedding", "embedding")} AS sq
  FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS se
  FROM embeddings WHERE vec_id % 100 <> 0),
sims AS (SELECT q.query_id, c.vec_id,
    CAST(round(round(${dotSql("c.embedding", "q.qv")}
      / (sqrt(c.se) * sqrt(q.sq)), 6) * 1000000, 0) AS BIGINT) AS sm
  FROM c CROSS JOIN q),
pk AS (SELECT query_id, (1000000 - sm) * 1099511627776 + vec_id AS pk FROM sims),
rk AS (SELECT query_id, pk,
    row_number() OVER (PARTITION BY query_id ORDER BY pk) AS rn FROM pk)
SELECT query_id, CAST(rn AS INT) AS rn, pk % 1099511627776 AS vec_id,
  round(CAST(1000000 - pk // 1099511627776 AS DOUBLE) / 1000000, 6) AS sim
FROM rk WHERE rn <= 5""",

    "q135_salted_join" -> (Ex + """,
vc AS (SELECT map_key, min(lat10) AS anchor_lat FROM ex GROUP BY map_key)
SELECT e.map_key, count(*) AS n_rows, max(vc.anchor_lat) AS anchor_lat
FROM ex e JOIN vc ON e.map_key = vc.map_key
GROUP BY e.map_key"""),

    "q136_label_stats" -> """WITH px AS (SELECT label,
    CAST(u.i - 1 AS INT) AS pos,
    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)),
ag AS (SELECT label, pos, count(*) AS n, CAST(sum(xm) AS BIGINT) AS s,
    CAST(sum(xm * xm) AS BIGINT) AS ss
  FROM px GROUP BY 1, 2)
SELECT label, pos, n, s // n AS centroid_micro,
  (ss // n) - (s // n) * (s // n) AS var_micro2
FROM ag""",

    "q137_negative_sampling" -> """WITH tk AS (SELECT
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
wc AS (SELECT unnest(toks) AS w FROM tk),
c AS (SELECT w, count(*) AS c,
    CAST(round(round(pow(CAST(count(*) AS DOUBLE), 0.75), 6) * 1000000, 0) AS BIGINT) AS w_micro
  FROM wc GROUP BY w),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tot FROM c)
SELECT c.w, c.c, c.w_micro, c.w_micro * 1000000 // tot.tot AS prob_micro
FROM c CROSS JOIN tot
ORDER BY c.c DESC, c.w ASC LIMIT 30""",

    "q138_span_positions" -> """WITH tk AS (SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
m AS (SELECT doc_id, source,
    unnest([i - 1 for i in range(1, len(toks)) if toks[i] = 'key' AND toks[i+1] = 'value']) AS pos
  FROM tk WHERE len(toks) >= 2)
SELECT doc_id, source, CAST(pos AS BIGINT) AS pos FROM m""",

    "q139_lsh_calibration" -> (CalibSql + """,
cm AS (SELECT CAST(agree AS INT) AS est_agree,
    CASE WHEN u = 0 THEN 1000000 ELSE i * 1000000 // u END AS ex_micro
  FROM cex)
SELECT est_agree, ex_micro // 100000 AS ex_decile,
  count(*) AS n_pairs, CAST(sum(ex_micro) AS BIGINT) AS sum_ex_micro
FROM cm GROUP BY 1, 2"""),

    "q158_kcore" -> {
      // 8 unrolled peel rounds (mirrors Dedup.kCore's fixed-round loop —
      // peeling is idempotent at the fixpoint, so both engines agree as
      // long as the Spark-side convergence require holds). Every round CTE
      // is MATERIALIZED: each references its predecessor twice, so plain
      // inlining expands the whole edge pipeline 2^rounds times (measured:
      // fd exhaustion on the documents scan).
      val rounds = 8
      val peel = (1 to rounds).map { r =>
        val prev = s"ka${r - 1}"
        s"""kd$r AS MATERIALIZED (SELECT src, count(*) AS c FROM ke
  WHERE src IN (SELECT id FROM $prev) AND dst IN (SELECT id FROM $prev) GROUP BY src),
ka$r AS MATERIALIZED (SELECT src AS id FROM kd$r WHERE c >= 3)"""
      }.mkString(",\n")
      EdgesSql + s""",
ke AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM ed0 UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ed0),
ka0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ke),
$peel
SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg FROM ke
WHERE src IN (SELECT id FROM ka$rounds) AND dst IN (SELECT id FROM ka$rounds)
GROUP BY src HAVING count(*) >= 3"""
    },

    "q169_lpa_communities" -> {
      // 4 unrolled synchronous LPA rounds (mirrors Dedup.lpaFromEdges's
      // fixed-round loop). MATERIALIZED for the same reason as q158: each
      // round references its predecessor twice (neighbour join + self
      // vote) — plain inlining is 2^rounds.
      val rounds = 4
      val steps = (1 to rounds).map { r =>
        val prev = s"ll${r - 1}"
        s"""lv$r AS MATERIALIZED (
  SELECT e.src, l.community AS nl FROM le e JOIN $prev l ON e.dst = l.doc_id
  UNION ALL SELECT doc_id AS src, community AS nl FROM $prev),
ll$r AS MATERIALIZED (SELECT src AS doc_id,
  CAST(min((1048576 - c) * 1099511627776 + nl) % 1099511627776 AS BIGINT) AS community
  FROM (SELECT src, nl, CAST(count(*) AS BIGINT) AS c FROM lv$r GROUP BY src, nl)
  GROUP BY src)"""
      }.mkString(",\n")
      EdgesSql + s""",
le AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM ed0 UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ed0),
ll0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS community FROM le),
$steps
SELECT doc_id, community FROM ll$rounds"""
    },

    "q181_lpa_bounded" -> {
      // mirrors Dedup.lpaFromEdges(…, 3, "bounded", 8) on the hub-bearing
      // orderkey graph: the (src,dst)-keyed two-round multiply-xor-shift
      // sampling hash (Dedup.voteSampleHash) replayed as BIGINT algebra,
      // then 3 unrolled LPA rounds over the SAMPLED adjacency (self votes
      // ride the label table, not the sample)
      val rounds = 3
      val u = javaHashSql(
        "concat_ws(':', CAST(src AS VARCHAR), CAST(dst AS VARCHAR))")
      val steps = (1 to rounds).map { r =>
        val prev = s"bl${r - 1}"
        s"""bv$r AS MATERIALIZED (
  SELECT a.src, l.community AS nl FROM badj a JOIN $prev l ON a.dst = l.doc_id
  UNION ALL SELECT doc_id AS src, community AS nl FROM $prev),
bl$r AS MATERIALIZED (SELECT src AS doc_id,
  CAST(min((1048576 - c) * 1099511627776 + nl) % 1099511627776 AS BIGINT) AS community
  FROM (SELECT src, nl, CAST(count(*) AS BIGINT) AS c FROM bv$r GROUP BY src, nl)
  GROUP BY src)"""
      }.mkString(",\n")
      s"""WITH be1 AS (
  SELECT DISTINCT o_orderkey % 997 AS doc_a, o_orderkey % 89 AS doc_b
  FROM orders WHERE o_orderkey % 997 != o_orderkey % 89),
be2 AS (SELECT DISTINCT CAST(100000 AS BIGINT) AS doc_a,
  o_orderkey % 5000 + 10000 AS doc_b FROM orders),
bed AS (SELECT * FROM be1 UNION ALL SELECT * FROM be2),
bsym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM bed
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM bed),
bdg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM bsym GROUP BY src),
bsu AS (SELECT s.src, s.dst, d.deg, $u AS u
  FROM bsym s JOIN bdg d USING (src)),
bsm AS (SELECT src, dst, deg, xor((u * 1000003) % 4294967296,
    ((u * 1000003) % 4294967296) >> 16) AS x1 FROM bsu),
bsh AS (SELECT src, dst, deg, xor((x1 * 999983) % 4294967296,
    ((x1 * 999983) % 4294967296) >> 16) AS h FROM bsm),
bkept AS (SELECT src, dst, h FROM bsh
  WHERE deg <= 32 OR h < 137438953472 // deg),
badj AS MATERIALIZED (SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY h, dst) AS rn
    FROM bkept) WHERE rn <= 8),
bl0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS community FROM bsym),
$steps
SELECT doc_id, community FROM bl$rounds"""
    },

    "q159_exact_substring" -> s"""WITH g0 AS (
  SELECT doc_id, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT doc_id, pos, ${gramHash63Sql("w")} AS gram FROM g0),
gdup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
gdp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM gdup)),
gagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_pos,
    list_sort(list(pos)) AS ps FROM gdp GROUP BY doc_id),
gcov AS (SELECT doc_id, n_dup_pos,
    40 + CAST(coalesce(list_sum(list_transform(generate_series(1, len(ps) - 1),
      k -> least(40, ps[k+1] - ps[k]))), 0) AS BIGINT) AS covered_chars
  FROM gagg)
SELECT c.doc_id, c.n_dup_pos, c.covered_chars,
  c.covered_chars * 1000000 // length(d.text) AS dup_frac_micro
FROM gcov c JOIN documents d USING (doc_id)""",

    "q161_substring_cut" -> s"""WITH g0 AS (
  SELECT doc_id, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT doc_id, pos, ${gramHash63Sql("w")} AS gram FROM g0),
gdup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
gdp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM gdup)),
isl AS (SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 40
      THEN 0 ELSE 1 END AS brk
  FROM gdp),
gi AS (SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM isl),
iv AS (SELECT doc_id, min(pos) AS s, max(pos) + 39 AS e
  FROM gi GROUP BY doc_id, grp),
sg AS (
  SELECT doc_id,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ss,
    s - 1 AS se
  FROM iv
  UNION ALL
  SELECT i.doc_id, max(i.e) + 1 AS ss, CAST(max(length(d.text)) AS BIGINT) AS se
  FROM iv i JOIN documents d USING (doc_id) GROUP BY i.doc_id),
cl AS (SELECT s.doc_id,
    string_agg(CASE WHEN se >= ss THEN substring(d.text, CAST(ss AS INT), CAST(se - ss + 1 AS INT))
      ELSE '' END, '' ORDER BY ss) AS cleaned_text
  FROM sg s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_spans
  FROM iv GROUP BY doc_id)
SELECT d.doc_id, coalesce(ns.n_cut_spans, 0) AS n_cut_spans,
  CAST(length(coalesce(cl.cleaned_text, d.text)) AS BIGINT) AS kept_chars,
  coalesce(cl.cleaned_text, d.text) AS cleaned_text
FROM documents d LEFT JOIN cl USING (doc_id) LEFT JOIN ns USING (doc_id)""",

    "q162_cluster_spectrum" -> (ClustersSql + """,
csz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM lbl GROUP BY cluster_id)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM csz GROUP BY cluster_size"""),

    "q163_substring_flow" -> s"""WITH g0 AS (
  SELECT source, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT DISTINCT source, ${gramHash63Sql("w")} AS gram FROM g0)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_shared_grams
FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
GROUP BY 1, 2""",

    "q164_span_spectrum" -> s"""WITH g0 AS (
  SELECT doc_id, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT doc_id, pos, ${gramHash63Sql("w")} AS gram FROM g0),
gdup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
gdp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM gdup)),
isl AS (SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 40
      THEN 0 ELSE 1 END AS brk
  FROM gdp),
gi AS (SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM isl),
iv AS (SELECT doc_id, CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS span_len
  FROM gi GROUP BY doc_id, grp)
SELECT span_len, CAST(count(*) AS BIGINT) AS n_spans
FROM iv GROUP BY span_len""",

    "q165_source_dup_profile" -> s"""WITH g0 AS (
  SELECT source, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT source, pos, ${gramHash63Sql("w")} AS gram FROM g0),
c AS (SELECT gram, count(*) AS n_occ, count(DISTINCT source) AS n_src
  FROM g GROUP BY gram),
d AS (SELECT g.source, CASE WHEN c.n_src >= 2 THEN 1 ELSE 0 END AS ext
  FROM g JOIN c USING (gram) WHERE c.n_occ > 1),
dd AS (SELECT source,
    CAST(sum(CASE WHEN ext = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_int_pos,
    CAST(sum(CASE WHEN ext = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ext_pos
  FROM d GROUP BY source),
t AS (SELECT source, CAST(count(*) AS BIGINT) AS total_pos FROM g GROUP BY source)
SELECT t.source, coalesce(dd.n_int_pos, 0) AS n_int_pos,
  coalesce(dd.n_ext_pos, 0) AS n_ext_pos, t.total_pos,
  (coalesce(dd.n_int_pos, 0) + coalesce(dd.n_ext_pos, 0)) * 1000000
    // t.total_pos AS dup_share_micro
FROM t LEFT JOIN dd USING (source)""",

    "q178_substring_decontam" -> s"""WITH g0 AS (
  SELECT doc_id, source, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT doc_id, source, pos, ${gramHash63Sql("w")} AS gram FROM g0),
ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
hit AS (SELECT doc_id, pos FROM g
  WHERE source <> 'src0' AND gram IN (SELECT gram FROM ev)),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_pos,
    list_sort(list(pos)) AS ps FROM hit GROUP BY doc_id),
cov AS (SELECT doc_id, n_eval_pos,
    40 + CAST(coalesce(list_sum(list_transform(generate_series(1, len(ps) - 1),
      k -> least(40, ps[k+1] - ps[k]))), 0) AS BIGINT) AS covered_chars
  FROM agg)
SELECT c.doc_id, d.source, c.n_eval_pos, c.covered_chars,
  c.covered_chars * 1000000 // length(d.text) AS contam_micro
FROM cov c JOIN documents d USING (doc_id)""",

    "q180_semantic_decontam" -> """WITH ev0 AS (
  SELECT e.vec_id AS eval_id, e.embedding AS ev,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS se
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source = 'src0'),
ev AS (SELECT * FROM ev0 WHERE se > 0),
tr AS (SELECT vec_id, embedding,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS st
  FROM embeddings
  WHERE vec_id NOT IN (SELECT eval_id FROM ev0) AND
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) > 0),
p AS (SELECT t.vec_id, v.eval_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(t.embedding[i] AS DOUBLE)*CAST(v.ev[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS dot,
    t.st, v.se
  FROM tr t, ev v),
k AS (SELECT vec_id,
    min((1000000 - CAST(round(round(dot/(sqrt(st)*sqrt(se)), 6)*1000000.0, 0) AS BIGINT))
        * 1099511627776 + eval_id) AS pk
  FROM p GROUP BY vec_id)
SELECT vec_id, CAST(pk % 1099511627776 AS BIGINT) AS nearest_eval_id,
  CAST(1000000 - pk // 1099511627776 AS BIGINT) AS max_sim_micro
FROM k""",

    // q180's CTEs (ev0/ev/tr/p/k verbatim) + the q153 cell math (cent /
    // ascending-index squared-L2 fold / (dist, cid) row_number): eval
    // cells, ranked train probes, pairs restricted to probed cells per
    // nprobe, and the exact-packed-key recall vs brute
    "q183_ivf_decontam" -> s"""WITH ev0 AS (
  SELECT e.vec_id AS eval_id, e.embedding AS ev,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS se
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source = 'src0'),
ev AS (SELECT * FROM ev0 WHERE se > 0),
tr AS (SELECT vec_id, embedding,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS st
  FROM embeddings
  WHERE vec_id NOT IN (SELECT eval_id FROM ev0) AND
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) > 0),
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < ${Similarity.IvfK}),
evd AS (SELECT v.eval_id, c.cid,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [(CAST(v.ev[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))
       * (CAST(v.ev[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE)) for i in range(1, 65)]),
      (a, b) -> a + b) AS dist
  FROM ev v CROSS JOIN cent c),
evcell AS (SELECT eval_id, cid AS cell FROM (
  SELECT eval_id, cid, row_number() OVER (PARTITION BY eval_id ORDER BY dist, cid) AS rn
  FROM evd) WHERE rn = 1),
trd AS (SELECT t.vec_id, c.cid,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [(CAST(t.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE))
       * (CAST(t.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE)) for i in range(1, 65)]),
      (a, b) -> a + b) AS dist
  FROM tr t CROSS JOIN cent c),
trp AS (SELECT vec_id, cid AS cell,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM trd),
p AS (SELECT t.vec_id, v.eval_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [CAST(t.embedding[i] AS DOUBLE)*CAST(v.ev[i] AS DOUBLE) for i in range(1, 65)]),
      (a, b) -> a + b) AS dot,
    t.st, v.se
  FROM tr t, ev v),
k AS (SELECT vec_id,
    min((1000000 - CAST(round(round(dot/(sqrt(st)*sqrt(se)), 6)*1000000.0, 0) AS BIGINT))
        * 1099511627776 + eval_id) AS pk
  FROM p GROUP BY vec_id),
ip AS (SELECT np.nprobe, p.vec_id, p.eval_id, p.dot, p.st, p.se
  FROM (SELECT unnest([1, 2, 4, 16]) AS nprobe) np
  JOIN trp ON trp.rn <= np.nprobe
  JOIN evcell ec ON ec.cell = trp.cell
  JOIN p ON p.vec_id = trp.vec_id AND p.eval_id = ec.eval_id),
ik AS (SELECT nprobe, vec_id,
    min((1000000 - CAST(round(round(dot/(sqrt(st)*sqrt(se)), 6)*1000000.0, 0) AS BIGINT))
        * 1099511627776 + eval_id) AS pk
  FROM ip GROUP BY nprobe, vec_id),
nt AS (SELECT count(*) AS n_train FROM k)
SELECT ik.nprobe, nt.n_train, count(*) AS n_found,
  CAST(sum(CASE WHEN ik.pk = k.pk THEN 1 ELSE 0 END) AS BIGINT) AS n_argmax_match,
  CAST(sum(CASE WHEN ik.pk = k.pk THEN 1 ELSE 0 END) * 1000000 // nt.n_train AS BIGINT) AS recall_micro
FROM ik JOIN k USING (vec_id) CROSS JOIN nt
GROUP BY ik.nprobe, nt.n_train""",

    "q179_decontam_cut" -> s"""WITH g0 AS (
  SELECT doc_id, source, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
g AS (SELECT doc_id, source, pos, ${gramHash63Sql("w")} AS gram FROM g0),
ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
gdp AS (SELECT doc_id, pos FROM g
  WHERE source <> 'src0' AND gram IN (SELECT gram FROM ev)),
isl AS (SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 40
      THEN 0 ELSE 1 END AS brk
  FROM gdp),
gi AS (SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM isl),
iv AS (SELECT doc_id, min(pos) AS s, max(pos) + 39 AS e
  FROM gi GROUP BY doc_id, grp),
sg AS (
  SELECT doc_id,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ss,
    s - 1 AS se
  FROM iv
  UNION ALL
  SELECT i.doc_id, max(i.e) + 1 AS ss, CAST(max(length(d.text)) AS BIGINT) AS se
  FROM iv i JOIN documents d USING (doc_id) GROUP BY i.doc_id),
cl AS (SELECT s.doc_id,
    string_agg(CASE WHEN se >= ss THEN substring(d.text, CAST(ss AS INT), CAST(se - ss + 1 AS INT))
      ELSE '' END, '' ORDER BY ss) AS cleaned_text
  FROM sg s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_spans
  FROM iv GROUP BY doc_id)
SELECT d.doc_id, d.source, coalesce(ns.n_cut_spans, 0) AS n_cut_spans,
  CAST(length(coalesce(cl.cleaned_text, d.text)) AS BIGINT) AS kept_chars,
  coalesce(cl.cleaned_text, d.text) AS cleaned_text
FROM documents d LEFT JOIN cl USING (doc_id) LEFT JOIN ns USING (doc_id)
WHERE d.source <> 'src0'""",

    "q177_gram_hash_audit" -> s"""WITH g AS (
  SELECT doc_id, u.i AS pos, substring(text, u.i, 40) AS w
  FROM documents, unnest(generate_series(1, length(text) - 39)) AS u(i)
  WHERE length(text) >= 40),
gh AS MATERIALIZED (SELECT doc_id, w,
    ${javaHashSql("w")} AS h1, ${javaHashSql("reverse(w)")} AS h2 FROM g),
e AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact FROM gh
  WHERE w IN (SELECT w FROM gh GROUP BY w HAVING count(*) > 1)
  GROUP BY doc_id),
bl AS (SELECT unnest([16, 24, 32, 63]) AS bits),
k AS (SELECT b.bits, doc_id,
    CASE WHEN b.bits = 63 THEN h1 * 2147483648 + h2 % 2147483648
         ELSE h1 % (CAST(1 AS BIGINT) << b.bits) END AS kk
  FROM gh CROSS JOIN bl b),
kd AS (SELECT bits, kk FROM k GROUP BY bits, kk HAVING count(*) > 1),
hd AS (SELECT k.bits, k.doc_id, CAST(count(*) AS BIGINT) AS n
  FROM k JOIN kd USING (bits, kk) GROUP BY k.bits, k.doc_id),
eb AS (SELECT b.bits, e.doc_id, e.n_exact FROM e CROSS JOIN bl b),
j AS (SELECT coalesce(hd.bits, eb.bits) AS bits,
    coalesce(hd.n, 0) AS n, coalesce(eb.n_exact, 0) AS n_exact
  FROM hd FULL JOIN eb ON hd.bits = eb.bits AND hd.doc_id = eb.doc_id),
t AS (SELECT bits, CAST(sum(n) AS BIGINT) AS dup_pos,
    CAST(sum(n_exact) AS BIGINT) AS exact_pos,
    CAST(sum(n - n_exact) AS BIGINT) AS extra_pos,
    CAST(sum(CASE WHEN n > n_exact THEN 1 ELSE 0 END) AS BIGINT)
      AS n_docs_inflated
  FROM j GROUP BY bits)
SELECT b.bits AS hash_bits, coalesce(t.dup_pos, 0) AS dup_pos,
  coalesce(t.exact_pos, 0) AS exact_pos,
  coalesce(t.extra_pos, 0) AS extra_pos,
  coalesce(t.n_docs_inflated, 0) AS n_docs_inflated
FROM bl b LEFT JOIN t ON t.bits = b.bits""",

    "q160_lsh_miss_audit" -> (EdgesSql + """,
ke AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM ed0
  UNION ALL SELECT doc_b, doc_a FROM ed0),
kr AS (SELECT src, dst, row_number() OVER (PARTITION BY src
    ORDER BY (dst * 1103515245 + 12345) % 2147483648) AS rn
  FROM ke),
ks AS (SELECT src, dst FROM kr WHERE rn <= 8),
wp AS (SELECT x.dst AS doc_a, y.dst AS doc_b, count(*) AS common_neighbors
  FROM ks x JOIN ks y ON x.src = y.src AND x.dst < y.dst
  GROUP BY 1, 2 HAVING count(*) >= 2),
pr AS (SELECT w.* FROM wp w LEFT JOIN ed0 e
    ON w.doc_a = e.doc_a AND w.doc_b = e.doc_b
  WHERE e.doc_a IS NULL),
mds AS (SELECT doc_id, list_distinct(hs) AS s FROM hs),
mj AS (SELECT p.doc_a, p.doc_b, p.common_neighbors,
    len(list_intersect(a.s, b.s)) AS i,
    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
  FROM pr p JOIN mds a ON p.doc_a = a.doc_id JOIN mds b ON p.doc_b = b.doc_id)
SELECT doc_a, doc_b, CAST(common_neighbors AS BIGINT) AS common_neighbors,
  CASE WHEN u = 0 THEN 1000000 ELSE i * 1000000 // u END AS jacc_micro
FROM mj"""),

    "q156_simhash_calibration" -> (EdgesSql + s""",
simh AS (SELECT doc_id, CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) % 2 = 1 THEN 1 ELSE -1 END for h in hs]) > 0
  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0, 32)]) AS BIGINT) AS sh
  FROM hs WHERE len(hs) > 0),
sds AS (SELECT doc_id, list_distinct(hs) AS s FROM hs),
scm AS (SELECT CAST(bit_count(xor(fa.sh, fb.sh)) AS INT) AS hamming,
    len(list_intersect(a.s, b.s)) AS i,
    len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
  FROM ed0 p JOIN simh fa ON p.doc_a = fa.doc_id JOIN simh fb ON p.doc_b = fb.doc_id
  JOIN sds a ON p.doc_a = a.doc_id JOIN sds b ON p.doc_b = b.doc_id),
scm2 AS (SELECT hamming,
    CASE WHEN u = 0 THEN 1000000 ELSE i * 1000000 // u END AS ex_micro
  FROM scm)
SELECT hamming, ex_micro // 100000 AS ex_decile,
  count(*) AS n_pairs, CAST(sum(ex_micro) AS BIGINT) AS sum_ex_micro
FROM scm2 GROUP BY 1, 2"""),

    "q140_weighted_sample" -> """WITH tk AS (SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents),
ky AS (SELECT source, doc_id,
    CAST(round(round(ln(CAST((doc_id * 1103515245 + 12345) % 2147483648 + 1 AS DOUBLE)
        / 2147483648), 6)
      / CAST(greatest(n_tokens, 1) AS DOUBLE) * 1000000, 0) AS BIGINT) AS km
  FROM tk),
pk AS (SELECT source, (30000000 - km) * 4294967296 + doc_id AS pk FROM ky),
rk AS (SELECT source, pk,
    row_number() OVER (PARTITION BY source ORDER BY pk) AS rn FROM pk)
SELECT source, CAST(rn AS INT) AS rn, pk % 4294967296 AS doc_id,
  30000000 - pk // 4294967296 AS key_micro
FROM rk WHERE rn <= 8""",

    "q141_dup_flow" -> (CalibSql + """,
fl AS (SELECT least(da.source, db.source) AS source_a,
    greatest(da.source, db.source) AS source_b, f.agree
  FROM ces f JOIN documents da ON f.doc_a = da.doc_id
             JOIN documents db ON f.doc_b = db.doc_id
  WHERE f.agree >= 4)
SELECT source_a, source_b, count(*) AS n_pairs,
  CAST(sum(agree) AS BIGINT) AS sum_agree
FROM fl GROUP BY 1, 2"""),

    "q142_temporal_split" -> """WITH ev AS (SELECT event_id, event_type,
    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
rk AS (SELECT tsec, row_number() OVER (ORDER BY tsec, event_id) AS rn,
    count(*) OVER () AS n FROM ev),
t AS (SELECT tsec AS tcut FROM rk WHERE rn = CAST(ceil(0.8 * n) AS BIGINT)),
sp AS (SELECT e.event_type,
    CASE WHEN e.tsec <= t.tcut THEN 'train'
         WHEN e.tsec > t.tcut + 3600 THEN 'test' END AS split
  FROM ev e CROSS JOIN t)
SELECT split, event_type, count(*) AS n
FROM sp WHERE split IS NOT NULL GROUP BY 1, 2""",

    "q143_curation_pipeline" -> (ClustersSql + """,
tkc AS (SELECT doc_id, source,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents),
g AS (SELECT doc_id, source,
  list_distinct([array_to_string(toks[i:i+4], ' ')
                 for i in range(1, len(toks) - 3)]) AS grams FROM tkc),
evg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'),
shd AS (SELECT doc_id, count(*) AS n_shared
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE source <> 'src0') cg
  WHERE gram IN (SELECT gram FROM evg) GROUP BY doc_id),
keep AS (SELECT t.doc_id, t.n_tokens,
    CASE WHEN (t.doc_id * 1103515245 + 12345) % 2147483648 % 100 < 80 THEN 'train'
         WHEN (t.doc_id * 1103515245 + 12345) % 2147483648 % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM tkc t JOIN lbl l ON t.doc_id = l.doc_id AND l.cluster_id = t.doc_id
  WHERE t.source <> 'src0' AND t.n_tokens >= 5
    AND t.doc_id NOT IN (SELECT doc_id FROM shd))
SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM keep GROUP BY split"""),

    "q144_random_walks" -> (EdgesSql + """,
wsym AS (SELECT doc_a AS src, doc_b AS dst FROM ed0
  UNION ALL SELECT doc_b, doc_a FROM ed0),
""" + (1 to 4).map(s =>
      s"""wn$s AS (SELECT src, min(((dst * 1299721 + ${s * 7}) % 2147483647)
    * 4294967296 + dst) % 4294967296 AS nx FROM wsym GROUP BY src)""")
      .mkString(",\n") + """,
w0 AS (SELECT DISTINCT src AS start, src AS cur, CAST(src AS VARCHAR) AS seq FROM wsym)""" +
      (1 to 4).map(s => s""",
w$s AS (SELECT w.start, coalesce(n.nx, w.cur) AS cur,
    w.seq || ',' || CAST(coalesce(n.nx, w.cur) AS VARCHAR) AS seq
  FROM w${s - 1} w LEFT JOIN wn$s n ON w.cur = n.src)""").mkString + """
SELECT start, cur AS "end", seq FROM w4""")
  )

  /** Shared PQ CTE: per-(vector, subspace, centroid) squared L2 over the
    * deterministic sampled codebook (Similarity.pqCodebook mirror), and the
    * argmin code per (vector, subspace).
    */
  /** Shared CTE chain for the q151/q152 PQ recall audits: quantized
    * reconstruction per (vector, arm) — argmin centroid slice per
    * subspace, identity for arm 0 — then ONE canonical 64-dim ascending
    * fold per (query, vector, arm), packed-key top-k, hits vs the arm-0
    * ground truth. Mirrors Similarity.pqRecallSweep token-for-token.
    */
  private def pqRecallCtes(arms: Seq[Int], k: Int): String = {
    val armList = arms.mkString(", ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
c0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 <> 0),
cbq AS (SELECT vec_id AS cbk, embedding AS cemb FROM embeddings WHERE vec_id < 16),
arms AS (SELECT unnest([$armList]) AS m_sub),
sub AS (SELECT m_sub, unnest(range(0, m_sub)) AS j FROM arms),
d AS (SELECT e.vec_id, s.m_sub, s.j, c.cbk,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    [(CAST(e.embedding[s.j * (64 // s.m_sub) + i] AS DOUBLE) - CAST(c.cemb[s.j * (64 // s.m_sub) + i] AS DOUBLE))
     * (CAST(e.embedding[s.j * (64 // s.m_sub) + i] AS DOUBLE) - CAST(c.cemb[s.j * (64 // s.m_sub) + i] AS DOUBLE))
     for i in range(1, 64 // s.m_sub + 1)]), (a, b) -> a + b) AS dist
  FROM c0 e CROSS JOIN sub s CROSS JOIN cbq c),
codes AS (SELECT vec_id, m_sub, j, cbk AS code FROM (
  SELECT vec_id, m_sub, j, cbk,
    row_number() OVER (PARTITION BY vec_id, m_sub, j ORDER BY dist ASC, cbk ASC) AS rn
  FROM d) WHERE rn = 1),
rp AS (SELECT c.vec_id, c.m_sub, c.j,
    [CAST(cbq.cemb[c.j * (64 // c.m_sub) + i] AS DOUBLE) for i in range(1, 64 // c.m_sub + 1)] AS part
  FROM codes c JOIN cbq ON cbq.cbk = c.code),
recon AS (
  SELECT vec_id, m_sub, flatten(list(part ORDER BY j)) AS recon FROM rp GROUP BY vec_id, m_sub
  UNION ALL
  SELECT vec_id, 0 AS m_sub, [CAST(x AS DOUBLE) for x in embedding] AS recon FROM c0),
sims AS (SELECT qq.query_id, r.vec_id, r.m_sub,
    CAST(round(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      [(CAST(qq.qv[i] AS DOUBLE) - r.recon[i]) * (CAST(qq.qv[i] AS DOUBLE) - r.recon[i])
       for i in range(1, 65)]), (a, b) -> a + b), 6) * 1000000, 0) AS BIGINT) AS dm
  FROM recon r CROSS JOIN q qq),
pks AS (SELECT query_id, m_sub, dm * 2097152 + vec_id AS pk FROM sims),
topk AS (SELECT query_id, m_sub, pk % 2097152 AS vec_id FROM (
  SELECT query_id, m_sub, pk,
    row_number() OVER (PARTITION BY query_id, m_sub ORDER BY pk) AS rn FROM pks)
  WHERE rn <= $k),
brute AS (SELECT query_id, vec_id FROM topk WHERE m_sub = 0)"""
  }

  private val PqCodesSql: String = """WITH cb AS (
  SELECT vec_id AS k, embedding AS cemb FROM embeddings WHERE vec_id < 16),
sub AS (SELECT unnest(range(0, 8)) AS m),
d AS (SELECT e.vec_id, s.m, c.k,
  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    [(CAST(e.embedding[s.m * 8 + i] AS DOUBLE) - CAST(c.cemb[s.m * 8 + i] AS DOUBLE))
     * (CAST(e.embedding[s.m * 8 + i] AS DOUBLE) - CAST(c.cemb[s.m * 8 + i] AS DOUBLE))
     for i in range(1, 9)]), (a, b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN sub s CROSS JOIN cb c),
codes AS (SELECT vec_id, m, k AS code FROM (
  SELECT vec_id, m, k,
    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, k ASC) AS rn
  FROM d) WHERE rn = 1)"""
}
