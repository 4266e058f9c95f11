package graft.operators

import graft.functions.GeoFunctions._
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** The batch map-build dataflow, re-expressed as declarative DataFrame
  * pipelines (reference: MapBuilder.java:118-177, PointMapBuilder.java:48-116,
  * TileMapBuilder.java:52-204).
  *
  * Scale notes (designed for ~100 TB input on a real cluster):
  *  - G1 `explode` multiplies rows ~5×; the very next operator is always a
  *    partial-aggregating `groupBy`, so map-side combine collapses the blowup
  *    before the shuffle.
  *  - The "0:0" ALL view is in every record's key array — the deliberate skew
  *    key. Aggregation keys always include pixel/borYear (millions of groups
  *    per view), so no single reducer sees a whole view; the final per-key
  *    rollups are tiny (one row per view).
  *  - The pyramid derives each zoom from the previous zoom's output
  *    (input halves each level) instead of re-reading the z-max table per
  *    zoom as the reference does (TileMapBuilder.java:162-170) — strictly
  *    less shuffle I/O at identical results.
  */
object MapBuild {
  import OccurrenceView.{TileSize, MaxZoom}

  /** G1: one row per (record, mapKey). */
  def explodeMapKeys(occ: DataFrame): DataFrame =
    occ.withColumn("map_key", explode(col("map_keys"))).drop("map_keys")

  /** A1: per-view counts — the large/small bifurcation stat
    * (MapBuilder.java:205-229).
    */
  def viewCounts(occ: DataFrame): DataFrame =
    explodeMapKeys(occ).groupBy("map_key").agg(count(lit(1)).as("occ_count"))

  /** A1 HAVING: views at/above the pyramid threshold. Small enough to
    * broadcast (bounded by #views, not #records).
    */
  def largeViews(occ: DataFrame, threshold: Long): DataFrame =
    viewCounts(occ).filter(col("occ_count") >= threshold)

  /** F4/J3: keep only records of large (or small) views via broadcast
    * semi-/anti-join — never a driver collect at scale.
    */
  def filterToViews(exploded: DataFrame, views: DataFrame, keep: Boolean): DataFrame = {
    val joinType = if (keep) "left_semi" else "left_anti"
    exploded.join(broadcast(views.select("map_key")), Seq("map_key"), joinType)
  }

  /** A14/O5: dictionary-encode view keys to dense ints (key_id = rank of the
    * key in ascending order, 0-based). The key set is bounded by #views — not
    * #records — so the reference collects it to the driver and broadcasts
    * dense ints (TileMapBuilder.java:55-57,255-267); we do the same. The
    * obvious `row_number().over(Window.orderBy(...))` alternative moves ALL
    * rows to a single partition (Spark warns exactly that) and serializes
    * the build through one task at scale — never use it here.
    */
  def dictionaryEncode(spark: org.apache.spark.sql.SparkSession, viewCounts: DataFrame): DataFrame = {
    // persist before the driver collect: the key collect AND the returned
    // lineage both consume the counts, which would otherwise re-run the
    // full upstream aggregation twice. Structural lifecycle (round 9):
    // the dictionary table is view-domain-sized, so withPersisted
    // checkpoints it and drops the cache entry on exit. The persisted
    // frame is an INTERIOR projection, not the caller's argument —
    // withPersisted unpersists what it wraps, and a callee must never
    // drop a cache entry the caller may own on a frame it was handed.
    val vc = viewCounts.select(col("map_key"), col("occ_count"))
    graft.core.Lifecycle.withPersisted(vc) {
      val keys = vc.select("map_key").collect().map(_.getString(0)).sorted
      val dict = spark.sparkContext.broadcast(keys.zipWithIndex.toMap)
      val keyId = udf { (k: String) => dict.value(k) }
      vc.select(col("map_key"), keyId(col("map_key")).as("key_id"),
        col("occ_count"))
    }
  }

  /** A2: point-map aggregate — distinct locations per (view, borYear). */
  def pointAgg(exploded: DataFrame): DataFrame =
    exploded
      .groupBy("map_key", "lat10", "lng10", "bor_year")
      .agg(count(lit(1)).as("occ_count"))

  // JIT while-loop fold over CODE POINTS (Dedup.cpFold — the repo's text
  // hash convention; matches the oracle's per-character UTF-8 fold)
  private val hash32 = udf { (s: String) => Dedup.cpFold(s, 4294967296L) }

  /** A3: per-view feature rollup with an order-insensitive content
    * fingerprint (sum of per-feature 32-bit hashes). The reference collects
    * structs then proto-encodes (PointMapBuilder.java:73-92); a commutative
    * checksum instead of collect_list+sort keeps the aggregation fully
    * partial (map-side combine) and immune to the `0:0` ALL-view skew — no
    * single reducer ever materializes a whole view's feature list.
    */
  def featureRollup(pointAgg: DataFrame): DataFrame =
    pointAgg
      .groupBy("map_key")
      .agg(
        count(lit(1)).as("n_features"),
        sum("occ_count").as("total"),
        (sum(hash32(
          concat_ws(",", col("lat10"), col("lng10"), col("bor_year"), col("occ_count"))
        )) % 4294967296L).as("blob_fp")
      )

  /** Global pixel columns at max zoom for the given projection (C2+F3):
    * unplottable rows are dropped, matching `WHERE xy.x IS NOT NULL`
    * (TileMapBuilder.java:158-159).
    */
  def withPixels(df: DataFrame, epsg: String): DataFrame = {
    val (px, py) = pixelAtMaxZoom(epsg, col("lat"), col("lng"), MaxZoom, TileSize)
    df.filter(isPlottable(epsg, col("lat"), col("lng")))
      .withColumn("px", px)
      .withColumn("py", py)
  }

  /** A4: max-zoom pixel aggregate, computed once per projection
    * (TileMapBuilder.java:140-160). Takes the UN-exploded occurrence view:
    * the projection (transcendental math for 3857/polar) runs once per
    * record, BEFORE the ~5× mapKeys explode — the explode only replicates
    * the finished integer pixel columns.
    */
  def pixelAgg(occ: DataFrame, epsg: String): DataFrame =
    explodeMapKeys(withPixels(occ, epsg))
      .groupBy("map_key", "px", "py", "bor_year")
      .agg(count(lit(1)).as("occ_count"))

  /** A4 at an arbitrary zoom: aggregate DIRECTLY at zoom `z` — shift the
    * max-zoom pixel address BEFORE the first shuffle. When a consumer's top
    * zoom is below MaxZoom there is no reason to materialize the z16
    * grouping first: at z16 nearly every row is its own group (no map-side
    * combine), so the two-step pixelAgg→rollup runs two full shuffles where
    * one aggregation at the target zoom — with real combine — suffices.
    * Totals are identical (count grouped coarser ≡ summed fine counts);
    * the z16 q05/q06/q26/q27 gates still exercise [[pixelAgg]] itself.
    */
  def pixelAggAt(occ: DataFrame, epsg: String, z: Int): DataFrame =
    pixelAggAt(occ, epsg, z, withBor = true)

  /** As [[pixelAggAt]]; `withBor = false` collapses the bor_year dimension
    * in the SAME (only) shuffle for consumers that never read it (the
    * buffer-replica tile stats) — a trailing collapse re-aggregation would
    * be a second full shuffle of the pixel table.
    */
  def pixelAggAt(occ: DataFrame, epsg: String, z: Int, withBor: Boolean): DataFrame = {
    val base = Seq(
      col("map_key"),
      shiftright(col("px"), MaxZoom - z).as("px"),
      shiftright(col("py"), MaxZoom - z).as("py"))
    val keys = if (withBor) base :+ col("bor_year") else base
    explodeMapKeys(withPixels(occ, epsg))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("occ_count"))
  }

  /** A5 level 1: re-aggregate a finer-zoom pixel table to zoom `z`.
    * `fromZoom` is the zoom of `pixels`' px/py addressing. Keeps the
    * bor_year dimension iff the input carries it.
    */
  def rollupToZoom(pixels: DataFrame, fromZoom: Int, z: Int): DataFrame = {
    require(z <= fromZoom)
    val base = Seq(
      col("map_key"),
      shiftright(col("px"), fromZoom - z).as("px"),
      shiftright(col("py"), fromZoom - z).as("py"))
    val keys =
      if (pixels.columns.contains("bor_year")) base :+ col("bor_year") else base
    pixels
      .groupBy(keys: _*)
      .agg(sum("occ_count").as("occ_count"))
  }

  /** A5 levels 2–3: group pixels of one zoom into tiles, one row per
    * (map_key, z, tx, ty) with the tile's distinct-pixel count and total.
    * The distinct aggregate makes this ONE exchange: Catalyst's
    * distinct-agg planning partial-aggregates on (tile, px, py) map-side —
    * collapsing any per-record or per-bor duplication before the wire —
    * then shuffles once on the tile key, where the old per-pixel-groupBy →
    * per-tile-groupBy formulation paid two keyed exchanges for the same
    * values.
    */
  def tileAssembly(pixelsAtZ: DataFrame, z: Int): DataFrame =
    pixelsAtZ
      .groupBy(
        col("map_key"),
        tileAddr(col("px"), TileSize).as("tx"),
        tileAddr(col("py"), TileSize).as("ty"))
      .agg(
        countDistinct(col("px"), col("py")).as("n_pixels"),
        sum("occ_count").as("total"))
      .withColumn("z", lit(z))

  /** Raw (unaggregated) per-record pixels at zoom `z` with occ_count = 1:
    * feeds aggregations that re-group on their own key anyway (tile
    * assembly, binning), where a prior pixel-level groupBy would only add a
    * shuffle that partial aggregation makes redundant.
    */
  def rawPixelsAt(occ: DataFrame, epsg: String, z: Int): DataFrame =
    explodeMapKeys(withPixels(occ, epsg))
      .select(col("map_key"),
        shiftright(col("px"), MaxZoom - z).as("px"),
        shiftright(col("py"), MaxZoom - z).as("py"),
        lit(1L).as("occ_count"))

  /** Replica tiles of one zoom-z global pixel, packed (tx<<32)|ty: a
    * primitive long array explodes without the per-element tuple row the
    * (tx, ty) struct formulation pays.
    */
  private def replicaUdf(epsg: String, z: Int, buffer: Int) = {
    val schema = graft.core.TileSchema.fromSrs(epsg)
    udf { (px: Long, py: Long) =>
      graft.core.Tiles.collectToTiles(px.toDouble, py.toDouble, schema, z, TileSize, buffer)
        .map { case (tx, ty, _, _) => (tx << 32) | ty }.toArray
    }
  }

  /** G2: buffer-replica tile explode — each zoom-z global pixel lands on its
    * containing tile plus any neighbour (incl. dateline-wrapped) whose 64 px
    * buffer it falls into, then tiles aggregate counts over their pixels
    * *including buffer replicas* (TileXYUDF.java:70-181). The replica
    * generator is the core library's `Tiles.collectToTiles` (unit/property
    * tested); explode multiplies rows ≤4× and the immediately following
    * partial aggregation collapses it before the shuffle.
    */
  def tileReplicaAssembly(pixelsAtZ: DataFrame, epsg: String, z: Int): DataFrame = {
    val replicas = replicaUdf(epsg, z, buffer = 64)
    // input already collapsed to one row per (map_key, px, py)? then the
    // bor-collapse re-aggregation (a full shuffle) is unnecessary
    val collapsed =
      if (pixelsAtZ.columns.contains("bor_year"))
        pixelsAtZ.groupBy("map_key", "px", "py").agg(sum("occ_count").as("occ_count"))
      else pixelsAtZ.select("map_key", "px", "py", "occ_count")
    collapsed
      .withColumn("t", explode(replicas(col("px"), col("py"))))
      .groupBy(col("map_key"),
        shiftright(col("t"), 32).as("tx"),
        col("t").bitwiseAND(lit(0xffffffffL)).as("ty"))
      .agg(count(lit(1)).as("n_pixels"), sum("occ_count").as("total"))
      .withColumn("z", lit(z))
  }

  // NOTE (measured): a one-exchange variant feeding RAW records through the
  // replica explode into a distinct aggregate was tried and LOST (sf0.1
  // 4.0 s vs 3.4 s): the ≤4× replica explode multiplies the rows the
  // distinct partial-agg must carry at (tile, px, py) grain, outweighing
  // the saved pixel-collapse exchange. Collapse-then-explode stands.

  /** Plain keyed long-sum aggregation (partial + final, map-side combine
    * intact), for callers that route through [[noCoalesceSession]].
    *
    * History of the AQE interaction, so the two rejected fixes aren't
    * re-tried: the 10× probe showed AQE's byte-sized partition coalescer
    * merging the pyramid's aggregation exchanges until the in-memory agg
    * state (10–20× the compressed shuffle bytes) sort-spilled 50 GB
    * (q45 63–100 s vs 24 s with coalescing off). Fix #1 —
    * repartition-by-keys BEFORE the groupBy (REPARTITION_BY_NUM, which the
    * coalescer never touches) — pinned the exchange but moved it BELOW the
    * partial aggregate: the raw explode-amplified stream crossed the wire
    * uncombined and the BASE-scale pyramid regressed ~2.4× (probe-measured
    * 5.8→14.2 s). Fix #2 — a mapPartitions hash pre-combiner feeding the
    * pinned exchange — restored combine but paid boxed-row overhead for
    * every exploded row and OOM'd the 32-thread base run outright. The
    * shipped fix scopes the COALESCER off per pyramid QUERY via a forked
    * session ([[noCoalesceSession]]): partial aggregation, exchange
    * placement, and codegen all stay exactly as Catalyst plans them, and
    * the iterative graph queries (whose shrinking per-round shuffles NEED
    * coalescing — q47/q66 measured 2× slower without it) keep it on.
    */
  private def sumAgg(df: DataFrame, keyN: Seq[String],
      valN: Seq[String]): DataFrame = {
    val sums = valN.map(c => sum(col(c)).as(c))
    df.groupBy(keyN.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** A session forked off `s` (shared SparkContext, cache and catalog
    * state; independent SQLConf) with AQE partition coalescing DISABLED —
    * the per-query scope for the pyramid family's explode-amplified
    * aggregations (see [[sumAgg]]'s history note). Callers build the WHOLE
    * query on the returned session so every exchange in the pyramid plan
    * keeps its full partition count.
    */
  def noCoalesceSession(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val s2 = s.newSession()
    // newSession() seeds its SQLConf from the BUILDER-time configs, not the
    // parent's runtime state — without this copy a harness that re-sizes
    // spark.sql.shuffle.partitions at runtime (BenchScale does, to hold
    // per-partition volume constant across the scale-up) would silently run
    // the pyramid at the stale width (probe-measured: 10x data in the
    // builder-time 32 partitions spilled 49 GB)
    s.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () } // static confs
    }
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2
  }

  /** ALGEBRAIC long encoding of the 5 map-view keys — the q37/A14
    * dictionary-encoding idea (VERDICT r11 #3, guide §2.3 "narrower
    * types") with NO dictionary and NO driver collect: every key type's
    * value is already a bounded integer of the record (ALL = 0,
    * l_partkey%50, l_suppkey, bor_id, l_orderkey%7), so the dense key
    * derives row-locally as type·2⁴⁰ + value and decodes row-locally at
    * the pyramid's edge ([[decodeMapKey]] ∘ encode ≡ the string key, so
    * results are bit-identical — oracle-gated by the whole pyramid
    * family). Through the pyramid's keyed exchanges the key is then ONE
    * 8-byte long instead of a 16-byte UnsafeRow string slot, hashes and
    * compares as a long, and — at the source — skips building 5 concat'd
    * strings per record entirely. Value bound 2⁴⁰ (the house id bound):
    * l_suppkey reaches 2⁴⁰ only past SF 10¹⁰ (~10 EB), far beyond any
    * deployment; types are single digits 0–4 by [[OccurrenceView]]
    * construction.
    */
  private val KeyShift = 1L << 40

  private[graft] def mapKeyIdsArray: Column = array(
    lit(0L), // "0:0" — the ALL view
    lit(1L * KeyShift) + col("l_partkey") % 50,
    lit(2L * KeyShift) + col("l_suppkey"),
    lit(3L * KeyShift) + col("bor_id"), // A→0, N→1, R→2 (bor_id's map)
    lit(4L * KeyShift) + col("l_orderkey") % 7)

  /** Inverse of the algebraic encoding: long key → the exact view-key
    * string [[OccurrenceView.mapKeysArray]] builds. Row-local, applied
    * once at the pyramid's OUTPUT (after the last keyed exchange). A bor
    * key (type 3) outside A/N/R fails the job naming the key, as
    * [[encodeMapKey]] does, whatever the ANSI setting.
    */
  private[graft] def decodeMapKey(k: Column): Column = {
    val t = shiftright(k, 40)
    val v = k.bitwiseAND(lit(KeyShift - 1))
    concat(t.cast("string"), lit(":"),
      when(t === 3, when(v === 0, lit("A")).when(v === 1, lit("N"))
        .when(v === 2, lit("R"))
        .otherwise(raise_error(concat(lit("malformed map_key: "), k.cast("string")))
          .cast("string")))
        .otherwise(v.cast("string")))
  }

  /** Encode an EXISTING string map_key (a stored state's) to the long
    * form — one row-local parse, paid once per state row so the
    * incremental recompute's keyed exchanges run long-keyed. Defined only
    * on the house key strings ("t:v", t a single digit, v a non-negative
    * integer below 2⁴⁰ or, for t = 3, the bor letter A/N/R) — everything
    * [[pyramidState]] / [[writePrunedState]] ever write. Any other key
    * (or a NULL one) fails the job naming the key: a malformed stored row
    * must not silently drop out of the merge and the dirty-tile joins.
    */
  private[graft] def encodeMapKey(k: Column): Column = {
    val t = substring(k, 1, 1).try_cast("long")
    val vs = substring(k, 3, 24)
    val v = when(t === 3, when(vs === "A", lit(0L)).when(vs === "N", lit(1L))
      .when(vs === "R", lit(2L)))
      .otherwise(vs.try_cast("long"))
    coalesce(
      when(substring(k, 2, 1) === ":" && v >= 0 && v < KeyShift, shiftleft(t, 40) + v),
      raise_error(concat(lit("malformed map_key: "), coalesce(k, lit("NULL"))))
        .cast("long"))
  }

  private def encodeKeys(df: DataFrame): DataFrame =
    df.withColumn("map_key", encodeMapKey(col("map_key")))

  private def zoomArray(lo: Int, hi: Int): Column = array((lo to hi).map(lit): _*)

  // Round 12 (§2.3): (z, px, py) PACK into ONE long through the pyramid's
  // keyed exchanges — z ≤ MaxZoom = 16 < 2⁵ and px, py < 2·TileSize·2^z ≤
  // 2²⁶ are PIXEL-ADDRESSING bounds (EPSG:4326 is two tiles wide at z0;
  // data-independent, so the packing is exact at any corpus scale;
  // [[levelStats]] and [[dirtyTiles]] require the zoom bound). Key slots
  // per row drop 4 → 2 in both exchanges; unpack is row-local after the
  // last aggregation. Same-session A/B at
  // the q182 shape (packed vs unpacked keys): numbers in
  // OPTIMIZATION_r12.md:319-345. The three helpers below are the only places the
  // packing is spelled out.

  /** zxy = z·2⁵² + x·2²⁶ + y of a `grainZoom` pixel (columns px, py) at
    * the exploded zoom column z. */
  private def packZxy(grainZoom: Int): Column =
    col("z").cast("long") * lit(1L << 52) +
      expr(s"shiftright(px, $grainZoom - z)") * lit(1L << 26) +
      expr(s"shiftright(py, $grainZoom - z)")

  /** zxy → its tile key ztxy = z·2³⁴ + tx·2¹⁷ + ty (tx, ty < 2¹⁷): the
    * same pack with the TileShift low bits of x and y dropped. */
  private def ztxyOf(zxy: Column): Column =
    shiftright(zxy, 52) * lit(1L << 34) +
      shiftright(zxy, 26 + TileShift)
        .bitwiseAND(lit((1L << (26 - TileShift)) - 1)) * lit(1L << 17) +
      shiftright(zxy.bitwiseAND(lit((1L << 26) - 1)), TileShift)

  /** ztxy → its (z, tx, ty) columns. */
  private def tileCols(ztxy: Column): (Column, Column, Column) = (
    shiftright(ztxy, 34).cast("int").as("z"),
    shiftright(ztxy, 17).bitwiseAND(lit((1L << 17) - 1)).as("tx"),
    ztxy.bitwiseAND(lit((1L << 17) - 1)).as("ty"))

  /** Tile stats for every zoom in [lowZ, highZ] from a zoom-`grainZoom`
    * per-pixel table (map_key, px, py, total), in one explode + two keyed
    * aggregations (per pixel, then per tile) — the one core shared by
    * [[pyramidOnePass]], each chunk of [[pyramidIterative]],
    * [[pyramidFromState]] and the incremental recompute, so they agree by
    * construction. With `dirty` (a [[dirtyTiles]] set) only the pixels
    * under dirty tiles survive — the incremental recompute: the broadcast
    * semi-join sits BEFORE the first
    * exchange, so the shuffled volume is the pixels inside dirty tiles
    * (the delta's spatial footprint), not the corpus. A dirty z0 tile
    * bounds the recompute at TileSize² pixels per (view, tile).
    */
  private[graft] def levelStats(pixels: DataFrame, grainZoom: Int, lowZ: Int,
      highZ: Int, dirty: Option[DataFrame]): DataFrame = {
    require(lowZ >= 0 && grainZoom <= MaxZoom,
      s"levelStats zooms must sit in [0, $MaxZoom], got [$lowZ, $grainZoom]")
    // NOTE (measured): fusing the pair below into one distinct aggregate
    // (countDistinct(px, py) + sum at the tile key) ran 1.6× SLOWER at
    // sf0.1 — mixing distinct and plain aggregates plans an Expand that
    // doubles every input row before the exchange. Two lean keyed
    // aggregations beat one Expand-doubled one; the q08 tileAssembly case
    // wins with countDistinct only because it starts from raw records and
    // drops TWO exchanges, not one.
    val exploded = pixels
      .withColumn("z", explode(zoomArray(lowZ, highZ)))
      .select(col("map_key"), packZxy(grainZoom).as("zxy"), col("total"))
    val live = dirty.fold(exploded)(d => exploded
      .withColumn("ztxy", ztxyOf(col("zxy")))
      .join(broadcast(d), Seq("map_key", "ztxy"), "left_semi"))
    val perPixel = sumAgg(live, Seq("map_key", "zxy"), Seq("total"))
    val (z, tx, ty) = tileCols(col("ztxy"))
    sumAgg(
      perPixel.select(col("map_key"), ztxyOf(col("zxy")).as("ztxy"),
        lit(1L).as("n_pixels"), col("total")),
      Seq("map_key", "ztxy"), Seq("n_pixels", "total"))
      .select(col("map_key"), tx, ty, col("n_pixels"), col("total"), z)
  }

  /** Aggregate raw records ONCE, directly at (maxZoom, no-bor) granularity,
    * with the map_key LONG-ENCODED at the source (round 12, guide §2.3):
    * the pyramid's tile stats never use bor_year and the top level sits
    * below MaxZoom, so the shift runs before the only shuffle and map-side
    * combine collapses the explode output straight to ~4^maxZoom groups;
    * the explode emits [[mapKeyIdsArray]] longs straight from the record's
    * integer columns — no per-record string building, and every
    * downstream keyed exchange carries an 8-byte long. The pyramid
    * builders decode at the edge, [[pyramidState]] right after this
    * aggregation.
    */
  private def topLevelEnc(occ: DataFrame, epsg: String, maxZoom: Int): DataFrame =
    sumAgg(
      withPixels(occ, epsg)
        .select(
          explode(mapKeyIdsArray).as("map_key"),
          shiftright(col("px"), MaxZoom - maxZoom).as("px"),
          shiftright(col("py"), MaxZoom - maxZoom).as("py"))
        .withColumn("total", lit(1L)),
      Seq("map_key", "px", "py"), Seq("total"))

  /** Decode a long-keyed tile-stats frame to the output contract (string
    * map_key, same column order) — one row-local projection AFTER the
    * last keyed exchange.
    */
  private def decodeStats(stats: DataFrame): DataFrame =
    stats.withColumn("map_key", decodeMapKey(col("map_key")))

  /** Full pyramid in ONE aggregation pass: each top-level pixel row is
    * exploded to every requested zoom (z, px >> (maxZoom-z), py >> ...) and
    * a single groupBy produces all levels at once. The ×nLevels row
    * amplification happens AFTER the top-level aggregate (input is already
    * ~4^maxZoom groups, not raw records) and collapses by map-side combine,
    * so the cost is one shuffle of ~1.33× the top table vs the iterative
    * chain's per-level shuffle + persist + materialization-barrier jobs.
    * The crossover: amplification grows linearly with nLevels while the
    * iterative chain's total shuffle volume is bounded by ~1.33× regardless
    * of depth — one-pass wins for shallow pyramids (≤8 levels, the serving
    * z0–z6 case), iterative for deep ones (z16 builds). [[pyramid]]
    * dispatches on that. Levels are identical either way: sum grouped
    * coarser ≡ summed fine sums. The crossover is SOFT in data volume:
    * measured at 10× sf0.1 (z0–z6, warm cache, 320 partitions), one-pass
    * 41.0 s vs iterative 37.7 s — within run noise, so depth stays the
    * only dispatch input.
    */
  def pyramidOnePass(occ: DataFrame, epsg: String, minZoom: Int, maxZoom: Int): DataFrame =
    decodeStats(levelStats(topLevelEnc(occ, epsg, maxZoom), maxZoom, minZoom, maxZoom, None))

  /** Pyramid strategy dispatch: one-pass for shallow pyramids, chunked
    * iterative halving (with per-chunk materialization barriers) for deep
    * ones — see [[pyramidOnePass]] for the crossover argument.
    */
  def pyramid(occ: DataFrame, epsg: String, minZoom: Int, maxZoom: Int): DataFrame =
    if (maxZoom - minZoom <= 8) pyramidOnePass(occ, epsg, minZoom, maxZoom)
    else pyramidIterative(occ, epsg, minZoom, maxZoom)

  /** Deep-pyramid builder (the reference's z16 production shape,
    * TileMapBuilder.java:52-70): processes the zoom range in CHUNKS of up
    * to [[PyramidChunk]] levels. Each chunk is one [[levelStats]] pass over
    * a materialized per-pixel top table; between chunks the top rolls up
    * `chunk` levels in a single keyed aggregation. Compared to the previous
    * one-barrier-per-level chain (z0–z10 = 11 sequential persist+count
    * jobs; measured 13.2 s at sf0.1), this runs ⌈depth/7⌉ barriers (z0–z10
    * = 2, z0–z16 = 3) while keeping the property that makes iterative win
    * at depth: no explode span ever exceeds 7 levels, so per-chunk shuffle
    * volume stays ~1.33× the chunk's top regardless of total depth. The
    * checkpoint is the materialization barrier each chunk AND the next rollup
    * both consume (the reference writes each level to a table for the same
    * reason — O4, MapBuilder.java:179-199); at production scale it becomes
    * a parquet write per chunk, and the top shrinks ~4^7 per chunk.
    */
  def pyramidIterative(occ: DataFrame, epsg: String, minZoom: Int, maxZoom: Int): DataFrame = {
    // each chunk top is a materialization barrier through
    // Lifecycle.loopCheckpoint — block storage the ContextCleaner frees
    // with the returned plan, never an SQL-cache entry a library caller
    // would have to clear. Every chunk top stays live until the result is
    // consumed (the union output references all of them); sizes shrink
    // ~4^7/chunk
    var top = graft.core.Lifecycle.loopCheckpoint(topLevelEnc(occ, epsg, maxZoom))
    var highZ = maxZoom
    var out: DataFrame = null
    while (highZ >= minZoom) {
      val lowZ = math.max(minZoom, highZ - PyramidChunk + 1)
      val chunk = levelStats(top, highZ, lowZ, highZ, None)
      out = if (out == null) chunk else out.unionByName(chunk)
      if (lowZ > minZoom)
        top = graft.core.Lifecycle.loopCheckpoint(
          rollupPixels(top, highZ, lowZ - 1, Nil, Seq("total")))
      highZ = lowZ - 1
    }
    decodeStats(out)
  }

  private val PyramidChunk = 7

  /** log2(TileSize): global pixel → tile index is a right shift. */
  private val TileShift = Integer.numberOfTrailingZeros(TileSize)

  /** Per-pixel top-level table for `epsg` at `maxZoom` — the SUM-MERGEABLE
    * state representation of a pyramid: every level's tile stats are a
    * deterministic function of it ([[levelStats]] / [[pyramidFromState]]),
    * and a new ingest batch merges into it by keyed addition (counts only
    * grow). This is the handle a long-lived tile store keeps between
    * ingests for [[incrementalPyramid]]; the reference instead rebuilds the
    * full pyramid per snapshot (TileMapBuilder.java:52-70) — incremental
    * maintenance is the beyond-reference scale path. Aggregated long-keyed
    * ([[topLevelEnc]]) and decoded once after the aggregation: the rows
    * equal a string-keyed aggregation's, because decode ∘ encode is the
    * string key array (OperatorSpec-pinned).
    */
  def pyramidState(occ: DataFrame, epsg: String, maxZoom: Int): DataFrame =
    topLevelEnc(occ, epsg, maxZoom)
      .withColumn("map_key", decodeMapKey(col("map_key")))

  /** All-level tile stats from a [[pyramidState]] table (the second half of
    * [[pyramidOnePass]], exposed so a stored state can be re-served without
    * re-aggregating raw records).
    */
  def pyramidFromState(state: DataFrame, minZoom: Int, maxZoom: Int): DataFrame =
    levelStats(state, maxZoom, minZoom, maxZoom, None)

  /** Distinct-cardinality pyramid (ALL view): for every (z, tx, ty) tile,
    * the HLL estimate of DISTINCT part keys in it, with the exact count as
    * ground truth. The analytics the count pyramid can't answer ("how many
    * distinct species in this tile?") — and the sketch mergeability story
    * composed with the pyramid: registers are built ONCE at the max zoom
    * (one corpus pass, ≤ m rows per occupied tile after map-side partial
    * max), and every coarser level derives by register-wise MAX up the
    * tile tree — a parent's sketch is exactly the merge of its children's,
    * so the rollup input shrinks 4× per level and the corpus is never
    * re-read. Exact distinct at every zoom would re-shuffle corpus-grain
    * (tile, key) pairs per level — the sketch path ships 16 ints per tile.
    */
  def pyramidDistinct(occ: DataFrame, epsg: String, minZoom: Int, maxZoom: Int): DataFrame = {
    val shiftTop = MaxZoom - maxZoom + TileShift
    val base = withPixels(occ, epsg).select(
      shiftright(col("px"), shiftTop).as("tx"),
      shiftright(col("py"), shiftTop).as("ty"),
      Sketch.tokenHash(col("l_partkey").cast("string")).as("h"),
      col("l_partkey"))
    val zs = array((minZoom to maxZoom).map(lit): _*)
    val topRegs = Sketch.hllRegisterRows(base, Seq("tx", "ty"), col("h"))
    val regsAll = topRegs
      .withColumn("z", explode(zs))
      .groupBy(col("z"),
        expr(s"shiftright(tx, $maxZoom - z)").as("tx"),
        expr(s"shiftright(ty, $maxZoom - z)").as("ty"),
        col("reg"))
      .agg(max("m_reg").as("m_reg"))
    val est = Sketch.hllEstimateRows(regsAll, Seq("z", "tx", "ty"), "est")
    // exact ground truth, collapse-before-amplify: distinct at top grain
    // first, then the ×levels explode over the collapsed set only
    val tru = base.select("tx", "ty", "l_partkey").distinct()
      .withColumn("z", explode(zs))
      .select(col("z"),
        expr(s"shiftright(tx, $maxZoom - z)").as("tx"),
        expr(s"shiftright(ty, $maxZoom - z)").as("ty"),
        col("l_partkey"))
      .distinct()
      .groupBy("z", "tx", "ty").agg(count(lit(1)).as("true_distinct"))
    tru.join(est, Seq("z", "tx", "ty"))
      .select("z", "tx", "ty", "true_distinct", "est")
  }

  // ---- incremental maintenance: one kernel (delta top → dirty-tile set →
  // dirty recompute → clean passthrough) behind three entries. Only the
  // delta-footprint-sized intermediates are materialized; the result
  // stays lazy because it is pyramid-sized (checkpointing it would
  // double-materialize the store write).

  /** An ingest batch's top table in the [[pyramidState]] schema,
    * materialized once: the dirty set, the state merge and (pruned) the
    * coarse-cell footprint all read it. Delta-footprint-sized; an eager
    * local checkpoint, so no SQL-cache entry outlives the call and no
    * reliable checkpoint is written per ingest batch.
    */
  private def deltaTopOf(deltaOcc: DataFrame, epsg: String, maxZoom: Int): DataFrame =
    pyramidState(deltaOcc, epsg, maxZoom).localCheckpoint()

  /** The dirty-tile set of an ingest: every zoom-[minZoom, maxZoom] tile
    * holding a pixel of `deltaTop` (a [[pyramidState]]-schema table at
    * maxZoom grain), as (long map_key, packed ztxy), distinct. Bounded by
    * |delta pixels| × nLevels, and materialized once: each broadcast build
    * that reads it (the recompute's semi-join prune, the clean anti-join,
    * a sizing count, the store's per-zoom filters) is its own job. An
    * eager local checkpoint, like [[deltaTopOf]]; a caller done with it
    * frees it with `Lifecycle.freeCheckpoint`.
    */
  private[graft] def dirtyTiles(deltaTop: DataFrame, minZoom: Int, maxZoom: Int): DataFrame = {
    require(minZoom >= 0 && maxZoom <= MaxZoom, // the key pack's bound
      s"zooms must sit in [0, $MaxZoom], got [$minZoom, $maxZoom]")
    encodeKeys(deltaTop.select("map_key", "px", "py"))
      .withColumn("z", explode(zoomArray(minZoom, maxZoom)))
      .select(col("map_key"), ztxyOf(packZxy(maxZoom)).as("ztxy"))
      .distinct()
      .localCheckpoint()
  }

  /** A [[dirtyTiles]] set at the stored tile key (string map_key, z, tx, ty). */
  private[graft] def dirtyTileKeys(dirty: DataFrame): DataFrame = {
    val (z, tx, ty) = tileCols(col("ztxy"))
    dirty.select(decodeMapKey(col("map_key")).as("map_key"), z, tx, ty)
  }

  /** The updated pyramid: the long-keyed `recomputed` dirty tiles, decoded,
    * plus every clean tile of the stored `pyramid`, streamed through by a
    * broadcast anti-join against the dirty set (no shuffle). The anti-join
    * probes the stored string-keyed pyramid, so the dirty set is decoded
    * on the tiny broadcast side instead of encoding the pyramid side.
    */
  private def withCleanTiles(pyramid: DataFrame, dirty: DataFrame,
      recomputed: DataFrame): DataFrame =
    pyramid.join(broadcast(dirtyTileKeys(dirty)), Seq("map_key", "z", "tx", "ty"), "left_anti")
      .select("map_key", "tx", "ty", "n_pixels", "total", "z")
      .unionByName(decodeStats(recomputed))

  /** The kernel over a whole in-memory state: merge by keyed addition
    * (long-keyed: the one encode at entry), recompute the dirty tiles from
    * the merged pixels, pass the clean ones through.
    */
  private def incrementalMerged(state: DataFrame, pyramid: DataFrame,
      deltaTop: DataFrame, dirty: DataFrame, minZoom: Int, maxZoom: Int): DataFrame = {
    val merged = sumAgg(encodeKeys(state.unionByName(deltaTop)),
      Seq("map_key", "px", "py"), Seq("total"))
    withCleanTiles(pyramid, dirty,
      levelStats(merged, maxZoom, minZoom, maxZoom, Some(dirty)))
  }

  /** Incremental pyramid maintenance: given the stored `state`
    * ([[pyramidState]] over everything ingested so far), the `pyramid`
    * built from it, and a new `deltaOcc` batch, produce the updated
    * pyramid WITHOUT rebuilding clean tiles.
    *
    * Mechanics — all delta-proportional:
    *  1. the delta's own top-level pixel table (one aggregation of the
    *     batch);
    *  2. dirty tile keys = the z-ancestor tiles of delta pixels, per zoom —
    *     ≤ |delta pixels| × nLevels rows, collapsed by distinct and
    *     broadcast ([[dirtyTiles]]);
    *  3. state merge = keyed addition (union + sum at pixel grain);
    *  4. recompute tile stats ONLY under dirty tiles ([[levelStats]]'s
    *     semi-join prune);
    *  5. clean tiles stream through from the stored pyramid via a
    *     broadcast anti-join (no shuffle).
    *
    * n_pixels (count of live zoom-z pixels per tile) is NOT mergeable from
    * tile stats alone — a delta can light up a pixel that already existed —
    * which is exactly why the recompute works from the merged pixel-grain
    * state rather than patching tile rows.
    *
    * The dirty set must stay broadcastable: [[incrementalPyramidAuto]]
    * falls back to a rebuild from the merged state past a budget.
    */
  def incrementalPyramid(state: DataFrame, pyramid: DataFrame, deltaOcc: DataFrame,
      epsg: String, minZoom: Int, maxZoom: Int): DataFrame = {
    val deltaTop = deltaTopOf(deltaOcc, epsg, maxZoom)
    incrementalMerged(state, pyramid, deltaTop,
      dirtyTiles(deltaTop, minZoom, maxZoom), minZoom, maxZoom)
  }

  /** [[incrementalPyramid]] with its broadcast-budget caveat
    * OPERATIONALIZED: the dirty-tile set must stay broadcastable, and an
    * ingest whose per-zoom ancestor footprint exceeds `maxDirtyKeys`
    * dirties most of the pyramid anyway — so past the bound this falls
    * back to a rebuild from the merged state ([[pyramidFromState]]): same
    * result (the incremental path's oracle IS the rebuild), no oversized
    * broadcast, and the rebuild is the cheaper plan exactly when the
    * fallback fires. The sizing is a count() of the materialized dirty set
    * the incremental arm then broadcasts.
    */
  def incrementalPyramidAuto(state: DataFrame, pyramid: DataFrame,
      deltaOcc: DataFrame, epsg: String, minZoom: Int, maxZoom: Int,
      maxDirtyKeys: Long = 8000000L): DataFrame = {
    val deltaTop = deltaTopOf(deltaOcc, epsg, maxZoom)
    val dirty = dirtyTiles(deltaTop, minZoom, maxZoom)
    if (dirty.count() > maxDirtyKeys)
      pyramidFromState(
        sumAgg(state.unionByName(deltaTop), Seq("map_key", "px", "py"), Seq("total")),
        minZoom, maxZoom)
    else incrementalMerged(state, pyramid, deltaTop, dirty, minZoom, maxZoom)
  }

  /** Coarse-cell partition value of a maxZoom-grain pixel: the zoom-`zc`
    * tile cell containing it, encoded `(cx << zc) | cy`. Spatial only (no
    * map_key) so the layout stays ≤ 4^zc directories.
    */
  private def coarseCell(px: Column, py: Column, maxZoom: Int, zc: Int): Column = {
    val shiftC = TileShift + (maxZoom - zc)
    (shiftright(px, shiftC) * lit(1L << zc) + shiftright(py, shiftC)).cast("int")
  }

  /** Persist a [[pyramidState]] table in the layout [[incrementalPyramidPruned]]
    * prunes against: the full-resolution state partitioned by coarse cell
    * `pt` (zoom-`zc` tile of each pixel — directory-level partition
    * pruning skips every clean cell's files on the next ingest), plus the
    * zc-grain rollup as a side table (4^(maxZoom−zc)× smaller; at zc=2,
    * maxZoom=6 that is a 256× reduction) from which the few coarse levels
    * (z < zc) recompute without touching the full state.
    */
  def writePrunedState(state: DataFrame, path: String, maxZoom: Int, zc: Int): Unit =
    writePrunedStateAs(state, path, maxZoom, zc, Nil, Seq("total"))

  /** Within-cell salt buckets for pruned-state fine writes. The write
    * repartitions on (pt, salt) instead of pt alone: `partitionBy("pt")`
    * still yields one DIRECTORY per coarse cell (the pruned reader's
    * layout), but a cell's rows spread across up to this many write tasks
    * instead of serializing through one — write parallelism scales with
    * cells × salt, independent of how hot any one cell is, and
    * files-per-cell stays bounded at the salt count.
    */
  val StateSaltBuckets = 8

  /** Write one fine-state table in the prunable layout (partitioned by
    * coarse cell, salted within cell). Shared by [[writePrunedStateAs]]
    * and the store lifecycle's dirty-cell rewrite
    * (Workflow.incrementalUpdate), so the layout exists once.
    *
    * AQE interplay (intended): the salt bounds the MAXIMUM tasks per cell;
    * partition coalescing may still merge below-advisory-size (pt, salt)
    * partitions — so tiny cells collapse toward one file (fewer small
    * files), while a genuinely hot cell's salt splits sit above the
    * advisory size and keep their parallelism. The SinkSpec salt test
    * disables coalescing to observe the full split at sandbox scale.
    */
  private[graft] def writeFineCells(cells: DataFrame, finePath: String,
      maxZoom: Int, zc: Int): Unit = {
    require(zc <= maxZoom && zc >= 0,
      s"need 0 <= zc <= maxZoom, got zc=$zc maxZoom=$maxZoom")
    cells
      .withColumn("pt", coarseCell(col("px"), col("py"), maxZoom, zc))
      .repartition(col("pt"),
        pmod(hash(col("px"), col("py")), lit(StateSaltBuckets)))
      .write.mode("overwrite").partitionBy("pt").parquet(finePath)
  }

  /** Parameterized pruned-state writer — ONE implementation of the
    * fine/coarse layout for every state schema: `extraKeys` are key columns
    * beyond (map_key, px, py) (the store lifecycle threads bor_year
    * through), `valueCols` the sum-mergeable values ("total" here,
    * "occ_count" there). [[writePrunedState]] and Workflow.writeState both
    * delegate here, so a layout change happens in one place.
    */
  private[graft] def writePrunedStateAs(state: DataFrame, path: String,
      maxZoom: Int, zc: Int, extraKeys: Seq[String],
      valueCols: Seq[String]): Unit = {
    writeFineCells(state, s"$path/fine", maxZoom, zc)
    rollupPixels(state, maxZoom, zc, extraKeys, valueCols)
      .write.mode("overwrite").parquet(s"$path/coarse")
  }

  /** A pixel table (map_key, px, py, extraKeys.., valueCols..) re-addressed
    * from zoom `fromZoom` to zoom `z` and collapsed by keyed addition — the
    * coarse side table's derivation and the chunked pyramid's inter-chunk
    * rollup.
    */
  private def rollupPixels(pixels: DataFrame, fromZoom: Int, z: Int,
      extraKeys: Seq[String], valueCols: Seq[String]): DataFrame =
    sumAgg(
      pixels.select((Seq(col("map_key"),
          shiftright(col("px"), fromZoom - z).as("px"),
          shiftright(col("py"), fromZoom - z).as("py")) ++
        (extraKeys ++ valueCols).map(col)): _*),
      Seq("map_key", "px", "py") ++ extraKeys, valueCols)

  /** The delta's coarse-cell footprint — the value list for the partition
    * filter. Bounded driver collect (≤ 4^zc values, the documented
    * watch-list class).
    */
  private[graft] def dirtyCells(deltaTop: DataFrame, maxZoom: Int, zc: Int): Seq[Int] =
    deltaTop.select(coarseCell(col("px"), col("py"), maxZoom, zc).as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Pruned fine-state merge: dirty cells' files (partition filter — clean
    * cells' files never open) ∪ delta top, collapsed by keyed addition.
    */
  private[graft] def mergedFineState(spark: org.apache.spark.sql.SparkSession,
      statePath: String, deltaTop: DataFrame, dirtyPts: Seq[Int],
      extraKeys: Seq[String], valueCols: Seq[String]): DataFrame = {
    val cols = Seq("map_key", "px", "py") ++ extraKeys ++ valueCols
    val fine = spark.read.parquet(s"$statePath/fine")
      .filter(col("pt").isin(dirtyPts: _*))
      .select(cols.map(col): _*)
    sumAgg(fine.unionByName(deltaTop.select(cols.map(col): _*)),
      Seq("map_key", "px", "py") ++ extraKeys, valueCols)
  }

  /** Coarse side-table merge: the delta collapsed to zc grain, added into
    * the stored rollup by keyed addition (full rewrite of the
    * 4^(maxZoom−zc)×-smaller table).
    */
  private[graft] def mergedCoarseState(spark: org.apache.spark.sql.SparkSession,
      statePath: String, deltaTop: DataFrame, maxZoom: Int, zc: Int,
      extraKeys: Seq[String], valueCols: Seq[String]): DataFrame = {
    sumAgg(
      spark.read.parquet(s"$statePath/coarse")
        .unionByName(rollupPixels(deltaTop, maxZoom, zc, extraKeys, valueCols)),
      Seq("map_key", "px", "py") ++ extraKeys, valueCols)
  }

  /** [[incrementalPyramid]] with a DELTA-PROPORTIONAL STATE SCAN: the
    * stored state is read through partition pruning instead of scanned
    * whole per ingest (the round-6 audit's one scale caveat on q111 — the
    * shuffle volume was already delta-proportional, the scan was
    * state-proportional).
    *
    * Mechanics on top of [[incrementalPyramid]]'s:
    *  - the full-resolution state (written by [[writePrunedState]],
    *    partitioned by zoom-`zc` coarse cell) is read with
    *    `pt IN (delta's coarse footprint)` — a partition filter, so clean
    *    cells' files are never opened. Correct for every level z ≥ zc: a
    *    dirty z-tile lies inside one zc-cell, and that cell contains the
    *    delta pixel that dirtied it, so all pixels a dirty-tile recompute
    *    needs live in dirty cells.
    *  - levels z < zc (dirty tiles there span clean cells too — a dirty
    *    z0 tile is the world) recompute from the stored zc-grain rollup
    *    instead: 4^(maxZoom−zc)× smaller than the state, maintained by the
    *    same keyed addition, and pixel occupancy is monotone under
    *    coarsening so n_pixels/total at z < zc derive from zc grain
    *    exactly.
    *  - the delta's coarse footprint is a bounded driver collect (≤ 4^zc
    *    values — it parameterizes the partition filter, same watch-list
    *    class as the dictionary/codebook collects).
    *
    * Total read per ingest: dirty-cell files + the coarse side table —
    * O(delta footprint + state/4^(maxZoom−zc)) instead of O(state). At
    * 100 TB you size zc so the coarse table is a rounding error (or chain
    * a second coarse level).
    */
  def incrementalPyramidPruned(spark: org.apache.spark.sql.SparkSession,
      statePath: String, pyramid: DataFrame, deltaOcc: DataFrame,
      epsg: String, minZoom: Int, maxZoom: Int, zc: Int): DataFrame = {
    require(zc <= maxZoom && minZoom <= maxZoom,
      s"need zc <= maxZoom and minZoom <= maxZoom, got $minZoom/$zc/$maxZoom")
    val deltaTop = deltaTopOf(deltaOcc, epsg, maxZoom)
    val dirty = dirtyTiles(deltaTop, minZoom, maxZoom)
    val dirtyPts = dirtyCells(deltaTop, maxZoom, zc) // bounded: ≤ 4^zc values
    // fine levels (z >= zc): pruned state read — the partition filter is
    // the whole point ([[mergedFineState]] keeps it a direct filter on the
    // partition column). They start at zc — or at minZoom when the
    // request begins above the coarse cut (then the coarse table never
    // enters). The merges keep the stored string schema; the recompute
    // encodes at entry.
    val fine = levelStats(
      encodeKeys(mergedFineState(spark, statePath, deltaTop, dirtyPts, Nil, Seq("total"))),
      maxZoom, math.max(zc, minZoom), maxZoom, Some(dirty))
    // coarse levels (z < zc): from the small zc-grain side table
    val recomputed =
      if (minZoom >= zc) fine
      else fine.unionByName(levelStats(
        encodeKeys(mergedCoarseState(spark, statePath, deltaTop, maxZoom, zc, Nil, Seq("total"))),
        zc, minZoom, zc - 1, Some(dirty)))
    withCleanTiles(pyramid, dirty, recomputed)
  }
}
