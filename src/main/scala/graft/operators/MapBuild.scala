package graft.operators

import graft.core.NioLocalFileSystem
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *  - Every count pyramid runs one level kernel, [[chunkedLevels]]: each
  *    top-zoom pixel explodes to up to 7 zooms and one keyed sum builds
  *    them all, and a deeper range rolls the top up once per chunk —
  *    instead of re-reading the z-max table per zoom as the reference does
  *    (TileMapBuilder.java:162-170), at identical results.
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
  def dictionaryEncode(spark: SparkSession, viewCounts: DataFrame): DataFrame = {
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
        (sum(Dedup.cpFold32(
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

  /** A5 level 1: re-aggregate a finer-zoom (map_key, px, py, occ_count)
    * table to zoom `z` — [[rollupPixels]]. `fromZoom` is the zoom of
    * `pixels`' px/py addressing. Keeps the bor_year dimension iff the input
    * carries it.
    */
  def rollupToZoom(pixels: DataFrame, fromZoom: Int, z: Int): DataFrame = {
    require(z <= fromZoom)
    rollupPixels(pixels, fromZoom, z, Seq("bor_year").filter(pixels.columns.contains),
      Seq("occ_count"))
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
  def noCoalesceSession(s: SparkSession): SparkSession = {
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
    * the pyramid's output edge ([[decodeStats]]; [[decodeMapKey]] ∘
    * encode ≡ the string key, so results are bit-identical — oracle-gated
    * by the whole pyramid family). Through the pyramid's keyed exchanges
    * the key is then ONE 8-byte long instead of a 16-byte UnsafeRow string
    * slot, hashes and compares as a long, and — at the source — skips
    * building 5 concat'd strings per record entirely. Value bound 2⁴⁰
    * (the house id bound): l_suppkey reaches 2⁴⁰ only past SF 10¹⁰
    * (~10 EB), far beyond any deployment; types are single digits 0–4 by
    * [[OccurrenceView]] construction.
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
    * once at the pyramid's OUTPUT ([[decodeStats]]) and on the broadcast
    * dirty set ([[dirtyTileKeys]]). A bor
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

  /** Encode an EXISTING string map_key to the long form — one row-local
    * parse at the edge whose input really is a string-keyed table: the
    * streaming pixel state (`EventStream.pyramidServe`). Defined only
    * on the house key strings ("t:v", t a single digit, v a non-negative
    * integer below 2⁴⁰ or, for t = 3, the bor letter A/N/R) — everything
    * [[OccurrenceView.mapKeysArray]] builds. Any other key (or a NULL one)
    * fails the job naming the key: a malformed row must not silently drop
    * out of the pyramid or the dirty-tile joins.
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

  private def zoomArray(lo: Int, hi: Int): Column = array((lo to hi).map(lit): _*)

  // Round 12 (§2.3): (z, px, py) PACK into ONE long through the pyramid's
  // keyed exchanges — z ≤ MaxZoom = 16 < 2⁵ and px, py < 2·TileSize·2^z ≤
  // 2²⁶ are PIXEL-ADDRESSING bounds (EPSG:4326 is two tiles wide at z0;
  // data-independent, so the packing is exact at any corpus scale;
  // [[pixelLevels]] and [[dirtyTiles]] require the zoom bound). Key slots
  // per row drop 4 → 2 in both exchanges; unpack is row-local after the
  // last aggregation. Same-session A/B at
  // the q182 shape (packed vs unpacked keys): numbers in
  // OPTIMIZATION_r12.md:319-345. The helpers below are the only places the
  // packing is spelled out.

  /** zxy = z·2⁵² + x·2²⁶ + y of a `grainZoom` pixel (columns px, py) at
    * the exploded zoom column z. */
  private[graft] def packZxy(grainZoom: Int): Column =
    col("z").cast("long") * lit(1L << 52) +
      expr(s"shiftright(px, $grainZoom - z)") * lit(1L << 26) +
      expr(s"shiftright(py, $grainZoom - z)")

  /** The tile key ztxy = z·2³⁴ + tx·2¹⁷ + ty (tx, ty < 2¹⁷). */
  private[graft] def packZtxy(z: Column, tx: Column, ty: Column): Column =
    z.cast("long") * lit(1L << 34) + tx * lit(1L << 17) + ty

  /** zxy → its tile key ztxy: the same pack with the TileShift low bits of
    * x and y dropped. */
  private[graft] def ztxyOf(zxy: Column): Column =
    packZtxy(shiftright(zxy, 52),
      shiftright(zxy, 26 + TileShift).bitwiseAND(lit((1L << (26 - TileShift)) - 1)),
      shiftright(zxy.bitwiseAND(lit((1L << 26) - 1)), TileShift))

  /** zxy → the pixel's (lpx, lpy) offset inside its tile: the TileShift low
    * bits of x and y. */
  private[graft] def tileOffset(zxy: Column): (Column, Column) = (
    shiftright(zxy, 26).bitwiseAND(lit(TileSize - 1L)).cast("int"),
    zxy.bitwiseAND(lit(TileSize - 1L)).cast("int"))

  /** ztxy → its (z, tx, ty) columns. */
  private[graft] def tileCols(ztxy: Column): (Column, Column, Column) = (
    shiftright(ztxy, 34).cast("int").as("z"),
    shiftright(ztxy, 17).bitwiseAND(lit((1L << 17) - 1)).as("tx"),
    ztxy.bitwiseAND(lit((1L << 17) - 1)).as("ty"))

  /** The per-pixel kernel of every pyramid and of the tile store: each row
    * of a zoom-`grainZoom` pixel table (map_key, px, py, extraKeys..,
    * valueCols..) explodes to every zoom in [lowZ, highZ], summed per
    * (map_key, zxy, extraKeys..) — one chunk of [[chunkedLevels]], its
    * only caller. With `dirty` (a [[dirtyTiles]] set) only pixels under
    * dirty tiles survive: the broadcast semi-join sits BEFORE the first
    * exchange, so an incremental recompute shuffles the delta's spatial
    * footprint, not the corpus.
    */
  private def pixelLevels(pixels: DataFrame, grainZoom: Int, lowZ: Int,
      highZ: Int, dirty: Option[DataFrame], extraKeys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(lowZ >= 0 && grainZoom <= MaxZoom,
      s"pyramid zooms must sit in [0, $MaxZoom], got [$lowZ, $grainZoom]")
    val exploded = pixels
      .withColumn("z", explode(zoomArray(lowZ, highZ)))
      .select((Seq(col("map_key"), packZxy(grainZoom).as("zxy")) ++
        (extraKeys ++ valueCols).map(col)): _*)
    val live = dirty.fold(exploded)(d => exploded
      .withColumn("ztxy", ztxyOf(col("zxy")))
      .join(broadcast(d), Seq("map_key", "ztxy"), "left_semi"))
    sumAgg(live, Seq("map_key", "zxy") ++ extraKeys, valueCols)
  }

  /** Tile stats for every zoom in [lowZ, highZ] of a zoom-`grainZoom`
    * table (map_key, px, py, total): [[chunkedLevels]] + [[tileStats]]. */
  private[graft] def levelStats(pixels: DataFrame, grainZoom: Int, lowZ: Int,
      highZ: Int, dirty: Option[DataFrame]): DataFrame =
    tileStats(chunkedLevels(pixels, grainZoom, lowZ, highZ, dirty, Nil, Seq("total")))

  /** Per-pixel (map_key, zxy, total) → (map_key, tx, ty, n_pixels, total, z).
    * NOTE (measured): fusing the two aggregations (this and the per-pixel
    * sum) into one distinct aggregate (countDistinct(px, py) + sum at the
    * tile key) ran 1.6× SLOWER at sf0.1 — mixing distinct and plain
    * aggregates plans an Expand that doubles every input row before the
    * exchange. Two lean keyed aggregations beat one Expand-doubled one; the
    * q08 tileAssembly case wins with countDistinct only because it starts
    * from raw records and drops TWO exchanges, not one.
    */
  private def tileStats(perPixel: DataFrame): DataFrame = {
    val (z, tx, ty) = tileCols(col("ztxy"))
    sumAgg(
      perPixel.select(col("map_key"), ztxyOf(col("zxy")).as("ztxy"),
        lit(1L).as("n_pixels"), col("total")),
      Seq("map_key", "ztxy"), Seq("n_pixels", "total"))
      .select(col("map_key"), tx, ty, col("n_pixels"), col("total"), z)
  }

  /** The one zoom-explode path of every count pyramid: [[pixelLevels]]
    * for zooms [minZoom, maxZoom] of a zoom-`grainZoom` table in chunks of
    * ≤ [[PyramidChunk]] levels; between chunks the top rolls up to the next
    * chunk's top zoom through `Lifecycle.loopCheckpoint` (the chunk AND the
    * next rollup read it). A chunk's shuffle stays ~1.33× its top at any
    * depth: z0–z16 is three chunks and two checkpoints. [[tileStats]]
    * finishes it to tile stats, `TileEncode.mvtLevels` to MVT tiles. */
  private[graft] def chunkedLevels(top: DataFrame, grainZoom: Int, minZoom: Int,
      maxZoom: Int, dirty: Option[DataFrame], extraKeys: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val lowZ = math.max(minZoom, maxZoom - PyramidChunk + 1)
    val chunk = pixelLevels(top, grainZoom, lowZ, maxZoom, dirty, extraKeys, valueCols)
    if (lowZ == minZoom) chunk
    else chunk.unionByName(chunkedLevels(graft.core.Lifecycle.loopCheckpoint(
        rollupPixels(top, grainZoom, lowZ - 1, extraKeys, valueCols)),
      lowZ - 1, minZoom, lowZ - 1, dirty, extraKeys, valueCols))
  }

  /** Per-pixel top-level table (long map_key, px, py, total) for `epsg`
    * at `maxZoom` — the SUM-MERGEABLE state of a pyramid: every level's
    * tile stats are a function of it ([[pyramidFromState]]), and an ingest
    * batch merges into it by keyed addition ([[incrementalPyramid]]); the
    * reference rebuilds the full pyramid per snapshot
    * (TileMapBuilder.java:52-70). Raw records aggregate ONCE, at (maxZoom,
    * no-bor) grain — the shift runs before the only shuffle, so map-side
    * combine collapses the explode straight to ~4^maxZoom groups — and the
    * explode emits [[mapKeyIdsArray]] longs from the record's integer
    * columns (round 12, guide §2.3). The key stays long through every
    * level, merge and pruned state file; only [[decodeStats]] decodes it.
    */
  def pyramidState(occ: DataFrame, epsg: String, maxZoom: Int): DataFrame =
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

  /** The count pyramid: tile stats at every zoom in [minZoom, maxZoom],
    * [[pyramidFromState]] over [[pyramidState]] — the reference's z16
    * production shape (TileMapBuilder.java:52-70) at any depth. A range of
    * more than one [[PyramidChunk]] reads the state twice (the first chunk
    * and the rollup to the next chunk's top), so only then is it
    * materialized once through `Lifecycle.loopCheckpoint`: ⌈depth/7⌉
    * materializations in all (z0–z16 = 3) where a one-barrier-per-level
    * chain ran 17 (z0–z10: 11 jobs, 13.2 s at sf0.1). Checkpoints are block
    * storage the ContextCleaner frees with the returned plan, never an
    * SQL-cache entry (the reference writes each level to a table for the
    * same reason — O4, MapBuilder.java:179-199).
    *
    * One chunk size, no depth dispatch: exploding every level in one pass
    * grows the row amplification linearly with depth, while the chunk
    * chain's shuffle stays ~1.33× the top; at the serving depth (z0–z6,
    * one chunk, so one pass either way) the one-pass and per-level chains
    * measured within noise of each other (10× sf0.1, warm cache, 320
    * partitions: 41.0 s vs 37.7 s), so depth alone never picks a strategy.
    * Levels are identical at any chunking: sum grouped coarser ≡ summed
    * fine sums.
    */
  def pyramid(occ: DataFrame, epsg: String, minZoom: Int, maxZoom: Int): DataFrame = {
    val state = pyramidState(occ, epsg, maxZoom)
    pyramidFromState(
      if (maxZoom - minZoom < PyramidChunk) state
      else graft.core.Lifecycle.loopCheckpoint(state),
      minZoom, maxZoom)
  }

  private val PyramidChunk = 7

  /** log2(TileSize): global pixel → tile index is a right shift. */
  private val TileShift = Integer.numberOfTrailingZeros(TileSize)

  /** All-level tile stats from a [[pyramidState]] table (the second half of
    * [[pyramid]], exposed so a stored state can be re-served without
    * re-aggregating raw records), exchanged long-keyed and decoded once.
    */
  def pyramidFromState(state: DataFrame, minZoom: Int, maxZoom: Int): DataFrame =
    decodeStats(levelStats(state, maxZoom, minZoom, maxZoom, None))

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
    val est = registerRollup(tileRegisters(occ, epsg, maxZoom), minZoom, maxZoom)
    // exact ground truth, collapse-before-amplify: distinct at top grain
    // first, then the ×levels explode over the collapsed set only
    val tru = partkeyTiles(occ, epsg, maxZoom).select("tx", "ty", "l_partkey").distinct()
      .withColumn("z", explode(zoomArray(minZoom, maxZoom)))
      .select(col("z"),
        expr(s"shiftright(tx, $maxZoom - z)").as("tx"),
        expr(s"shiftright(ty, $maxZoom - z)").as("ty"),
        col("l_partkey"))
      .distinct()
      .groupBy("z", "tx", "ty").agg(count(lit(1)).as("true_distinct"))
    tru.join(est, Seq("z", "tx", "ty"))
      .select("z", "tx", "ty", "true_distinct", "est")
  }

  /** Each plottable record's zoom-`maxZoom` tile (tx, ty), part key and
    * part-key hash `h`: the distinct pyramid's register and truth input. */
  private def partkeyTiles(occ: DataFrame, epsg: String, maxZoom: Int): DataFrame = {
    val shiftTop = MaxZoom - maxZoom + TileShift
    withPixels(occ, epsg).select(
      shiftright(col("px"), shiftTop).as("tx"),
      shiftright(col("py"), shiftTop).as("ty"),
      Sketch.tokenHash(col("l_partkey").cast("string")).as("h"),
      col("l_partkey"))
  }

  /** The distinct pyramid's top (tx, ty, reg, m_reg): per-tile HLL
    * registers at `maxZoom`. A MAX aggregation, so it runs as a batch fold
    * or as streaming state (`EventStream.hllRegisterStream`) alike. */
  private[graft] def tileRegisters(occ: DataFrame, epsg: String, maxZoom: Int): DataFrame =
    Sketch.hllRegisterRows(partkeyTiles(occ, epsg, maxZoom), Seq("tx", "ty"), col("h"))

  /** Estimates (z, tx, ty, est) at every zoom in [minZoom, maxZoom] from a
    * [[tileRegisters]] table: register-wise MAX up the tile tree, then
    * estimate. */
  private[graft] def registerRollup(regs: DataFrame, minZoom: Int, maxZoom: Int): DataFrame =
    Sketch.hllEstimateRows(
      regs.withColumn("z", explode(zoomArray(minZoom, maxZoom)))
        .groupBy(col("z"),
          expr(s"shiftright(tx, $maxZoom - z)").as("tx"),
          expr(s"shiftright(ty, $maxZoom - z)").as("ty"),
          col("reg"))
        .agg(max("m_reg").as("m_reg")),
      Seq("z", "tx", "ty"), "est")

  // ---- incremental maintenance: one kernel (delta top → dirty-tile set →
  // dirty recompute → clean passthrough) behind two entries; the pruned one
  // shares its merge and recompute ([[PrunedMerge]]) with the store's
  // ingest. Only the delta-footprint-sized intermediates are materialized;
  // the result stays lazy because it is pyramid-sized (checkpointing it
  // would double-materialize the store write).

  /** An ingest batch's top table in the [[pyramidState]] schema,
    * materialized once: the dirty set, the state merge and (pruned) the
    * coarse-cell footprint all read it. Delta-footprint-sized; an eager
    * local checkpoint, so no SQL-cache entry outlives the call and no
    * reliable checkpoint is written per ingest batch.
    */
  private def deltaTopOf(deltaOcc: DataFrame, epsg: String, maxZoom: Int): DataFrame =
    pyramidState(deltaOcc, epsg, maxZoom).localCheckpoint()

  /** The dirty-tile set of an ingest: every zoom-[minZoom, maxZoom] tile
    * holding a pixel of `deltaTop` (map_key, px, py at maxZoom grain), as
    * (map_key, packed ztxy), distinct, with `deltaTop`'s map_key type (long
    * for the operators, string for the store). Bounded by |delta pixels| ×
    * nLevels, and materialized once: each broadcast build that reads it
    * (the recompute's semi-join prune, the clean anti-join) is its own job.
    * An eager local checkpoint, like [[deltaTopOf]]; a caller done with it
    * frees it with `Lifecycle.freeCheckpoint`.
    */
  private[graft] def dirtyTiles(deltaTop: DataFrame, minZoom: Int, maxZoom: Int): DataFrame = {
    require(minZoom >= 0 && maxZoom <= MaxZoom, // the key pack's bound
      s"zooms must sit in [0, $MaxZoom], got [$minZoom, $maxZoom]")
    deltaTop.select("map_key", "px", "py")
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

  /** Incremental pyramid maintenance: given the stored long-keyed `state`
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
    */
  def incrementalPyramid(state: DataFrame, pyramid: DataFrame, deltaOcc: DataFrame,
      epsg: String, minZoom: Int, maxZoom: Int): DataFrame = {
    val deltaTop = deltaTopOf(deltaOcc, epsg, maxZoom)
    val dirty = dirtyTiles(deltaTop, minZoom, maxZoom)
    val merged = sumAgg(state.unionByName(deltaTop),
      Seq("map_key", "px", "py"), Seq("total"))
    withCleanTiles(pyramid, dirty,
      levelStats(merged, maxZoom, minZoom, maxZoom, Some(dirty)))
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
  def writePrunedState(state: DataFrame, path: String, maxZoom: Int, zc: Int): Unit = {
    writeFineCells(state, s"$path/fine", maxZoom, zc)
    writeCoarseCells(rollupPixels(state, maxZoom, zc, Nil, Seq("total")), s"$path/coarse")
  }

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
    * coarse cell, salted within cell). Shared by [[writePrunedState]]
    * and the store lifecycle (Workflow.buildFrom, and the dirty-cell
    * rewrite of Workflow.incrementalUpdate), so the layout exists once.
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
    val salted = cells
      .withColumn("pt", coarseCell(col("px"), col("py"), maxZoom, zc))
      .repartition(col("pt"),
        pmod(hash(col("px"), col("py")), lit(StateSaltBuckets)))
    NioLocalFileSystem.writer(salted).mode("overwrite").partitionBy("pt").parquet(finePath)
  }

  /** Write the coarse side table (the zc-grain rollup) of the prunable
    * layout — the other half beside [[writeFineCells]], shared by the same
    * callers. */
  private[graft] def writeCoarseCells(coarse: DataFrame, coarsePath: String): Unit =
    NioLocalFileSystem.writer(coarse).mode("overwrite").parquet(coarsePath)

  /** A pixel table (map_key, px, py, extraKeys.., valueCols..) re-addressed
    * from zoom `fromZoom` to zoom `z` and collapsed by keyed addition — the
    * coarse side table's derivation, the chunked pyramid's inter-chunk
    * rollup and [[rollupToZoom]].
    */
  private[graft] def rollupPixels(pixels: DataFrame, fromZoom: Int, z: Int,
      extraKeys: Seq[String], valueCols: Seq[String]): DataFrame =
    sumAgg(
      pixels.select((Seq(col("map_key"),
          shiftright(col("px"), fromZoom - z).as("px"),
          shiftright(col("py"), fromZoom - z).as("py")) ++
        (extraKeys ++ valueCols).map(col)): _*),
      Seq("map_key", "px", "py") ++ extraKeys, valueCols)

  /** An ingest batch merged into a pruned state, and the recompute of the
    * tiles it dirties: the one pruned-ingest kernel of
    * [[incrementalPyramidPruned]] (long keys, `total`, tile stats) and of
    * the store's `Workflow.incrementalUpdate` (string keys, `bor_year` +
    * `occ_count`, MVT tiles). `statePath` holds [[writePrunedState]]'s
    * layout; `deltaTop` is the batch at `maxZoom` grain in the same schema,
    * (map_key, px, py, extraKeys.., valueCols..).
    *
    *  - `dirtyPts`: the delta's coarse-cell footprint, the value list of
    *    the partition filter — a bounded driver collect (≤ 4^zc values, the
    *    documented watch-list class).
    *  - `fine`: the dirty cells' files (a direct filter on the partition
    *    column, so clean cells' files never open) ∪ the delta, collapsed by
    *    keyed addition.
    *  - `coarse`: the delta at zc grain added into the stored side table by
    *    keyed addition (full rewrite of the 4^(maxZoom−zc)×-smaller table).
    *
    * The cell collect runs at construction; both merges are lazy plans (the
    * coarse one is not even built when no requested zoom is below zc), so
    * a caller that also writes them as the next state persists them before
    * calling [[levels]].
    */
  private[graft] final class PrunedMerge(spark: SparkSession, statePath: String,
      deltaTop: DataFrame, maxZoom: Int, zc: Int, extraKeys: Seq[String],
      valueCols: Seq[String]) {
    private val keys = Seq("map_key", "px", "py") ++ extraKeys
    private val cols = (keys ++ valueCols).map(col)

    val dirtyPts: Seq[Int] =
      deltaTop.select(coarseCell(col("px"), col("py"), maxZoom, zc).as("pt"))
        .distinct().collect().map(_.getInt(0)).toSeq

    val fine: DataFrame = sumAgg(
      spark.read.parquet(s"$statePath/fine")
        .filter(col("pt").isin(dirtyPts: _*))
        .select(cols: _*)
        .unionByName(deltaTop.select(cols: _*)),
      keys, valueCols)

    lazy val coarse: DataFrame = sumAgg(
      spark.read.parquet(s"$statePath/coarse")
        .unionByName(rollupPixels(deltaTop, maxZoom, zc, extraKeys, valueCols)),
      keys, valueCols)

    /** The pixel levels under the `dirty` tiles ([[dirtyTiles]]) at every
      * zoom in [minZoom, maxZoom], each side through [[chunkedLevels]] with
      * the broadcast dirty semi-join and then `finish`:
      *  - zooms ≥ zc (≥ minZoom when the request starts above the cut,
      *    and then the coarse table never enters) from `fine`. A dirty
      *    z-tile lies inside one zc-cell, and that cell holds the delta
      *    pixel that dirtied it, so every pixel its recompute needs is in
      *    a dirty cell.
      *  - zooms < zc from `coarse`: dirty tiles there span clean cells too
      *    (a dirty z0 tile is the world), and pixel occupancy is monotone
      *    under coarsening, so n_pixels and totals at z < zc derive from zc
      *    grain exactly.
      */
    def levels(dirty: DataFrame, minZoom: Int, finish: DataFrame => DataFrame): DataFrame = {
      def side(pixels: DataFrame, grainZoom: Int, lowZ: Int, highZ: Int) =
        finish(chunkedLevels(pixels, grainZoom, lowZ, highZ, Some(dirty), extraKeys, valueCols))
      val fineLevels = side(fine, maxZoom, math.max(zc, minZoom), maxZoom)
      if (minZoom >= zc) fineLevels
      else fineLevels.unionByName(side(coarse, zc, minZoom, zc - 1))
    }
  }

  /** [[incrementalPyramid]] with a DELTA-PROPORTIONAL STATE SCAN: the
    * stored long-keyed state (written by [[writePrunedState]], partitioned
    * by zoom-`zc` coarse cell) is read through partition pruning instead of
    * scanned whole per ingest (the round-6 audit's one scale caveat on
    * q111 — the shuffle volume was already delta-proportional, the scan was
    * state-proportional). The merge and the dirty recompute are
    * [[PrunedMerge]]'s, finished to tile stats per side.
    *
    * Total read per ingest: dirty-cell files + the coarse side table —
    * O(delta footprint + state/4^(maxZoom−zc)) instead of O(state). At
    * 100 TB you size zc so the coarse table is a rounding error (or chain
    * a second coarse level).
    */
  def incrementalPyramidPruned(spark: SparkSession, statePath: String,
      pyramid: DataFrame, deltaOcc: DataFrame, epsg: String, minZoom: Int,
      maxZoom: Int, zc: Int): DataFrame = {
    require(zc <= maxZoom && minZoom <= maxZoom,
      s"need zc <= maxZoom and minZoom <= maxZoom, got $minZoom/$zc/$maxZoom")
    val deltaTop = deltaTopOf(deltaOcc, epsg, maxZoom)
    val dirty = dirtyTiles(deltaTop, minZoom, maxZoom)
    withCleanTiles(pyramid, dirty,
      new PrunedMerge(spark, statePath, deltaTop, maxZoom, zc, Nil, Seq("total"))
        .levels(dirty, minZoom, tileStats))
  }
}
