package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S11 + §7.2 step 8: the prepare/build/finalise lifecycle with a manifest
  * pointer replacing the reference's ZK metastore (ZKMapMetastore.java:38-60,
  * MapTables.java:107-154, FinaliseBackfill.java:64-106).
  *
  * Each build writes versioned directories (`v<N>/points`, `v<N>/tiles`)
  * then atomically swaps `manifest.json` to point at them — readers resolve
  * through the manifest, so a rebuild is invisible until the swap, and the
  * previous version stays on disk for rollback (the reference keeps the last
  * 2 HBase tables, FinaliseBackfill.java:153-222).
  */
object Workflow {

  /** Salt moduli = the store's pre-split region counts (MapBuilder.java:
    * 92,104) — ONE definition shared by the build-side writeSalted calls
    * and the serving-side lookups; a write/serve mismatch makes every GET
    * silently miss.
    */
  val PointSaltModulus = 10
  val TileSaltModulus = 100

  /** Coarse-cell zoom of the persisted pixel-state layout: the fine state
    * is partitioned by the zoom-2 tile cell containing each pixel, so an
    * ingest's merge+recompute reads ONLY the cells its delta touches
    * (directory-level partition pruning); zooms below it recompute from a
    * zc-grain rollup side table, 4^(maxZoom−zc)× smaller than the state.
    */
  val StateCoarseZoom = 2

  /** The lifecycle's state schema beyond (map_key, px, py): bor_year rides
    * through the state so serving filters re-derive without raw records. */
  private val StateExtraKeys = Seq("bor_year")
  private val StateValueCols = Seq("occ_count")

  /** Recursive file copy — the parquet-store analog of referencing a clean
    * partition's files from the new version's manifest instead of
    * rewriting them (what a production store does with its region/SST
    * files). Used for the state partitions an ingest did NOT dirty.
    */
  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    Files.createDirectories(to)
    // Using.resource: Files.list holds a directory handle that plain
    // forEach never closes — recursing per copied partition leaked one fd
    // per directory until GC
    scala.util.Using.resource(Files.list(from)) { s =>
      s.forEach { p =>
        val t = to.resolve(p.getFileName)
        if (Files.isDirectory(p)) copyTree(p, t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** `streamBatch` = the highest streaming-ingest batch id COMMITTED into
    * this version (−1 when the version wasn't stream-written). Riding in
    * the manifest makes the store's state and the batch watermark one
    * ATOMIC swap — the streaming ingest's exactly-once hinge: a replayed
    * foreachBatch invocation whose id is ≤ the recorded watermark is
    * skipped, so the non-idempotent keyed addition never double-applies.
    */
  final case class Manifest(version: Long, points: String, tiles: String,
      streamBatch: Long = -1L)

  // minimal JSON string escaping for the two path fields — paths with '"'
  // or '\' must round-trip through the manifest
  private def jsonEscape(s: String) =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def jsonUnescape(s: String) =
    s.replaceAll("\\\\(.)", "$1")

  private def manifestPath(workDir: String) = Paths.get(workDir, "manifest.json")

  def readManifest(workDir: String): Option[Manifest] = {
    val p = manifestPath(workDir)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      // quote-aware extraction: paths may contain ',' or '}' — a naive
      // split-on-delimiter truncates them; escape sequences round-trip
      // through jsonUnescape (the writer escapes with jsonEscape)
      def str(k: String) =
        ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
          .findFirstMatchIn(s).map(m => jsonUnescape(m.group(1)))
          .getOrElse(sys.error(s"manifest missing string field $k"))
      def num(k: String) =
        ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(s).map(_.group(1))
          .getOrElse(sys.error(s"manifest missing numeric field $k"))
      def numOpt(k: String, dflt: Long) =
        ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(s)
          .map(_.group(1).toLong).getOrElse(dflt)
      Some(Manifest(num("version").toLong, str("points"), str("tiles"),
        numOpt("stream_batch", -1L)))
    }
  }

  /** Build both index tables for one scale-factor dir, then swap the
    * manifest. Returns the new manifest.
    *
    * `maxZoom`/`projections` size the tile pyramid: the default (z6, all
    * four SRS) is the serving-store depth the sandbox data warrants; the
    * reference's production build goes to z16 (TileMapBuilder.java:52-70 —
    * 17 zooms × 4 projections), which callers get by passing maxZoom = 16.
    * Every depth writes each projection's tiles once ([[writeTiles]]).
    */
  def build(spark: SparkSession, sfDir: String, workDir: String,
      projections: Seq[String] =
        Seq("EPSG:4326", "EPSG:3857", "EPSG:3575", "EPSG:3031"),
      maxZoom: Int = 6): Manifest = {
    // the store build runs on the pyramid family's no-coalesce fork: at
    // production depth the max-zoom pixel aggregation has the same
    // byte-underestimated agg state that AQE's coalescer spilled on the
    // count pyramid (see MapBuild.sumAgg) — the fork scopes the
    // coalescer off for THIS build without touching the caller's session
    val s2 = graft.operators.MapBuild.noCoalesceSession(spark)
    buildFrom(s2, graft.operators.OccurrenceView.occ(s2, sfDir),
      workDir, projections, maxZoom)
  }

  /** [[build]] over a caller-prepared occurrence frame — the incremental
    * lifecycle's fresh-rebuild comparator builds from a filtered base.
    */
  def buildFrom(spark: SparkSession, occ: DataFrame, workDir: String,
      projections: Seq[String] =
        Seq("EPSG:4326", "EPSG:3857", "EPSG:3575", "EPSG:3031"),
      maxZoom: Int = 6): Manifest = {
    import graft.operators.{MapBuild, OccurrenceView, PointEncode, TileEncode}
    val version = readManifest(workDir).map(_.version + 1).getOrElse(1L)
    val pointsPath = s"$workDir/v$version/points"
    val tilesPath = s"$workDir/v$version/tiles"

    // S2/O4: materialize the occurrence snapshot ONCE — the points build and
    // all four projection pyramids consume it, so the source is scanned a
    // single time (the reference writes the filtered snapshot to disk for
    // exactly this reason, "to defend against lazy evaluation that may cause
    // the input avro files to be read multiple times",
    // MapBuilder.java:184-199). At production scale this persist becomes a
    // parquet write of the snapshot.
    val occSnapshot = occ
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    occSnapshot.count() // materialization barrier: one source scan, here

    val exploded = MapBuild.explodeMapKeys(occSnapshot)
    // points store: per-view feature rows keyed by map_key (salt 10,
    // MapBuilder.java:92)
    KeyedSink.writeSalted(MapBuild.pointAgg(exploded), col("map_key"),
      PointSaltModulus, pointsPath)
    // binary point-blob store for SMALL views — one deterministic
    // PointFeatures blob per view, the reference's large/small bifurcation
    // (MapBuilder.java:92-104): big views are served from the tile pyramid,
    // small views from a single blob GET
    val small = MapBuild.filterToViews(exploded,
      MapBuild.largeViews(occSnapshot, OccurrenceView.Threshold), keep = false)
    KeyedSink.writeSalted(
      PointEncode.pointBlobs(spark, MapBuild.pointAgg(small)),
      col("map_key"), PointSaltModulus, s"${pointsPath}_blobs")
    // tiles store: MVT blobs for every zoom, one write per projection
    projections.foreach { epsg =>
      val top = MapBuild.pixelAggAt(occSnapshot, epsg, maxZoom)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the max-zoom pixel table IS the store's sum-mergeable state —
      // written alongside the blobs so incrementalUpdate() can absorb the
      // next ingest batch by keyed addition instead of a corpus rescan;
      // stored in the prunable fine/coarse layout so that merge reads
      // only the delta's coarse-cell footprint
      MapBuild.writePrunedStateAs(top, s"$workDir/v$version/state/${srsDir(epsg)}",
        maxZoom, StateCoarseZoom, StateExtraKeys, StateValueCols)
      writeTiles(epsg, TileEncode.mvtLevels(spark, MapBuild.chunkedLevels(top, maxZoom,
        0, maxZoom, None, StateExtraKeys, StateValueCols)), tilesPath)
      top.unpersist()
    }

    occSnapshot.unpersist()
    writeManifest(workDir, Manifest(version, pointsPath, tilesPath))
  }

  /** One salted write (keyed srs:mapKey:z:x:y, salt 100, MapBuilder.java:
    * 104) of a projection's tiles (map_key, z, tx, ty, mvt) at every zoom:
    * sub-store `srs=<srs>` with a `zoom=<z>` directory per zoom, the layout
    * of the reference's per-zoom HFile directories (PrepareBackfill.java:
    * 88-93, TileMapBuilder.java:87-93) that TileServe reads.
    */
  private def writeTiles(epsg: String, tiles: DataFrame, tilesPath: String): Unit =
    KeyedSink.writeSalted(tiles.withColumn("zoom", col("z")),
      concat_ws(":", lit(epsg), col("map_key"), col("z"), col("tx"), col("ty")),
      TileSaltModulus, s"$tilesPath/${srsDir(epsg)}", Seq("zoom"))

  /** Atomic manifest swap (S5's table-pointer flip): write-then-rename so a
    * concurrent reader sees either the old or the new version, never a
    * partial file.
    */
  private def writeManifest(workDir: String, m: Manifest): Manifest = {
    val tmp = Paths.get(workDir, s".manifest.v${m.version}.tmp")
    Files.createDirectories(Paths.get(workDir))
    Files.write(tmp,
      s"""{"version": ${m.version}, "points": "${jsonEscape(m.points)}", "tiles": "${jsonEscape(m.tiles)}", "stream_batch": ${m.streamBatch}}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(workDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    m
  }

  private def srsDir(epsg: String) = s"srs=${epsg.replace(':', '_')}"

  /** Incremental store update — the lifecycle the reference lacks (its
    * "real-time" is a full rebuild + pointer swap, FinaliseBackfill.java:
    * 64-106). Given the live store's manifest and a new ingest batch:
    *
    *  - POINTS: the store rows are already the aggregation state (one row
    *    per (view, location, borYear) with a summed count), so the update
    *    is old-rows ∪ delta-aggregate → keyed addition — no corpus scan.
    *    The large/small blob bifurcation re-derives from the MERGED totals
    *    (a view can cross the threshold and flip sides; recomputing the
    *    split from state keeps that correct without touching raw records).
    *  - TILES: per projection, the max-zoom pixel STATE (written by
    *    [[build]] since this version) absorbs the delta by keyed addition;
    *    only tiles in the delta's per-zoom ancestor footprint are
    *    re-encoded (broadcast dirty-key semi-join BEFORE the expensive MVT
    *    mapGroups), clean blob rows stream through from the previous
    *    version via anti-join, and the projection is written once. The
    *    zoom explode runs over the dirty cells of the state (never
    *    corpus-grain); the MVT encode — the dominant cost — is
    *    delta-proportional.
    *
    * At production scale the clean-row passthrough becomes a file-level
    * manifest reference (only dirty salt partitions rewritten); here the
    * copy is the parquet-store analog. Falls back to [[build]] semantics
    * only in that a huge delta simply dirties most tiles.
    */
  def incrementalUpdate(spark: SparkSession, deltaOcc: DataFrame, workDir: String,
      projections: Seq[String] =
        Seq("EPSG:4326", "EPSG:3857", "EPSG:3575", "EPSG:3031"),
      maxZoom: Int = 6, streamBatch: Long = -1L): Manifest = {
    import graft.operators.{MapBuild, OccurrenceView, PointEncode, TileEncode}
    import org.apache.spark.storage.StorageLevel
    val prev = readManifest(workDir).getOrElse(
      throw new IllegalStateException(s"no manifest under $workDir — build() first"))
    val version = prev.version + 1
    val prevState = s"$workDir/v${prev.version}/state"
    val pointsPath = s"$workDir/v$version/points"
    val tilesPath = s"$workDir/v$version/tiles"
    val statePath = s"$workDir/v$version/state"

    val delta = deltaOcc.persist(StorageLevel.MEMORY_AND_DISK)
    delta.count() // snapshot barrier, as in build()

    // ---- points store: state-merge, then re-derive the blob bifurcation
    val oldPoints = spark.read.parquet(prev.points)
      .select("map_key", "lat10", "lng10", "bor_year", "occ_count")
    val mergedPoints = oldPoints
      .unionByName(MapBuild.pointAgg(MapBuild.explodeMapKeys(delta)))
      .groupBy("map_key", "lat10", "lng10", "bor_year")
      .agg(sum("occ_count").as("occ_count"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    KeyedSink.writeSalted(mergedPoints, col("map_key"),
      PointSaltModulus, pointsPath)
    // blob store, delta-proportional: a view's blob can only change if the
    // delta touched the view, and a view can only ENTER the small side if
    // the delta touched it (counts grow monotonically) — so re-encode
    // exactly smallKeys ∩ dirtyViews and pass every other small blob
    // through from the previous version (views that LEFT the small side
    // are in dirtyViews, so the passthrough can't resurrect them)
    val smallKeys = mergedPoints.groupBy("map_key")
      .agg(sum("occ_count").as("n"))
      .filter(col("n") < OccurrenceView.Threshold).select("map_key")
    val dirtyViews = MapBuild.explodeMapKeys(delta).select("map_key").distinct()
    val reEncode = PointEncode.pointBlobs(spark,
      mergedPoints
        .join(broadcast(smallKeys), Seq("map_key"), "left_semi")
        .join(broadcast(dirtyViews), Seq("map_key"), "left_semi"))
    val keptBlobs = spark.read.parquet(s"${prev.points}_blobs")
      .select("map_key", "blob")
      .join(broadcast(dirtyViews), Seq("map_key"), "left_anti")
    KeyedSink.writeSalted(
      keptBlobs.unionByName(reEncode.select("map_key", "blob")),
      col("map_key"), PointSaltModulus, s"${pointsPath}_blobs")

    // ---- tiles store: per projection, merge state + dirty-only re-encode.
    // The state READ is delta-proportional too (the round-6 audit's one
    // scale caveat): the fine state is read through a coarse-cell partition
    // filter (clean cells' files never open), clean cells carry over to the
    // new version by FILE COPY (the manifest-reference analog), and zooms
    // below StateCoarseZoom — whose dirty tiles span clean cells — derive
    // from the zc-grain coarse side table instead of the full state.
    require(maxZoom >= StateCoarseZoom,
      s"state layout needs maxZoom >= $StateCoarseZoom")
    projections.foreach { epsg =>
      val deltaTop = MapBuild.pixelAggAt(delta, epsg, maxZoom)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pruned merge + dirty recompute through the SHARED kernel
      // (MapBuild.PrunedMerge) — the q145 operator runs the same one on its
      // long-keyed `total` state; here the state schema carries bor_year.
      // Both merges are persisted: each is written as the new state AND
      // read by the recompute
      val merge = new MapBuild.PrunedMerge(spark, s"$prevState/${srsDir(epsg)}",
        deltaTop, maxZoom, StateCoarseZoom, StateExtraKeys, StateValueCols)
      merge.fine.persist(StorageLevel.MEMORY_AND_DISK)
      merge.coarse.persist(StorageLevel.MEMORY_AND_DISK)
      MapBuild.writeFineCells(merge.fine,
        s"$statePath/${srsDir(epsg)}/fine", maxZoom, StateCoarseZoom)
      val dirtyDirs = merge.dirtyPts.map(p => s"pt=$p").toSet
      scala.util.Using.resource(
          Files.list(Paths.get(s"$prevState/${srsDir(epsg)}/fine"))) { st =>
        st.forEach { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p) && n.startsWith("pt=") && !dirtyDirs(n))
            copyTree(p, Paths.get(s"$statePath/${srsDir(epsg)}/fine/$n"))
        }
      }
      MapBuild.writeCoarseCells(merge.coarse, s"$statePath/${srsDir(epsg)}/coarse")
      // only pixels under dirty tiles re-encode; every clean tile passes
      // through from the previous version by one broadcast anti-join, and
      // the projection is written once
      val dirty = MapBuild.dirtyTiles(deltaTop, 0, maxZoom)
      val fresh = TileEncode.mvtLevels(spark, merge.levels(dirty, 0, identity))
      val clean = spark.read.parquet(s"${prev.tiles}/${srsDir(epsg)}")
        .select("map_key", "z", "tx", "ty", "mvt")
        .withColumn("ztxy", MapBuild.packZtxy(col("z"), col("tx"), col("ty")))
        .join(broadcast(dirty), Seq("map_key", "ztxy"), "left_anti")
        .drop("ztxy")
      writeTiles(epsg, clean.unionByName(fresh), tilesPath)
      graft.core.Lifecycle.freeCheckpoint(dirty)
      merge.fine.unpersist(); merge.coarse.unpersist(); deltaTop.unpersist()
    }
    mergedPoints.unpersist(); delta.unpersist()
    writeManifest(workDir,
      Manifest(version, pointsPath, tilesPath, streamBatch))
  }
}
