package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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

  /** The four projections the store builds (TileMapBuilder.java:52-70):
    * the default of every entry, and the only ones an entry accepts. */
  val AllProjections = Seq("EPSG:4326", "EPSG:3857", "EPSG:3575", "EPSG:3031")

  /** Build both index tables for one scale-factor dir, then swap the
    * manifest. Returns the new manifest.
    *
    * `maxZoom`/`projections` size the tile pyramid: the default (z6, all
    * four SRS) is the serving-store depth the sandbox data warrants; the
    * reference's production build goes to z16 (TileMapBuilder.java:52-70 —
    * 17 zooms × 4 projections), which callers get by passing maxZoom = 16.
    * `maxZoom` must sit in [`StateCoarseZoom`, 16] and every projection in
    * [[AllProjections]]; both are checked before any job runs. Every depth
    * writes each projection's tiles once ([[writeTiles]]), and the writes
    * run as concurrent Spark jobs ([[buildFrom]]).
    */
  def build(spark: SparkSession, sfDir: String, workDir: String,
      projections: Seq[String] = AllProjections, maxZoom: Int = 6): Manifest = {
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
    *
    * After the snapshot barrier every write reads only persisted inputs, so
    * the points store, the blob store and each projection's tile store,
    * fine state and coarse state run as concurrent Spark jobs
    * ([[writeConcurrently]]) instead of the reference's one-after-another
    * driver loop (TileMapBuilder.java:270-272). A projection's max-zoom
    * pixel table is persisted from the start of its first write to the end
    * of its last ([[Shared]]). Every persisted frame is freed in a
    * `finally`, and the manifest swaps only after every write succeeded; a
    * failed write's exception propagates as itself and leaves the manifest
    * as it was. Plans and store bytes are those of sequential writes.
    */
  def buildFrom(spark: SparkSession, occ: DataFrame, workDir: String,
      projections: Seq[String] = AllProjections, maxZoom: Int = 6): Manifest = {
    import graft.operators.{MapBuild, OccurrenceView, PointEncode, TileEncode}
    checkArgs(projections, maxZoom)
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
    val occSnapshot = occ.persist(StorageLevel.MEMORY_AND_DISK)
    // the max-zoom pixel table IS the store's sum-mergeable state — written
    // alongside the blobs so incrementalUpdate() can absorb the next ingest
    // batch by keyed addition instead of a corpus rescan; stored in the
    // prunable fine/coarse layout so that merge reads only the delta's
    // coarse-cell footprint. Its tile write and both state writes read it.
    val tops = projections.map(epsg =>
      epsg -> new Shared(3, keep => keep(MapBuild.pixelAggAt(occSnapshot, epsg, maxZoom))))
    try {
      occSnapshot.count() // materialization barrier: one source scan, here
      val exploded = MapBuild.explodeMapKeys(occSnapshot)
      // points store: per-view feature rows keyed by map_key (salt 10,
      // MapBuilder.java:92)
      val points = () => KeyedSink.writeSalted(MapBuild.pointAgg(exploded),
        col("map_key"), PointSaltModulus, pointsPath)
      // binary point-blob store for SMALL views — one deterministic
      // PointFeatures blob per view, the reference's large/small bifurcation
      // (MapBuilder.java:92-104): big views are served from the tile pyramid,
      // small views from a single blob GET
      val blobs = () => KeyedSink.writeSalted(
        PointEncode.pointBlobs(spark, MapBuild.pointAgg(MapBuild.filterToViews(exploded,
          MapBuild.largeViews(occSnapshot, OccurrenceView.Threshold), keep = false))),
        col("map_key"), PointSaltModulus, s"${pointsPath}_blobs")
      // per projection: MVT blobs for every zoom in one tile write, then the
      // fine and coarse state
      val srsWrites = tops.map { case (epsg, top) =>
        val state = s"$workDir/v$version/state/${srsDir(epsg)}"
        Seq[DataFrame => Unit](
          t => writeTiles(epsg, TileEncode.mvtLevels(spark, MapBuild.chunkedLevels(t, maxZoom,
            0, maxZoom, None, StateExtraKeys, StateValueCols)), tilesPath),
          t => MapBuild.writeFineCells(t, s"$state/fine", maxZoom, StateCoarseZoom),
          t => MapBuild.writeCoarseCells(MapBuild.rollupPixels(t, maxZoom, StateCoarseZoom,
            StateExtraKeys, StateValueCols), s"$state/coarse")
        ).map(w => () => top.use(w))
      }
      writeConcurrently(spark, longestFirst(srsWrites, blobs, points))
    } finally {
      tops.foreach(_._2.free())
      occSnapshot.unpersist()
    }
    writeManifest(workDir, Manifest(version, pointsPath, tilesPath))
  }

  /** The arguments of [[buildFrom]] and [[incrementalUpdate]], checked
    * before any job runs or any directory is written: the state layout
    * needs maxZoom ≥ [[StateCoarseZoom]], the pixel address stops at
    * OccurrenceView.MaxZoom (16), a projection outside [[AllProjections]]
    * has no pixel math, and a repeated one would write its stores twice at
    * once.
    */
  private def checkArgs(projections: Seq[String], maxZoom: Int): Unit = {
    val deepest = graft.operators.OccurrenceView.MaxZoom
    require(maxZoom >= StateCoarseZoom && maxZoom <= deepest,
      s"maxZoom must sit in [$StateCoarseZoom, $deepest], got $maxZoom")
    val unknown = projections.filterNot(AllProjections.contains)
    require(unknown.isEmpty, s"unsupported projections ${unknown.mkString(", ")}; " +
      s"the store builds ${AllProjections.mkString(", ")}")
    require(projections.distinct.size == projections.size,
      s"repeated projections in ${projections.mkString(", ")}")
  }

  /** Frames that `users` writes of one store call read, persisted through
    * the `keep` function `make` is given: made when the first of those
    * writes starts, freed when the last one ends, so a projection holds
    * its pixel table only while its writes run. [[free]], which the caller
    * also calls in a `finally`, releases even what a `make` that failed
    * halfway persisted.
    */
  private final class Shared[T](users: Int, make: (DataFrame => DataFrame) => T) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var left = users
    // a lazy val initializes under this object's lock, once; a `make` that
    // threw is retried by the next write
    private lazy val made = make { df => held += df; df.persist(StorageLevel.MEMORY_AND_DISK) }

    def use(write: T => Unit): Unit =
      try write(made) finally synchronized { left -= 1; if (left == 0) free() }

    def free(): Unit = synchronized { held.foreach(_.unpersist()); held.clear() }
  }

  /** The submission order of a store call's writes, longest first as
    * traced on a sequential perfbench `build` on 4 cores (tiles 1.28 s,
    * blobs 0.97, fine state 0.68, points 0.61, coarse state 0.33): every
    * projection's tile write, the blob store, every fine state, the points
    * store, every coarse state. `srs` holds each projection's (tiles,
    * fine, coarse) writes.
    */
  private def longestFirst(srs: Seq[Seq[() => Unit]], blobs: () => Unit,
      points: () => Unit): Seq[() => Unit] =
    srs.map(_(0)) ++ Seq(blobs) ++ srs.map(_(1)) ++ Seq(points) ++ srs.map(_(2))

  /** Runs `writes` as concurrent Spark jobs and returns when all have
    * ended. They take a pool of min(#writes, defaultParallelism) threads,
    * made per call and shut down before this returns, in the order given.
    * Each runs under `SQLExecution.withThreadLocalCaptured`, so the
    * caller's active session and SparkContext local properties carry over
    * (EventStream calls both store entries inside `foreachBatch`, whose
    * execution id is one of them). Once a write fails, writes not yet
    * started are skipped; every started one is waited for, then the first
    * failure is rethrown as itself.
    */
  private def writeConcurrently(spark: SparkSession, writes: Seq[() => Unit]): Unit = {
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(
      math.min(writes.size, spark.sparkContext.defaultParallelism),
      (r: Runnable) => {
        val t = new Thread(r, s"$WriteThreadPrefix${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    val failure = new AtomicReference[Throwable]()
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    try {
      writes.map(w => SQLExecution.withThreadLocalCaptured(session, pool) {
        if (failure.get == null)
          try w() catch { case t: Throwable => failure.compareAndSet(null, t) }
      }).foreach(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    Option(failure.get).foreach(t => throw t)
  }

  /** Name prefix of [[writeConcurrently]]'s pool threads. */
  private[sources] val WriteThreadPrefix = "store-write-"

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
    * The arguments are checked as [[build]]'s are, before any job runs.
    * As in [[buildFrom]], the points store, the blob store and each
    * projection's tile store, fine state and coarse state run as concurrent
    * Spark jobs ([[writeConcurrently]]); the merged points and each
    * projection's merge are persisted from the start of their first write
    * to the end of their last, everything persisted is freed in a
    * `finally`, and the manifest swaps only after every write succeeded.
    *
    * At production scale the clean-row passthrough becomes a file-level
    * manifest reference (only dirty salt partitions rewritten); here the
    * copy is the parquet-store analog. Falls back to [[build]] semantics
    * only in that a huge delta simply dirties most tiles.
    */
  def incrementalUpdate(spark: SparkSession, deltaOcc: DataFrame, workDir: String,
      projections: Seq[String] = AllProjections,
      maxZoom: Int = 6, streamBatch: Long = -1L): Manifest = {
    import graft.operators.{MapBuild, OccurrenceView, PointEncode, TileEncode}
    checkArgs(projections, maxZoom)
    val prev = readManifest(workDir).getOrElse(
      throw new IllegalStateException(s"no manifest under $workDir — build() first"))
    val version = prev.version + 1
    val prevState = s"$workDir/v${prev.version}/state"
    val pointsPath = s"$workDir/v$version/points"
    val tilesPath = s"$workDir/v$version/tiles"
    val statePath = s"$workDir/v$version/state"

    val delta = deltaOcc.persist(StorageLevel.MEMORY_AND_DISK)
    // ---- points store: state-merge, read by the points and blob writes
    val merged = new Shared(2, keep => keep(spark.read.parquet(prev.points)
      .select("map_key", "lat10", "lng10", "bor_year", "occ_count")
      .unionByName(MapBuild.pointAgg(MapBuild.explodeMapKeys(delta)))
      .groupBy("map_key", "lat10", "lng10", "bor_year")
      .agg(sum("occ_count").as("occ_count"))))
    // ---- tiles store: per projection, merge state + dirty-only re-encode.
    // The state READ is delta-proportional too (the round-6 audit's one
    // scale caveat): the fine state is read through a coarse-cell partition
    // filter (clean cells' files never open), clean cells carry over to the
    // new version by FILE COPY (the manifest-reference analog), and zooms
    // below StateCoarseZoom — whose dirty tiles span clean cells — derive
    // from the zc-grain coarse side table instead of the full state.
    // Pruned merge + dirty recompute through the SHARED kernel
    // (MapBuild.PrunedMerge) — the q145 operator runs the same one on its
    // long-keyed `total` state; here the state schema carries bor_year.
    // Both merges are persisted: each is written as the new state AND read
    // by the recompute
    val merges = projections.map(epsg => epsg -> new Shared(3, keep => {
      val deltaTop = keep(MapBuild.pixelAggAt(delta, epsg, maxZoom))
      val merge = new MapBuild.PrunedMerge(spark, s"$prevState/${srsDir(epsg)}",
        deltaTop, maxZoom, StateCoarseZoom, StateExtraKeys, StateValueCols)
      keep(merge.fine)
      keep(merge.coarse)
      (deltaTop, merge)
    }))
    try {
      delta.count() // snapshot barrier, as in build()
      val points = () => merged.use(KeyedSink.writeSalted(_, col("map_key"),
        PointSaltModulus, pointsPath))
      // blob store, delta-proportional: a view's blob can only change if the
      // delta touched the view, and a view can only ENTER the small side if
      // the delta touched it (counts grow monotonically) — so re-encode
      // exactly smallKeys ∩ dirtyViews and pass every other small blob
      // through from the previous version (views that LEFT the small side
      // are in dirtyViews, so the passthrough can't resurrect them)
      val blobs = () => merged.use { mergedPoints =>
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
      }
      val srsWrites = merges.map { case (epsg, shared) =>
        val state = s"$statePath/${srsDir(epsg)}"
        Seq[((DataFrame, MapBuild.PrunedMerge)) => Unit](
          { case (deltaTop, merge) =>
            // only pixels under dirty tiles re-encode; every clean tile
            // passes through from the previous version by one broadcast
            // anti-join, and the projection is written once
            val dirty = MapBuild.dirtyTiles(deltaTop, 0, maxZoom)
            try {
              val fresh = TileEncode.mvtLevels(spark, merge.levels(dirty, 0, identity))
              val clean = spark.read.parquet(s"${prev.tiles}/${srsDir(epsg)}")
                .select("map_key", "z", "tx", "ty", "mvt")
                .withColumn("ztxy", MapBuild.packZtxy(col("z"), col("tx"), col("ty")))
                .join(broadcast(dirty), Seq("map_key", "ztxy"), "left_anti")
                .drop("ztxy")
              writeTiles(epsg, clean.unionByName(fresh), tilesPath)
            } finally graft.core.Lifecycle.freeCheckpoint(dirty)
          },
          { case (_, merge) =>
            MapBuild.writeFineCells(merge.fine, s"$state/fine", maxZoom, StateCoarseZoom)
            val dirtyDirs = merge.dirtyPts.map(p => s"pt=$p").toSet
            scala.util.Using.resource(
                Files.list(Paths.get(s"$prevState/${srsDir(epsg)}/fine"))) { st =>
              st.forEach { p =>
                val n = p.getFileName.toString
                if (Files.isDirectory(p) && n.startsWith("pt=") && !dirtyDirs(n))
                  copyTree(p, Paths.get(s"$state/fine/$n"))
              }
            }
          },
          { case (_, merge) => MapBuild.writeCoarseCells(merge.coarse, s"$state/coarse") }
        ).map(w => () => shared.use(w))
      }
      writeConcurrently(spark, longestFirst(srsWrites, blobs, points))
    } finally {
      merges.foreach(_._2.free())
      merged.free()
      delta.unpersist()
    }
    writeManifest(workDir,
      Manifest(version, pointsPath, tilesPath, streamBatch))
  }
}
