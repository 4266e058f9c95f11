package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{MapBuild, OccurrenceView, PointEncode, TileEncode}
import graft.sources.Workflow

/** The batch workloads: `build` times `Workflow.build`, `ingest` times
  * `Workflow.incrementalUpdate` of a seeded 40°×40° box of rows against a
  * store built without them.
  */
object StoreOps {
  import StorePathBench._

  private def srsDir(epsg: String) = s"srs=${epsg.replace(':', '_')}"

  /** What one traced op spent per layer, summed over traced ops. */
  private final class LayerSums {
    val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var ops = 0
    def add(k: String, v: Double): Unit = sums(k) += v
    def mean(k: String): Double = if (ops == 0) 0.0 else sums(k) / ops
  }

  /** Layer of an execution inside a Workflow call, from the library frame
    * that ran its action. The op's first `count()` in Workflow is the
    * snapshot barrier; every later one is a per-zoom rollup barrier.
    */
  private def layerOf(site: String, action: String, firstCount: Boolean): String =
    if (site.startsWith("KeyedSink.")) "salted_write"
    else if (site.startsWith("MapBuild.")) "state"
    else if (site.startsWith("Workflow.") && action == "count")
      if (firstCount) "snapshot" else "rollup"
    else if (site.startsWith("Workflow.")) "state"
    else "other"

  private val Layers = Seq("snapshot", "rollup", "state", "salted_write", "other")

  /** Per-layer self time, cpu, shuffle and write counters of one traced op
    * from the executions that started inside it; the root span's time not
    * covered by any execution is the driver's (planning, listing, copies,
    * the manifest swap).
    */
  private def attribute(ctx: Ctx, op: Int, t0: Long, t1: Long, sums: LayerSums): LayerSums = {
    val one = new LayerSums
    ctx.drain()
    val execs = ctx.meter.executionsBetween(t0, t1)
    val rootLayer = mutable.HashMap.empty[Long, String]
    var firstCount = true
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    ctx.spans += Span(op, "workflow", "", t0.toDouble, t1.toDouble)
    execs.foreach { x =>
      val layer = rootLayer.getOrElseUpdate(x.root, {
        val l = layerOf(x.site, x.action, firstCount)
        if (l == "snapshot") firstCount = false
        l
      })
      val c = x.counters
      one.add(s"$layer.cpu_s", c.cpuS)
      one.add(s"$layer.shuffle_mb", c.shuffleWriteBytes / 1e6)
      one.add(s"$layer.tasks", c.tasks.toDouble)
      one.add(s"$layer.rows", c.rowsWritten.toDouble)
      one.add(s"$layer.mb", c.bytesWritten / 1e6)
      if (x.id == x.root) {
        val end = if (x.endMs < 0) t1 else math.min(x.endMs, t1)
        one.add(s"$layer.s", (end - x.startMs) / 1e3)
        if (layer == "rollup") one.add("rollup.barriers", 1.0)
        one.add("workflow.executions", 1.0)
        intervals += ((x.startMs, end))
        ctx.spans += Span(op, s"$layer:${x.site}", "workflow", x.startMs.toDouble, end.toDouble)
      }
    }
    // union of the execution intervals: nested or overlapping executions
    // count once
    var covered = 0L; var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    one.add("workflow.driver_s", (t1 - t0 - covered) / 1e3)
    ctx.meter.forgetBefore(t1 + 1)
    one.sums.foreach { case (k, v) => sums.add(k, v) }
    one
  }

  /** Times `df`'s encode into a count/length aggregate (next to nothing
    * beyond the encode itself); (rows, MB, s, cpu-s). */
  private def timeEncode(ctx: Ctx, df: DataFrame, blobCol: String): (Long, Double, Double, Double) = {
    val t0 = System.currentTimeMillis()
    val (r, s) = timed(df.agg(count(lit(1)), coalesce(sum(length(col(blobCol))), lit(0L))).head())
    val t1 = System.currentTimeMillis()
    ctx.drain()
    val cpu = ctx.meter.executionsBetween(t0, t1).map(_.counters.cpuS).sum
    ctx.meter.forgetBefore(t1 + 1)
    (r.getLong(0), r.getLong(1) / 1e6, s, cpu)
  }

  private def addEncode(sums: LayerSums, layer: String, unit: String,
      r: (Long, Double, Double, Double)): Unit = {
    sums.add(s"$layer.$unit", r._1.toDouble)
    if (layer == "mvt_encode") sums.add("mvt_encode.mb", r._2)
    sums.add(s"$layer.s", r._3)
    sums.add(s"$layer.cpu_s", r._4)
  }

  /** Encode isolation for a build: the same snapshot and level chain the
    * op ran, each encode timed on its own. */
  private def buildIsolation(ctx: Ctx, input: String, sums: LayerSums): Unit = {
    val s2 = MapBuild.noCoalesceSession(ctx.spark)
    val occ = OccurrenceView.occ(s2, input).persist()
    occ.count()
    Projections.foreach { epsg =>
      var level = MapBuild.pixelAggAt(occ, epsg, MaxZoom).persist()
      level.count()
      (MaxZoom to 0 by -1).foreach { z =>
        addEncode(sums, "mvt_encode", "tiles",
          timeEncode(ctx, TileEncode.mvtTiles(s2, level, z), "mvt"))
        if (z > 0) {
          val next = MapBuild.rollupToZoom(level, z, z - 1).persist()
          next.count()
          level.unpersist()
          level = next
        }
      }
      level.unpersist()
    }
    val small = MapBuild.filterToViews(MapBuild.explodeMapKeys(occ),
      MapBuild.largeViews(occ, OccurrenceView.Threshold), keep = false)
    addEncode(sums, "point_encode", "blobs",
      timeEncode(ctx, PointEncode.pointBlobs(s2, MapBuild.pointAgg(small)), "blob"))
    occ.unpersist()
  }

  /** Encode isolation for an ingest: the dirty tiles of every zoom over the
    * merged state, and the dirty small views, as incrementalUpdate
    * re-encodes them. */
  private def ingestIsolation(ctx: Ctx, delta: DataFrame, m: Workflow.Manifest,
      stateDir: String, sums: LayerSums): Unit = {
    val spark = ctx.spark
    val tshift = Integer.numberOfTrailingZeros(OccurrenceView.TileSize)
    Projections.foreach { epsg =>
      val full = spark.read.parquet(s"$stateDir/${srsDir(epsg)}/fine")
        .select("map_key", "px", "py", "bor_year", "occ_count").persist()
      val dirty = MapBuild.pixelAggAt(delta, epsg, MaxZoom)
        .withColumn("z", explode(array((0 to MaxZoom).map(lit): _*)))
        .select(col("map_key"), col("z"),
          expr(s"shiftright(px, $MaxZoom - z + $tshift)").as("tx"),
          expr(s"shiftright(py, $MaxZoom - z + $tshift)").as("ty"))
        .distinct().persist()
      var level = full
      (MaxZoom to 0 by -1).foreach { z =>
        val dirtyZ = dirty.filter(col("z") === z).select("map_key", "tx", "ty")
        val levelDirty = level
          .withColumn("tx", expr(s"shiftright(px, $tshift)"))
          .withColumn("ty", expr(s"shiftright(py, $tshift)"))
          .join(broadcast(dirtyZ), Seq("map_key", "tx", "ty"), "left_semi")
          .drop("tx", "ty")
        addEncode(sums, "mvt_encode", "tiles",
          timeEncode(ctx, TileEncode.mvtTiles(spark, levelDirty, z), "mvt"))
        if (z > 0) {
          val next = MapBuild.rollupToZoom(level, z, z - 1).persist()
          next.count()
          if (!(level eq full)) level.unpersist()
          level = next
        }
      }
      level.unpersist(); full.unpersist(); dirty.unpersist()
    }
    val merged = spark.read.parquet(m.points)
      .select("map_key", "lat10", "lng10", "bor_year", "occ_count")
    val small = merged.groupBy("map_key").agg(sum("occ_count").as("n"))
      .filter(col("n") < OccurrenceView.Threshold).select("map_key")
    val dirtyViews = MapBuild.explodeMapKeys(delta).select("map_key").distinct()
    addEncode(sums, "point_encode", "blobs", timeEncode(ctx,
      PointEncode.pointBlobs(spark, merged
        .join(broadcast(small), Seq("map_key"), "left_semi")
        .join(broadcast(dirtyViews), Seq("map_key"), "left_semi")), "blob"))
  }

  /** Digests of every sub-store of a version: points, blobs, each
    * (projection, zoom) tile sub-store and, given its directory, the state. */
  def storeDigests(spark: SparkSession, m: Workflow.Manifest,
      stateDir: Option[String]): Map[String, (Long, Long)] = {
    val points = digest(spark, m.points, Nil,
      Seq("salted_key", "lat10", "lng10", "bor_year", "occ_count"))
      .map { case (_, v) => "points" -> v }
    val blobs = digest(spark, s"${m.points}_blobs", Nil, Seq("salted_key", "blob"))
      .map { case (_, v) => "blobs" -> v }
    val tiles = digest(spark, m.tiles, Seq("srs", "zoom"), Seq("salted_key", "mvt"))
      .map { case (k, v) => s"tiles/$k" -> v }
    val state = stateDir.toSeq.flatMap { d =>
      Projections.flatMap { epsg =>
        Seq("fine", "coarse").flatMap { part =>
          digest(spark, s"$d/${srsDir(epsg)}/$part", Nil,
            Seq("map_key", "px", "py", "bor_year", "occ_count"))
            .map { case (_, v) => s"state/$epsg/$part" -> v }
        }
      }
    }
    points ++ blobs ++ tiles ++ state
  }

  private def diff(what: String, got: Map[String, (Long, Long)],
      want: Map[String, (Long, Long)]): Option[String] = {
    val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
    if (bad.isEmpty) None
    else Some(s"$what: ${bad.size} sub-stores differ, first ${bad.head}: " +
      s"${got.get(bad.head)} vs ${want.get(bad.head)}")
  }

  /** StoreDeepSpec's conservation check: per projection, every zoom's
    * decoded `0:0` MVT total equals the max zoom's; for EPSG:4326/3857 it
    * also equals the points store's `0:0` total (the polar projections
    * drop the other hemisphere). */
  def conservation(spark: SparkSession, m: Workflow.Manifest): Option[String] = {
    val pointsTotal = spark.read.parquet(m.points)
      .filter(col("map_key") === "0:0").agg(coalesce(sum("occ_count"), lit(0L)))
      .head().getLong(0)
    val totals = spark.read.parquet(m.tiles).filter(col("map_key") === "0:0")
      .select(col("srs").cast("string"), col("zoom").cast("int"), col("mvt")).collect()
      .groupMapReduce(r => (r.getString(0), r.getInt(1)))(r =>
        graft.functions.Mvt.decodeTile(r.getAs[Array[Byte]](2)).map(_.total).sum)(_ + _)
    Projections.iterator.flatMap { epsg =>
      val srs = epsg.replace(':', '_')
      val top = totals.getOrElse((srs, MaxZoom), -1L)
      val expected = if (epsg == "EPSG:4326" || epsg == "EPSG:3857") pointsTotal else top
      (0 to MaxZoom).iterator.collect {
        case z if totals.getOrElse((srs, z), -1L) != expected || top <= 0 =>
          s"conservation: $epsg zoom $z total ${totals.getOrElse((srs, z), -1L)}, " +
            s"expected $expected (max zoom $top, points $pointsTotal)"
      }
    }.nextOption()
  }

  /** Rows of the new version whose bytes are not in the previous one. */
  private def changedRows(spark: SparkSession, m: Workflow.Manifest,
      prev: Workflow.Manifest): Long = {
    def rows(path: String, group: Seq[String], payload: Seq[String]) =
      spark.read.parquet(path)
        .select((group ++ Seq("salted_key")).map(col) :+ xxhash64(payload.map(col): _*).as("h"): _*)
    def changed(a: String, b: String, group: Seq[String], payload: Seq[String]) =
      rows(a, group, payload).join(rows(b, group, payload),
        group ++ Seq("salted_key", "h"), "left_anti").count()
    changed(m.points, prev.points, Nil, Seq("lat10", "lng10", "bor_year", "occ_count")) +
      changed(s"${m.points}_blobs", s"${prev.points}_blobs", Nil, Seq("blob")) +
      changed(m.tiles, prev.tiles, Seq("srs", "zoom"), Seq("mvt"))
  }

  /** (cells, dirty cells) of a version's fine state; a cell is clean when
    * its directory holds exactly the previous version's files (copied). */
  private def stateCells(stateDir: Path, prevStateDir: Option[Path]): (Int, Int) = {
    def cells(d: Path): Map[String, Set[String]] =
      if (!Files.exists(d)) Map.empty
      else scala.util.Using.resource(Files.list(d)) { s =>
        s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("pt=")).map { p =>
          p.getFileName.toString -> scala.util.Using.resource(Files.list(p))(
            _.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet)
        }.toMap
      }
    Projections.foldLeft((0, 0)) { case ((n, dirty), epsg) =>
      val now = cells(stateDir.resolve(srsDir(epsg)).resolve("fine"))
      val before = prevStateDir.map(p => cells(p.resolve(srsDir(epsg)).resolve("fine")))
        .getOrElse(Map.empty)
      (n + now.size, dirty + now.count { case (k, files) => !before.get(k).contains(files) })
    }
  }

  /** One timed op: wall, process cpu, and (traced) the op's Spark counters. */
  private final case class OpTime(wallS: Double, cpuMs: Double, t0: Long, t1: Long,
      counters: Counters)

  private def timeOp(ctx: Ctx)(f: => Unit): OpTime = {
    ctx.meter.resetPeak()
    val before = ctx.meter.totals
    val c0 = processCpuNs()
    val t0 = System.currentTimeMillis()
    val (_, wall) = timed(f)
    val t1 = System.currentTimeMillis()
    val cpuMs = (processCpuNs() - c0) / 1e6
    ctx.drain()
    OpTime(wall, cpuMs, t0, t1, ctx.meter.totals.since(before))
  }

  /** Per-op counters every traced op reports. */
  private def addOpCounters(ctx: Ctx, sums: LayerSums, t: OpTime): Unit = {
    val c = t.counters
    sums.add("op.s", t.wallS)
    sums.add("spark.jobs", c.jobs.toDouble)
    sums.add("spark.stages", c.stages.toDouble)
    sums.add("spark.tasks", c.tasks.toDouble)
    sums.add("spark.cpu_s", c.cpuS)
    sums.add("spark.shuffle_mb", c.shuffleWriteBytes / 1e6)
    sums.add("spark.spill_mb", c.spillBytes / 1e6)
    sums.add("spark.peak_exec_mem_mb", c.peakExecMem / 1e6)
    sums.add("workflow.cached_mb_after", ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  /** The measured loop shared by both batch workloads: ops until the run's
    * seconds are used (at least one), alternating traced and untraced ops
    * in a traced run so the difference is the tracing overhead.
    */
  private def measure(ctx: Ctx)(op: (Int, Boolean, LayerSums) => OpTime): Unit = {
    val sums = new LayerSums
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val plainWalls = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (ctx.args.seconds * 1e9).toLong
    // a traced run needs one untraced op to compare against
    val minOps = if (ctx.args.trace) 2 else 1
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      val traced = ctx.args.trace && i % 2 == 0
      ctx.attempted += 1
      try {
        if (ctx.args.inject == "throw" && i == 0)
          throw new IllegalStateException("injected failure (benchmark-side)")
        ctx.tracing(traced || !ctx.args.trace)
        val t = op(i, traced, sums)
        walls += t.wallS; cpus += t.cpuMs
        System.err.println(f"[perfbench] op $i: ${t.wallS}%.2f s, cpu ${t.cpuMs / 1e3}%.2f s")
        (if (traced) tracedWalls else plainWalls) += t.wallS
        if (traced) sums.ops += 1
      } catch {
        case NonFatal(e) => ctx.fail(s"op $i: $e")
      }
      i += 1
    }
    ctx.tracing(ctx.args.trace)
    val opS = median(walls.toSeq)
    ctx.put("op_ms", opS * 1e3, "ms")
    ctx.put("op_cpu_ms", median(cpus.toSeq), "ms")
    ctx.put("ops", walls.size.toDouble, "count")
    if (ctx.args.trace) {
      ctx.put("trace.overhead_s",
        if (plainWalls.isEmpty) 0.0 else median(tracedWalls.toSeq) - median(plainWalls.toSeq), "s")
      sums.sums.keys.foreach(k => ctx.put(k, sums.mean(k), Metrics.unitOf(k)))
      val s = sums.mean("salted_write.s")
      ctx.put("salted_write.util",
        if (s > 0) sums.mean("salted_write.cpu_s") / (s * ctx.cpus) else 0.0, "ratio")
      val rows = sums.mean("salted_write.rows")
      ctx.put("salted_write.changed_ratio",
        if (rows > 0) sums.mean("salted_write.changed") / rows else 0.0, "ratio")
      // the identity the trace must hold: layer self times + driver = root
      val parts = Layers.map(l => sums.mean(s"$l.s")).sum + sums.mean("workflow.driver_s")
      ctx.put("trace.unaccounted_s", sums.mean("op.s") - parts, "s")
    }
  }

  // ------------------------------------------------------------- build

  def runBuild(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // set-up: the seeded input plus one build whose store is the digest
    // reference (and the JIT warm-up)
    val input = ctx.work.resolve("input").toString
    val ref = ctx.setUp {
      writeLineitem(spark, ctx.args.seed, ctx.args.rows, input)
      Workflow.build(spark, input, ctx.work.resolve("reference").toString, Projections, MaxZoom)
    }
    val reference = storeDigests(ctx.checks, ref, None)

    measure(ctx) { (i, traced, sums) =>
      val opDir = ctx.work.resolve(s"op-$i")
      var m: Workflow.Manifest = null
      val t = timeOp(ctx) {
        m = Workflow.build(spark, input, opDir.toString, Projections, MaxZoom)
      }
      if (traced) {
        val layers = attribute(ctx, i, t.t0, t.t1, sums)
        addOpCounters(ctx, sums, t)
        sums.add("store.mb", du(opDir.resolve("v1"))._1 / 1e6)
        sums.add("snapshot.rows", ctx.args.rows.toDouble)
        sums.add("state.mb", du(opDir.resolve("v1/state"))._1 / 1e6)
        val (cells, dirty) = stateCells(opDir.resolve("v1/state"), None)
        sums.add("state.cells", cells.toDouble); sums.add("state.dirty_cells", dirty.toDouble)
        sums.add("salted_write.files", Seq("points", "points_blobs", "tiles")
          .map(p => du(opDir.resolve(s"v1/$p"), parquetOnly = true)._2).sum.toDouble)
        // no previous version: every row a build writes is new
        sums.add("salted_write.changed", layers.sums("salted_write.rows"))
        buildIsolation(ctx, input, sums)
      }
      val problems = diff("store digest vs the set-up build", storeDigests(ctx.checks, m, None),
        reference).orElse(conservation(ctx.checks, m))
      deleteTree(opDir)
      problems.foreach(p => throw new IllegalStateException(p))
      t
    }
  }

  // ------------------------------------------------------------ ingest

  def runIngest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.args.seed)
    // box corner in whole degrees, the box inside lat [-85, 85)
    val lat0 = -85 + rnd.nextInt(131)
    val lng0 = -180 + rnd.nextInt(321)
    val inBox = col("lat10") >= lat0 * 10 && col("lat10") < (lat0 + 40) * 10 &&
      col("lng10") >= lng0 * 10 && col("lng10") < (lng0 + 40) * 10
    System.err.println(s"[perfbench] ingest box lat [$lat0, ${lat0 + 40}) lng [$lng0, ${lng0 + 40})")
    // set-up: the seeded input and the base store (every row outside the box)
    val input = ctx.work.resolve("input").toString
    val baseStore = ctx.work.resolve("base")
    val base = ctx.setUp {
      writeLineitem(spark, ctx.args.seed, ctx.args.rows, input)
      val s2 = MapBuild.noCoalesceSession(spark)
      Workflow.buildFrom(s2, OccurrenceView.occ(s2, input).filter(!inBox),
        baseStore.toString, Projections, MaxZoom)
    }
    val delta = OccurrenceView.occ(spark, input).filter(inBox)
    val deltaRows = delta.count()
    var expected: Map[String, (Long, Long)] = null

    measure(ctx) { (i, traced, sums) =>
      // restore the base version: its manifest and the state the update
      // merges into (the manifest's points/tiles paths stay the base's)
      val opDir = ctx.work.resolve(s"op-$i")
      Files.createDirectories(opDir)
      Files.copy(baseStore.resolve("manifest.json"), opDir.resolve("manifest.json"))
      copyTree(baseStore.resolve("v1/state"), opDir.resolve("v1/state"))
      var m: Workflow.Manifest = null
      val t = timeOp(ctx) {
        m = Workflow.incrementalUpdate(spark, delta, opDir.toString, Projections, MaxZoom)
      }
      val stateDir = opDir.resolve("v2/state")
      if (traced) {
        attribute(ctx, i, t.t0, t.t1, sums)
        addOpCounters(ctx, sums, t)
        sums.add("store.mb", du(opDir.resolve("v2"))._1 / 1e6)
        sums.add("snapshot.rows", deltaRows.toDouble)
        sums.add("state.mb", du(stateDir)._1 / 1e6)
        val (cells, dirty) = stateCells(stateDir, Some(baseStore.resolve("v1/state")))
        sums.add("state.cells", cells.toDouble); sums.add("state.dirty_cells", dirty.toDouble)
        sums.add("salted_write.files", Seq("points", "points_blobs", "tiles")
          .map(p => du(opDir.resolve(s"v2/$p"), parquetOnly = true)._2).sum.toDouble)
        sums.add("salted_write.changed", changedRows(ctx.checks, m, base).toDouble)
        ingestIsolation(ctx, delta, m, stateDir.toString, sums)
      }
      // StoreIncrementalSpec's check, once per run: the updated store
      // equals a fresh build over base ∪ delta, row for row
      if (expected == null) {
        val fresh = ctx.work.resolve("fresh")
        val s2 = MapBuild.noCoalesceSession(spark)
        val mf = Workflow.buildFrom(s2, OccurrenceView.occ(s2, input), fresh.toString,
          Projections, MaxZoom)
        expected = storeDigests(ctx.checks, mf, Some(fresh.resolve("v1/state").toString))
        deleteTree(fresh)
      }
      val problem = diff("updated store vs a fresh build over base ∪ delta",
        storeDigests(ctx.checks, m, Some(stateDir.toString)), expected)
      deleteTree(opDir)
      problem.foreach(p => throw new IllegalStateException(p))
      t
    }
  }
}
