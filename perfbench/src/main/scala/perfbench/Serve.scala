package perfbench

import java.util.concurrent.{CountDownLatch, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.functions._
import graft.core.{Salt, YearRange}
import graft.functions.{Mvt, PointBlob}
import graft.operators.TileServe
import graft.sources.{KeyedSink, Workflow}

/** The `serve` workload: GETs against a built store, no Spark job.
  *
  * An open loop sends seed-drawn requests on a fixed schedule to a pool of
  * nproc threads: 3 in 4 are `TileServe.serveTile` (zoom uniform over 0–6,
  * the tile uniform among that zoom's stored keys in a seed-drawn
  * projection), the rest `TileServe.servePoints` of a small view. Each
  * request carries a year range and BoR set from a small fixed list.
  * Latency is timed from each request's due time.
  */
object Serve {
  import StorePathBench._

  val Years = Seq(YearRange.Unbounded, YearRange(Some(1995), Some(2005)),
    YearRange(Some(2000), None), YearRange(None, Some(1998)))
  val Bors = Seq(Seq.empty[Int], Seq(0), Seq(0, 1), Seq(2))
  /** Distinct requests the oracle answers in advance. Per-request cost is
    * heavy-tailed (a z0 tile of a large view holds thousands of features),
    * so the pool is large enough that its mean cost barely moves with the
    * seed. */
  val TilePool = 768
  val PointPool = 256
  /** The fixed rate `op_ms` (the p50) is measured at: a fifth of the ~1,000
    * req/s a 4-core box sustains within the p99 limit below, so the p50 is
    * mostly service time. At 400 req/s it spread 27% across runs. */
  val RefRate = 200.0
  /** p99 limit of a sustained rate: twice the reference's published
    * "sub 5 ms" serve envelope. */
  val LatencyLimitMs = 10.0
  /** Seconds a traced run spends searching for that rate. */
  val MaxRateBudgetS = 15.0

  sealed trait Req
  final case class TileReq(epsg: String, mapKey: String, z: Int, x: Long, y: Long,
      years: YearRange, bors: Seq[Int]) extends Req {
    def key = s"$epsg:$mapKey:$z:$x:$y"
  }
  final case class PointReq(mapKey: String, years: YearRange, bors: Seq[Int]) extends Req

  private def call(spark: org.apache.spark.sql.SparkSession, store: String, r: Req): Seq[Any] =
    r match {
      case t: TileReq => TileServe.serveTile(spark, store, t.epsg, t.mapKey, t.z, t.x, t.y,
        t.years, t.bors)
      case p: PointReq => TileServe.servePoints(spark, store, p.mapKey, p.years, p.bors)
    }

  // ------------------------------------------------------------ oracle

  /** The expected answer from blobs read through the Spark scan arm: MVT
    * features filtered by BoR layer and year, summed per pixel. */
  private def tileAnswer(blobs: Seq[Array[Byte]], t: TileReq): Seq[Any] =
    blobs.flatMap(Mvt.decodeTile).flatMap { f =>
      val bor = f.layer.stripPrefix("bor").toInt
      val kept = f.yearCounts.iterator.collect {
        case (yr, n) if t.years.contains(if (yr == 0) None else Some(yr)) => n
      }.sum
      if ((t.bors.isEmpty || t.bors.contains(bor)) && kept > 0) Some(((f.x, f.y), kept)) else None
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.map { case ((x, y), n) => (x, y, n) }
      .sortBy(t => (t._1, t._2))

  private def pointAnswer(blobs: Seq[Array[Byte]], p: PointReq): Seq[Any] =
    blobs.flatMap(PointBlob.decode).filter { r =>
      val yr = (r.borYear / 100).toInt
      (p.bors.isEmpty || p.bors.contains((r.borYear % 100).toInt)) &&
        p.years.contains(if (yr == 0) None else Some(yr))
    }.map(r => (r.lat10, r.lng10, r.borYear, r.count))

  // ------------------------------------------------------------ open loop

  private final case class Window(rate: Double, latMs: Array[Double], lateMs: Array[Double],
      failed: Int, backlog: Int, cpuMs: Double, wallS: Double) {
    def n = latMs.length
    def p(q: Double) = percentile(latMs.toSeq, q)
    def achieved = n / wallS
    def passes = failed == 0 && p(0.99) <= LatencyLimitMs && backlog <= rate * LatencyLimitMs / 1e3 + 1
  }

  private final class Loop(ctx: Ctx, store: String, pool: ExecutorService,
      tiles: IndexedSeq[TileReq], points: IndexedSeq[PointReq], answers: Map[Req, Seq[Any]]) {
    private var windows = 0

    private def draw(rnd: scala.util.Random): Req =
      if (rnd.nextInt(4) < 3) tiles(rnd.nextInt(tiles.size)) else points(rnd.nextInt(points.size))

    def run(rate: Double, seconds: Double, inject: Boolean): Window = {
      windows += 1
      val rnd = new scala.util.Random(ctx.args.seed * 1000003L + windows)
      val n = math.max(1, math.round(rate * seconds).toInt)
      val reqs = Array.fill[Req](n)(draw(rnd))
      val lat = new Array[Double](n)
      val late = new Array[Double](n)
      val end = new Array[Long](n)
      val bad = new java.util.concurrent.atomic.AtomicInteger()
      val done = new CountDownLatch(n)
      val periodNs = 1e9 / rate
      val c0 = processCpuNs()
      val start = System.nanoTime() + 1000000L
      var i = 0
      while (i < n) {
        val due = start + (i * periodNs).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        late(i) = (now - due) / 1e6
        val k = i
        pool.execute { () =>
          val ok =
            try {
              if (inject && ctx.args.inject == "throw" && k == 5)
                throw new IllegalStateException("injected failure (benchmark-side)")
              val got = call(ctx.spark, store, reqs(k))
              val shown = if (inject && ctx.args.inject == "wrong_answer" && k == 3) got :+ "extra" else got
              shown == answers(reqs(k))
            } catch { case NonFatal(_) => false }
          end(k) = System.nanoTime()
          // a failed request misses every latency limit
          lat(k) = if (ok) (end(k) - due) / 1e6 else Double.PositiveInfinity
          if (!ok) bad.incrementAndGet()
          done.countDown()
        }
        i += 1
      }
      val lastDue = start + ((n - 1) * periodNs).toLong
      if (!done.await(120, TimeUnit.SECONDS))
        throw new IllegalStateException(s"requests still running 120 s after the window at $rate/s")
      val stop = end.max
      val w = Window(rate, lat, late, bad.get, end.count(_ > lastDue),
        (processCpuNs() - c0) / 1e6, (stop - start) / 1e9)
      ctx.attempted += n
      if (w.failed > 0) (0 until w.failed).foreach(j => ctx.fail(s"request at $rate/s: wrong answer or error"))
      w
    }
  }

  // -------------------------------------------------------------- traced

  private val footerProbe = scala.util.Try(
    KeyedSink.getClass.getMethod("footerCacheProbe", classOf[String])).toOption

  /** Whether every parquet footer of the GET's salt directory is already in
    * KeyedSink's footer cache (None when the cache offers no probe). */
  private def footersResident(dir: String, modulus: Int, key: String): Option[Boolean] =
    footerProbe.map { m =>
      parquetFiles(dir, modulus, key).forall(f =>
        m.invoke(KeyedSink, f).asInstanceOf[(Int, Boolean)]._2)
    }

  private def parquetFiles(dir: String, modulus: Int, key: String): Seq[String] = {
    val d = java.nio.file.Paths.get(dir, s"salt=${Salt(modulus).saltOf(key)}")
    if (!java.nio.file.Files.exists(d)) Nil
    else scala.util.Using.resource(java.nio.file.Files.list(d))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.sorted)
  }

  private val footers = mutable.HashMap.empty[String, org.apache.parquet.hadoop.metadata.ParquetMetadata]

  /** Rows in the row groups a GET reads: the groups whose key min/max
    * covers the key, as the footers list them. */
  private def rowsExamined(dir: String, modulus: Int, key: String): Long = {
    val kb = org.apache.parquet.io.api.Binary.fromString(key)
    parquetFiles(dir, modulus, key).map { f =>
      val footer = footers.getOrElseUpdate(f, org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(f),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER))
      val schema = footer.getFileMetaData.getSchema
      val keyIdx = (0 until schema.getFieldCount).find(i => schema.getType(i).getName == "key").get
      footer.getBlocks.asScala.filter { b =>
        val st = b.getColumns.get(keyIdx).getStatistics
        st == null || st.isEmpty || !st.hasNonNullValue ||
          (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].compareTo(kb) <= 0 &&
            st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].compareTo(kb) >= 0)
      }.map(_.getRowCount).sum
    }.sum
  }

  /** One request through the serve composition, a layer at a time:
    * manifest → lookupDirect → decode → filter. Returns the answer and the
    * root span's duration in ms; the layer spans go to the context. */
  private def tracedCall(ctx: Ctx, store: String, op: Int, r: Req,
      layers: mutable.Map[String, mutable.ArrayBuffer[Double]],
      hits: mutable.ArrayBuffer[Boolean], examined: mutable.ArrayBuffer[Long]): (Seq[Any], Double) = {
    def now = System.nanoTime()
    def ms(a: Long, b: Long) = (b - a) / 1e6
    val base = System.currentTimeMillis() - System.nanoTime() / 1e6
    def span(name: String, a: Long, b: Long): Unit = {
      ctx.spans += Span(op, name, "get_request", base + a / 1e6, base + b / 1e6)
      layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms(a, b)
    }
    val (modulus, key, blobCol) = r match {
      case t: TileReq => (Workflow.TileSaltModulus, t.key, "mvt")
      case p: PointReq => (Workflow.PointSaltModulus, p.mapKey, "blob")
    }
    def pathIn(m: Workflow.Manifest) = r match {
      case t: TileReq => s"${m.tiles}/srs=${t.epsg.replace(':', '_')}/zoom=${t.z}"
      case _: PointReq => s"${m.points}_blobs"
    }
    // probed before the root span opens, so the probe is not timed
    val resident = footersResident(pathIn(Workflow.readManifest(store).get), modulus, key)
    val t0 = now
    val m = Workflow.readManifest(store).get
    val t1 = now
    val path = pathIn(m)
    val t2 = now
    val rows = KeyedSink.lookupDirect(path, modulus, key)
    val t3 = now
    val blobs = rows.map(_.getAs[Array[Byte]](blobCol))
    val t4 = now
    r match {
      case _: TileReq => blobs.foreach(Mvt.decodeTile)
      case _: PointReq => blobs.foreach(PointBlob.decode)
    }
    val t5 = now
    val answer: Seq[Any] = r match {
      case t: TileReq => TileServe.tileFilterAggregate(blobs, t.years, t.bors)
      case p: PointReq => TileServe.pointsFilterDecode(blobs, p.years, p.bors)
    }
    val t6 = now
    ctx.spans += Span(op, "get_request", "", base + t0 / 1e6, base + t6 / 1e6)
    span("manifest", t0, t1)
    span("get", t2, t3)
    span(if (r.isInstanceOf[TileReq]) "mvt_decode" else "point_decode", t4, t5)
    // the filter call decodes again; its own share is the difference
    layers.getOrElseUpdate("filter", mutable.ArrayBuffer.empty) += ms(t5, t6) - ms(t4, t5)
    ctx.spans += Span(op, "filter", "get_request", base + t5 / 1e6, base + t6 / 1e6)
    layers.getOrElseUpdate("self", mutable.ArrayBuffer.empty) +=
      ms(t0, t6) - ms(t0, t1) - ms(t2, t3) - ms(t4, t5) - ms(t5, t6)
    resident.foreach(hits += _)
    if (rows.nonEmpty) examined += rowsExamined(path, modulus, key)
    (answer, ms(t0, t6))
  }

  // ----------------------------------------------------------------- run

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val store = ctx.work.resolve("store").toString
    val m = ctx.setUp {
      val input = ctx.work.resolve("input").toString
      writeLineitem(spark, ctx.args.seed, ctx.args.rows, input)
      Workflow.build(spark, input, store, Projections, MaxZoom)
    }

    // the request pool, drawn from the seed over the stored keys
    val rnd = new scala.util.Random(ctx.args.seed)
    val tileKeys = ctx.checks.read.parquet(m.tiles)
      .select(col("srs").cast("string"), col("zoom").cast("int"), col("map_key"), col("tx"), col("ty"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sorted.groupBy(r => (r._1, r._2))
    val tiles = (0 until TilePool).map { _ =>
      val epsg = Projections(rnd.nextInt(Projections.size))
      val keys = tileKeys((epsg.replace(':', '_'), rnd.nextInt(MaxZoom + 1)))
      val (_, z, k, x, y) = keys(rnd.nextInt(keys.length))
      TileReq(epsg, k, z, x, y, Years(rnd.nextInt(Years.size)), Bors(rnd.nextInt(Bors.size)))
    }
    val blobKeys = ctx.checks.read.parquet(s"${m.points}_blobs").select("map_key").collect()
      .map(_.getString(0)).sorted
    val points = (0 until PointPool).map(_ => PointReq(blobKeys(rnd.nextInt(blobKeys.length)),
      Years(rnd.nextInt(Years.size)), Bors(rnd.nextInt(Bors.size))))

    // SinkSpec's oracle: the blobs read through the Spark scan arm (salted
    // parquet scan + key predicate, as KeyedSink.lookup), batched over the pool
    def scan(path: String, keys: Seq[String], blobCol: String): Map[String, Seq[Array[Byte]]] =
      ctx.checks.read.parquet(path).filter(col("key").isin(keys.distinct: _*))
        .select("key", blobCol).collect()
        .groupMap(_.getString(0))(_.getAs[Array[Byte]](1)).map { case (k, v) => k -> v.toSeq }
    val tileBlobs = scan(m.tiles, tiles.map(_.key), "mvt")
    val pointBlobs = scan(s"${m.points}_blobs", points.map(_.mapKey), "blob")
    val answers: Map[Req, Seq[Any]] =
      tiles.map(t => (t: Req) -> tileAnswer(tileBlobs.getOrElse(t.key, Nil), t)).toMap ++
        points.map(p => (p: Req) -> pointAnswer(pointBlobs.getOrElse(p.mapKey, Nil), p))

    // warm-up, every answer checked: each pool request once, so the serve
    // path is compiled and the footer cache filled; then the build's
    // garbage is collected so its pause does not land in a measured window
    (tiles ++ points).foreach { r =>
      ctx.attempted += 1
      val ok = try call(spark, store, r) == answers(r) catch { case NonFatal(_) => false }
      if (!ok) ctx.fail(s"warm-up $r")
    }
    System.gc()
    val pool = Executors.newFixedThreadPool(ctx.cpus, (r: Runnable) => {
      val t = new Thread(r, "perfbench-serve"); t.setDaemon(true); t
    })
    val before = if (ctx.args.trace) ctx.meter.totals else null
    try {
      val loop = new Loop(ctx, store, pool, tiles, points, answers)
      val ref = loop.run(RefRate, math.max(1.0, ctx.args.seconds), inject = true)
      ctx.put("op_ms", ref.p(0.5), "ms")
      ctx.put("op_cpu_ms", ref.cpuMs / ref.n, "ms")
      ctx.put("serve.p50_ms", ref.p(0.5), "ms")
      ctx.put("serve.p99_ms", ref.p(0.99), "ms")
      ctx.put("serve.requests_at_ref", ref.n.toDouble, "count")
      ctx.put("loadgen.late_ms_p99", percentile(ref.lateMs.toSeq, 0.99), "ms")

      if (ctx.args.trace) {
        // highest fixed rate whose p99 meets the limit with no growing
        // backlog: ×1.5 steps up from the reference rate, then two
        // bisections, within a fixed budget
        val deadline = System.nanoTime() + (MaxRateBudgetS * 1e9).toLong
        def probe(rate: Double): Option[Window] = {
          val secs = math.max(1.0, 1000 / rate)
          if ((deadline - System.nanoTime()) / 1e9 < secs) None
          else Some(loop.run(rate, secs, inject = false))
        }
        var best: Option[Window] = if (ref.passes) Some(ref) else None
        var failRate = Double.NaN
        var rate = if (ref.passes) RefRate * 1.5 else RefRate / 1.5
        var searching = true
        while (searching) {
          probe(rate) match {
            case None => searching = false
            case Some(w) if w.passes =>
              best = Some(w)
              if (failRate.isNaN) rate *= 1.5 else searching = false
            case Some(_) =>
              failRate = rate
              if (best.isEmpty) rate /= 1.5 else searching = false
          }
        }
        var steps = 0
        while (steps < 2 && best.nonEmpty && !failRate.isNaN) {
          val mid = math.sqrt(best.get.rate * failRate)
          probe(mid) match {
            case Some(w) if w.passes => best = Some(w)
            case Some(_) => failRate = mid
            case None => steps = 2
          }
          steps += 1
        }
        ctx.put("serve.max_rps", best.map(_.achieved).getOrElse(0.0), "1/s")
        val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
        val hits = mutable.ArrayBuffer.empty[Boolean]
        val examined = mutable.ArrayBuffer.empty[Long]
        val tracedMs = mutable.ArrayBuffer.empty[Double]
        val plainMs = mutable.ArrayBuffer.empty[Double]
        var op = 0
        (tiles ++ points).foreach { r =>
          ctx.attempted += 1
          try {
            val (plain, s) = timed(call(spark, store, r))
            plainMs += s * 1e3
            val (traced, ms) = tracedCall(ctx, store, op, r, layers, hits, examined)
            tracedMs += ms
            // a span breakdown of a different computation is no breakdown
            if (traced != plain || plain != answers(r))
              ctx.fail(s"traced composition differs from the served answer for $r")
          } catch { case NonFatal(e) => ctx.fail(s"traced $r: $e") }
          op += 1
        }
        def p(name: String, q: Double) = percentile(layers.getOrElse(name, Nil).toSeq, q)
        ctx.put("op.s", median(tracedMs.toSeq) / 1e3, "s")
        ctx.put("trace.overhead_s", (median(tracedMs.toSeq) - median(plainMs.toSeq)) / 1e3, "s")
        ctx.put("workflow.driver_s", median(layers.getOrElse("self", Nil).toSeq) / 1e3, "s")
        ctx.put("manifest.ms_p50", p("manifest", 0.5), "ms")
        ctx.put("get.ms_p50", p("get", 0.5), "ms")
        ctx.put("get.ms_p99", p("get", 0.99), "ms")
        ctx.put("get.footer_hit_ratio",
          if (hits.isEmpty) 0.0 else hits.count(identity).toDouble / hits.size, "ratio")
        ctx.put("get.rows_examined_per_hit",
          if (examined.isEmpty) 0.0 else examined.sum.toDouble / examined.size, "count")
        ctx.put("mvt_decode.ms_p50", p("mvt_decode", 0.5), "ms")
        ctx.put("mvt_decode.ms_p99", p("mvt_decode", 0.99), "ms")
        ctx.put("point_decode.ms_p50", p("point_decode", 0.5), "ms")
        ctx.put("filter.ms_p50", p("filter", 0.5), "ms")
        ctx.put("trace.unaccounted_s", 0.0, "s")
        ctx.drain()
        val c = ctx.meter.totals.since(before)
        ctx.put("spark.jobs", c.jobs.toDouble, "count")
        ctx.put("spark.stages", c.stages.toDouble, "count")
        ctx.put("spark.tasks", c.tasks.toDouble, "count")
        ctx.put("spark.cpu_s", c.cpuS, "s")
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
  }
}
