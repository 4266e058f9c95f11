package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The store-path benchmark: `Workflow.build` → keyed store → `TileServe`
  * GETs, end to end and per layer.
  *
  * {{{
  * StorePathBench --workload build|ingest|serve --seed N --seconds S
  *                --trace 0|1 --work DIR [--rows N] [--inject none|wrong_answer|throw]
  * }}}
  *
  * Inputs are generated from the seed; the library only ever sees the
  * generated lineitem table. The last stdout line is one JSON object:
  * `correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics
  * untraced, the per-layer metrics traced. The lines before it print every
  * metric by name, including the workload-specific figures.
  */
object StorePathBench {

  /** Store shape every workload builds: web mercator, z0–z2. On a 4-core
    * box a warm build of this shape takes ~15 s and the first (cold) one
    * in a JVM 30–60 s, almost all of it per-task job floor (each of the
    * 100 salted write tasks per zoom creates directories, and the local
    * Hadoop filesystem forks a `chmod` per directory). The `Workflow.build`
    * default (four projections, z0–z6) multiplies the writes by ~9 and
    * does not fit a run. z2 is the least depth the state layout allows
    * (`Workflow.StateCoarseZoom`). */
  val Projections = Seq("EPSG:3857")
  val MaxZoom = 2
  /** Generated lineitem rows (the occurrence count). */
  val DefaultRows = 5000

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, rows: Int, inject: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "rows", "inject")
    require(m.keySet.subsetOf(known), s"unknown arguments ${m.keySet -- known}")
    val args = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m.get("rows").map(_.toInt).getOrElse(DefaultRows),
      m.getOrElse("inject", "none"))
    require(Set("build", "ingest", "serve")(args.workload), s"unknown workload ${args.workload}")
    require(Set("none", "wrong_answer", "throw")(args.inject), s"unknown injection ${args.inject}")
    args
  }

  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val args = parseArgs(argv)
    val work = Paths.get(args.work).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    // Bench's session settings, nothing workload-specific
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args, work, cpus, startNs)
    val exit =
      try {
        args.workload match {
          case "build" => StoreOps.runBuild(ctx)
          case "ingest" => StoreOps.runIngest(ctx)
          case "serve" => Serve.run(ctx)
        }
        ctx.report()
        0
      } catch {
        case e: Throwable =>
          // a broken set-up is no result: print nothing on stdout
          System.err.println(s"[perfbench] ${args.workload} aborted: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(exit)
  }

  // ------------------------------------------------------------ helpers

  /** Seeded lineitem table: the columns `OccurrenceView.occFrom` derives the
    * occurrence view from, every value a hash of (row id, seed). One file,
    * like the repository's generated test data.
    */
  def writeLineitem(spark: SparkSession, seed: Long, rows: Int, dir: String): Unit = {
    def h(k: Int, mod: Long) = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(mod))
    spark.range(0, rows, 1, 1).select(
        (h(1, 60000) + 1).as("l_orderkey"),
        (h(2, 2000) + 1).as("l_partkey"),
        (h(3, 100) + 1).as("l_suppkey"),
        (h(4, 7) + 1).cast("int").as("l_linenumber"),
        (h(5, 50) + 1).cast("double").as("l_quantity"),
        (h(6, 10000000) / 100.0).as("l_extendedprice"),
        (h(7, 11) / 100.0).as("l_discount"),
        (h(8, 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (h(9, 3) + 1).cast("int"))
          .as("l_returnflag"),
        when(h(10, 2) === 0, "O").otherwise("F").as("l_linestatus"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      }
    }

  def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.forEach { f =>
        val t = to.resolve(from.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
      }
    }

  /** (bytes, files) of the regular files under `p`, parquet files only when
    * `parquetOnly`. */
  def du(p: Path, parquetOnly: Boolean = false): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else scala.util.Using.resource(Files.walk(p)) { s =>
      var bytes = 0L; var files = 0L
      s.forEach { f =>
        if (Files.isRegularFile(f) && (!parquetOnly || f.toString.endsWith(".parquet"))) {
          bytes += Files.size(f); files += 1
        }
      }
      (bytes, files)
    }

  /** Per-group (rows, xor of row hashes) of a parquet tree: equal digests
    * mean equal row multisets up to a 64-bit hash collision. */
  def digest(spark: SparkSession, path: String, groupCols: Seq[String],
      cols: Seq[String]): Map[String, (Long, Long)] = {
    val keyed = spark.read.parquet(path)
      .withColumn("_g", if (groupCols.isEmpty) lit("") else concat_ws("/", groupCols.map(col): _*))
      .withColumn("_h", xxhash64(cols.map(col): _*))
    keyed.groupBy("_g").agg(count(lit(1)), bit_xor(col("_h"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------------- context

  /** One traced span: a layer boundary inside op `op`. Times are epoch ms
    * with fractions, so spans and Spark's execution events share a clock.
    */
  final case class Span(op: Int, name: String, parent: String, startMs: Double, endMs: Double)

  /** Run-wide state: session, counters, the spans kept in memory, and the
    * metrics the workload reports. */
  final class Ctx(val spark: SparkSession, val args: Args, val work: Path, val cpus: Int,
      startNs: Long) {
    val meter = new Meter
    if (args.trace) spark.sparkContext.addSparkListener(meter)
    var attempted = 0L
    var failed = 0L
    val spans = mutable.ArrayBuffer.empty[Span]
    private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    /** Session for the benchmark's own reads (checks, oracle, key lists).
      * Listing a 100-salt store launches a Spark listing job per read in
      * Bench's settings, which costs more than the read; the library's
      * session keeps those settings untouched. */
    lazy val checks: SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
      s
    }

    /** Runs the workload's set-up; `setup_s` is the time from process start
      * (session included) to its end. One set-up costs a cold store build,
      * so it runs once per run, not repeatedly. */
    def setUp[T](f: => T): T = {
      val r = f
      put("setup_s", (System.nanoTime() - startNs) / 1e9, "s")
      System.err.println(f"[perfbench] set-up done after ${metrics("setup_s")._1}%.2f s")
      r
    }

    def fail(what: String): Unit = {
      failed += 1
      System.err.println(s"[perfbench] FAILED: $what")
    }

    /** Bench's drain point: all task events of finished jobs delivered. */
    def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

    def report(): Unit = {
      put("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")
      val declared = if (args.trace) Metrics.PerLayer else Metrics.EndToEnd
      // a layer the workload does not run reports zero
      declared.foreach { case (name, unit) => if (!metrics.contains(name)) put(name, 0.0, unit) }
      val host = Host.stamp(spark, cpus)
      println(s"""{"host": ${Json.obj(host.map { case (k, v) => k -> Json.str(v) })}}""")
      metrics.foreach { case (k, (v, u)) => println(f"$k%-34s $v%.6f $u") }
      if (args.trace) writeSpans()
      val shown = declared.map { case (name, unit) =>
        val v = metrics.get(name).map(_._1).getOrElse(0.0)
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }
      println(Json.obj(Seq(
        "correct" -> (if (failed == 0) "true" else "false"),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(shown))))
    }

    private def writeSpans(): Unit = {
      val out = work.resolve(s"spans-${args.workload}.jsonl")
      val lines = spans.map(s => Json.obj(Seq("op" -> s.op.toString,
        "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
      Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      System.err.println(s"[perfbench] ${spans.size} spans written to $out")
    }

    /** Listen to Spark only while tracing: untraced ops run unobserved. */
    private var listening = args.trace
    def tracing(on: Boolean): Unit = if (args.trace && on != listening) {
      if (on) spark.sparkContext.addSparkListener(meter)
      else spark.sparkContext.removeSparkListener(meter)
      listening = on
    }

  }
}

/** Declared metric names and units, in BENCHMARK.json's order. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms" -> "ms", "op_cpu_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "op.s" -> "s", "trace.overhead_s" -> "s", "trace.unaccounted_s" -> "s",
    "workflow.driver_s" -> "s", "workflow.executions" -> "count",
    "workflow.cached_mb_after" -> "MB", "store.mb" -> "MB",
    "snapshot.s" -> "s", "snapshot.rows" -> "count",
    "rollup.s" -> "s", "rollup.cpu_s" -> "s", "rollup.shuffle_mb" -> "MB",
    "rollup.barriers" -> "count",
    "state.s" -> "s", "state.cpu_s" -> "s", "state.mb" -> "MB",
    "state.dirty_cells" -> "count", "state.cells" -> "count",
    "other.s" -> "s",
    "mvt_encode.s" -> "s", "mvt_encode.cpu_s" -> "s", "mvt_encode.tiles" -> "count",
    "mvt_encode.mb" -> "MB",
    "point_encode.s" -> "s", "point_encode.cpu_s" -> "s", "point_encode.blobs" -> "count",
    "salted_write.s" -> "s", "salted_write.cpu_s" -> "s", "salted_write.tasks" -> "count",
    "salted_write.files" -> "count", "salted_write.rows" -> "count",
    "salted_write.mb" -> "MB", "salted_write.util" -> "ratio",
    "salted_write.changed_ratio" -> "ratio",
    "manifest.ms_p50" -> "ms", "get.ms_p50" -> "ms", "get.ms_p99" -> "ms",
    "get.footer_hit_ratio" -> "ratio", "get.rows_examined_per_hit" -> "count",
    "mvt_decode.ms_p50" -> "ms", "mvt_decode.ms_p99" -> "ms",
    "point_decode.ms_p50" -> "ms", "filter.ms_p50" -> "ms",
    "serve.p50_ms" -> "ms", "serve.p99_ms" -> "ms", "serve.max_rps" -> "1/s",
    "loadgen.late_ms_p99" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.cpu_s" -> "s", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.peak_exec_mem_mb" -> "MB")

  private val units = (EndToEnd ++ PerLayer).toMap
  def unitOf(name: String): String = units.getOrElse(name,
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("mb")) "MB" else "count")
}

/** Minimal JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** The host stamp every record carries. */
object Host {
  def stamp(spark: SparkSession, cpus: Int): Seq[(String, String)] = {
    val memKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }
        .getOrElse(0L)
    }.getOrElse(0L)
    Seq(
      "nproc" -> cpus.toString,
      "mem_gb" -> f"${memKb / 1048576.0}%.1f",
      "driver_heap_gb" -> f"${Runtime.getRuntime.maxMemory / 1073741824.0}%.2f",
      "spark_master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"))
  }
}
