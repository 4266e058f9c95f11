package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on $SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A full warmup pass at sf0.001 first so JIT/codegen
  * compilation is not charged to the first timed query; timed runs force full
  * materialization through the noop sink (count() could skip projections).
  *
  * Wall-clock on a shared box swings ±30-40% run-to-run (three rounds of
  * judging re-established this), so each timed query ALSO records executor
  * CPU seconds and shuffle bytes from a stage listener — both stable under
  * co-run noise. The stdout line keeps the compact per-query WALL map (the
  * downstream log capture truncates to a ~2 KiB tail) plus whole-run cpu_s /
  * shuffle_mb totals at the END of the line where the tail survives; the full
  * per-query {wall_s, cpu_s, shuffle_mb} table goes to BENCH_DETAIL.json in
  * the working directory (env SPARK_GRAFT_BENCH_DETAIL overrides the path).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle/spill codec: zstd (guide §2.3) — round-11 A/B on the
      // pyramid family measured 2.3–2.5× fewer shuffle bytes written AND
      // ~25–35% less cpu+wall vs the lz4 default (the byte saving more
      // than pays the compressor; scale-independent, so the production
      // justification is the same as the local one). Env-overridable to
      // re-run the A/B: SPARK_GRAFT_IO_CODEC=lz4.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "zstd"))
      // AQE coalescing stays ON (the iterative graph queries need it —
      // q47/q66 measured 2× slower without); the pyramid family instead
      // builds each query on a forked session with coalescing OFF
      // (MapBuild.noCoalesceSession), which is where byte-sized coalescing
      // mis-sized agg state 10–20× and spilled 50 GB at 10× sf0.1.
      // ScaleLab reproduces both A/Bs.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new BenchScale.StageMetrics
    spark.sparkContext.addSparkListener(metrics)

    /** (wall_s, cpu_s, shuffle_mb); wall < 0 marks a failed query. CPU and
      * shuffle attribute to the query via reset-before / settle-after (the
      * listener events land async — settle polls until totals go quiet).
      */
    def run(dir: String, name: String, attribute: Boolean = true)
        : (Double, Double, Double) = {
      metrics.reset()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return (-1.0, 0.0, 0.0)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // builders may persist intermediates (pyramid levels); drop them so
      // one query's cache never skews the next query's timing
      spark.catalog.clearCache()
      // warmup passes discard attribution — skip the ≥50 ms settle poll
      // there (~9 s of wall across a 182-query warmup sweep)
      if (attribute) metrics.settle()
      // WRITE bytes only — the same convention as ScaleLab/PROFILE.md/
      // BASELINE.md tables (write+read would double-count every exchange
      // and make this record incomparable with the lab instruments)
      (dt, metrics.cpuNs / 1e9, metrics.shuffleWrite / 1e6)
    }

    // optional args = subset of query names (targeted timing during tuning)
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.nonEmpty) names0.filter(args.contains) else names0
    names.foreach(run(warmDir, _, attribute = false)) // warmup: JIT every plan shape
    // ONE quiescence barrier after the whole warmup sweep (not per query):
    // the last warmup query's async stage events must not land after the
    // first timed query's reset() and inflate its attribution
    metrics.settle()
    // two timed runs, keep the min-wall run's triple — single runs swing
    // ±40% from GC debt accumulated by earlier queries; System.gc()
    // flattens the baseline. CPU/shuffle ride with the chosen run (their
    // run-to-run spread is a few %, so min-wall selection doesn't bias them)
    val results = names.map { n =>
      System.gc()
      val a = run(sfDir, n)
      System.gc()
      val b = run(sfDir, n)
      val best = if (a._1 < 0) b else if (b._1 < 0) a
        else if (a._1 <= b._1) a else b
      n -> best
    }
    // 2-decimal seconds + short `qNN` keys keep the whole JSON line well
    // under the ~2 KiB tail-truncating log capture downstream; full query
    // names (with the same qNN prefix) live in the correctness report
    def f(v: Double) = "%.2f".format(v)
    // paths/names are interpolated into the gating JSON line — escape so a
    // quote or backslash in a directory path can't produce an unparseable
    // record for the downstream automation
    def jstr(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"; case '"' => "\\\""
      case c if c < ' ' => "\\u%04x".format(c.toInt); case c => c.toString
    } + "\""
    val qs = results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + f(v._1) }
      .mkString("{", ",", "}")
    val ok = results.map(_._2).filter(_._1 >= 0)
    val total = ok.map(_._1).sum
    val cpuTotal = ok.map(_._2).sum
    val shufTotal = ok.map(_._3).sum
    // failed queries are both listed by name AND reflected in the exit code,
    // so automation gating on rc (or parsing the line) catches a broken round
    val failed = results.collect { case (k, v) if v._1 < 0 => jstr(k) }
    val failedJson = failed.mkString("[", ",", "]")
    // full per-query triple table — the stable regression-adjudication record
    val detail = results.map { case (k, (w, c, s)) =>
      f""""$k":{"wall_s":${f(w)},"cpu_s":${f(c)},"shuffle_mb":${f(s)}}"""
    }.mkString("{\"metric\":\"bench_detail\",\"sf\":" + jstr(sfDir) +
      ",\"cpus\":" + cpus + ",\"queries\":{\n  ",
      ",\n  ", s"""\n},"total_wall_s":${f(total)},"total_cpu_s":${f(cpuTotal)},"total_shuffle_mb":${f(shufTotal)}}""")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // cpu_s / shuffle_mb / detail pointer sit at the END of the line so the
    // downstream tail capture always retains them
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":${jstr(sfDir)},"cpu_s":${f(cpuTotal)},"shuffle_mb":${f(shufTotal)},"detail":${jstr(detailPath)}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
