package graft

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
  * per-query {wall_s, cpu_s, shuffle_mb} table goes to BENCH_DETAIL_c<cpus>.json
  * in the working directory (env SPARK_GRAFT_BENCH_DETAIL overrides the path).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val warmDir = Harness.warmupDir
    val cpus = Harness.cpus()
    val detailPath = Harness.benchDetailPath(cpus)
    val h = Harness(cpus)
    def query(name: String, dir: String) = SparkEntry.queries(name)(h.spark, dir)

    // optional args = subset of query names (targeted timing during tuning)
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.nonEmpty) names0.filter(args.contains) else names0
    // warmup: JIT every plan shape
    names.foreach(n => h.run(s"[bench] $n", attribute = false)(query(n, warmDir)))
    // ONE quiescence barrier after the whole warmup sweep (not per query):
    // the last warmup query's async stage events must not land after the
    // first timed query's reset() and inflate its attribution
    h.metrics.settle()
    // two GC'd timed runs per query, keeping the min-wall run (wall < 0
    // marks a failed query)
    val results = names.map(n => n -> h.best(s"[bench] $n")(query(n, sfDir)))
    // 2-decimal seconds + short `qNN` keys keep the whole JSON line well
    // under the ~2 KiB tail-truncating log capture downstream; full query
    // names (with the same qNN prefix) live in the correctness report
    def f(v: Double) = "%.2f".format(v)
    // paths/names are interpolated into the gating JSON line — escape so a
    // quote or backslash in a directory path can't produce an unparseable
    // record for the downstream automation
    def jstr(s: String) = Harness.jsonString(s)
    val qs = results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + f(v.wall) }
      .mkString("{", ",", "}")
    val ok = results.map(_._2).filter(_.ok)
    val total = ok.map(_.wall).sum
    val cpuTotal = ok.map(_.cpu).sum
    val shufTotal = ok.map(_.shuffleMb).sum
    // failed queries are both listed by name AND reflected in the exit code,
    // so automation gating on rc (or parsing the line) catches a broken round
    val failed = results.collect { case (k, v) if !v.ok => jstr(k) }
    val failedJson = failed.mkString("[", ",", "]")
    // full per-query triple table — the stable regression-adjudication record
    // cpus and mem_gb name the host: records from different hosts or core
    // counts never compare (tools/bench_delta.py refuses them)
    val detail = results.map { case (k, Harness.Run(w, c, s)) =>
      f""""$k":{"wall_s":${f(w)},"cpu_s":${f(c)},"shuffle_mb":${f(s)}}"""
    }.mkString("{\"metric\":\"bench_detail\",\"sf\":" + jstr(sfDir) +
      ",\"cpus\":" + cpus + ",\"mem_gb\":" + Harness.memGb.map(f).getOrElse("null") +
      ",\"queries\":{\n  ",
      ",\n  ", s"""\n},"total_wall_s":${f(total)},"total_cpu_s":${f(cpuTotal)},"total_shuffle_mb":${f(shufTotal)}}""")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // cpu_s / shuffle_mb / detail pointer sit at the END of the line so the
    // downstream tail capture always retains them
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":${jstr(sfDir)},"cpu_s":${f(cpuTotal)},"shuffle_mb":${f(shufTotal)},"detail":${jstr(detailPath)}}""")
    h.spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
