package graft
import graft.core.NioLocalFileSystem
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional: restrict to named queries (local dev loop); the driver
    // passes exactly two args and gets the full sweep
    val only = args.drop(2).toSet
    val spark = Harness.session(Harness.cpus(default = 4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try NioLocalFileSystem.writer(fn(spark, sfDir).coalesce(1)).mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Dump a 1-row error marker so the driver's compare records a
        // FAILING entry for this query (schema/hash mismatch) instead of
        // silently omitting it — a round with a broken query must not
        // present as all-green-but-smaller (the round-5 failure mode).
        try {
          import spark.implicits._
          val marker = Seq(Option(e.getMessage).getOrElse(e.getClass.getName))
            .toDF("__error").coalesce(1)
          NioLocalFileSystem.writer(marker).mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // builders may persist intermediates (pyramid levels, cluster rounds);
      // drop them so caches don't accumulate across the query sweep
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
