package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The z0–z16 full-depth store build gate, split out of SinkSpec (round
  * 12): it is the single longest test in the tree (~3.5 min on the build
  * box) and SinkSpec as a whole dominated the suite wall (~13 of 19 min).
  * One forked JVM per suite + the build.sbt concurrency of 3 lets this
  * run alongside the other store suites instead of serializing behind
  * them — the `sbt test` wall-clock fix for the driver sandbox whose
  * round-11 run died mid-write in a shutdown hook (VERIFY_r11
  * tests_ok: false, a timeout signature; every suite passes in
  * isolation).
  */
class StoreDeepSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // see SinkSpec: the z0-z16 AQE re-plan's explain strings OOM an 8g
      // JVM uncapped; this suite never asserts on explain text
      .config("spark.sql.maxPlanStringLength", "4096")
      .appName("store-deep-spec").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("full-depth build: the z0–z16 tile store (one projection, three " +
    "7-level chunks, one tile write) conserves the view total at EVERY zoom") {
    // the reference's production depth (TileMapBuilder.java:52-70): 17
    // zooms from three chunks of the pixel kernel, the chunk tops rolled up
    // between them; each zoom's decoded MVT totals must re-count the same
    // view total, so a chunk-boundary or rollup bug at any depth shows here
    val deepWork = java.nio.file.Files.createTempDirectory("graft-deep")
    val t0 = System.nanoTime()
    val m = Workflow.build(spark, Dir, deepWork.toString,
      projections = Seq("EPSG:4326"), maxZoom = 16)
    info(f"z0-z16 build wall-time: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val expected = spark.read.parquet(m.points)
      .filter(col("map_key") === "0:0").agg(sum("occ_count")).head.getLong(0)
    (0 to 16).foreach { z =>
      val tot = spark.read.parquet(s"${m.tiles}/srs=EPSG_4326/zoom=$z")
        .filter(col("map_key") === "0:0").select("mvt").collect()
        .map(r => graft.functions.Mvt.decodeTile(r.getAs[Array[Byte]](0))
          .map(_.total).sum).sum
      assert(tot === expected, s"zoom $z total $tot != $expected")
    }
  }
}
