package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness every main builds on: the session factory's
  * config, the timed step's cpu/shuffle attribution, and `Lab`'s arm names.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var h: Harness = _

  override def beforeAll(): Unit = { h = Harness(2) }
  override def afterAll(): Unit = if (h != null) h.spark.stop()

  test("the factory session carries Bench's config: zstd, UTC, shuffle " +
    "partitions = cores, nanosAsLong") {
    val conf = h.spark.conf
    assert(conf.get("spark.io.compression.codec") === "zstd")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(h.spark.sparkContext.master === "local[2]")
    assert(conf.get("spark.sql.shuffle.partitions") === "2")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("the timed step attributes cpu and shuffle to its own run: a keyed " +
    "groupBy shuffles, the next shuffle-free run reports 0 shuffle bytes") {
    val grouped = h.run("groupBy")(h.spark.range(0, 200000)
      .groupBy((col("id") % 97).as("k")).agg(sum("id")))
    assert(grouped.ok && grouped.cpu > 0 && grouped.shuffleMb > 0, grouped)
    val scan = h.run("range")(h.spark.range(0, 200000).toDF())
    assert(scan.ok, scan)
    assert(scan.shuffleMb === 0.0, "the groupBy's shuffle bled into the next run")
  }

  test("every documented Lab arm name resolves; deleted arms do not") {
    val arms = Seq("q45_pyramid", "q117_triangles", "sig", "bands", "lsh", "cc",
      "tri_id", "tri_deg", "current", "noCoalesce", "q:q45_pyramid:on",
      "q:q45_pyramid:off", "fullDepth", "pyramidCounts", "perZoom",
      "perZoom:EPSG:4326", "saltAB", "ivfDecontam", "ivfDecontam:4",
      "hub:id", "hub:degree", "gram:0", "gram:63")
    arms.foreach(n => assert(Lab.arm(n).isDefined, s"arm $n does not resolve"))
    Seq("cc_rounds", "tri_int", "lsh_fused", "tri_deg_bc", "pyr_enc", "cal_raw",
      "kcore_cur", "noAqe", "adv64", "repartAgg", "q:nope:on", "perZoom:EPSG:1",
      "hub:auto", "gram:7").foreach(n => assert(Lab.arm(n).isEmpty, s"$n resolves"))
  }
}
